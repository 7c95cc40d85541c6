package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Classifier-based quality filtering (extension X201) — the selector
  * shape behind fastText quality classifiers in DCLM / FineWeb-Edu /
  * GPT-3-style pipelines: label a "curated" slice positive and the rest
  * negative, train a unigram model, score every document, keep the
  * confident ones. (The reference has no text pipeline at all; this is
  * north-star-mandate surface.)
  *
  * This implementation is the INTEGER-EXACT core of that classifier: a
  * smoothed multinomial Naive Bayes where each vocabulary token casts a
  * SIGN vote — token t votes positive iff
  *
  *   (c_pos(t)+1) · (T_neg+V)  >  (c_neg(t)+1) · (T_pos+V)
  *
  * i.e. the sign of the smoothed log-odds without ever taking a log, so
  * every product stays in exact DECIMAL arithmetic and the DuckDB oracle
  * replays the entire model bit-for-bit (the repo's no-FP-drift
  * discipline; a float fastText would be property-pinned only). A
  * document's score is its fraction of voting tokens that vote positive;
  * the filter keeps docs with pos·2 ≥ votes (majority, ties pass).
  *
  * Scale shape (100 TB): training is ONE map-side-combinable groupBy over
  * exploded tokens (the vocabulary aggregate — same class as X85 BPE's
  * corpus collapse). The vote table is VOCABULARY-sized, and the
  * standard web-scale move bounds it further: tokens below `minCount`
  * occurrences carry no vote (frequency pruning — also the hapax-noise
  * cut), so the scoring join BROADCASTS the votes against the exploded
  * corpus; the per-doc aggregate partial-combines map-side (a doc's
  * tokens are contiguous in its partition), so the one shuffle carries
  * ~one row per document, not per token. No driver-side model state.
  */
object QualityClassifier extends graft.QueryModule {

  /** Per-token sign votes from a labeled corpus. `isPos` marks the
    * curated slice. Only tokens with ≥ `minCount` total occurrences
    * vote. Returns (token, vote: boolean).
    */
  def trainVotes(docs: DataFrame, isPos: org.apache.spark.sql.Column,
      minCount: Long = 3L): DataFrame = {
    val counts = docs
      .select(isPos.as("pos"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("c_neg"))
      .where(col("c_pos") + col("c_neg") >= minCount)
    // totals over the PRUNED vocabulary (the model's event space —
    // identical on both engines by construction) ride a broadcast
    // cross-join instead of a separate driver action: pulling them with
    // .head would execute the whole tokenize+groupBy ONCE for the
    // scalars and then AGAIN when the scoring join builds its broadcast
    // — inside one plan the totals branch reuses the token exchange
    // (the X155 trainEstimator shape; guide §2.4: one corpus pass)
    val totals = broadcast(counts.agg(sum("c_pos").as("tp"),
      sum("c_neg").as("tn"), count(lit(1)).as("v")))
    // exact cross-multiplication in DECIMAL(38,0): counts are ≤ corpus
    // tokens, so products need ~2× the digits of a BIGINT at web scale
    counts.crossJoin(totals).select(col("token"),
      ((col("c_pos") + 1).cast("decimal(19,0)") * (col("tn") + col("v")) >
        (col("c_neg") + 1).cast("decimal(19,0)") * (col("tp") + col("v")))
        .as("vote"))
  }

  /** Score every document against the votes: (doc columns..., n_votes,
    * n_pos, pass). Votes are broadcast — the corpus side never shuffles
    * until the per-doc combine.
    */
  def score(docs: DataFrame, votes: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
      .join(broadcast(votes), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("vote").isNotNull, 1L).otherwise(0L)).as("n_votes"),
        sum(when(col("vote") === true, 1L).otherwise(0L)).as("n_pos"))
    docs.join(keyed, Seq("doc_id"))
      .withColumn("pass", col("n_pos") * 2 >= col("n_votes"))
  }

  val queries: Map[String, Q] = Map(
    // Curated slice = even-numbered sources; the classifier is trained on
    // that labeling and every doc scored. The oracle replays the whole
    // model (pruned vocabulary, smoothed cross-multiplied votes, per-doc
    // majorities) in SQL — any arithmetic drift anywhere hash-fails.
    "q_quality_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val votes = trainVotes(docs,
        regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0)
      score(docs, votes)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum("n_pos").as("sum_pos_votes"))
        .orderBy("source")
    }),

    // X222: the train/serve SPLIT every production selector runs — the
    // model trains ONCE on yesterday's snapshot and lands as a COMMITTED
    // graft table (versioned, time-travelable, vacuum-safe — the X7/X178
    // committed-index discipline applied to a classifier); today's batch
    // scores against the committed votes with no retrain, so serving
    // cost ∝ the batch. The oracle replays the training corpus split AND
    // the serving split — a stale or leaked model hash-fails.
    "q_quality_model" -> ((s, d) => {
      val votes = graft.lake.ManifestTable.readLatest(s,
        s"${qualityModelDir(s, d)}/model")
      score(Tables.documents(s, d).where(col("doc_id") % 2 === 1), votes)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum("n_pos").as("sum_pos_votes"))
        .orderBy("source")
    }),

    // X234: classifier calibration audit (the reliability-diagram /
    // ECE input every production selector publishes) — held-out docs
    // bin by score decile (n_pos·10 div n_votes, exact integers;
    // unscored docs isolate in bin −1) and each bin reports its size,
    // its GOLD positive count (the curated-slice labeling the model was
    // trained toward), and the exact score mass (Σn_pos, Σn_votes) — a
    // well-calibrated selector's bin-k gold rate tracks k/10, and the
    // drift of one is the re-train signal threshold tuning reads.
    // Serving rides a COMMITTED X222-style model (no retrain); one
    // broadcast join + two combinable aggregates; fully oracled (the
    // DuckDB twin replays training, scoring, binning, and the gold join).
    // The split is (doc_id div 2) % 2 — the fixture's source ids are
    // doc_id mod 20, so the X222 even/odd split would leave the serve
    // half with only ONE gold label (degenerate calibration); alternating
    // PAIRS puts both labels in both halves.
    "q_quality_calibration" -> ((s, d) => {
      val votes = graft.lake.ManifestTable.readLatest(s,
        s"${calModelDir(s, d)}/model")
      score(Tables.documents(s, d).where(expr("(doc_id div 2) % 2 = 1")), votes)
        .withColumn("bin",
          when(col("n_votes") === 0, lit(-1L))
            .otherwise(least(lit(9L), expr("n_pos * 10 div n_votes"))))
        .withColumn("gold_pos",
          regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("gold_pos"), 1L).otherwise(0L)).as("n_gold_pos"),
          sum("n_pos").cast("long").as("sum_pos"),
          sum("n_votes").cast("long").as("sum_votes"))
        .orderBy("bin")
    }))

  /** The committed X222 model fixture (q_quality_model). */
  private def qualityModelDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("quality_model", d) { root =>
      val train = Tables.documents(s, d).where(col("doc_id") % 2 === 0)
      graft.lake.ManifestTable.commit(
        trainVotes(train,
          regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0),
        s"$root/model", 20250901, 900): Unit
    }

  /** The calibration model fixture (X234): trained on alternating PAIRS
    * of doc_ids so both gold labels appear on both sides of the split.
    */
  private def calModelDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("quality_model_cal", d) { root =>
      val train = Tables.documents(s, d).where(expr("(doc_id div 2) % 2 = 0"))
      graft.lake.ManifestTable.commit(
        trainVotes(train,
          regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0),
        s"$root/model", 20250901, 900): Unit
    }

  val oracles: Map[String, String] = Map(
    "q_quality_model" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0 AS pos,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 0
        |), counts AS (
        |  SELECT token,
        |         count(*) FILTER (WHERE pos) AS c_pos,
        |         count(*) FILTER (WHERE NOT pos) AS c_neg
        |  FROM tok GROUP BY token HAVING count(*) >= 3
        |), tot AS (
        |  SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn, count(*) AS v FROM counts
        |), votes AS (
        |  SELECT token, (c_pos + 1) * (tn + v) > (c_neg + 1) * (tp + v) AS vote
        |  FROM counts, tot
        |), serve AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 1
        |), scored AS (
        |  SELECT t.doc_id,
        |         count(*) FILTER (WHERE vt.vote IS NOT NULL) AS n_votes,
        |         count(*) FILTER (WHERE vt.vote) AS n_pos
        |  FROM serve t LEFT JOIN votes vt USING (token)
        |  GROUP BY t.doc_id
        |)
        |SELECT d.source, count(*) AS n_docs,
        |       count(*) FILTER (WHERE s.n_pos * 2 >= s.n_votes) AS n_pass,
        |       CAST(SUM(s.n_pos) AS BIGINT) AS sum_pos_votes
        |FROM documents d JOIN scored s USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0 AS pos,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT token,
        |         count(*) FILTER (WHERE pos) AS c_pos,
        |         count(*) FILTER (WHERE NOT pos) AS c_neg
        |  FROM tok GROUP BY token HAVING count(*) >= 3
        |), tot AS (
        |  SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn, count(*) AS v FROM counts
        |), votes AS (
        |  SELECT token, (c_pos + 1) * (tn + v) > (c_neg + 1) * (tp + v) AS vote
        |  FROM counts, tot
        |), scored AS (
        |  SELECT t.doc_id,
        |         count(*) FILTER (WHERE vt.vote IS NOT NULL) AS n_votes,
        |         count(*) FILTER (WHERE vt.vote) AS n_pos
        |  FROM tok t LEFT JOIN votes vt USING (token)
        |  GROUP BY t.doc_id
        |)
        |SELECT d.source, count(*) AS n_docs,
        |       count(*) FILTER (WHERE s.n_pos * 2 >= s.n_votes) AS n_pass,
        |       CAST(SUM(s.n_pos) AS BIGINT) AS sum_pos_votes
        |FROM documents d JOIN scored s USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_quality_calibration" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0 AS pos,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE (doc_id // 2) % 2 = 0
        |), counts AS (
        |  SELECT token,
        |         count(*) FILTER (WHERE pos) AS c_pos,
        |         count(*) FILTER (WHERE NOT pos) AS c_neg
        |  FROM tok GROUP BY token HAVING count(*) >= 3
        |), tot AS (
        |  SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn, count(*) AS v FROM counts
        |), votes AS (
        |  SELECT token, (c_pos + 1) * (tn + v) > (c_neg + 1) * (tp + v) AS vote
        |  FROM counts, tot
        |), serve AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE (doc_id // 2) % 2 = 1
        |), scored AS (
        |  SELECT t.doc_id,
        |         count(*) FILTER (WHERE vt.vote IS NOT NULL) AS n_votes,
        |         count(*) FILTER (WHERE vt.vote) AS n_pos
        |  FROM serve t LEFT JOIN votes vt USING (token)
        |  GROUP BY t.doc_id
        |), binned AS (
        |  SELECT s.doc_id,
        |         CASE WHEN s.n_votes = 0 THEN -1
        |              ELSE LEAST(9, (s.n_pos * 10) // s.n_votes) END AS bin,
        |         CAST(regexp_extract(d.source, '(\d+)', 1) AS INT) % 2 = 0 AS gold_pos,
        |         s.n_pos, s.n_votes
        |  FROM scored s JOIN documents d USING (doc_id)
        |)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |       count(*) FILTER (WHERE gold_pos) AS n_gold_pos,
        |       CAST(SUM(n_pos) AS BIGINT) AS sum_pos,
        |       CAST(SUM(n_votes) AS BIGINT) AS sum_votes
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin)
}

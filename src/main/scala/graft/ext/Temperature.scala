package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Temperature-balanced corpus resampling (X56): derive per-language keep
  * rates from the corpus's own language distribution and subsample so the
  * training mix follows `p_l^α` (α = 0.5 here) instead of the raw crawl
  * skew — the standard multilingual rebalancing knob (mBERT/XLM-R exponent
  * sampling; unlike X44's caller-supplied rates, the rates are COMPUTED
  * from corpus statistics).
  *
  * With keep-rate k_l ∝ q_l / p_l and q_l ∝ p_l^α, the normalization that
  * never oversamples is k_l = (n_min / n_l)^(1-α) — the smallest language
  * is kept whole and larger ones are thinned toward it. At α = 0.5 this is
  * `sqrt(n_min / n_l)`: sqrt and the power-of-two division in the hash
  * bucket are both correctly-rounded IEEE ops, so Spark and the oracle
  * agree bit-for-bit with no DECIMAL detour.
  *
  * Scale shape: one combinable count per language (a #langs-row table),
  * broadcast back; membership is then a pure per-row function of
  * (doc_id, rate) — md5-uniform in [0,1) vs the rate, the X35/X44
  * deterministic-sampling mechanism, so re-runs and backfills keep
  * identical documents. The corpus side never shuffles except the final
  * vocab-sized report aggregate.
  */
object Temperature extends graft.QueryModule {
  /** md5-derived uniform in [0,1): first 8 hex chars / 2^32 (exact). */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0)

  /** Per-language keep rates `sqrt(n_min / n_l)` for `docs`. */
  def keepRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val nMin = counts.agg(min("n_total").as("n_min"))
    counts.crossJoin(broadcast(nMin))
      .select(col("lang"), col("n_total"),
        sqrt(col("n_min").cast("double") / col("n_total").cast("double"))
          .as("keep_rate"))
  }

  /** Docs annotated with their sampling decision. */
  def resample(docs: DataFrame): DataFrame =
    docs.join(broadcast(keepRates(docs)), Seq("lang"))
      .withColumn("kept", hashUniform(col("doc_id")) < col("keep_rate"))

  /** X73 — the upsampling mirror: per-language replication rates
    * `sqrt(n_max / n_l)` ≥ 1 (the LARGEST language is kept whole, smaller
    * ones duplicate toward it — expected per-language size
    * `sqrt(n_l·n_max)`, the same α = 0.5 exponent mix approached from
    * below). Copies are `⌊r⌋` plus one md5-Bernoulli copy for the
    * fractional part — deterministic, re-run-stable oversampling with
    * replacement, the standard low-resource-language epoch-mixing knob.
    * floor/sqrt/the 2⁻³² division are correctly-rounded IEEE ops, so the
    * copy counts bit-agree with the SQL oracle.
    */
  def upsampleRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    val nMax = counts.agg(max("n_total").as("n_max"))
    counts.crossJoin(broadcast(nMax))
      .select(col("lang"), col("n_total"),
        sqrt(col("n_max").cast("double") / col("n_total").cast("double"))
          .as("up_rate"))
  }

  /** Replicated rows, each tagged `copy_idx ∈ [1, n_copies]` — the
    * per-row explode is the operator's whole data path (no shuffle beyond
    * the broadcast rate lookup).
    */
  def upsample(docs: DataFrame): DataFrame =
    docs.join(broadcast(upsampleRates(docs)), Seq("lang"))
      .withColumn("n_copies",
        floor(col("up_rate")).cast("long") +
          when(hashUniform(col("doc_id")) < col("up_rate") - floor(col("up_rate")), 1L)
            .otherwise(0L))
      .withColumn("copy_idx", explode(sequence(lit(1L), col("n_copies"))))

  val queries: Map[String, Q] = Map(
    // X135: token-weighted source balancing — the corpus-MIXING step
    // (Pile/Dolma recipes): downsample every corpus to the SMALLEST
    // corpus's token mass, so no source dominates training by sheer
    // volume. Distinct from X67's per-source DOC caps: the budget here
    // is tokens, the unit that actually costs training compute. All
    // integer math (pct = 100·min_total div total, md5-bucket
    // membership), so the oracle replays rate derivation AND membership
    // exactly; corpus totals are a driver-sized aggregate, the corpus
    // never shuffles (per-row hash filter).
    "q_source_balance" -> ((s, d) => {
      // The slim (corpus, doc_id, n_tok) frame feeds BOTH the driver-sized
      // totals collect and the final aggregate; without materializing it the
      // corpus tokenizes twice (Spark recomputes shared subplans per
      // branch — round-9 finding #1). Tokenized counts are a pure function
      // of the corpus, so the FixtureCache rule applies: 3 longs per doc,
      // never the text.
      val docs = graft.util.FixtureCache.parquet(s, "srcbal_tok", d) { dir =>
        Tables.documents(s, d)
          .select(
            (substring(col("source"), 4, 10).cast("int") % 3).cast("long")
              .as("corpus"),
            col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
          .write.mode("overwrite").parquet(dir)
      }
      val totals = docs.groupBy("corpus").agg(sum("n_tok").as("tot"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minTot = totals.values.min
      val pcts = totals.map { case (c, t) => c -> (100L * minTot / t) }
      val pctCol = pcts.foldLeft(lit(0L)) { case (acc, (c, p)) =>
        when(col("corpus") === c, p).otherwise(acc)
      }
      val kept = Split.hashBucket(col("doc_id")) < pctCol
      docs.groupBy("corpus")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("tokens_total"),
          count(when(kept, 1)).as("n_kept"),
          sum(when(kept, col("n_tok"))).cast("long").as("tokens_kept"),
          first(pctCol).as("pct"))
        .orderBy("corpus")
    }),

    // Per-language report: rate, kept count, and the sum of kept ids —
    // membership is pinned, not just cardinality.
    "q_temperature_sample" -> ((s, d) =>
      resample(Tables.documents(s, d))
        .groupBy("lang")
        .agg(
          first("n_total").as("n_total"),
          first("keep_rate").as("keep_rate"),
          count(when(col("kept"), 1)).as("n_sampled"),
          sum(when(col("kept"), col("doc_id"))).cast("long").as("sum_kept_ids"))
        .orderBy("lang")),

    // X73: the replicated-row stream re-aggregated per language — the
    // copy-count total and the id⋅copies checksum pin the exact multiset
    // of emitted rows, not just its size.
    "q_upsample" -> ((s, d) =>
      upsample(Tables.documents(s, d))
        .groupBy("lang")
        .agg(
          first("n_total").as("n_total"),
          first("up_rate").as("up_rate"),
          count(lit(1)).as("n_upsampled"),
          sum(col("doc_id")).cast("long").as("sum_id_copies"))
        .orderBy("lang")),
  )

  val oracles: Map[String, String] = Map(
    "q_source_balance" ->
      s"""WITH d AS (
         |  SELECT CAST(CAST(substr(source, 4) AS INT) % 3 AS BIGINT) AS corpus,
         |         doc_id,
         |         CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tok
         |  FROM documents),
         |t AS (SELECT corpus, CAST(sum(n_tok) AS BIGINT) AS tot FROM d GROUP BY 1),
         |m AS (SELECT min(tot) AS mn FROM t),
         |p AS (SELECT corpus, CAST(100 * m.mn // t.tot AS BIGINT) AS pct FROM t, m),
         |k AS (SELECT d.*, p.pct,
         |        CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < p.pct AS kept
         |      FROM d JOIN p USING (corpus))
         |SELECT corpus, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
         |       count(CASE WHEN kept THEN 1 END) AS n_kept,
         |       CAST(sum(CASE WHEN kept THEN n_tok END) AS BIGINT) AS tokens_kept,
         |       CAST(min(pct) AS BIGINT) AS pct
         |FROM k GROUP BY corpus ORDER BY corpus""".stripMargin,

    "q_temperature_sample" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY 1
        |),
        |rates AS (
        |  SELECT lang, n_total,
        |    sqrt(CAST((SELECT min(n_total) FROM counts) AS DOUBLE)
        |         / CAST(n_total AS DOUBLE)) AS keep_rate
        |  FROM counts
        |)
        |SELECT d.lang,
        |  any_value(r.n_total) AS n_total,
        |  any_value(r.keep_rate) AS keep_rate,
        |  count(CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
        |                 / 4294967296.0 < r.keep_rate THEN 1 END) AS n_sampled,
        |  CAST(sum(CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
        |                 / 4294967296.0 < r.keep_rate THEN d.doc_id END) AS BIGINT) AS sum_kept_ids
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin,
    "q_upsample" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY 1
        |),
        |rates AS (
        |  SELECT lang, n_total,
        |    sqrt(CAST((SELECT max(n_total) FROM counts) AS DOUBLE)
        |         / CAST(n_total AS DOUBLE)) AS up_rate
        |  FROM counts
        |),
        |copies AS (
        |  SELECT d.lang, d.doc_id, r.n_total, r.up_rate,
        |    CAST(floor(r.up_rate) AS BIGINT) +
        |    CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS DOUBLE)
        |              / 4294967296.0 < r.up_rate - floor(r.up_rate) THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN rates r ON d.lang = r.lang
        |)
        |SELECT lang,
        |  any_value(n_total) AS n_total,
        |  any_value(up_rate) AS up_rate,
        |  CAST(sum(n_copies) AS BIGINT) AS n_upsampled,
        |  CAST(sum(doc_id * n_copies) AS BIGINT) AS sum_id_copies
        |FROM copies
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
  )
}

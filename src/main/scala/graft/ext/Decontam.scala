package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Benchmark decontamination (X53): flag training documents that share any
  * n-gram with a held-out evaluation set — the standard guard against
  * test-set leakage into a training corpus (GPT-3 §C used 13-grams,
  * PaLM/Llama 8–10; the principle is n-gram overlap against the benchmark).
  *
  * Fixture contract: the "benchmark" is the deterministic slice
  * `doc_id % 97 = 0` of `documents` (≈1%); every other doc is training. We
  * use 4-grams — on this fixture's small synthetic vocabulary a 4-gram
  * collision is as rare as an 8-gram collision on real text (measured: 8 of
  * 494 train docs flagged at sf0.01), so the operator exercises the real
  * sparse-overlap regime. `ngramN` is a parameter; the plan shape is
  * n-independent.
  *
  * Scale shape: the eval side is tiny by definition (a benchmark, not a
  * corpus) — its distinct n-gram set builds once and BROADCASTS, so the
  * train side probes a hash table instead of shuffling 100 TB through a
  * join. The train side pays ONE `doc_id`-keyed exchange to assemble
  * grams (posexplode + lead window, all codegen — see [[docNgrams]]),
  * and the per-doc report aggregate reuses that same partitioning. At
  * real scale the broadcast set would be n-gram *hashes* (8 bytes each)
  * rather than strings; here the join key stays the string so the DuckDB
  * oracle is hash-function-independent.
  *
  * Reference scope: extension surface (builder prompt; SURVEY §2 X53).
  */
object Decontam extends graft.QueryModule {
  /** N-gram order for overlap detection (see scaling note above). */
  val ngramN = 4

  /** Modulus defining the eval slice of the fixture corpus. */
  val evalMod = 97

  /** Distinct `(doc_id, g)` n-gram rows via posexplode + lead window —
    * the [[Dedup.docShingles]] shape: array HOFs (`transform`/`slice`)
    * evaluate INTERPRETED (~15 µs/gram — an order of magnitude over this
    * whole query's budget at sf0.1), while posexplode, `lead`, and
    * `concat_ws` all stay inside whole-stage codegen. Costs one
    * `doc_id`-keyed exchange for gram assembly, which the downstream
    * per-doc aggregate then reuses.
    */
  private def docNgrams(df: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    df.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(i =>
          if (i == 0) col("t") else lead("t", i).over(w)): _*).as("g"),
        lead("t", n - 1).over(w).isNotNull.as("full"))
      .where(col("full"))
      .select("doc_id", "g")
      .distinct()
  }

  /** Per-train-doc contamination report against `eval`'s n-gram set.
    * Both inputs are `(doc_id, text)`-shaped; output is one row per train
    * doc with at least `ngramN` tokens.
    */
  def contamination(train: DataFrame, eval: DataFrame, n: Int = ngramN): DataFrame = {
    val evalNgrams = docNgrams(eval, n).select("g").distinct()
    docNgrams(train, n)
      .join(broadcast(evalNgrams.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        coalesce(sum("hit"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Per-EVAL-item contamination profile (the reverse report): for each
    * benchmark item, how many of its n-grams appear anywhere in the
    * training corpus and how many distinct train docs share at least one
    * — the view a benchmark owner needs ("is item 42 still a valid test?"),
    * where [[contamination]] answers the corpus owner's question ("which
    * train docs must I drop?").
    *
    * Scale shape: same broadcast discipline — the eval n-gram set (tiny)
    * broadcasts TWICE: once as a semi-filter the train side probes, once
    * for eval-doc attribution of the sparse survivors. The train corpus
    * never shuffles beyond its one gram-assembly exchange; the attribution
    * join fans out only on actually-overlapping grams, which sparse
    * overlap keeps output-sized.
    */
  def contaminationProfile(train: DataFrame, eval: DataFrame,
      n: Int = ngramN): DataFrame = {
    val evalG = docNgrams(eval, n) // (doc_id, g) — benchmark-sized
    val evalTotals = evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
    val hits = docNgrams(train, n).withColumnRenamed("doc_id", "train_id")
      .join(broadcast(evalG), Seq("g")) // filter + attribute in one probe
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_ngrams"),
        countDistinct(col("train_id")).as("n_train_docs"))
    evalTotals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .withColumn("compromised", col("n_hit_ngrams") > 0)
  }

  val queries: Map[String, Q] = Map(
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contamination(
        docs.where(col("doc_id") % evalMod =!= 0),
        docs.where(col("doc_id") % evalMod === 0))
        .orderBy("doc_id")
    }),

    "q_decontam_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationProfile(
        docs.where(col("doc_id") % evalMod =!= 0),
        docs.where(col("doc_id") % evalMod === 0))
        .orderBy("doc_id")
    }),
  )

  import TextAnalysis.toksSql

  val oracles: Map[String, String] = Map(
    "q_decontaminate" ->
      s"""WITH ng AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, len(tk) - ${ngramN - 2}),
         |           i -> array_to_string(list_slice(tk, i, i + ${ngramN - 1}), ' '))) AS ngs
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         |),
         |ev AS (
         |  SELECT DISTINCT unnest(ngs) AS g FROM ng WHERE doc_id % $evalMod = 0
         |),
         |tr AS (
         |  SELECT doc_id, len(ngs) AS n_ngrams, unnest(ngs) AS g
         |  FROM ng WHERE doc_id % $evalMod <> 0 AND len(ngs) > 0
         |)
         |SELECT tr.doc_id,
         |  CAST(any_value(tr.n_ngrams) AS BIGINT) AS n_ngrams,
         |  CAST(count(ev.g) AS BIGINT) AS n_overlap,
         |  count(ev.g) > 0 AS contaminated
         |FROM tr LEFT JOIN ev ON tr.g = ev.g
         |GROUP BY tr.doc_id
         |ORDER BY tr.doc_id""".stripMargin,

    "q_decontam_eval" ->
      s"""WITH ng AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, len(tk) - ${ngramN - 2}),
         |           i -> array_to_string(list_slice(tk, i, i + ${ngramN - 1}), ' '))) AS ngs
         |  FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         |),
         |ev AS (
         |  SELECT doc_id AS eval_id, unnest(ngs) AS g
         |  FROM ng WHERE doc_id % $evalMod = 0
         |),
         |evn AS (
         |  SELECT doc_id AS eval_id, len(ngs) AS n_ngrams
         |  FROM ng WHERE doc_id % $evalMod = 0 AND len(ngs) > 0
         |),
         |tr AS (
         |  SELECT doc_id AS train_id, unnest(ngs) AS g
         |  FROM ng WHERE doc_id % $evalMod <> 0
         |),
         |hits AS (
         |  SELECT ev.eval_id, tr.train_id, ev.g FROM ev JOIN tr USING (g)
         |)
         |SELECT evn.eval_id AS doc_id,
         |  CAST(evn.n_ngrams AS BIGINT) AS n_ngrams,
         |  CAST(count(DISTINCT hits.g) AS BIGINT) AS n_hit_ngrams,
         |  CAST(count(DISTINCT hits.train_id) AS BIGINT) AS n_train_docs,
         |  count(DISTINCT hits.g) > 0 AS compromised
         |FROM evn LEFT JOIN hits ON evn.eval_id = hits.eval_id
         |GROUP BY evn.eval_id, evn.n_ngrams
         |ORDER BY doc_id""".stripMargin,
  )
}

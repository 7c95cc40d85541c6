package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Within-document repetition metrics (X52) — the Gopher-style quality
  * filters (Rae et al. 2021, "Scaling Language Models", table A1) that gate
  * web documents out of a training corpus when they are dominated by
  * repeated words or phrases (boilerplate, keyword stuffing, scraper loops).
  *
  * Per document, over the shared whitespace tokenization
  * ([[TextAnalysis.tokens]]):
  *   - `dup_word_frac`  — fraction of token occurrences that are repeats
  *     (1 - distinct/total);
  *   - `dup_2gram_frac` / `dup_3gram_frac` — same over n-gram occurrences;
  *   - `top_word_frac`  — share of the single most frequent token;
  *   - `repetition_ok`  — the composite gate at Gopher-like thresholds.
  *
  * Scale shape: every metric is a pure per-row array expression (no
  * explode, no shuffle, no UDF) — the whole operator is one narrow
  * projection that rides whatever partitioning the scan has, embarrassingly
  * parallel at 100 TB. `top_word_frac` is O(distinct × tokens) per row,
  * bounded in practice by context-window-sized documents; corpus size never
  * enters. Doubles are produced by a single division of exact integers, so
  * the oracle's IEEE results are bit-identical.
  *
  * Reference scope: the reference pipeline has no corpus-hygiene stage —
  * this is part of the mandated LLM-training-data extension surface
  * (builder prompt; SURVEY §2 X52).
  */
object Repetition extends graft.QueryModule {
  /** Gopher-ish gate thresholds (fractions in [0,1]). */
  val maxDupWordFrac = 0.30
  val maxDup2GramFrac = 0.20
  val maxDup3GramFrac = 0.18
  val maxTopWordFrac = 0.20

  /** Space-joined n-grams of `tk` as a per-row array; empty when the doc is
    * shorter than `n` (guarded — Spark's `sequence(1, 0)` would count DOWN).
    */
  def ngrams(tk: Column, n: Int): Column =
    when(size(tk) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tk) - (n - 1)),
        i => array_join(slice(tk, i, lit(n)), " ")))

  /** `(occurrences - distinct) / occurrences` as an exact-integer division;
    * 0.0 for empty arrays.
    */
  private def dupFrac(arr: Column): Column =
    when(size(arr) === 0, lit(0.0))
      .otherwise((size(arr) - size(array_distinct(arr))).cast("double") /
        size(arr).cast("double"))

  /** Per-doc repetition metrics over any `(doc_id, text)`-shaped frame. */
  def metrics(docs: DataFrame): DataFrame = {
    val tk = TextAnalysis.tokens(col("text"))
    docs
      .select(col("doc_id"), tk.as("tk"))
      .where(size(col("tk")) > 0)
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        dupFrac(col("tk")).as("dup_word_frac"),
        dupFrac(ngrams(col("tk"), 2)).as("dup_2gram_frac"),
        dupFrac(ngrams(col("tk"), 3)).as("dup_3gram_frac"),
        (array_max(transform(array_distinct(col("tk")),
          t => size(filter(col("tk"), x => x === t)))).cast("double") /
          size(col("tk")).cast("double")).as("top_word_frac"))
      .withColumn("repetition_ok",
        col("dup_word_frac") <= maxDupWordFrac &&
          col("dup_2gram_frac") <= maxDup2GramFrac &&
          col("dup_3gram_frac") <= maxDup3GramFrac &&
          col("top_word_frac") <= maxTopWordFrac)
  }

  val queries: Map[String, Q] = Map(
    "q_repetition" -> ((s, d) =>
      metrics(Tables.documents(s, d)).orderBy("doc_id")),
  )

  import TextAnalysis.toksSql

  /** DuckDB n-grams: `range` is end-exclusive, so `range(1, len-(n-2))`
    * yields starts 1..len-n+1 and is empty when the doc is short — no guard
    * needed (unlike Spark's descending `sequence`).
    */
  private def ngramsSql(n: Int): String =
    s"list_transform(range(1, len(tk) - ${n - 2}), i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' '))"

  private def dupFracSql(arr: String): String =
    s"CASE WHEN len($arr) = 0 THEN 0.0 ELSE CAST(len($arr) - len(list_distinct($arr)) AS DOUBLE) / CAST(len($arr) AS DOUBLE) END"

  val oracles: Map[String, String] = Map(
    "q_repetition" ->
      s"""SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  ${dupFracSql("tk")} AS dup_word_frac,
         |  ${dupFracSql(ngramsSql(2))} AS dup_2gram_frac,
         |  ${dupFracSql(ngramsSql(3))} AS dup_3gram_frac,
         |  CAST(list_max(list_transform(list_distinct(tk),
         |        t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE)
         |    / CAST(len(tk) AS DOUBLE) AS top_word_frac,
         |  ${dupFracSql("tk")} <= $maxDupWordFrac
         |    AND ${dupFracSql(ngramsSql(2))} <= $maxDup2GramFrac
         |    AND ${dupFracSql(ngramsSql(3))} <= $maxDup3GramFrac
         |    AND CAST(list_max(list_transform(list_distinct(tk),
         |          t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) <= $maxTopWordFrac AS repetition_ok
         |FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         |WHERE len(tk) > 0
         |ORDER BY doc_id""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** One-pass column profiling (extension X33) — the data-quality audit a
  * training-data pipeline runs before and after every transform: per
  * column, row/null/distinct counts plus type-appropriate bounds. The
  * reference has no QA surface at all (its only check is `df.count()` log
  * lines, `scripts/script_api_apify_to_spark.py:167,209`).
  *
  * Shape: ONE aggregate pass over the table — every statistic is a
  * combinable aggregate (count/min/max/sum + exact count-distinct), so
  * the whole profile is a single shuffle-free-until-final-reduce job
  * regardless of column count; the per-column rows are unpivoted from
  * that one aggregate row with `stack`, not with per-column scans. At
  * 100 TB the same profile runs as one pass; swap `count(DISTINCT)` for
  * `approx_count_distinct` when exactness isn't required (E5 covers the
  * sketch's contract).
  */
object Profile extends graft.QueryModule {
  /** Profile the given numeric/string columns of `df` in one aggregate
    * pass: (column, n_rows, n_null, n_distinct, min_s, max_s) — bounds
    * reported as strings so heterogeneous column types share one schema
    * (the cast happens after aggregation, on one row).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __cnt_$c, __dist_$c, __min_$c, __max_$c").mkString(", ")
    one.select(col("__n"), expr(
        s"stack(${cols.length}, $stackArgs) AS (column_name, n_present, n_distinct, min_s, max_s)"))
      .select(col("column_name"),
        col("__n").as("n_rows"),
        (col("__n") - col("n_present")).as("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  val queries: Map[String, Q] = Map(
    "q_profile" -> ((s, d) =>
      profile(Tables.customer(s, d), Seq("c_custkey", "c_name", "c_acctbal"))
        .orderBy("column_name")),

    // X245: corpus datacard — the per-source "nutrition label" a dataset
    // release ships (docs/tokens, language spread, empties, a fluency
    // mass, and the within-source exact-dup count): every field of the
    // card is a combinable aggregate or an exact count-distinct over ONE
    // corpus pass — the whole card costs one scan at any scale (the X33
    // discipline applied to the release artifact instead of a column).
    "q_datacard" -> ((s, d) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("source"), col("lang"), md5(col("text")).as("h"),
          size(t).cast("long").as("n_tok"),
          TextAnalysis.countIn(t, TextAnalysis.stopwords).as("n_stop"))
        .withColumn("permille", expr("n_stop * 1000 div greatest(n_tok, 1)"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("sum_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("n_tok") === 0, 1L).otherwise(0L)).as("n_empty"),
          sum("permille").cast("long").as("sum_stop_permille"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"))
        .orderBy("source")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_datacard" ->
      s"""SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |       CAST(sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |       CAST(sum(n_stop * 1000 // GREATEST(n_tok, 1)) AS BIGINT) AS sum_stop_permille,
         |       CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs
         |FROM (
         |  SELECT source, lang, md5(text) AS h,
         |         CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tok,
         |         ${TextAnalysis.countInSql(TextAnalysis.stopwords)} AS n_stop
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

    // one UNION-ALL row per column, each computed from the same base
    // aggregates Spark computes (DuckDB folds them into one scan too)
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'c_acctbal' AS column_name, count(*) AS n_rows,
        |         count(*) - count(c_acctbal) AS n_null,
        |         count(DISTINCT c_acctbal) AS n_distinct,
        |         CAST(min(c_acctbal) AS VARCHAR) AS min_s,
        |         CAST(max(c_acctbal) AS VARCHAR) AS max_s
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_custkey', count(*), count(*) - count(c_custkey),
        |         count(DISTINCT c_custkey),
        |         CAST(min(c_custkey) AS VARCHAR), CAST(max(c_custkey) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_name', count(*), count(*) - count(c_name),
        |         count(DISTINCT c_name),
        |         CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
        |  FROM customer)
        |ORDER BY column_name""".stripMargin,
  )
}

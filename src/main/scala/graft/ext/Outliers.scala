package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Exact-arithmetic statistical outlier gating (X86) — the 3σ rule as a
  * BIT-EXACT predicate, for numeric quality-signal filtering (drop
  * documents whose length/perplexity/score is a per-group outlier before
  * training, flag anomalous event values before aggregation).
  *
  * A float z-score gate (`|v−μ| > 3σ`) hinges on sqrt/division rounding
  * at the boundary, so two engines can disagree on boundary rows. The
  * X21/X59 move applies: clear the fractions. With values in integer
  * cents (the fixture's 2-decimal doubles are exactly representable),
  * `|v − μ| > 3σ  ⟺  (v·n − S)² > 9·(n·SS − S²)` — all integer
  * arithmetic (population σ; S = Σc, SS = Σc², n = group count), which
  * DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB side both
  * evaluate exactly. Magnitudes stay ≤ ~10²² at sf1 — well inside both.
  *
  * Plan shape: ONE combinable aggregate for the per-group moments
  * (groups = event types, driver/broadcast-sized), broadcast back onto
  * the scan for the per-row predicate, one combinable re-aggregate. The
  * corpus never shuffles — the same two-pass-over-scan /
  * zero-shuffle shape as X68's LM scoring.
  */
object Outliers extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Per event type: row count, 3σ outlier count, and the outlier
    // event_id checksum (membership pin, X35-style). Exact integer
    // arithmetic end-to-end — the oracle must agree on EVERY row's flag.
    "q_outliers" -> ((s, d) => {
      val c = events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 100, 0).cast("decimal(20,0)").as("c"))
      val st = c.groupBy("event_type").agg(
        count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("ssc"))
      val lhs = (col("c") * col("n") - col("sc")) * (col("c") * col("n") - col("sc"))
      val rhs = (col("ssc") * col("n") - col("sc") * col("sc")) * 9
      c.join(broadcast(st), Seq("event_type"))
        .withColumn("is_out", lhs > rhs)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
          sum(when(col("is_out"), col("event_id")).otherwise(0L)).as("outlier_id_sum"))
        .orderBy("event_type")
    }),

    // X127: the ROBUST gate — median/MAD instead of mean/σ, the right
    // tool when the signal itself is contaminated (a few huge values
    // inflate σ until nothing is an outlier; the median and MAD barely
    // move). Exactness without integers this time: cents are integers,
    // interpolated medians of integers are half-integers, MADs
    // quarter-integers — ALL exact binary fractions, so both engines'
    // linear-interpolation percentile and the `adev > 3·MAD` boundary
    // agree bit-for-bit. Same zero-corpus-shuffle shape: two combinable
    // percentile passes (groups broadcast back), one re-aggregate.
    "q_outliers_mad" -> ((s, d) => {
      val c = events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("c"))
      val med = c.groupBy("event_type")
        .agg(percentile(col("c"), lit(0.5)).as("med"))
      val dev = c.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("c") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .withColumn("is_out", col("adev") > col("mad") * 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
          sum(when(col("is_out"), col("event_id")).otherwise(0L)).as("outlier_id_sum"))
        .orderBy("event_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_outliers" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS HUGEINT) AS c
        |  FROM events),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |         sum(c) AS sc, sum(c * c) AS ssc
        |  FROM c GROUP BY 1),
        |fl AS (
        |  SELECT c.event_type, c.event_id,
        |         (c.c * st.n - st.sc) * (c.c * st.n - st.sc)
        |           > 9 * (st.ssc * st.n - st.sc * st.sc) AS is_out
        |  FROM c JOIN st USING (event_type))
        |SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(sum(CASE WHEN is_out THEN event_id ELSE 0 END) AS BIGINT) AS outlier_id_sum
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_outliers_mad" ->
      """WITH c AS (
        |  SELECT event_type, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        |        FROM c GROUP BY 1),
        |dev AS (SELECT c.event_type, c.event_id, abs(c.c - med.med) AS adev
        |        FROM c JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT event_type, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(sum(CASE WHEN adev > 3 * mad THEN event_id ELSE 0 END) AS BIGINT) AS outlier_id_sum
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}

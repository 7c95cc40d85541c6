package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Time-series gap-fill + LOCF resample (X55): regularize an irregular
  * event stream onto a dense per-key calendar grid — the feature-store /
  * metrics-backfill primitive ("resample to daily, carry the last
  * observation forward") that windowed aggregation (X6/X19) assumes as its
  * input contract.
  *
  * Three stages, all keyed by `user_id`:
  *   1. aggregate events to (user, day) — combinable count + exact DECIMAL
  *      sum;
  *   2. per user, explode `sequence(min_day, max_day)` into the dense grid
  *      (grid size = the user's active span, not the global calendar — no
  *      cross product with a calendar dimension);
  *   3. left-join observations onto the grid and fill value gaps with
  *      `last(..., ignoreNulls)` over the day order.
  *
  * Scale shape: one shuffle on `user_id` serves the aggregate, the span
  * aggregate, the grid join, and the LOCF window (all partitionings are
  * `user_id`-prefixed). The explode is per-row and bounded by span days.
  * The LOCF picks an already-exact value (no FP arithmetic), so results
  * are bit-identical to the oracle.
  */
object TimeSeries extends graft.QueryModule {
  /** Dense (user_id, day) grid over each user's active span with
    * `n_events`, `is_gap`, and LOCF-filled `filled_value`.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

    val grid = daily
      .groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))

    val wLocf = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("is_gap", col("n_events").isNull)
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("filled_value", last("sum_value", ignoreNulls = true).over(wLocf))
      .drop("sum_value")
  }

  /** X122: trailing interval-frame window — `RANGE BETWEEN 30 PRECEDING
    * AND CURRENT ROW` over integer day numbers, per customer. RANGE
    * frames (value-based, peer-inclusive) are the contract ROWS frames
    * (X19) cannot express when keys carry multiple same-day rows: every
    * same-day peer joins the frame regardless of row order, so the
    * result is deterministic without a unique tiebreaker. One shuffle on
    * the partition key; the frame scan is the standard sliding
    * aggregation within each partition.
    */
  def trailingWindow(orders: DataFrame, days: Int): DataFrame = {
    val dayNum = datediff(col("o_orderdate").cast("date"),
      to_date(lit("1970-01-01")))
    val w = Window.partitionBy("o_custkey").orderBy(dayNum)
      .rangeBetween(-days, 0)
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** X162: LINEAR interpolation across gaps — the numeric sibling of
    * X55's LOCF (sensor/metric series where "hold the last value" biases
    * downstream aggregates; the standard resample mode pandas calls
    * `interpolate('linear')`). On the same dense grid, every gap day gets
    *
    *   prev + (next − prev) · (day − prevDay) / (nextDay − prevDay)
    *
    * in EXACT integer arithmetic: values in cents·10⁶ units, the division
    * as a true floor division on both engines (DuckDB `//` floors;
    * Spark's `div` truncates toward zero, so the floor is spelled
    * `(a − pmod(a, b)) div b` — exact for negative deltas too, where
    * trunc and floor disagree). Grid spans each user's observed
    * [min, max] day, so every gap is interior — both neighbors always
    * exist, no edge-policy ambiguity.
    *
    * Same one-shuffle shape as X55: the neighbor lookups are two windows
    * (last-non-null backward, first-non-null forward) over the identical
    * `user_id` partitioning the grid join already established.
    */
  def interpolateDaily(events: DataFrame): DataFrame = {
    val filled = gapFillDaily(events)
      .withColumn("obs_e6",
        when(!col("is_gap"),
          round(col("filled_value") * 100).cast("long") * 1000000L))
    val wPrev = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevDay = last(when(!col("is_gap"), col("day")), ignoreNulls = true).over(wPrev)
    val nextDay = first(when(!col("is_gap"), col("day")), ignoreNulls = true).over(wNext)
    filled
      .withColumn("p_e6", last(col("obs_e6"), ignoreNulls = true).over(wPrev))
      .withColumn("n_e6", first(col("obs_e6"), ignoreNulls = true).over(wNext))
      .withColumn("off", datediff(col("day"), prevDay).cast("long"))
      .withColumn("span", datediff(nextDay, prevDay).cast("long"))
      .withColumn("interp_e6",
        when(!col("is_gap"), col("obs_e6")).otherwise(
          // floor((n−p)·off / span) with true floor semantics on both engines
          col("p_e6") + expr(
            "((n_e6 - p_e6) * off - pmod((n_e6 - p_e6) * off, span)) div span")))
      .select("user_id", "day", "is_gap", "interp_e6")
  }

  val queries: Map[String, Q] = Map(
    "q_gap_fill" -> ((s, d) =>
      gapFillDaily(Tables.events(s, d))
        .orderBy("user_id", "day")),

    "q_interpolate" -> ((s, d) =>
      interpolateDaily(Tables.events(s, d))
        .orderBy("user_id", "day")),

    "q_trailing_window" -> ((s, d) =>
      trailingWindow(Tables.orders(s, d), 30)
        .select(col("o_orderkey"), col("n_window"),
          col("sum_window"))
        .orderBy("o_orderkey")),
  )

  val oracles: Map[String, String] = Map(
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2
        |),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)
        |)
        |SELECT grid.user_id, grid.day,
        |  coalesce(daily.n_events, 0) AS n_events,
        |  daily.n_events IS NULL AS is_gap,
        |  last_value(daily.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY grid.user_id ORDER BY grid.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid LEFT JOIN daily ON grid.user_id = daily.user_id AND grid.day = daily.day
        |ORDER BY grid.user_id, grid.day""".stripMargin,

    "q_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2
        |),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)
        |),
        |j AS (
        |  SELECT grid.user_id, grid.day,
        |         daily.n_events IS NULL AS is_gap,
        |         CASE WHEN daily.n_events IS NOT NULL
        |              THEN CAST(round(daily.sum_value * 100) AS BIGINT) * 1000000 END AS obs_e6
        |  FROM grid LEFT JOIN daily ON grid.user_id = daily.user_id AND grid.day = daily.day
        |),
        |w AS (
        |  SELECT user_id, day, is_gap, obs_e6,
        |    last_value(obs_e6 IGNORE NULLS) OVER wp AS p_e6,
        |    first_value(obs_e6 IGNORE NULLS) OVER wn AS n_e6,
        |    last_value(CASE WHEN NOT is_gap THEN day END IGNORE NULLS) OVER wp AS pd,
        |    first_value(CASE WHEN NOT is_gap THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, day, is_gap,
        |  -- true FLOOR division (DuckDB's integer // truncates toward zero,
        |  -- which disagrees with floor on negative slopes): subtract the
        |  -- positive modulus first, then the division is exact
        |  CASE WHEN NOT is_gap THEN obs_e6
        |       ELSE p_e6 + (((n_e6 - p_e6) * (day - pd))
        |                    - (((((n_e6 - p_e6) * (day - pd)) % (nd - pd)) + (nd - pd)) % (nd - pd)))
        |                   // (nd - pd) END AS interp_e6
        |FROM w ORDER BY user_id, day""".stripMargin,

    "q_trailing_window" ->
      """SELECT o_orderkey,
        |       count(*) OVER w AS n_window,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_window
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
  )
}

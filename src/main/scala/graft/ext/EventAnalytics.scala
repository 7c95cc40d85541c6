package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.events

/** Ordered-funnel and cohort-retention analytics over the events stream
  * (extensions X37/X38) — the two standard product-analytics reads the
  * reference's hourly aggregation job would grow into.
  *
  * Funnel: how many users performed signup → view → click → purchase IN
  * ORDER. Each step is one filtered aggregate (min event time later than
  * the previous step's) plus an equi-join on user — every shuffle is on
  * `user_id`, so consecutive steps reuse the same partitioning; no
  * window-over-everything, no per-user event buffering.
  *
  * Cohort retention: users grouped by first-activity week × activity
  * week offset. Two combinable aggregates and one join, again all keyed
  * on `user_id` — the 100 TB shape (the naive alternative, a distinct
  * over (cohort, week, user) after a wide join, shuffles the event log
  * twice).
  */
object EventAnalytics extends graft.QueryModule {
  val funnelSteps: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** Per-user earliest completion time of each funnel step (strictly
    * after the previous step); users drop out at the first missing step.
    * Returns one DataFrame per step, each holding `(user_id, t)` for the
    * users who reached that step.
    */
  def funnelTimes(ev: DataFrame): Seq[DataFrame] = {
    val first = ev.where(col("event_type") === funnelSteps.head)
      .groupBy("user_id").agg(min("ts").as("t"))
    funnelSteps.tail.scanLeft(first) { (prev, step) =>
      ev.where(col("event_type") === step).as("e")
        .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
        .where(col("ts") > col("t_prev"))
        .groupBy("user_id").agg(min("ts").as("t"))
    }
  }

  /** X123: contiguous event-sequence transitions (MATCH_RECOGNIZE-lite).
    * X37's funnel admits gaps between steps; this is the ADJACENCY
    * contract — event B counted only when it IMMEDIATELY follows A in
    * the user's stream (no event in between) within `maxGapSec`. One
    * `lead()` pass per user (unique (ts, event_id) tiebreak order) + a
    * combinable transition-matrix groupBy: one shuffle on user_id, one
    * on the pair key; no self-join, no explosion — the Markov-transition
    * shape session-quality and bot-detection features are built from.
    */
  def transitions(ev: DataFrame, maxGapSec: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_s",
        lead(col("ts"), 1).over(w).cast("long") - col("ts").cast("long"))
      .where(col("next_type").isNotNull && col("gap_s") <= maxGapSec)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).cast("long").as("n_users"))
  }

  val queries: Map[String, Q] = Map(
    // X123: the full 10-minute transition matrix over the event stream.
    "q_transitions" -> ((s, d) =>
      transitions(events(s, d).select("user_id", "event_id", "event_type", "ts"), 600L)
        .orderBy("from_type", "to_type")),

    // step name + users reaching it, monotonically non-increasing.
    "q_funnel" -> ((s, d) => {
      val ev = events(s, d).select("user_id", "event_type", "ts")
      val counts = funnelTimes(ev).zip(funnelSteps).zipWithIndex.map {
        case ((df, step), i) =>
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(s"${i + 1}_$step").as("step"), col("n_users"))
      }
      counts.reduce(_ unionByName _).orderBy("step")
    }),

    // X255: exact user-growth curve — per day: events, active users,
    // NEW users (first-seen that day) and the cumulative user count.
    // The X246 min-first-occurrence discipline on the events stream: a
    // user's acquisition day is min(day) over their events, so the whole
    // growth curve (the DAU/acquisition chart every analytics stack
    // ships, computed EXACTLY, no sketch) costs one combinable per-user
    // aggregate plus day-bucketed rollups — never a distinct-scan per
    // day; the only cross-day window is the running sum over ~days rows.
    "q_user_growth" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val daily = ev.groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_active"))
      val firsts = ev.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily.join(firsts, Seq("day"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("cum_users", sum("n_new").over(w).cast("long"))
        .select("day", "n_events", "n_active", "n_new", "cum_users")
        .orderBy("day")
    }),

    // cohort week × week offset × active users.
    "q_cohort_retention" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("w"))
      val cohort = ev.groupBy("user_id").agg(min("w").as("w0"))
      val active = ev.distinct()
      // `active` is distinct per (user_id, w) and w0 is functionally
      // dependent on user_id, so each user contributes at most one row per
      // (cohort_week, week_offset) group — a plain count equals the
      // distinct count without the distinct aggregate's extra expansion.
      active.join(cohort, "user_id")
        .groupBy(col("w0").as("cohort_week"),
          (datediff(col("w"), col("w0")) / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_user_growth" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT day, count(*) AS n_events,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM ev GROUP BY day),
        |firsts AS (
        |  SELECT day, count(*) AS n_new FROM (
        |    SELECT user_id, min(day) AS day FROM ev GROUP BY user_id)
        |  GROUP BY day)
        |SELECT d.day, d.n_events, d.n_active,
        |       CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new,
        |       CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY d.day)
        |         AS BIGINT) AS cum_users
        |FROM daily d LEFT JOIN firsts f ON f.day = d.day
        |ORDER BY d.day""".stripMargin,

    "q_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER w AS next_type,
        |         date_diff('second', CAST(ts AS TIMESTAMP),
        |                   lead(CAST(ts AS TIMESTAMP)) OVER w) AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type AS from_type, next_type AS to_type,
        |       count(*) AS n_pairs,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM seq WHERE next_type IS NOT NULL AND gap_s <= 600
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "q_funnel" -> {
      // s1..s4 CTEs mirror the step-wise min-after-previous construction
      val ctes = funnelSteps.zipWithIndex.map { case (step, i) =>
        if (i == 0)
          s"""s1 AS (SELECT user_id, min(ts) AS t FROM ev
             |       WHERE event_type = '$step' GROUP BY user_id)""".stripMargin
        else
          s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t
             |       FROM ev e JOIN s$i p ON e.user_id = p.user_id
             |       WHERE e.event_type = '$step' AND e.ts > p.t
             |       GROUP BY e.user_id)""".stripMargin
      }.mkString(",\n")
      val selects = funnelSteps.zipWithIndex.map { case (step, i) =>
        s"SELECT '${i + 1}_$step' AS step, count(*) AS n_users FROM s${i + 1}"
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |$ctes
         |SELECT * FROM ($selects) ORDER BY step""".stripMargin
    },
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
        |  FROM events),
        |cohort AS (SELECT user_id, min(w) AS w0 FROM ev GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, w FROM ev)
        |SELECT c.w0 AS cohort_week,
        |       CAST(datediff('day', c.w0, a.w) // 7 AS BIGINT) AS week_offset,
        |       count(*) AS n_users
        |FROM active a JOIN cohort c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
  )
}

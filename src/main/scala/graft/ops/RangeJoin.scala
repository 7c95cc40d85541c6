package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Binned point-in-interval range join (extension X29; the reference has
  * no non-equi joins at all — its only joins are the two anti-joins,
  * `scripts/script_api_apify_to_spark.py:242-247`).
  *
  * Spark executes a bare `p.ts BETWEEN i.lo AND i.hi` join as
  * BroadcastNestedLoopJoin (or a cartesian product when neither side
  * broadcasts) — O(|points|·|intervals|) compares, the classic 100 TB
  * range-join trap. The scale-safe shape implemented here is bin
  * bucketing: quantize the point to a fixed-width bin, explode each
  * interval to every bin it overlaps, equi-join on the bin id, then
  * refine with the exact predicate. Cost drops to
  * |points| + Σ(interval span/binWidth) join rows, shuffles hash-partition
  * on the bin key, and Catalyst still picks broadcast when one side is
  * small — PlanSpec pins the no-BNLJ/no-cartesian claim.
  */
object RangeJoin extends graft.QueryModule {
  /** Exact floor(c / binWidth) for ANY long input: the division runs in
    * DECIMAL(38,0), never Double — long/long division in Spark is Double,
    * whose 53-bit mantissa silently mis-bins values ≥ 2^53 (epoch NANOS
    * would hit this), and a point binned off-by-one never meets its
    * interval in the equi-join.
    */
  private def binOf(c: org.apache.spark.sql.Column, bw: Long) =
    floor(c.cast("decimal(38,0)") / lit(bw)).cast("long")

  /** Join `points` (long column `ptCol`) to `intervals` (long columns
    * `loCol`, `hiCol`, inclusive bounds) on containment, via binWidth-wide
    * bucket equi-join + exact refine. Column names must be distinct
    * across the two inputs.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      ptCol: String, loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val p = points.withColumn("__bin", binOf(col(ptCol), binWidth))
    val i = intervals.withColumn("__bin",
      explode(sequence(binOf(col(loCol), binWidth), binOf(col(hiCol), binWidth))))
    p.join(i, Seq("__bin"))
      .where(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Interval-overlap join (X70): all pairs with
    * `[aLo,aHi] ∩ [bLo,bHi] ≠ ∅` (inclusive bounds), optionally
    * co-keyed on `extraKeys` — concurrent-session / double-booking
    * analytics. Both sides explode to the bins they cover and equi-join
    * on `(bin, extraKeys)`; a pair sharing k bins would surface k times,
    * so the join keeps only the OWNER BIN — the one containing
    * `max(aLo, bLo)`, the overlap start, which lies inside both
    * intervals and is therefore always among the shared bins. Exactly
    * one bin passes → no dedup shuffle at all; the exact overlap
    * predicate still refines (bin collisions are candidates, not
    * answers). Cost: Σ spans/binWidth exploded rows, one hash shuffle,
    * zero products — same scale contract as [[pointInInterval]].
    */
  def intervalOverlap(a: DataFrame, b: DataFrame,
      aLo: String, aHi: String, bLo: String, bHi: String,
      binWidth: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val ax = a.withColumn("__bin",
      explode(sequence(binOf(col(aLo), binWidth), binOf(col(aHi), binWidth))))
    val bx = b.withColumn("__bin",
      explode(sequence(binOf(col(bLo), binWidth), binOf(col(bHi), binWidth))))
    ax.join(bx, ("__bin" +: extraKeys).toSeq)
      .where(col(aLo) <= col(bHi) && col(bLo) <= col(aHi) &&
        binOf(greatest(col(aLo), col(bLo)), binWidth) === col("__bin"))
      .drop("__bin")
  }

  private val hourUs = 3600L * 1000000

  val queries: Map[String, Q] = Map(
    // Events against 24 two-hour maintenance windows spaced 6 h apart from
    // the corpus start: per-window event count + exact value sum. The
    // windows overlap multiple bins (2 h span, 1 h bins) so the explode
    // path is exercised; gaps between windows leave events unmatched so
    // the refine predicate is load-bearing.
    "q_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      val intervals = ev.agg(min("ts_us").as("t0"))
        .select(explode(sequence(lit(0L), lit(23L))).as("interval_id"), col("t0"))
        .select(col("interval_id"),
          (col("t0") + col("interval_id") * (6 * hourUs)).as("lo_us"),
          (col("t0") + col("interval_id") * (6 * hourUs) + 2 * hourUs).as("hi_us"))
      pointInInterval(ev, intervals, "ts_us", "lo_us", "hi_us", hourUs)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("interval_id")
    }),

    // X70: per-user concurrent intervals — each event opens a 30–150 min
    // interval (duration a pure function of event_id); even-id intervals
    // overlap-join odd-id intervals of the SAME user. The oracle runs the
    // naive quadratic overlap join — binning and the owner-bin trick must
    // be invisible.
    "q_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d).where(col("user_id") % 8 === 1)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("lo_us"))
        .withColumn("hi_us",
          col("lo_us") + (lit(1) + col("event_id") % 5) * lit(1800L * 1000000))
      def side(tag: String, parity: Int) =
        ev.where(col("event_id") % 2 === parity)
          .select(col("user_id"), col("event_id").as(s"${tag}_id"),
            col("lo_us").as(s"${tag}_lo"), col("hi_us").as(s"${tag}_hi"))
      intervalOverlap(side("a", 0), side("b", 1),
          "a_lo", "a_hi", "b_lo", "b_hi", hourUs, Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_id") + col("b_id")).cast("long").as("pair_sum"))
        .orderBy("user_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    // the oracle uses the NAIVE between-join — binning must be invisible
    "q_range_join" ->
      s"""WITH ev AS (
         |  SELECT event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
         |t0 AS (SELECT min(ts_us) AS t0 FROM ev),
         |iv AS (SELECT i.i AS interval_id,
         |              t0 + i.i * ${6 * hourUs} AS lo_us,
         |              t0 + i.i * ${6 * hourUs} + ${2 * hourUs} AS hi_us
         |       FROM t0, range(0, 24) i(i))
         |SELECT interval_id, count(*) AS n_events,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM ev JOIN iv ON ev.ts_us BETWEEN iv.lo_us AND iv.hi_us
         |GROUP BY interval_id ORDER BY interval_id""".stripMargin,
    "q_interval_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS lo_us,
        |         epoch_us(CAST(ts AS TIMESTAMP))
        |           + (1 + event_id % 5) * 1800000000 AS hi_us
        |  FROM events WHERE user_id % 8 = 1),
        |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |b AS (SELECT * FROM ev WHERE event_id % 2 = 1)
        |SELECT a.user_id AS user_id, count(*) AS n_pairs,
        |       CAST(sum(a.event_id + b.event_id) AS BIGINT) AS pair_sum
        |FROM a JOIN b
        |  ON a.user_id = b.user_id
        | AND a.lo_us <= b.hi_us AND b.lo_us <= a.hi_us
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin,
  )
}

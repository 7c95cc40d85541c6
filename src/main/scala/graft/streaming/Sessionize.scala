package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.sources.Tables._

/** One event inside a session (streaming-side input record). */
case class SessEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

/** A closed session (both tiers' output record). */
case class Session(
    user_id: Long,
    session_seq: Long,
    n_events: Long,
    t_start: java.sql.Timestamp,
    t_end: java.sql.Timestamp)

/** Gap-based sessionization of the events stream (north-star E6 extension;
  * the reference emulates time-series behavior with an hourly cron, SURVEY
  * §1.1).
  *
  * Two tiers with identical semantics (equivalence is property-tested):
  *  - batch: lag() gap-break + running-sum session ids — two window passes
  *    over ONE user_id shuffle, fully codegen, oracle-checkable in SQL.
  *  - streaming: `flatMapGroupsWithState` holding per-user
  *    (session_seq, last_ts, t_start, n) state — the shape that handles an
  *    unbounded stream where a user's events span many micro-batches.
  *
  * Scale notes: both tiers shuffle once by user_id. The batch tier's state
  * is implicit in the sort; the streaming tier's state store is
  * RocksDB-backed per executor at scale and watermark-evicted.
  */
object Sessionize extends graft.QueryModule {

  /** Session gap: events of one user separated by more than this belong to
    * different sessions (12 h fits the fixture's ~7 h median inter-event
    * gap — sessions average several events, and breaks are common).
    */
  val gap = "12 hours"
  private val gapUs = 12L * 3600 * 1000000

  /** Full-precision epoch micros (Timestamp.getTime alone truncates to ms —
    * the batch tier compares full timestamps, so the streaming tier must
    * too, or boundary gaps diverge between tiers).
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos((us % 1000000).toInt * 1000)
    t
  }

  /** Batch tier: deterministic session assignment via window functions. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $gap"), 1).otherwise(0))
      .withColumn("session_seq",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("t_start"), max("ts").as("t_end"))
  }

  /** One gap-connected session interval in streaming state: event-time span
    * plus how many events landed in it.
    */
  case class SessInterval(startUs: Long, endUs: Long, n: Long)

  /** Per-user streaming state: intervals sorted by start, plus the
    * interval count of the previous emission (to retract orphaned
    * sequence numbers after a bridge merge). Size is O(#sessions
    * touched), NEVER O(#events) — the memory contract that survives a
    * heavy-hitter user at 100 TB.
    */
  case class SessState(intervals: List[SessInterval], emitted: Long)

  /** Insert one event time into a sorted interval list, merging within
    * `gap`. Recursion guard: when we pass an interval, t is already more
    * than `gap` after its end, so a leftward extension of the next interval
    * can never bridge backwards.
    */
  private def insert(iv: List[SessInterval], t: Long): List[SessInterval] = iv match {
    case Nil => List(SessInterval(t, t, 1))
    case h :: tail if t < h.startUs - gapUs => SessInterval(t, t, 1) :: iv
    case h :: tail if t <= h.endUs + gapUs =>
      val m = SessInterval(math.min(h.startUs, t), math.max(h.endUs, t), h.n + 1)
      tail match {
        // the new event can bridge h to the following interval
        case h2 :: rest if m.endUs + gapUs >= h2.startUs =>
          SessInterval(m.startUs, math.max(m.endUs, h2.endUs), m.n + h2.n) :: rest
        case _ => m :: tail
      }
    case h :: tail => h :: insert(tail, t)
  }

  /** Streaming tier: per-user interval-merging state machine.
    *
    * Events stream through ONE AT A TIME — no whole-group `toSeq`/sort, so
    * a micro-batch with millions of events for one hot user costs
    * O(#sessions) memory, not O(#events). Gap sessionization is
    * order-independent (sessions are the connected components of the
    * within-gap chain), so merging each event into a sorted interval list
    * yields exactly the batch tier's sessions regardless of arrival order —
    * including late events that extend or BRIDGE earlier sessions, which a
    * sort-the-batch implementation gets wrong across batches.
    *
    * Emission is a SNAPSHOT of all intervals per batch (seq = rank by
    * start): downstream reads the latest emission per (user_id,
    * session_seq) and filters `n_events > 0`. When a late bridge event
    * MERGES two intervals the count shrinks — the orphaned higher
    * sequence numbers are retracted with explicit tombstone rows
    * (`n_events = 0`), so no phantom session from an earlier batch
    * survives compaction. (With an unbounded stream + watermark, closed
    * sessions would instead be finalized off an event-time timeout and
    * dropped from state.)
    */
  def sessionizeGroup(
      userId: Long,
      events: Iterator[SessEvent],
      state: GroupState[SessState]
  ): Iterator[Session] = {
    val prev = state.getOption
    var iv = prev.map(_.intervals).getOrElse(Nil)
    val prevEmitted = prev.map(_.emitted).getOrElse(0L)
    events.foreach(e => iv = insert(iv, micros(e.ts)))
    val n = iv.length.toLong
    state.update(SessState(iv, n))
    val live = iv.iterator.zipWithIndex.map { case (v, i) =>
      Session(userId, i + 1L, v.n, toTs(v.startUs), toTs(v.endUs))
    }
    val tombstones = ((n + 1) to prevEmitted).iterator.map(seq =>
      Session(userId, seq, 0L, toTs(0L), toTs(0L)))
    live ++ tombstones
  }

  val queries: Map[String, Q] = Map(
    "q_sessionize" -> ((s, d) =>
      sessionizeBatch(events(s, d))
        .orderBy("user_id", "session_seq")),

    // X74: Spark's NATIVE session windows — `session_window(ts, gap)` in a
    // plain batch groupBy (the same call drops into a watermarked stream
    // unchanged, which is the API's point). One shuffle on (user_id) with
    // session merging inside the aggregation — no window-function double
    // pass. Boundary semantics MATCH the custom tier: an event arriving
    // EXACTLY gap after the last one still merges (only a strictly
    // greater gap breaks — pinned against a hand fixture in
    // StreamingSpec), so the gaps-and-islands oracle uses the same `>`
    // break as q_sessionize and only the output shape (window bounds vs
    // session_seq) differs.
    "q_session_window" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), Sessionize.gap).as("sw"))
        .agg(count(lit(1)).as("n_events"),
          graft.util.Exact.dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("w_start"),
          col("sw.end").as("w_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "w_start")),
  )

  val oracles: Map[String, String] = Map(
    "q_sessionize" ->
      """SELECT user_id, session_seq, count(*) AS n_events,
        |       CAST(min(ts) AS TIMESTAMP) AS t_start, CAST(max(ts) AS TIMESTAMP) AS t_end
        |FROM (
        |  SELECT user_id, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                       + INTERVAL 12 HOUR
        |                THEN 1 ELSE 0 END AS brk
        |    FROM events))
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q_session_window" ->
      """SELECT user_id,
        |       CAST(min(ts) AS TIMESTAMP) AS w_start,
        |       CAST(max(ts) + INTERVAL 12 HOUR AS TIMESTAMP) AS w_end,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                  OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                       + INTERVAL 12 HOUR
        |                THEN 1 ELSE 0 END AS brk
        |    FROM events))
        |GROUP BY user_id, grp
        |ORDER BY user_id, w_start""".stripMargin,
  )
}

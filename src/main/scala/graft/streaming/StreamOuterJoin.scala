package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables

/** Watermarked stream-stream LEFT OUTER join (X89) — X30's inner join
  * plus the semantics that make outer joins hard on streams: an a-row
  * that never matches must still emit, null-extended, but only once its
  * join horizon is provably closed (watermark past `a.ts + window`),
  * because until then a matching b-row could still arrive. Spark holds
  * the row in join state and emits the null-extended result in the
  * micro-batch where the watermark crosses — correctness depends on
  * watermark PROGRESS, not stream end.
  *
  * That makes finite fixtures subtle: the watermark only advances from
  * observed event times, so the tail of a bounded stream would never
  * flush (rows within `watermark + window` of the end stay pending
  * forever — they'd silently vanish from an append sink). The fixture
  * closes the horizon honestly with a WATERMARK SENTINEL: each side's
  * final file carries one far-future row (negative user id, filtered
  * from the output after the join), pushing both sides' watermarks past
  * every real row's horizon so the no-data micro-batch flushes all
  * pending outer results. This is the production pattern for bounded
  * replays/backfills of outer-join pipelines; live streams advance
  * watermarks naturally.
  *
  * State shape is identical to X30 (bounded by the horizon, keyed on
  * user, 4 stores per partition per side); the only new cost is holding
  * unmatched a-rows until eviction, which the horizon already bounds.
  * The oracle is the plain batch LEFT JOIN — streaming, batching, and
  * the sentinel mechanism must all be invisible.
  */
object StreamOuterJoin extends graft.QueryModule {

  val watermark = "2 hours"
  val joinWindow = "1 hour"

  def run(s: SparkSession, aDir: String, bDir: String, chkDir: String,
      outDir: String, schema: org.apache.spark.sql.types.StructType,
      joinType: String = "left_outer"): Unit = {
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val a = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(aDir).withWatermark("ts", watermark).alias("a")
      val b = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(bDir).withWatermark("ts", watermark).alias("b")
      // NO sentinel filter here: a pre-sink `a.user_id >= 0` would push
      // down into the parquet scans, and the sentinel files' column stats
      // (all ids negative) would prune them ENTIRELY — their event times
      // would never reach the watermark and pending outer rows would
      // silently never flush. Sentinels flow through the join (they only
      // pair with each other) and are filtered at read-back.
      // full-outer (X94): the b side's unmatched rows flush under the same
      // sentinels — the time bound works both ways (a.ts ∈ [b.ts−1h, b.ts]
      // for a b-row's candidates), so b-state eviction is watermark-bounded
      // exactly like a-state
      val joined = a.join(b, expr(StreamJoin.joinCondSql), joinType)
        .select(coalesce(col("a.user_id"), col("b.user_id")).as("user_id"),
          col("a.event_id").as("a_id"), col("b.event_id").as("b_id"),
          col("a.ts").as("a_ts"), col("b.ts").as("b_ts"))
      val q = joined.writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .option("checkpointLocation", chkDir)
        .format("parquet")
        .start(outDir)
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** Stream input files for `q_stream_outer_join`: two time-ordered files
    * per side cut at a straddling match (X30's discipline) plus the
    * sentinel file per side.
    */
  def buildInput(s: SparkSession, d: String): String = {
    val ev = eventsSlice(s, d)
    graft.util.FixtureCache.dir("souter_in", d) { in =>
      val sideA = ev.where(col("event_id") % 2 === 0)
      val sideB = ev.where(col("event_id") % 2 === 1)
      val straddle = sideA.alias("a").join(sideB.alias("b"),
          expr(StreamJoin.joinCondSql))
        .where(col("a.ts").cast("long") < col("b.ts").cast("long"))
        .select(((col("a.ts").cast("long") + col("b.ts").cast("long")) / 2)
          .cast("long").as("mid"))
        .orderBy("mid").limit(1).collect()
      val cut = straddle.headOption.map(_.getAs[Long]("mid")).getOrElse {
        val mm = ev.agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
        (mm.getLong(0) + mm.getLong(1)) / 2
      }
      val maxTs = ev.agg(max(col("ts").cast("long"))).head().getLong(0)
      // Watermarks apply BATCH-DELAYED (batch N+1 runs under the watermark
      // derived from event times seen through batch N), and AvailableNow
      // ends without a closing no-data batch — so one sentinel advances
      // the watermark but nothing runs under it. TWO sentinel files per
      // side: the first (max + 4h) closes every real row's horizon
      // (max + 1h) once in force; the second's batch is what runs under
      // it and flushes the pending outer rows.
      def sentinel(ts: Long) = ev.limit(1)
        .select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
          timestamp_seconds(lit(ts)).as("ts"))
      // all four mtimes strictly in the PAST: the file source skips
      // future-stamped files, and a skipped sentinel silently reverts the
      // query to the no-flush behavior this fixture exists to prevent
      val t0 = System.currentTimeMillis() - 120000
      Seq(("a", sideA), ("b", sideB)).foreach { case (tag, side) =>
        StreamDiff.writeSnapshotFile(
          side.where(col("ts").cast("long") <= cut), s"$in/$tag/part_1.parquet", t0)
        StreamDiff.writeSnapshotFile(
          side.where(col("ts").cast("long") > cut), s"$in/$tag/part_2.parquet", t0 + 30000)
        StreamDiff.writeSnapshotFile(
          sentinel(maxTs + 4 * 3600), s"$in/$tag/part_3.parquet", t0 + 60000)
        StreamDiff.writeSnapshotFile(
          sentinel(maxTs + 12 * 3600), s"$in/$tag/part_4.parquet", t0 + 90000)
      }
    }
  }

  def eventsSlice(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("user_id", "event_id", "ts")
      .where(col("user_id") % 4 === 2)

  val queries: Map[String, Q] = Map(
    "q_stream_outer_join" -> ((s, d) => {
      val in = buildInput(s, d)
      val base = graft.util.FixtureCache.dir("souter_run", d) { b =>
        run(s, s"$in/a", s"$in/b", s"$b/chk", s"$b/out",
          eventsSlice(s, d).schema)
      }
      // total order even with NULL b_id: coalesce to a sentinel below any
      // real event id (same expression in the oracle — engines disagree on
      // default NULL sort position)
      graft.sources.Tables.cachedParquet(s, s"$base/out")
        .where(col("user_id") >= 0)
        .orderBy(col("a_id"), coalesce(col("b_id"), lit(-1L)))
    }),

    // X94: both sides' unmatched rows, same fixture and sentinel flush;
    // both order keys are nullable so both coalesce in the total order.
    "q_stream_full_join" -> ((s, d) => {
      val in = buildInput(s, d)
      val base = graft.util.FixtureCache.dir("sfull_run", d) { b =>
        run(s, s"$in/a", s"$in/b", s"$b/chk", s"$b/out",
          eventsSlice(s, d).schema, "full_outer")
      }
      graft.sources.Tables.cachedParquet(s, s"$base/out")
        .where(col("user_id") >= 0)
        .orderBy(coalesce(col("a_id"), lit(-1L)), coalesce(col("b_id"), lit(-1L)))
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_outer_join" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
         |  WHERE user_id % 4 = 2),
         |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
         |b AS (SELECT * FROM ev WHERE event_id % 2 = 1)
         |SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
         |       a.ts AS a_ts, b.ts AS b_ts
         |FROM a LEFT JOIN b
         |  ON a.user_id = b.user_id
         | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $joinWindow
         |ORDER BY a_id, coalesce(b_id, -1)""".stripMargin,
    "q_stream_full_join" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
         |  WHERE user_id % 4 = 2),
         |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
         |b AS (SELECT * FROM ev WHERE event_id % 2 = 1)
         |SELECT coalesce(a.user_id, b.user_id) AS user_id,
         |       a.event_id AS a_id, b.event_id AS b_id,
         |       a.ts AS a_ts, b.ts AS b_ts
         |FROM a FULL JOIN b
         |  ON a.user_id = b.user_id
         | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $joinWindow
         |ORDER BY coalesce(a_id, -1), coalesce(b_id, -1)""".stripMargin,
  )
}

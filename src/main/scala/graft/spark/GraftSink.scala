package graft.spark

import org.apache.spark.sql.{DataFrame, GraftShim, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions._
import org.json4s._

import graft.lake.{ManifestTable, ZoneMap}
import graft.sources.Tables
import graft.util.{Exact, FixtureCache, Scratch}

/** The WRITE half of the `graft` format (extensions X116 batch /
  * X117 streaming sink).
  *
  * Batch: `df.write.format("graft").mode(...).save(dir)` —
  * Overwrite = optimistic REPLACE commit, Append = optimistic APPEND,
  * ErrorIfExists/Ignore honor their contracts against the committed log
  * (not the filesystem — a half-staged crash leftover is not "exists").
  *
  * Streaming: `writeStream.format("graft")` commits each micro-batch as
  * an append version, exactly-once per CHECKPOINT LINEAGE: the version's
  * manifest records (appId = checkpoint location, batchId) as its
  * `stream` state entry, in the same put as its files; a replayed batch with
  * the same lineage and a batchId at-or-below the committed one SKIPS
  * entirely (Delta's txnAppId/txnVersion idempotence, keyed the way
  * streaming restarts actually key themselves), while a NEW checkpoint
  * (new lineage) legitimately starts over from batch 0 and is not
  * confused with a replay. A crashed or lost attempt records no txn, so
  * its batch is never mistaken for a replay.
  *
  * Together with X113/X114 this closes the loop: a graft table can be
  * the source AND the sink of one structured-streaming pipeline, both
  * ends exactly-once off the same rename-as-commit.
  */
object GraftSink extends graft.QueryModule {

  /** DSv1 streaming sink: one version per micro-batch — APPEND by
    * default; with `mergeKeys` set, each batch UPSERTS by key into the
    * previous state (the "merge in foreachBatch" pattern, canned): last
    * write per key wins within the stream order, and the same lineage
    * idempotence makes replayed batches skip BEFORE any merge runs, so
    * a replay can never double-apply an update. The upsert commits
    * COPY-ON-WRITE over touched files only (X180,
    * [[graft.lake.Merge.upsertCow]]) — per-batch cost tracks the batch,
    * not the table, and a key-clustered table prunes the touched-file
    * probe by its zone maps. `deleteCol` names a boolean batch column
    * flagging CDC deletes (flag wins over the row's other values; a
    * delete for an absent key is a no-op).
    */
  class StreamSink(spark: SparkSession, dir: String, appId: String,
      mergeKeys: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      deleteCol: Option[String] = None) extends Sink {
    override def addBatch(batchId: Long, data: DataFrame): Unit = {
      implicit val fmts: Formats = DefaultFormats
      val latest = ManifestTable.snapshots(spark, dir).lastOption
      val replayed = latest.flatMap(_.state.get("stream")).exists(t =>
        (t \ "app_id").extract[String] == appId &&
          batchId <= (t \ "batch_id").extract[Long])
      if (replayed) return // exactly-once: this lineage already landed it
      val txn: Option[ManifestTable.Snapshot] => ManifestTable.State =
        _ => Map("stream" -> JObject("app_id" -> JString(appId), "batch_id" -> JInt(batchId)))
      // the incoming frame carries a streaming plan; rebase it onto its
      // computed rows (the construction every DSv1 sink uses)
      val batch = GraftShim.internalCreateDataFrame(
        spark, data.queryExecution.toRdd, data.schema, isStreaming = false)
      if (mergeKeys.isEmpty || latest.isEmpty) {
        // first batch of an upsert stream: a delete for a key the table
        // never held is a no-op, so flagged rows drop rather than insert
        val first = deleteCol.foldLeft(batch) { (b, dc) =>
          b.where(!coalesce(col(dc), lit(false))).drop(dc)
        }
        val staged = ManifestTable.stageDataFiles(first, dir)
        // X134 composition: per-batch zone maps keep the sink table prunable
        ManifestTable.appendStagedRetrying(spark, dir, 20250801, 0, staged,
          state = txn, stats = if (statsCols.isEmpty) Nil
            else ZoneMap.statsFor(spark, dir, staged, statsCols, Nil))
      } else {
        // X180: each batch lands COPY-ON-WRITE over touched files only
        // (Merge.upsertCow) — commit cost tracks the batch, not the
        // table; the txn rides the merge's own manifest. The upsert
        // recomputes INSIDE the retry loop: a lost race means a
        // concurrent writer advanced the table, and re-committing the
        // pre-race rewrite would silently erase those rows (the classic
        // lost update) — each retry re-reads the new latest. Cache the
        // batch so only the merge re-runs.
        batch.persist()
        try ManifestTable.retrying("stream merge sink", dir) {
          graft.lake.Merge.upsertCow(spark, dir, batch, mergeKeys,
            20250801, 0, deleteCol = deleteCol, state = txn)
        } finally batch.unpersist()
      }
    }
  }

  val queries: Map[String, Q] = Map(
    // X116: the writer modes against the committed log, read back through
    // the same public format. Overwrite replaces, two appends accumulate,
    // Ignore is a no-op on an existing table.
    "q_write_format" -> ((s, d) => {
      val dir = FixtureCache.dir("graft_wfmt", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        o.where(col("o_orderkey") % 3 === 0).write.format("graft")
          .mode(SaveMode.Overwrite).save(dir)
        o.where(col("o_orderkey") % 3 === 1).write.format("graft")
          .mode(SaveMode.Append).save(dir)
        o.where(col("o_orderkey") % 3 === 2).write.format("graft")
          .mode(SaveMode.Append).save(dir)
        // Ignore on an existing table: committed log untouched
        o.limit(5).write.format("graft").mode(SaveMode.Ignore).save(dir)
      }
      val nVersions = ManifestTable.snapshots(s, dir).size
      s.read.format("graft").load(dir)
        .groupBy((col("o_orderkey") % 3).cast("long").as("slice"))
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_versions", lit(nVersions))
        .orderBy("slice")
    }),

    // X216: WRITE ORDERED BY — the declared order range-clusters every
    // subsequent append and records zone maps on it, so the band read
    // prunes the ordered files while v1's stat-less file honestly stays
    // in scope; pruning must be invisible (the oracle is the plain
    // filter), and the candidate-file count is pinned in the spec.
    "q_write_order" -> ((s, d) => {
      val dir = FixtureCache.dir("graft_worder", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        o.where(col("o_orderkey") % 4 === 0).write.format("graft")
          .mode(SaveMode.Overwrite).save(dir) // v1: unordered, no stats
        GraftDml.extSession(s).sql(
          s"ALTER TABLE '$dir' WRITE ORDERED BY (o_custkey) AT 20250901 910") // v2
        (1 to 3).foreach { i => // v3-v5: range-clustered + stats'd appends
          o.where(col("o_orderkey") % 4 === i).write.format("graft")
            .mode(SaveMode.Append).option("runDate", "20250901")
            .option("runTime", (910 + i).toString).save(dir)
        }
      }
      val b = Tables.orders(s, d).agg(min("o_custkey"), max("o_custkey")).head
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
      val latest = ManifestTable.latestVersion(s, dir).get
      graft.lake.ZoneMap.readRange(s, dir, latest, "o_custkey", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_total"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, dir).size))
    }),

    // X214: graft.autoCompact — small appends accumulate file debt until
    // the threshold, then ONE bin-pack commit folds the listing back;
    // content is write-order invisible (the whole-table oracle), the
    // version/op/file ledger pins exactly when compaction fired.
    "q_auto_compact" -> ((s, d) => {
      val dir = FixtureCache.dir("graft_autoc", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        o.where(col("o_orderkey") % 4 === 0).coalesce(1).write.format("graft")
          .mode(SaveMode.Overwrite).save(dir) // v1: 1 file
        GraftDml.extSession(s).sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES " +
          "('graft.autoCompact' = 'true', 'graft.autoCompact.minFiles' = '4')") // v2
        (1 to 3).foreach { i => // v3, v4: debt grows; v5 trips → v6 optimize
          o.where(col("o_orderkey") % 4 === i).coalesce(1).write.format("graft")
            .mode(SaveMode.Append).option("runDate", "20250901")
            .option("runTime", (900 + i).toString).save(dir)
        }
      }
      val snaps = ManifestTable.snapshots(s, dir)
      s.read.format("graft").load(dir)
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("n_optimize", lit(snaps.count(_.op == "optimize")))
        .withColumn("n_files", lit(snaps.last.files.size))
    }),

    // X117: graft-to-graft streaming pipeline — source log streamed into
    // a sink log through one checkpoint, second pass replays nothing,
    // post-append pass delivers exactly the new version. Duplicates or
    // lost batches break the whole-events oracle.
    "q_stream_sink" -> ((s, d) => {
      val sinkTbl = FixtureCache.dir("graft_ssink", d) { sinkTbl =>
        val src = Scratch.dir("graft_ssink_src")
        val chk = Scratch.dir("graft_ssink_chk")
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ManifestTable.commit(ev.where(col("event_id") % 4 === 0), src, 20250801, 900)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 1), src, 20250801, 1000)
        def pipe(): Unit = {
          val q = s.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("path", sinkTbl)
            .option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        pipe()
        pipe() // quiet source: no new version in the sink
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 >= 2), src, 20250801, 1100)
        pipe()
      }
      s.read.format("graft").load(sinkTbl)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // X180: streaming CDC upsert — two micro-batches through the keyed
    // CoW merge sink (updates, inserts, and deleteCol-flagged deletes),
    // final state read through the public format. A full-rewrite bug, a
    // lost delete, or a double-applied batch all break the oracle.
    "q_stream_upsert" -> ((s, d) => {
      val dst = FixtureCache.dir("graft_supsert", d) { dst =>
        val src = Scratch.dir("graft_supsert_src")
        val chk = Scratch.dir("graft_supsert_chk")
        val o = Tables.orders(s, d).select(
          col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        def pipe(): Unit = {
          val q = s.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("path", dst)
            .option("checkpointLocation", chk)
            .option("mergeKeys", "k")
            .option("deleteCol", "del")
            .option("statsCols", "k")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // batch 1: the base population (k % 4 != 0), no deletes
        ManifestTable.commit(
          o.where(col("k") % 4 =!= 0).withColumn("del", lit(false))
            .repartitionByRange(8, col("k")),
          src, 20250801, 900)
        pipe()
        // batch 2: CDC slice on k % 5 == 0 — doubled price, every third
        // key a delete; hits updates, inserts AND absent-key deletes
        ManifestTable.appendRetrying(
          o.where(col("k") % 5 === 0)
            .withColumn("p", col("p") * 2)
            .withColumn("del", col("k") % 3 === 0),
          src, 20250801, 1000)
        pipe()
      }
      s.read.format("graft").load(dst)
        .groupBy((col("k") % 7).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .orderBy("bucket")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_write_format" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(3 AS INT) AS n_versions
        |FROM orders GROUP BY 1 ORDER BY slice""".stripMargin,

    "q_write_order" ->
      """WITH b AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM orders),
        |band AS (SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi FROM b)
        |SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        |       CAST(5 AS INT) AS n_versions
        |FROM orders, band
        |WHERE o_custkey >= band.lo AND o_custkey <= band.hi""".stripMargin,

    "q_auto_compact" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(6 AS INT) AS n_versions,
        |       CAST(1 AS INT) AS n_optimize,
        |       CAST(1 AS INT) AS n_files
        |FROM orders""".stripMargin,

    "q_stream_sink" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_upsert" ->
      """WITH s1 AS (SELECT o_orderkey AS k, o_totalprice AS p
        |            FROM orders WHERE o_orderkey % 4 <> 0),
        |b2 AS (SELECT o_orderkey AS k, o_totalprice * 2 AS p,
        |              o_orderkey % 3 = 0 AS del
        |       FROM orders WHERE o_orderkey % 5 = 0),
        |fin AS (SELECT coalesce(b.k, s.k) AS k,
        |               CASE WHEN b.k IS NOT NULL THEN b.p ELSE s.p END AS p
        |        FROM s1 s FULL JOIN b2 b ON s.k = b.k
        |        WHERE b.k IS NULL OR NOT b.del)
        |SELECT CAST(k % 7 AS BIGINT) AS bucket, count(*) AS n_rows,
        |       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
        |FROM fin GROUP BY 1 ORDER BY bucket""".stripMargin,
  )
}

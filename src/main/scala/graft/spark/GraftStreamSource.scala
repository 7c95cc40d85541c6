package graft.spark

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.{ChangeFeed, ManifestTable}
import graft.sources.Tables
import graft.util.{Exact, FixtureCache, Scratch}

/** `spark.readStream.format("graft")` — tail a manifest table's commit
  * log as a structured stream (extension X114, the streaming half of
  * X113; Delta's "streaming table" shape).
  *
  * OFFSETS ARE VERSIONS. `getOffset` is one driver-side listing of the
  * manifest dir — the stream discovers new data the moment a commit
  * rename lands, with none of the file-arrival races a directory-watching
  * source has (a version is wholly visible or not at all, X39). Each
  * micro-batch (startV, endV] reads exactly the files those versions
  * APPENDED (`files \ parent.files` — append commits carry their parent's
  * list plus the new files), so a batch costs O(new data), never
  * O(table). Version 1 is the initial snapshot, emitted as the first
  * batch like Delta's starting snapshot.
  *
  * Non-append commits (replace, delete, DV changes, optimize) have no
  * append-only row delta; the source REFUSES them loudly by default —
  * silently re-emitting rewritten files is how downstream counts go
  * wrong. `option("skipChangeCommits", "true")` opts into skipping them
  * (Delta's own escape hatch) for consumers that only want arrivals.
  * Exactly-once falls out of deterministic offsets: a replayed batch
  * (same version range) reads the same immutable files.
  *
  * X183 — `option("readChangeFeed", "true")` (plus `keys`) switches the
  * source to Delta CDF's streaming shape: every batch carries the table
  * columns plus `_change_type` (`insert`/`delete` — an update is its
  * key's delete+insert pair) and `_commit_version`. The initial snapshot
  * (version 1) is emitted as inserts, exactly Delta's starting-snapshot
  * semantics; every later version's rows come from the X75 change feed,
  * whose metadata routing keeps batch cost ∝ the step's own change
  * (append commits scan only appended files, DV commits only the
  * tombstone delta, optimize/materialize contribute zero rows without
  * reading the version at all). Change commits are the POINT here, so
  * nothing refuses — a replace commit surfaces through the keyed diff,
  * which is why `keys` is required up front. Offsets, rate limiting,
  * AvailableNow and exactly-once replay are the same version machinery
  * as the arrivals mode; the feed of a replayed range is deterministic
  * because it derives from immutable manifests and files.
  */
class GraftStreamSource(spark: SparkSession, dir: String,
    skipChangeCommits: Boolean, maxVersionsPerBatch: Option[Int] = None,
    metadataPath: Option[String] = None, cdfKeys: Option[Seq[String]] = None,
    startingVersion: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val tableSchema: StructType = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"graft stream: no committed snapshot at $dir")
    spark.read.parquet(snaps.last.files.map(f => s"$dir/$f"): _*).schema
  }

  override val schema: StructType =
    if (cdfKeys.isEmpty) tableSchema
    else tableSchema
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)

  // Backfill rate limiting (the file source's maxFilesPerTrigger, in
  // versions): never offer more than N versions past what the engine
  // last asked for, so a long log replays as bounded micro-batches
  // instead of one giant first batch. Purely an offer-side cap —
  // exactly-once and ordering are untouched.
  //
  // The cap's BASE must never regress below the checkpointed offset: on a
  // clean restart the engine calls getOffset before any getBatch, so an
  // in-memory base restarting at 0 would offer an offset BELOW the
  // committed one, Spark would record it as the new batch end, and later
  // batches would re-read already-delivered versions. The base is
  // therefore PERSISTED under the stream's own metadataPath (the same
  // per-source checkpoint slot FileStreamSource keeps its metadata log
  // in): fresh stream = no file = base 0 is genuinely correct; restart =
  // file present = base resumes at-or-above the committed offset, and the
  // backfill stays paced. `metadataPath = None` is the direct-construction
  // test path only — the registered format always wires it.
  private def offerFile =
    metadataPath.map(p => new org.apache.hadoop.fs.Path(p, "graft-last-offer"))

  private var lastOffered: Option[Long] = offerFile.flatMap { f =>
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  private def persistOffer(v: Long): Unit = offerFile.foreach { f =>
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(f, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  // Trigger.AvailableNow end bound (real support, not the engine's
  // single-batch fallback): the engine calls prepareForTriggerAvailableNow
  // once at stream start, and every later offer is capped at the version
  // committed THEN — the run processes exactly the backlog that existed at
  // the trigger (in rate-limited micro-batches when maxVersionsPerBatch is
  // set) and terminates, even while concurrent writers keep committing.
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = ManifestTable.latestVersion(spark, dir).map(_.toLong)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  // X199: "subscribe from here" — versions at-or-below the starting
  // version are never delivered and the initial-snapshot backfill is
  // skipped (Delta's startingVersion). The base anchors the FIRST
  // batch's lower bound and the rate limiter; a CHECKPOINTED offset
  // always wins over it (getBatch's `start`), so a restart that
  // re-resolves `"latest"` to a newer version can never stall or
  // re-deliver — the offer side needs no filtering (a fresh stream
  // whose latest == base just commits one empty batch).
  private val startBase: Long = startingVersion.getOrElse(0L)

  private def offer(): Option[Long] = {
    val latestRaw = ManifestTable.latestVersion(spark, dir).map(_.toLong)
    val latest = (latestRaw, availableNowEnd) match {
      case (Some(l), Some(end)) => Some(math.min(l, end))
      case _ => latestRaw
    }
    val vCapped = (latest, maxVersionsPerBatch) match {
      case (Some(l), Some(cap)) =>
        val base = lastOffered.getOrElse(startBase)
        Some(math.min(l, base + cap))
      case _ => latest
    }
    // X218 — row-budget admission (Delta's maxFilesPerTrigger class):
    // walk version DELTAS until the budget is spent, always admitting at
    // least one version (a single over-budget commit must still flow —
    // a cap is pacing, never a wall). Delta rows come from the X57 stats
    // sidecar when the version carries one, else driver-side parquet
    // footers — metadata either way, no Spark job.
    val capped = (vCapped, maxRowsPerTrigger) match {
      case (Some(l), Some(budget)) =>
        val base = lastOffered.getOrElse(startBase)
        var v = base
        var rows = 0L
        while (v < l && (v == base || rows + deltaRows(v + 1) <= budget)) {
          rows += deltaRows(v + 1)
          v += 1
        }
        Some(v)
      case _ => vCapped
    }
    capped.foreach { c =>
      if (lastOffered.forall(_ < c)) {
        // only the rate-limited path needs the durable base; an uncapped
        // source always offers the latest and cannot regress
        if (maxVersionsPerBatch.isDefined || maxRowsPerTrigger.isDefined)
          persistOffer(c)
        lastOffered = Some(c)
      }
    }
    capped
  }

  // memoized per version — offers re-walk the frontier every trigger
  private val deltaRowsCache = scala.collection.mutable.Map.empty[Long, Long]

  private def deltaRows(v: Long): Long = deltaRowsCache.getOrElseUpdate(v, {
    val snaps = ManifestTable.snapshots(spark, dir)
    val snap = snaps.find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"no version $v at $dir"))
    val prevFiles = snaps.find(_.version == v - 1)
      .map(_.files.toSet).getOrElse(Set.empty)
    val fresh = snap.files.filterNot(prevFiles)
    val stats = graft.lake.ZoneMap.fileStats(spark, dir, v.toInt)
      .getOrElse(Nil).map(s => s.file -> s.rows).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(rel: String): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$dir/$rel"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    fresh.map(f => stats.getOrElse(f, footerRows(f))).sum
  })

  override def getOffset: Option[Offset] = offer().map(LongOffset(_))

  /** Admission-control twin of getOffset — what the engine actually calls
    * once the source declares SupportsAdmissionControl. The version cap is
    * our own (versions, not rows/files), so the engine's ReadLimit is
    * accepted as allAvailable and the pacing stays in [[offer]].
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    offer().map(LongOffset(_)).orNull

  private def versionOf(o: Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json.trim.toInt // SerializedOffset from the checkpoint
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // recovery of an uncommitted batch calls getBatch before any
    // getOffset: anchor the rate limiter at the replayed range so the
    // next offer continues from it (belt to the persisted base above)
    Seq(start.map(o => versionOf(o).toLong), Some(versionOf(end).toLong))
      .flatten.maxOption.foreach { v =>
        if (lastOffered.forall(_ < v)) lastOffered = Some(v)
      }
    val fromV = start.map(versionOf).getOrElse(startBase.toInt)
    val toV = versionOf(end)
    if (cdfKeys.isDefined) return cdfBatch(fromV, toV)
    val all = ManifestTable.snapshots(spark, dir)
    val byVersion = all.map(s => s.version -> s).toMap
    val snaps = all.filter(s => s.version > fromV && s.version <= toV)
    val appended = snaps.flatMap { s =>
      val parent = byVersion.get(s.version - 1)
      // a version whose parent was VACUUMED away has no computable
      // append delta — treating it as an initial snapshot would
      // re-emit the whole table; refuse like Delta's unavailable
      // startingVersion instead
      if (s.version > 1 && parent.isEmpty) throw new IllegalStateException(
        s"graft stream: version ${s.version - 1} at $dir was vacuumed; " +
          "cannot compute the append delta — restart the stream from a " +
          "fresh checkpoint (full reload) or retain more history")
      val parentFiles = parent.map(_.files.toSet).getOrElse(Set.empty)
      val newFiles = s.files.filterNot(parentFiles)
      val isAppend = parent.isEmpty ||
        (parentFiles.subsetOf(s.files.toSet) && s.deletes == parent.get.deletes)
      if (isAppend) newFiles
      else if (skipChangeCommits) Nil
      else throw new IllegalStateException(
        s"graft stream: version ${s.version} at $dir is not append-only " +
          s"(op=${s.op}); set skipChangeCommits=true to skip such commits")
    }
    val batch =
      if (appended.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(appended.map(f => s"$dir/$f"): _*)
    // a Source must hand back a STREAMING frame; same bridge
    // FileStreamSource uses internally
    GraftShim.internalCreateDataFrame(
      spark, batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** X183: the CDF batch for `(fromV, toV]` — the initial snapshot as
    * inserts when the range opens at 0, then one X75 step per version.
    * Deterministic per range (immutable manifests + files), so replays
    * are exactly-once like the arrivals mode.
    */
  private def cdfBatch(fromV: Int, toV: Int): DataFrame = {
    val cols = tableSchema.fieldNames.map(col)
    def shape(df: DataFrame, change: org.apache.spark.sql.Column,
        ver: org.apache.spark.sql.Column): DataFrame =
      df.select(cols :+ change.as("_change_type")
        :+ ver.cast("long").as("_commit_version"): _*)
    val init =
      if (fromV == 0)
        Some(shape(ManifestTable.readVersion(spark, dir, 1),
          lit("insert"), lit(1L)))
      else None
    val from = math.max(fromV, 1)
    val steps =
      if (toV > from)
        Some(shape(
          ChangeFeed.changeFeed(spark, dir, from, toV, cdfKeys.get,
            updateAware = true),
          when(col("change") === "added", "insert").otherwise("delete"),
          col("to_version")))
      else None
    val batch = (init.toSeq ++ steps.toSeq).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    GraftShim.internalCreateDataFrame(
      spark, batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Query/oracle surface for X114. */
object GraftStream extends graft.QueryModule {

  /** One AvailableNow pass of the graft stream into a parquet sink. */
  def runOnce(spark: SparkSession, tableDir: String, sinkDir: String,
      chkDir: String): Unit = {
    val q = spark.readStream.format("graft").load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One AvailableNow pass under a row-budget cap (X218). */
  def runOnceRows(spark: SparkSession, tableDir: String, sinkDir: String,
      chkDir: String, maxRows: Long): Unit = {
    val q = spark.readStream.format("graft")
      .option("maxRowsPerTrigger", maxRows.toString).load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One AvailableNow pass subscribed from a run stamp (X203). */
  def runOnceFromStamp(spark: SparkSession, tableDir: String, sinkDir: String,
      chkDir: String, date: Int, time: Int): Unit = {
    val q = spark.readStream.format("graft")
      .option("startingDate", date.toString)
      .option("startingTime", time.toString).load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One AvailableNow pass subscribed from `startingVersion` (X199). */
  def runOnceFrom(spark: SparkSession, tableDir: String, sinkDir: String,
      chkDir: String, startingVersion: String): Unit = {
    val q = spark.readStream.format("graft")
      .option("startingVersion", startingVersion).load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One AvailableNow pass of the X183 change feed into a parquet sink. */
  def runCdfOnce(spark: SparkSession, tableDir: String, keys: String,
      sinkDir: String, chkDir: String): Unit = {
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", keys)
      .load(tableDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  val queries: Map[String, Q] = Map(
    // X183: initial snapshot as inserts, an append, a DV delete and a
    // second append streamed as one CDF pass; the per-(change, version)
    // ledger is rebuilt by the oracle from raw orders, so a re-emitted
    // snapshot, a missed tombstone or a wrong commit stamp all fail.
    "q_stream_cdf" -> ((s, d) => {
      val sink = FixtureCache.dir("graft_scdf", d) { sink =>
        val tbl = Scratch.dir("graft_scdf_tbl")
        val chk = Scratch.dir("graft_scdf_chk")
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        ManifestTable.commit(o.where(col("k") % 4 === 0), tbl, 20250801, 900)
        ManifestTable.appendRetrying(o.where(col("k") % 4 === 1), tbl, 20250801, 1000)
        graft.lake.DeleteVectors.deleteWhereRetrying(
          s, tbl, col("k") % 16 === 0, 20250801, 1100)
        ManifestTable.appendRetrying(o.where(col("k") % 4 === 2), tbl, 20250801, 1200)
        runCdfOnce(s, tbl, "k", sink, chk)
      }
      s.read.parquet(sink)
        .groupBy("_change_type", "_commit_version")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .orderBy("_commit_version", "_change_type")
    }),
    // Three append commits streamed in one AvailableNow pass, a fourth
    // appended AFTER it and picked up by a second pass on the SAME
    // checkpoint. Any re-emission (initial snapshot replayed, appended
    // files double-read) doubles rows and breaks the whole-table oracle.
    "q_stream_format" -> ((s, d) => {
      val sink = FixtureCache.dir("graft_sfmt", d) { sink =>
        val tbl = Scratch.dir("graft_sfmt_tbl")
        val chk = Scratch.dir("graft_sfmt_chk")
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ManifestTable.commit(ev.where(col("event_id") % 4 === 0), tbl, 20250801, 900)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 1), tbl, 20250801, 1000)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 2), tbl, 20250801, 1100)
        runOnce(s, tbl, sink, chk)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 3), tbl, 20250801, 1200)
        runOnce(s, tbl, sink, chk) // same checkpoint: only version 4 lands
      }
      s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // X199: subscribed from version 2 — the v1/v2 backfill never flows,
    // the two post-subscribe appends do (across two checkpointed passes,
    // so exactly-once composes with the skipped backfill)
    "q_stream_starting" -> ((s, d) => {
      val sink = FixtureCache.dir("graft_ssv", d) { sink =>
        val tbl = Scratch.dir("graft_ssv_tbl")
        val chk = Scratch.dir("graft_ssv_chk")
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ManifestTable.commit(ev.where(col("event_id") % 4 === 0), tbl, 20250801, 900)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 1), tbl, 20250801, 1000)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 2), tbl, 20250801, 1100)
        runOnceFrom(s, tbl, sink, chk, "2") // delivers v3 only
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 3), tbl, 20250801, 1200)
        runOnceFrom(s, tbl, sink, chk, "2") // same checkpoint: v4 only
      }
      s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // X218: the whole backlog drains through row-budgeted micro-batches
    // in one AvailableNow pass — pacing must be invisible in the content
    // (the whole-events oracle); batch boundaries are spec-pinned
    "q_stream_rows" -> ((s, d) => {
      val sink = FixtureCache.dir("graft_srows", d) { sink =>
        val tbl = Scratch.dir("graft_srows_tbl")
        val chk = Scratch.dir("graft_srows_chk")
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ManifestTable.commit(ev.where(col("event_id") % 4 === 0), tbl, 20250801, 900)
        (1 to 3).foreach(i => ManifestTable.appendRetrying(
          ev.where(col("event_id") % 4 === i), tbl, 20250801, 900 + i))
        // budget ≈ one slice: the 4-version backlog drains in ~4 batches
        runOnceRows(s, tbl, sink, chk,
          maxRows = math.max(1L, ev.count() / 4))
      }
      s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // X203: subscribed from stamp 20250801/1100 — v1 (t=900) and v2
    // (t=1000) predate it and never flow; v3 (t=1100, AT the stamp) and
    // the post-subscribe v4 do, across two checkpointed passes
    "q_stream_starting_ts" -> ((s, d) => {
      val sink = FixtureCache.dir("graft_sst", d) { sink =>
        val tbl = Scratch.dir("graft_sst_tbl")
        val chk = Scratch.dir("graft_sst_chk")
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ManifestTable.commit(ev.where(col("event_id") % 4 === 0), tbl, 20250801, 900)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 1), tbl, 20250801, 1000)
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 2), tbl, 20250801, 1100)
        runOnceFromStamp(s, tbl, sink, chk, 20250801, 1100) // v3 only
        ManifestTable.appendRetrying(ev.where(col("event_id") % 4 === 3), tbl, 20250801, 1200)
        runOnceFromStamp(s, tbl, sink, chk, 20250801, 1100) // same checkpoint: v4
      }
      s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_cdf" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
        |         count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
        |  FROM orders WHERE o_orderkey % 4 = 0
        |  UNION ALL
        |  SELECT 'insert', 2, count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 4 = 1
        |  UNION ALL
        |  SELECT 'delete', 3, count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 16 = 0
        |  UNION ALL
        |  SELECT 'insert', 4, count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 4 = 2
        |) ORDER BY _commit_version, _change_type""".stripMargin,
    "q_stream_format" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_starting" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 4 IN (2, 3)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_rows" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_starting_ts" ->
      """SELECT event_type, count(*) AS n_rows,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 4 IN (2, 3)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}

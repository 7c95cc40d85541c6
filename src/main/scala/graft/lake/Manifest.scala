package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Manifest-committed snapshots with time travel (extension X39) — the
  * atomic-visibility upgrade over [[Layout]]'s directory convention.
  *
  * The reference's snapshot-per-run model discovers data by listing date/
  * time directories (`scripts/script_api_apify_to_spark.py:125-137,
  * 218-234`), which has two structural problems at object-store scale:
  * a reader racing the writer can see a PARTIAL snapshot (files appear
  * one by one), and every read pays a recursive listing. The fix is the
  * design Iceberg/Delta standardized: writers stage data files first and
  * then publish a single small manifest via an ATOMIC RENAME; readers
  * resolve table state ONLY through manifests, never by listing data
  * directories.
  *
  * Layout under one table dir:
  * {{{
  *   data/v00000001/part-*.parquet   -- staged first, invisible until...
  *   _manifests/v00000001.json       -- ...this rename lands (the commit)
  * }}}
  *
  * Manifest JSON: `{"version", "run_date", "run_time", "files": [...]}`
  * with file paths relative to the table dir. Each version is a COMPLETE
  * snapshot (the reference's model — every run rewrites the table), so
  * time travel is "read the files of version N", and as-of-T resolution
  * is a scan of the (tiny, driver-side) manifest list — no data listing.
  *
  * Concurrency: [[commit]] is the single-writer fast path (the
  * reference's hourly job) — rename-as-commit makes a concurrent second
  * committer FAIL loudly (rename onto an existing manifest returns
  * false) instead of silently interleaving. [[commitRetrying]] /
  * [[appendRetrying]] layer Delta/Iceberg-style OPTIMISTIC CONCURRENCY
  * on top: data files are staged once under a writer-unique directory
  * (so concurrent stagers can never clobber each other), and on a lost
  * rename race only the tiny manifest is rebased against the new latest
  * version and re-attempted, bounded-N times. Rebase rules by commit
  * taxonomy (the X75 step kinds): a REPLACE commit carries its own full
  * file list, so the rebase is just a version bump (last-replace-wins,
  * both commits land in serializable version order); an APPEND commit
  * re-reads the new latest and carries `latest.files ++ staged` plus
  * `latest.deletes` (tombstones reference immutable files still in the
  * list, so they stay valid); a DELETE commit re-evaluates its predicate
  * against the new latest ([[DeleteVectors.deleteWhereRetrying]]) —
  * recomputing, not rebasing, because the concurrent commit may have
  * added or rewritten rows the predicate must see. Readers are always
  * safe: a manifest is either fully present or absent, and data files
  * are immutable once published.
  */
object ManifestTable extends graft.QueryModule {

  /** `deletes` (X64) lists the version's deletion-vector sidecar files —
    * empty for ordinary full-snapshot commits, so pre-DV manifests parse
    * unchanged. `op` records WHAT the commit did ("write" by default;
    * "materialize" marks an X64 MOR→CoW rewrite whose CONTENT equals the
    * previous version by contract) — the operation metadata Delta commits
    * carry, letting consumers (X75 change feed) route without reading
    * data. Pre-op manifests parse as "write" — absence of metadata never
    * claims content equality.
    */
  case class Snapshot(version: Int, runDate: Int, runTime: Int,
      files: Seq[String], deletes: Seq[String] = Nil, op: String = "write")

  private def manifestDir(dir: String) = s"$dir/_manifests"
  private def manifestName(version: Int) = f"v$version%08d.json"
  private val ManifestRe = """v(\d{8})\.json""".r
  // X200 log checkpoints — names deliberately outside ManifestRe, so a
  // pre-checkpoint reader's listing simply ignores them (forward compat)
  private def checkpointName(version: Int) = f"checkpoint-v$version%08d.json"
  private val CheckpointRe = """checkpoint-v(\d{8})\.json""".r
  private val LastCheckpoint = "_last_checkpoint"

  /** Manifest JSON files opened since JVM start — the observable the
    * X200 checkpoint contract is pinned against (ManifestSpec /
    * q_log_checkpoint assert a post-checkpoint log open pays reads
    * proportional to commits SINCE the checkpoint, not log length).
    */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private[lake] def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stage the data files for `version` WITHOUT committing them — step 1
    * of the two-step commit; public so a crash between the steps can be
    * exercised directly (ManifestSpec). Returns the staged file paths
    * relative to the table dir.
    */
  def writeDataFiles(df: DataFrame, dir: String, version: Int): Seq[String] = {
    val rel = f"data/v$version%08d"
    val dataDir = s"$dir/$rel"
    df.write.mode("overwrite").parquet(dataDir)
    val fs = fsFor(df.sparkSession, dataDir)
    fs.listStatus(new Path(dataDir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$rel/${s.getPath.getName}")
      .sorted
  }

  /** Step 2: publish `version` by writing its manifest to a temp name and
    * atomically renaming it into place. The rename IS the commit point —
    * before it, readers cannot see the version at all; after it, they see
    * all of it. Fails if the version was already committed (lost race).
    */
  def commitManifest(spark: SparkSession, dir: String, version: Int,
      date: Int, time: Int, files: Seq[String],
      deletes: Seq[String] = Nil, op: String = "write"): Unit = {
    val fs = fsFor(spark, dir)
    val mdir = new Path(manifestDir(dir))
    fs.mkdirs(mdir)
    val delField =
      if (deletes.isEmpty) ""
      else s""",\n "deletes": [${deletes.map("\"" + _ + "\"").mkString(", ")}]"""
    val opField = if (op == "write") "" else s""",\n "op": "$op""""
    val json =
      s"""{"version": $version, "run_date": $date, "run_time": $time,
         | "files": [${files.map("\"" + _ + "\"").mkString(", ")}]$delField$opField}""".stripMargin
    // the commit point — put-if-absent through the storage seam
    // (CommitPrimitive; rename on local FS/HDFS, swappable for a
    // conditional PUT on object stores — docs/STORAGE_CONTRACT.md)
    if (!CommitPrimitive.active(spark).putIfAbsent(spark,
        new Path(mdir, manifestName(version)), json.getBytes("UTF-8")))
      throw new IllegalStateException(
        s"concurrent commit of version $version detected at $dir")
    // X200: the commit just landed; checkpoint the log every Nth version
    // (table property `graft.checkpoint.interval`, 0 disables). Strictly
    // best-effort — a checkpoint accelerates reads, so its failure must
    // never fail the commit that already published.
    val interval = try Properties.activeAt(spark, dir, version)
      .get("graft.checkpoint.interval").map(_.toInt).getOrElse(10)
    catch { case _: Exception => 10 }
    if (interval > 0 && version % interval == 0)
      try writeCheckpoint(spark, dir) catch { case _: Exception => () }
  }

  /** Atomic snapshot write: stage data files, then publish the manifest.
    * Returns the committed version number.
    */
  def commit(df: DataFrame, dir: String, date: Int, time: Int): Int = {
    val spark = df.sparkSession
    val version = latestVersion(spark, dir).getOrElse(0) + 1
    val files = writeDataFiles(df, dir, version)
    commitManifest(spark, dir, version, date, time, files)
    version
  }

  /** Stage data files under a WRITER-UNIQUE directory (`data/w<8 hex>`),
    * detached from any version number — step 1 of the optimistic-
    * concurrency commit. Unlike [[writeDataFiles]]' version-named dirs,
    * two concurrent stagers can never overwrite each other here, which is
    * what makes manifest-only rebase sound: the staged bytes are
    * immutable for the rest of the attempt loop. Returns table-relative
    * paths.
    */
  def stageDataFiles(df: DataFrame, dir: String): Seq[String] = {
    val rel = s"data/w${java.util.UUID.randomUUID.toString.take(8)}"
    val dataDir = s"$dir/$rel"
    df.write.mode("error").parquet(dataDir)
    val fs = fsFor(df.sparkSession, dataDir)
    fs.listStatus(new Path(dataDir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$rel/${s.getPath.getName}")
      .sorted
  }

  /** Delete staged-but-uncommitted data dirs (refusal / scratch cleanup —
    * the complement of [[stageDataFiles]]). Accepts the relative paths
    * that call returned; removes each distinct staging dir recursively.
    */
  private[graft] def dropStaged(spark: SparkSession, dir: String,
      staged: Seq[String]): Unit = {
    val fs = fsFor(spark, dir)
    staged.map(_.split('/').dropRight(1).mkString("/")).distinct
      .foreach(rel => fs.delete(new Path(s"$dir/$rel"), true))
  }

  /** Bounded optimistic-commit loop: re-resolve the latest snapshot,
    * attempt the manifest publish, and on a lost rename race try again
    * against the new latest. Only manifest metadata is rebuilt per
    * attempt — data files were staged once.
    */
  private def retryLoop(spark: SparkSession, dir: String, maxRetries: Int)(
      attempt: Option[Snapshot] => Int): Int = {
    var tries = 0
    while (true) {
      val latest = snapshots(spark, dir).lastOption
      try return attempt(latest)
      catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.startsWith("concurrent commit") =>
          tries += 1
          if (tries > maxRetries) throw new IllegalStateException(
            s"commit at $dir lost $tries consecutive races; giving up", e)
      }
    }
    -1 // unreachable
  }

  /** REPLACE commit with optimistic concurrency: the snapshot carries its
    * own complete file list, so losing a race only bumps the target
    * version — both writers' commits land, in serializable (version)
    * order, last replace wins the final state. Returns the committed
    * version.
    */
  def commitRetrying(df: DataFrame, dir: String, date: Int, time: Int,
      maxRetries: Int = 5): Int =
    commitStagedRetrying(df.sparkSession, dir, date, time,
      stageDataFiles(df, dir), maxRetries)

  /** [[commitRetrying]] from already-staged files — the stage-first hook
    * X187 constraint enforcement needs (validate the staged bytes, then
    * publish exactly those bytes).
    */
  def commitStagedRetrying(spark: SparkSession, dir: String, date: Int,
      time: Int, staged: Seq[String], maxRetries: Int = 5): Int =
    retryLoop(spark, dir, maxRetries) { latest =>
      val v = latest.map(_.version).getOrElse(0) + 1
      commitManifest(spark, dir, v, date, time, staged)
      v
    }

  /** APPEND commit with optimistic concurrency: the new version is
    * `latest.files ++ staged`, re-read on every attempt so a concurrent
    * append or delete is never lost — its files (and its deletion-vector
    * sidecars, which reference immutable files still in the list) carry
    * forward into the rebased manifest. Marked `op = "append"` so X75
    * feed consumers can answer the step from the appended files alone.
    *
    * `base`: when set, the carried-forward file list comes from THAT
    * committed version instead of the log-latest one (the target version
    * number still races past log-latest). This is the replay-idempotence
    * hook for two-phase commits (X99 catalogs): a crash between a table
    * append and the catalog publish leaves an orphaned committed-but-
    * unreferenced append on the table log, and a replay that rebased on
    * log-latest would stack the same rows on top of the orphan —
    * rebasing on the version the last CATALOG cut references makes the
    * replayed append land exactly once (round-6 ADVICE finding).
    * Returns the committed version.
    */
  def appendRetrying(df: DataFrame, dir: String, date: Int, time: Int,
      maxRetries: Int = 5, base: Option[Int] = None): Int =
    appendStagedRetrying(df.sparkSession, dir, date, time,
      stageDataFiles(df, dir), maxRetries, base)

  /** [[appendRetrying]] from already-staged files — the stage-first hook
    * X187 constraint enforcement needs.
    */
  def appendStagedRetrying(spark: SparkSession, dir: String, date: Int,
      time: Int, staged: Seq[String], maxRetries: Int = 5,
      base: Option[Int] = None): Int = {
    val baseSnap = base.map { bv =>
      snapshots(spark, dir).find(_.version == bv).getOrElse(
        throw new NoSuchElementException(s"no committed version $bv at $dir"))
    }
    retryLoop(spark, dir, maxRetries) { latest =>
      val v = latest.map(_.version).getOrElse(0) + 1
      val carried = baseSnap.orElse(latest)
      commitManifest(spark, dir, v, date, time,
        carried.map(_.files).getOrElse(Nil) ++ staged,
        deletes = carried.map(_.deletes).getOrElse(Nil), op = "append")
      v
    }
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseSnapshot(j: JValue): Snapshot = {
    implicit val fmts: Formats = DefaultFormats
    Snapshot((j \ "version").extract[Int], (j \ "run_date").extract[Int],
      (j \ "run_time").extract[Int], (j \ "files").extract[Seq[String]],
      (j \ "deletes").extractOpt[Seq[String]].getOrElse(Nil),
      (j \ "op").extractOpt[String].getOrElse("write"))
  }

  private def snapshotJson(s: Snapshot): String = {
    val del = if (s.deletes.isEmpty) ""
      else s""", "deletes": [${s.deletes.map("\"" + _ + "\"").mkString(", ")}]"""
    val op = if (s.op == "write") "" else s""", "op": "${s.op}""""
    s"""{"version": ${s.version}, "run_date": ${s.runDate}, "run_time": ${s.runTime},""" +
      s""" "files": [${s.files.map("\"" + _ + "\"").mkString(", ")}]$del$op}"""
  }

  /** One checkpoint file's snapshot map, or empty on ANY failure
    * (concurrently vacuumed, corrupt bytes) — absence degrades to the
    * full per-manifest read, never lies.
    */
  private def checkpointed(fs: FileSystem, mdir: Path, v: Int): Map[Int, Snapshot] =
    try {
      implicit val fmts: Formats = DefaultFormats
      val body = JsonMethods.parse(readText(fs, new Path(mdir, checkpointName(v))))
      (body \ "snapshots").extract[Seq[JValue]]
        .map(parseSnapshot).map(s => s.version -> s).toMap
    } catch { case _: Exception => Map.empty }

  /** All committed snapshots, oldest first. One listing of the manifest
    * dir resolves WHICH versions exist; their content comes from the
    * latest X200 checkpoint where it covers them, and from a per-manifest
    * read only for commits since — so opening a table with a 10 000-commit
    * log costs ~2 driver reads, not 10 000 (Delta's `_last_checkpoint`
    * economics). The listing stays authoritative: a version vacuum
    * removed is gone even if a stale checkpoint still carries it, and a
    * version newer than the checkpoint is read directly — a checkpoint
    * can therefore never add, drop, or alter a commit, only cheapen it
    * (spec-pinned byte-equality against the manifest-by-manifest read).
    */
  def snapshots(spark: SparkSession, dir: String): Seq[Snapshot] = {
    val fs = fsFor(spark, dir)
    val mdir = new Path(manifestDir(dir))
    if (!fs.exists(mdir)) return Seq.empty
    val names = fs.listStatus(mdir).toSeq.map(_.getPath)
    val listed = names.flatMap(p => p.getName match {
      case ManifestRe(v) => Some(v.toInt -> p)
      case _ => None // in-flight .tmp files / checkpoints are not commits
    })
    // the listing we already paid reveals the newest checkpoint — a table
    // that never checkpointed costs NOTHING extra here
    val ckpt = names.flatMap(_.getName match {
      case CheckpointRe(v) => Some(v.toInt)
      case _ => None
    }).maxOption.map(checkpointed(fs, mdir, _)).getOrElse(Map.empty)
    listed.map { case (v, p) =>
      ckpt.getOrElse(v, {
        manifestReads.incrementAndGet()
        parseSnapshot(JsonMethods.parse(readText(fs, p)))
      })
    }.sortBy(_.version)
  }

  /** Write an X200 log checkpoint at the current latest version: one
    * consolidated JSON carrying every live snapshot verbatim, published
    * under `checkpoint-v<latest>.json` with the `_last_checkpoint`
    * pointer updated (never regressed) — Delta's checkpoint shape over
    * the X39 log. Content is a pure function of the log, so two racing
    * checkpointers are idempotent: the rename loser just discards its
    * temp bytes. Returns the checkpointed version, None on an empty log.
    */
  def writeCheckpoint(spark: SparkSession, dir: String): Option[Int] = {
    val snaps = snapshots(spark, dir)
    if (snaps.isEmpty) return None
    val v = snaps.last.version
    val fs = fsFor(spark, dir)
    val mdir = new Path(manifestDir(dir))
    val target = new Path(mdir, checkpointName(v))
    if (!fs.exists(target)) {
      val json = s"""{"version": $v, "snapshots": [${
        snaps.map(snapshotJson).mkString(",\n")}]}"""
      // race lost = same bytes landed (checkpoints are a pure function of
      // the log), so a false from the seam is simply ignored
      CommitPrimitive.active(spark)
        .putIfAbsent(spark, target, json.getBytes("UTF-8"))
    }
    // pointer moves forward only — a slow concurrent checkpointer of an
    // OLDER version must not regress readers to a longer delta
    val current = try {
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(readText(fs, new Path(mdir, LastCheckpoint))) \ "version")
        .extract[Int]
    } catch { case _: Exception => -1 }
    if (v > current) // atomic replace: readers see old pointer or new, never torn bytes
      CommitPrimitive.active(spark).replace(spark,
        new Path(mdir, LastCheckpoint), s"""{"version": $v}""".getBytes("UTF-8"))
    Some(v)
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Int] =
    snapshots(spark, dir).lastOption.map(_.version)

  /** Deep clone (X108 — Delta CLONE's shape): copy one version's data
    * files (and deletion-vector sidecars) byte-for-byte to `dstDir` and
    * commit them there as version 1 of an independent table. The clone
    * shares NOTHING with its source afterwards — vacuuming or rewriting
    * the source can never break it (pinned in ManifestSpec), which is
    * the contract that matters for "hand this snapshot to another team".
    * Copy cost is data-proportional and embarrassingly parallel (the
    * driver loop moves manifests' worth of file names; bytes stream
    * file-by-file — on a real cluster this is a distcp-shaped job).
    * A shallow clone would reference the source's files instead: cheap
    * but lifetime-coupled — our manifests are dir-relative by design, so
    * the safe variant is the deep one.
    */
  def cloneVersion(spark: SparkSession, srcDir: String, dstDir: String,
      date: Int, time: Int, version: Option[Int] = None): Int = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val v = version.getOrElse(latestVersion(spark, srcDir).getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $srcDir")))
    val snap = snapshots(spark, srcDir).find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"no version $v at $srcDir"))
    val fs = fsFor(spark, srcDir)
    require(!fs.exists(new Path(manifestDir(dstDir))),
      s"clone target $dstDir already has a manifest log")
    // Files land under WRITER-UNIQUE `w<8 hex>` dirs (one per source
    // dir, names preserved): keeping the source's version-numbered dirs
    // would collide with the clone's OWN future commits (its first
    // delete would overwrite-and-orphan a preserved `deletes/v...`
    // dir), and X96 staging already guarantees w-dirs never collide
    // with version-named writes. X64 tombstones key data files by
    // relative path, so the sidecar contents are REWRITTEN through the
    // same dir mapping — tombstones follow their files.
    val dirMap: Map[String, String] =
      (snap.files ++ snap.deletes)
        .map(_.split('/').dropRight(1).mkString("/")).distinct
        .map(od => od -> (od.split('/').head +
          s"/w${java.util.UUID.randomUUID.toString.take(8)}"))
        .toMap
    def remap(rel: String): String =
      s"${dirMap(rel.split('/').dropRight(1).mkString("/"))}/${rel.split('/').last}"
    val files = snap.files.map { rel =>
      val dst = new Path(s"$dstDir/${remap(rel)}")
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new Path(s"$srcDir/$rel"), fs, dst, false, true,
        spark.sparkContext.hadoopConfiguration)
      remap(rel)
    }.sorted
    val deletes =
      if (snap.deletes.isEmpty) Nil
      else {
        val remapped = dirMap.foldLeft(
          spark.read.parquet(snap.deletes.map(f => s"$srcDir/$f"): _*)) {
          case (df, (od, nd)) => df.withColumn("file",
            regexp_replace(col("file"),
              "^" + java.util.regex.Pattern.quote(od) + "/",
              java.util.regex.Matcher.quoteReplacement(nd) + "/"))
        }
        val delDir = s"deletes/w${java.util.UUID.randomUUID.toString.take(8)}"
        remapped.write.mode("error").parquet(s"$dstDir/$delDir")
        fs.listStatus(new Path(s"$dstDir/$delDir")).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => s"$delDir/${s.getPath.getName}").sorted
      }
    commitManifest(spark, dstDir, 1, date, time, files, deletes = deletes)
    1
  }

  /** The table's commit log as a DataFrame (X102 — the DESCRIBE HISTORY
    * surface): one row per version with the operation KIND and file
    * counts, derived from manifests ALONE — zero data bytes read, so the
    * log of a 100 TB table costs the same as a 100 MB one. Kinds: the
    * manifest's own `op` when it carries one ("append"/"materialize");
    * otherwise "delete" when the version keeps its parent's exact file
    * list but changes the deletion-vector set (X64's tombstone-only
    * commit), else "write" (full replace).
    */
  /** Exact row count of a committed snapshot from parquet FOOTERS alone —
    * driver-side metadata reads, no Spark job (how Delta/Iceberg answer
    * `count(*)` and DESCRIBE HISTORY row counts). Valid for DV-carrying
    * versions because sidecars are deduped cumulative `(file, pos)`
    * tombstones over the version's own file list, so
    * `Σ data-footer rows − Σ sidecar-footer rows` is exact. At production
    * file counts the number lands in the manifest at commit time
    * (Delta's `numRecords`); footer reads are the formatcompatible
    * fallback and cost ~1 ms/file on the coordinator.
    */
  def footerCount(spark: SparkSession, dir: String, snap: Snapshot): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    def rows(rel: String): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(s"$dir/$rel"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    snap.files.map(rows).sum - snap.deletes.map(rows).sum
  }

  /** The driver-side rows behind [[history]] — exposed so metadata-only
    * consumers (q_commit_log) can compose them with other driver-side
    * metadata (footer counts) without a Spark join of two 4-row frames.
    */
  private[graft] def historyRows(spark: SparkSession,
      dir: String): Seq[(Snapshot, String)] = {
    val snaps = snapshots(spark, dir)
    snaps.zip(None +: snaps.map(Option(_))).map { case (s, prev) =>
      val kind =
        if (s.op != "write") s.op
        else if (prev.exists(p => p.files == s.files && p.deletes != s.deletes))
          "delete"
        else "write"
      (s, kind)
    }
  }

  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = historyRows(spark, dir).map { case (s, kind) =>
      (s.version.toLong, s.runDate, s.runTime, kind,
        s.files.size.toLong, s.deletes.size.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("version", "run_date", "run_time", "op", "n_files", "n_delete_files")
  }

  /** Time travel: the table exactly as committed at `version` — a scan of
    * that manifest's file list only, immune to in-flight writes of later
    * versions (their data files are staged but unreferenced). Versions
    * carrying deletion vectors (X64) get them applied; plain versions keep
    * the bare-scan plan (pinned in DeleteVectorSpec).
    */
  // A committed version's file list is immutable, so its merged parquet
  // schema is too — cache it per (session, dir, version) and hand the
  // reader an explicit schema. This removes the footer-inference Spark
  // job every `spark.read.parquet(files)` call otherwise launches; lake
  // queries that stack several version reads (change feeds, clones,
  // time travel) were paying 5-15 such jobs per WARM run (`Probe jobs`).
  /** Memoize an arbitrary schema computation for one committed version —
    * used by the datasource's file index, whose merged-footer inference
    * otherwise costs a Spark job on every relation build. `kind` keys
    * different schema flavors (merged vs first-footer) separately.
    * Session-scoped via [[graft.util.SchemaCache]] (weak session keys,
    * bounded per-session entries — round-7 ADVICE).
    */
  private[graft] def cachedSchema(spark: SparkSession, dir: String,
      version: Int, kind: String)(
      infer: => org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    graft.util.SchemaCache.cached(spark, s"$dir|$version|$kind")(infer)

  /** Raw data-file scan of a committed snapshot (tombstones NOT applied),
    * schema served from the per-version cache.
    */
  private[lake] def rawVersionScan(spark: SparkSession, dir: String,
      snap: Snapshot): DataFrame = {
    val paths = snap.files.map(f => s"$dir/$f")
    val sch = graft.util.SchemaCache.cached(spark, s"$dir|${snap.version}|raw")(
      spark.read.parquet(paths: _*).schema)
    spark.read.schema(sch).parquet(paths: _*)
  }

  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val snap = snapshots(spark, dir).find(_.version == version)
      .getOrElse(throw new NoSuchElementException(
        s"no committed version $version at $dir"))
    DeleteVectors.applyTo(spark, dir, snap, rawVersionScan(spark, dir, snap))
  }

  def readLatest(spark: SparkSession, dir: String): DataFrame = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    readVersion(spark, dir, v)
  }

  /** As-of-stamp resolution over manifest metadata alone: the greatest
    * committed `(run_date, run_time)` at or before the stamp (the
    * [[Layout.snapshotAsOf]] semantics, minus the partition listing).
    */
  def readAsOf(spark: SparkSession, dir: String, date: Int,
      time: Int): Option[DataFrame] =
    snapshots(spark, dir)
      .filter(s => s.runDate < date || (s.runDate == date && s.runTime <= time))
      .sortBy(s => (s.runDate, s.runTime, s.version))
      .lastOption
      .map(s => readVersion(spark, dir, s.version))

  val queries: Map[String, Q] = Map(
    // Atomic visibility made observable: the fixture commits version 1
    // (orderkey % 3 = 0) and version 2 (orderkey % 3 <= 1), then STAGES a
    // version-3 write without its manifest — the half-written state a
    // crashed or in-flight writer leaves behind. The query reads "latest"
    // (must be exactly v2 — the staged files are invisible) and
    // time-travels back to v1; the oracle recomputes both from the plain
    // orders table.
    "q_time_travel" -> ((s, d) => {
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val dir = graft.util.FixtureCache.dir("manifest_tt", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        commit(o.where(col("o_orderkey") % 3 === 0), dir, 20250301, 900)
        commit(o.where(col("o_orderkey") % 3 <= 1), dir, 20250301, 1000)
        writeDataFiles(o.where(col("o_orderkey") % 3 === 2), dir, 3) // no commit
      }
      def summarize(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("version"), col("n_rows"), col("sum_total"))
      summarize("latest", readLatest(s, dir))
        .unionByName(summarize("v1", readVersion(s, dir, 1)))
        .orderBy("version")
    }),
    // Commit log over the X64 timeline (write → delete → delete →
    // materialize): the WHOLE query is a metadata read — operation kinds
    // from manifests, per-version row counts from parquet footers
    // ([[footerCount]]), zero Spark jobs, exactly how DESCRIBE HISTORY
    // answers on a lakehouse. The oracle rebuilds every count from the
    // fixture's predicates with full data scans, so the metadata path
    // can't drift from the data (ManifestSpec pins the equality per
    // version too).
    "q_commit_log" -> ((s, d) => {
      val dir = DeleteVectors.fixtureDir(s, d)
      val rows = historyRows(s, dir).map { case (snap, kind) =>
        (snap.version.toLong, kind, footerCount(s, dir, snap))
      }
      s.createDataFrame(rows).toDF("version", "op", "n_rows")
        .orderBy("version")
    }),
    // Deep clone (X108) of the X64 timeline's tombstoned v2, then the
    // SOURCE is vacuumed down to its last version and its files
    // rewritten — the clone must still read the exact v2 content
    // (tombstones applied), proving it shares nothing with its source.
    "q_clone" -> ((s, d) => {
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val root = graft.util.FixtureCache.dir("clone_fx", d) { root =>
        val src = s"$root/src"
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_totalprice").repartition(4)
        commit(o, src, 20250901, 900)
        DeleteVectors.deleteWhere(s, src,
          col("o_orderkey") % 6 === 1, 20250901, 1000)
        cloneVersion(s, src, s"$root/dst", 20250901, 1100, version = Some(2))
        // source moves on and forgets: replace + retention
        commit(o.where(col("o_orderkey") % 6 === 0), src, 20250901, 1200)
        Vacuum.vacuum(s, src, keepLast = 1)
      }
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_total"))
      agg("clone", readLatest(s, s"$root/dst"))
        .unionByName(agg("src_latest", readLatest(s, s"$root/src")))
        .orderBy("probe")
    }),
    // X200: a 12-commit log auto-checkpoints at version 10; a fresh log
    // open then pays manifest reads only for the 2 commits SINCE it —
    // measured in-query via the global read counter, while the content
    // (all 12 appended slices) is rebuilt by the oracle from raw orders,
    // so the cheap path and the true table state are pinned together.
    "q_log_checkpoint" -> ((s, d) => {
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val dir = graft.util.FixtureCache.dir("manifest_ckpt", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice")
        commit(o.where(col("o_orderkey") % 12 === 0), dir, 20250901, 900)
        (1 to 11).foreach(i => appendRetrying(
          o.where(col("o_orderkey") % 12 === i), dir, 20250901, 900 + i))
      }
      val before = manifestReads.get()
      val snaps = snapshots(s, dir)
      val delta = manifestReads.get() - before
      val ckptV = fsFor(s, dir).listStatus(new Path(manifestDir(dir)))
        .toSeq.flatMap(_.getPath.getName match {
          case CheckpointRe(v) => Some(v.toInt); case _ => None
        }).max
      readVersion(s, dir, snaps.last.version)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("checkpoint_v", lit(ckptV))
        .withColumn("reads_since_ckpt", lit(delta))
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_time_travel" ->
      """SELECT * FROM (
        |  SELECT 'latest' AS version, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 3 <= 1
        |  UNION ALL
        |  SELECT 'v1' AS version, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 3 = 0
        |) ORDER BY version""".stripMargin,
    "q_commit_log" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'write' AS op, count(*) AS n_rows
        |  FROM orders
        |  UNION ALL
        |  SELECT 2, 'delete', count(*) FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |  UNION ALL
        |  SELECT 3, 'delete', count(*) FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |    AND NOT (o_orderkey % 7 = 3)
        |  UNION ALL
        |  SELECT 4, 'materialize', count(*) FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |    AND NOT (o_orderkey % 7 = 3)
        |) ORDER BY version""".stripMargin,
    "q_log_checkpoint" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(12 AS INT) AS n_versions,
        |       CAST(10 AS INT) AS checkpoint_v,
        |       CAST(2 AS BIGINT) AS reads_since_ckpt
        |FROM orders""".stripMargin,
    "q_clone" ->
      """SELECT * FROM (
        |  SELECT 'clone' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 6 <> 1
        |  UNION ALL
        |  SELECT 'src_latest', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 6 = 0
        |) ORDER BY probe""".stripMargin,
  )
}

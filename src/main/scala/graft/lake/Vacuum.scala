package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Snapshot retention / VACUUM (X61): expire manifest versions beyond a
  * retention window and reclaim their data files — the missing third leg
  * of lake maintenance next to X32 compaction and X48 clustering. The
  * reference accumulates every hourly snapshot forever
  * (`script_api_apify_to_spark.py:125-137` — one directory per run, no
  * GC); at 100 TB that is unbounded storage growth AND an
  * ever-lengthening manifest list on every read.
  *
  * Deletion order is the crash-safe inverse of X39's commit order:
  * manifest FIRST, then data files. A crash in between leaves orphaned
  * data that a re-run reclaims, but never a manifest pointing at deleted
  * files — expired means invisible-then-gone, not broken.
  *
  * Reclamation is reference-counted over the RETAINED manifests: X64
  * delete commits share their predecessor's data files, so a data (or
  * deletion-vector) directory at or below `latest` survives exactly when
  * some retained manifest still references a file inside it. The
  * manifests are driver-side and tiny, so the live set costs nothing to
  * compute. Staged-but-uncommitted dirs are preserved: the only version a
  * writer can be staging is `latest+1` (ManifestTable.commit's allocation
  * rule), and strictly-above-latest dirs are never touched.
  *
  * Driver-side work is the manifest listing (tiny by design); data
  * deletion is one recursive remove per expired version.
  */
object Vacuum extends graft.QueryModule {

  private val DataDirRe = """v(\d{8})""".r
  private val StagedDirRe = """w[0-9a-f]{8}""".r
  private val CkptRe = """checkpoint-v(\d{8})\.json""".r
  // a version's cache sidecars: `v<N>.stats.json`, `v<N>.bloom.json`
  private val SidecarRe = """v(\d{8})\..+\.json""".r

  /** X202 — `VACUUM … DRY RUN`: the exact data files a [[vacuum]] with
    * the same retention would reclaim, WITHOUT deleting anything (one
    * row per dead file with its size — Delta's DRY RUN shape). "Dead" =
    * referenced exclusively by expired versions, under the same ref/
    * protect pinning rules as the real pass, so the answer is the
    * contract, not an estimate (VacuumSpec pins set-equality against an
    * actual vacuum of a twin table). Driver-side metadata only: the
    * manifests name the files; one `getFileStatus` per dead file prices
    * them. Staged-orphan dirs are excluded — their reclaim is
    * age-gated, so a dry run ahead of time cannot speak for them.
    */
  def dryRun(spark: SparkSession, dir: String, keepLast: Int,
      protect: Set[Int] = Set.empty): Seq[(String, Long)] = {
    require(keepLast >= 1, "retention must keep at least the latest version")
    val snaps = ManifestTable.snapshots(spark, dir)
    if (snaps.isEmpty) return Seq.empty
    val pinned = protect ++ Branches.protectedVersions(spark, dir, keepLast)
    val expired = snaps.dropRight(keepLast).filterNot(s => pinned(s.version))
    val expiredSet = expired.map(_.version).toSet
    val retained = snaps.filterNot(s => expiredSet(s.version))
    val live = retained.flatMap(s => s.files ++ s.deletes).toSet
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    expired.flatMap(s => s.files ++ s.deletes).distinct
      .filterNot(live)
      .map(f => f -> fs.getFileStatus(new Path(s"$dir/$f")).getLen)
      .sortBy(_._1)
  }

  /** Expire all but the newest `keepLast` committed versions. Returns the
    * expired version numbers. Idempotent: vacuuming twice is a no-op, and
    * a re-run also reclaims data-only orphans a crashed vacuum (or a
    * crashed pre-manifest commit whose version number has since been
    * passed) left behind. Writer-unique staged dirs (`w<8 hex>`, the X96
    * optimistic-commit staging) carry no version ordering, so an
    * unreferenced one is reclaimed only once its modification time is
    * older than `stagedOrphanAgeMs` — younger ones may belong to an
    * in-flight commit attempt (the retention-clock rule Delta's VACUUM
    * applies to its UUID-named data files).
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int,
      stagedOrphanAgeMs: Long = 24L * 3600 * 1000,
      protect: Set[Int] = Set.empty): Seq[Int] = {
    require(keepLast >= 1, "retention must keep at least the latest version")
    val snaps = ManifestTable.snapshots(spark, dir)
    if (snaps.isEmpty) return Seq.empty
    // Ref-aware retention (X105): a version any ref still resolves to is
    // NOT garbage — tags pin their target forever, branches keep the
    // newest keepLast of their own lineage (same policy as the global
    // log, per branch). `protect` adds externally-referenced versions —
    // Catalog.vacuumCatalog passes the table versions its retained
    // cross-table cuts resolve to.
    val pinned = protect ++ Branches.protectedVersions(spark, dir, keepLast)
    reclaim(spark, dir, snaps,
      snaps.dropRight(keepLast).filterNot(s => pinned(s.version)),
      stagedOrphanAgeMs)
  }

  /** X217 — TIME-based retention (Delta's retention-hours shape on the
    * run-stamp clock): expire every version stamped STRICTLY BEFORE the
    * cutoff, except the table head (a table never loses its latest) and
    * ref/protect-pinned versions (tags pin forever; branch heads stay).
    * Compliance-friendly: "nothing older than N days survives" is a
    * statement about stamps, not version counts — a hot table with 500
    * commits today and a cold one with 2 both honor the same policy.
    */
  def vacuumBefore(spark: SparkSession, dir: String, date: Int, time: Int,
      stagedOrphanAgeMs: Long = 24L * 3600 * 1000,
      protect: Set[Int] = Set.empty): Seq[Int] = {
    val snaps = ManifestTable.snapshots(spark, dir)
    if (snaps.isEmpty) return Seq.empty
    val pinned = protect ++ Branches.protectedVersions(spark, dir, 1)
    reclaim(spark, dir, snaps,
      snaps.init.filter(s => (s.runDate < date ||
        (s.runDate == date && s.runTime < time)) && !pinned(s.version)),
      stagedOrphanAgeMs)
  }

  /** The shared reclaim tail: delete expired manifests (+ every sidecar
    * named for an expired version), then the reference-counted
    * data/deletes sweep and the superseded-checkpoint cleanup.
    */
  private def reclaim(spark: SparkSession, dir: String,
      snaps: Seq[ManifestTable.Snapshot],
      expired: Seq[ManifestTable.Snapshot],
      stagedOrphanAgeMs: Long): Seq[Int] = {
    val expiredSet = expired.map(_.version).toSet
    val retained = snaps.filterNot(s => expiredSet(s.version))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Manifests first (the version atomically stops existing), its
    // sidecars with it; file dirs follow in the reference-counted sweep.
    expired.foreach(s =>
      fs.delete(new Path(f"$dir/_manifests/v${s.version}%08d.json"), false))
    val names = fs.listStatus(new Path(s"$dir/_manifests")).toSeq.map(_.getPath.getName)
    names.foreach {
      case n @ SidecarRe(v) if expiredSet(v.toInt) =>
        fs.delete(new Path(s"$dir/_manifests/$n"), false)
      case _ => ()
    }
    // X200 checkpoints: all but the newest are superseded bytes (readers
    // key off the newest listed checkpoint; staleness is harmless — the
    // manifest listing stays authoritative — but dead weight accumulates)
    val ckpts = names.flatMap {
      case CkptRe(v) => Some(v.toInt); case _ => None
    }.sorted
    ckpts.dropRight(1).foreach(v =>
      fs.delete(new Path(f"$dir/_manifests/checkpoint-v$v%08d.json"), false))
    // Reference-counted sweep + orphan GC in one pass: a data/ or
    // deletes/ version dir at or below `latest` is dead unless a RETAINED
    // manifest references a file inside it (X64 delete commits share
    // their predecessor's data dir, so ownership is per-file-reference,
    // not per-version). Strictly-above dirs (the in-flight latest+1
    // staging) are left alone.
    val latest = snaps.last.version
    val live: Set[String] = retained.flatMap(s => (s.files ++ s.deletes)
      .filter(_.count(_ == '/') >= 2)
      .map(_.split('/').take(2).mkString("/"))).toSet
    Seq("data", "deletes").foreach { rootName =>
      val root = new Path(s"$dir/$rootName")
      if (fs.exists(root)) {
        val now = System.currentTimeMillis()
        fs.listStatus(root).toSeq.foreach { st =>
          st.getPath.getName match {
            case DataDirRe(v) if v.toInt <= latest &&
                !live(s"$rootName/${st.getPath.getName}") =>
              fs.delete(st.getPath, true)
            case StagedDirRe() if !live(s"$rootName/${st.getPath.getName}") &&
                now - st.getModificationTime > stagedOrphanAgeMs =>
              fs.delete(st.getPath, true)
            case _ => ()
          }
        }
      }
    }
    expired.map(_.version)
  }

  val queries: Map[String, Q] = Map(
    // Three commits, retention of 2: v1 expires, v2/v3 survive byte-for-
    // byte. The query aggregates both survivors; the oracle recomputes
    // them from orders — vacuum must be invisible inside the window.
    "q_vacuum_roundtrip" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("vacuum_rt", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ManifestTable.commit(o.where(col("o_orderkey") % 4 === 0), dir, 20250601, 900)
        ManifestTable.commit(o.where(col("o_orderkey") % 4 <= 1), dir, 20250601, 1000)
        ManifestTable.commit(o.where(col("o_orderkey") % 4 <= 2), dir, 20250601, 1100)
        val expired = vacuum(s, dir, keepLast = 2)
        require(expired == Seq(1), s"expected to expire v1, got $expired")
      }
      def summarize(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("version"), col("n_rows"), col("sum_total"))
      summarize("v2", ManifestTable.readVersion(s, dir, 2))
        .unionByName(summarize("v3", ManifestTable.readVersion(s, dir, 3)))
        .orderBy("version")
    }),
    // Ref-aware retention (X105): a tag at v1 pins it through a
    // keepLast=1 vacuum that expires the unreferenced v2; both the tag
    // read and the latest read must survive byte-for-byte.
    "q_vacuum_refs" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("vacuum_refs", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ManifestTable.commit(o.where(col("o_orderkey") % 5 === 0), dir, 20250601, 900)
        ManifestTable.commit(o.where(col("o_orderkey") % 5 <= 1), dir, 20250601, 1000)
        ManifestTable.commit(o.where(col("o_orderkey") % 5 <= 2), dir, 20250601, 1100)
        Branches.createTag(s, dir, "rel1", atVersion = 1)
        val expired = vacuum(s, dir, keepLast = 1)
        require(expired == Seq(2),
          s"expected the tag to pin v1 and retention to expire only v2, got $expired")
      }
      def summarize(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_total"))
      summarize("latest", ManifestTable.readLatest(s, dir))
        .unionByName(summarize("rel1", Branches.readBranch(s, dir, "rel1")))
        .orderBy("probe")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_vacuum_roundtrip" ->
      """SELECT * FROM (
        |  SELECT 'v2' AS version, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 4 <= 1
        |  UNION ALL
        |  SELECT 'v3' AS version, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 4 <= 2
        |) ORDER BY version""".stripMargin,
    "q_vacuum_refs" ->
      """SELECT * FROM (
        |  SELECT 'latest' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 5 <= 2
        |  UNION ALL
        |  SELECT 'rel1' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 5 = 0
        |) ORDER BY probe""".stripMargin,
  )
}

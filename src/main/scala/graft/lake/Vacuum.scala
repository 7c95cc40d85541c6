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
  * data that a later run reclaims, but never a manifest pointing at
  * deleted files — expired means invisible-then-gone, not broken.
  *
  * One reclaim rule, over the staging dirs under `data/` and `deletes/`
  * (every commit stages in its own writer-unique dir; tables written
  * before that hold version-named ones): a dir no RETAINED manifest
  * references a file in is reclaimed at once if an expired manifest
  * referenced it, and otherwise once it is older than
  * `stagedOrphanAgeMs` — a young unreferenced dir may belong to an
  * in-flight commit attempt (the retention-clock rule Delta's VACUUM
  * applies to its uniquely named data files). Ownership is
  * per-file-reference, not per-version: X64 delete commits share their
  * predecessor's data dirs. The manifests are driver-side and tiny, so
  * the live set costs nothing to compute; data deletion is one
  * recursive remove per reclaimed dir.
  */
object Vacuum extends graft.QueryModule {

  private val CkptRe = """checkpoint-v(\d{8})\.json""".r
  // a version's sidecars: ANALYZE's `v<N>.stats.json` (and any other
  // `v<N>.<kind>.json` an older writer left)
  private val SidecarRe = """v(\d{8})\..+\.json""".r
  private val Roots = Set("data", "deletes")

  /** The staging dir (`data/<d>` or `deletes/<d>`) a table-relative file
    * sits in; None for a file outside them (an X193 converted table's).
    */
  private def stagingDir(file: String): Option[String] = file.split('/') match {
    case Array(root, d, _, _*) if Roots(root) => Some(s"$root/$d")
    case _ => None
  }

  /** The staging dirs `snaps` reference a file in. */
  private def dirsOf(snaps: Seq[ManifestTable.Snapshot]): Set[String] =
    snaps.flatMap(s => (s.files ++ s.deletes).flatMap(stagingDir)).toSet

  /** The versions of `snaps` a keep-last-`keepLast` retention expires,
    * after the ref/protect pins (X105): tags pin their target forever,
    * branches keep the newest keepLast of their own lineage (same policy
    * as the global log, per branch), and `protect` adds externally
    * referenced versions — Catalog.vacuumCatalog passes the table
    * versions its retained cross-table cuts resolve to.
    */
  private def expiring(spark: SparkSession, dir: String,
      snaps: Seq[ManifestTable.Snapshot], keepLast: Int,
      protect: Set[Int]): Seq[ManifestTable.Snapshot] = {
    require(keepLast >= 1, "retention must keep at least the latest version")
    if (snaps.isEmpty) return Nil
    val pinned = protect ++ Branches.protectedVersions(spark, dir, keepLast)
    snaps.dropRight(keepLast).filterNot(s => pinned(s.version))
  }

  /** X202 — `VACUUM … DRY RUN`: the exact data files a [[vacuum]] with
    * the same retention would reclaim at once, WITHOUT deleting anything
    * (one row per dead file with its size — Delta's DRY RUN shape): the
    * expired versions' files in the dirs the reclaim rule takes at once,
    * so the answer is the contract, not an estimate (VacuumSpec pins
    * set-equality against an actual vacuum). Driver-side metadata only:
    * the manifests name the files; one `getFileStatus` per dead file
    * prices them. Unreferenced dirs no expired version names are
    * excluded — their reclaim is age-gated, so a dry run ahead of time
    * cannot speak for them.
    */
  def dryRun(spark: SparkSession, dir: String, keepLast: Int,
      protect: Set[Int] = Set.empty): Seq[(String, Long)] = {
    val snaps = ManifestTable.snapshots(spark, dir)
    val expired = expiring(spark, dir, snaps, keepLast, protect)
    val doomed = dirsOf(expired) -- dirsOf(snaps.diff(expired))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    expired.flatMap(s => s.files ++ s.deletes).distinct
      .filter(f => stagingDir(f).exists(doomed))
      .map(f => f -> fs.getFileStatus(new Path(s"$dir/$f")).getLen)
      .sortBy(_._1)
  }

  /** Expire all but the newest `keepLast` committed versions (ref- and
    * `protect`-pinned versions stay). Returns the expired version
    * numbers. Idempotent: vacuuming twice is a no-op, and a re-run also
    * reclaims the unreferenced dirs a crashed vacuum or commit left
    * behind, once they are older than `stagedOrphanAgeMs`.
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int,
      stagedOrphanAgeMs: Long = 24L * 3600 * 1000,
      protect: Set[Int] = Set.empty): Seq[Int] = {
    val snaps = ManifestTable.snapshots(spark, dir)
    reclaim(spark, dir, snaps, expiring(spark, dir, snaps, keepLast, protect),
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
    * named for an expired version), then the staging-dir sweep and the
    * superseded-checkpoint cleanup.
    */
  private def reclaim(spark: SparkSession, dir: String,
      snaps: Seq[ManifestTable.Snapshot],
      expired: Seq[ManifestTable.Snapshot],
      stagedOrphanAgeMs: Long): Seq[Int] = {
    if (snaps.isEmpty) return Seq.empty
    val expiredSet = expired.map(_.version).toSet
    val retained = snaps.filterNot(s => expiredSet(s.version))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Manifests first (the version atomically stops existing), its
    // sidecars with it; staging dirs follow in the sweep.
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
    // the one reclaim rule (see the object doc)
    val live = dirsOf(retained)
    val doomed = dirsOf(expired) -- live
    val now = System.currentTimeMillis()
    Roots.foreach { rootName =>
      val root = new Path(s"$dir/$rootName")
      if (fs.exists(root)) fs.listStatus(root).toSeq.filter(_.isDirectory).foreach { st =>
        val rel = s"$rootName/${st.getPath.getName}"
        if (!live(rel) &&
            (doomed(rel) || now - st.getModificationTime > stagedOrphanAgeMs))
          fs.delete(st.getPath, true)
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

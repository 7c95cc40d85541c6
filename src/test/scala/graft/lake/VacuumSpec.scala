package graft.lake

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.util.Scratch

/** X61 vacuum: expiry boundary, survivor integrity, idempotency, in-flight
  * stage preservation, delete-order crash safety.
  */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  /** The staging dir of each committed version's files, by version. */
  private def dirs(dir: String): Map[Int, String] =
    ManifestTable.snapshots(spark, dir).map(s =>
      s.version -> s.files.head.split('/').init.mkString("/")).toMap

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commit3(dir: String): Unit = {
    ManifestTable.commit(Seq((1, "a")).toDF("k", "s"), dir, 20250601, 900)
    ManifestTable.commit(Seq((2, "b")).toDF("k", "s"), dir, 20250601, 1000)
    ManifestTable.commit(Seq((3, "c")).toDF("k", "s"), dir, 20250601, 1100)
  }

  test("expires exactly the versions beyond retention; survivors read intact") {
    val dir = Scratch.dir("vac_basic")
    commit3(dir)
    val d = dirs(dir)
    assert(Vacuum.vacuum(spark, dir, keepLast = 2) == Seq(1))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(2, 3))
    assert(intercept[NoSuchElementException](
      ManifestTable.readVersion(spark, dir, 1)).getMessage.contains("version 1"))
    assert(ManifestTable.readVersion(spark, dir, 2)
      .select("s").as[String].collect().toSeq == Seq("b"))
    // Expired data directory is actually reclaimed, not just unlisted.
    assert(!fs(dir).exists(new Path(s"$dir/${d(1)}")))
    assert(fs(dir).exists(new Path(s"$dir/${d(2)}")))
  }

  test("X217 time-based retention: cutoff expires by stamp, head and tags survive") {
    val dir = Scratch.dir("vac_time")
    commit3(dir) // stamps 900, 1000, 1100 on 20250601
    Branches.createTag(spark, dir, "keep_v1", 1)
    // cutoff between v2 and v3: v2 expires; v1 is older but TAG-pinned;
    // v3 is the head
    assert(Vacuum.vacuumBefore(spark, dir, 20250601, 1100) === Seq(2))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) === Seq(1, 3))
    // idempotent
    assert(Vacuum.vacuumBefore(spark, dir, 20250601, 1100) === Seq.empty)
    // a cutoff after everything still keeps the head
    val dir2 = Scratch.dir("vac_time2")
    commit3(dir2)
    assert(Vacuum.vacuumBefore(spark, dir2, 20250701, 0) === Seq(1, 2))
    assert(ManifestTable.snapshots(spark, dir2).map(_.version) === Seq(3))
    assert(ManifestTable.readLatest(spark, dir2)
      .select("s").as[String].collect().toSeq === Seq("c"))
  }

  test("idempotent: a second vacuum expires nothing") {
    val dir = Scratch.dir("vac_idem")
    commit3(dir)
    Vacuum.vacuum(spark, dir, keepLast = 2)
    assert(Vacuum.vacuum(spark, dir, keepLast = 2).isEmpty)
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(2, 3))
  }

  test("staged-but-uncommitted latest+1 write survives vacuum") {
    val dir = Scratch.dir("vac_staged")
    commit3(dir)
    val staged = ManifestTable.stageDataFiles(Seq((4, "d")).toDF("k", "s"), dir) // in-flight
    Vacuum.vacuum(spark, dir, keepLast = 1)
    assert(staged.forall(f => fs(dir).exists(new Path(s"$dir/$f"))))
    // ...and the in-flight writer can still complete its commit.
    ManifestTable.commitManifest(spark, dir,
      ManifestTable.snapshots(spark, dir).lastOption, 20250601, 1200, staged)
    assert(ManifestTable.latestVersion(spark, dir).contains(4))
    assert(ManifestTable.readLatest(spark, dir).select("s").as[String]
      .collect().toSeq == Seq("d"))
  }

  test("manifest-before-data delete order: a data-only orphan is invisible") {
    val dir = Scratch.dir("vac_order")
    commit3(dir)
    val d = dirs(dir)
    // Simulate a crash AFTER the manifest delete but before the data
    // delete: remove v1's manifest by hand; the snapshot list must not
    // serve v1 even though its data files still exist.
    fs(dir).delete(new Path(s"$dir/_manifests/v00000001.json"), false)
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(2, 3))
    // The data-only leftover is an unreferenced dir no expired manifest
    // names any more: like any such dir it waits for the age gate...
    Vacuum.vacuum(spark, dir, keepLast = 2)
    assert(fs(dir).exists(new Path(s"$dir/${d(1)}")))
    // ...and a re-run past it reclaims the leftover
    Vacuum.vacuum(spark, dir, keepLast = 2, stagedOrphanAgeMs = 0L)
    assert(!fs(dir).exists(new Path(s"$dir/${d(1)}")))
    // ...while the retained versions' data stays.
    assert(fs(dir).exists(new Path(s"$dir/${d(2)}")))
    assert(fs(dir).exists(new Path(s"$dir/${d(3)}")))
  }

  test("X96 staged writer dirs: referenced or young survive, old orphans reclaim") {
    val dir = Scratch.dir("vac_staged")
    commit3(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed optimistic writer's staged-but-never-committed data
    val orphan = ManifestTable.stageDataFiles(Seq((9, "x")).toDF("k", "s"), dir)
    // a COMMITTED optimistic append — its w-dir is referenced by a manifest
    ManifestTable.appendRetrying(Seq((4, "d")).toDF("k", "s"), dir, 20250601, 1200)
    val orphanDir = new Path(s"$dir/${orphan.head.split('/').take(2).mkString("/")}")
    // default retention clock: the young orphan is preserved (in-flight?)
    Vacuum.vacuum(spark, dir, keepLast = 2)
    assert(fs.exists(orphanDir), "young staged dir must survive the default age guard")
    // age guard waived: the unreferenced orphan reclaims, the referenced
    // append dir must NOT (it is live data of the retained v4)
    Vacuum.vacuum(spark, dir, keepLast = 2, stagedOrphanAgeMs = 0L)
    assert(!fs.exists(orphanDir), "aged unreferenced staged dir must reclaim")
    assert(ManifestTable.readLatest(spark, dir)
      .select("s").as[String].collect().toSet == Set("c", "d"),
      "the committed append's staged dir must survive as live data")
  }

  test("X105 ref-aware retention: tags pin forever, branches keep their own window") {
    val dir = Scratch.dir("vac_refs")
    commit3(dir) // v1..v3 on main history
    Branches.createTag(spark, dir, "rel", atVersion = 1)
    // a diverged branch: forked at v1, committed v4 — its lineage is [1, 4]
    Branches.createBranch(spark, dir, "exp", fromVersion = 1)
    Branches.commitToBranch(Seq((9, "x")).toDF("k", "s"), dir, "exp", 20250601, 1200)
    // keepLast=1 of the global log would expire v1..v3; the tag pins v1,
    // the branch head pins v4 (already latest), branch lineage keeps only
    // its newest 1 → v2 and v3 are the only garbage
    assert(Vacuum.vacuum(spark, dir, keepLast = 1) == Seq(2, 3))
    // both refs still read intact
    assert(Branches.readBranch(spark, dir, "rel").select("s").as[String]
      .collect().toSet == Set("a"))
    assert(Branches.readBranch(spark, dir, "exp").select("s").as[String]
      .collect().toSet == Set("x"))
    // idempotent; and the expired middle is really gone
    assert(Vacuum.vacuum(spark, dir, keepLast = 1).isEmpty)
    intercept[NoSuchElementException](ManifestTable.readVersion(spark, dir, 2))
  }

  test("X105 catalog-aware retention: retained cuts pin their table versions") {
    val root = Scratch.dir("vac_cat")
    def tx(n: Int): Unit = Catalog.transact(spark, root, 20250601, 900 + n, Seq(
      "a" -> Seq((n.toLong, s"a$n")).toDF("id", "v"),
      "b" -> Seq((n.toLong, s"b$n")).toDF("id", "v")))
    tx(1); tx(2); tx(3) // catalog cuts 1..3; each table at versions 1..3
    assert(Catalog.vacuumCatalog(spark, root, keepLast = 2) == Seq(1))
    // cut 2 retained → table versions 2 survive though keepLast=2 alone
    // would keep {2,3} anyway; cut 1's table versions 1 are the garbage
    intercept[NoSuchElementException](Catalog.readTable(spark, root, "a", Some(1)))
    assert(Catalog.readTable(spark, root, "a", Some(2)).select("v").as[String]
      .collect().toSet == Set("a2"))
    intercept[NoSuchElementException](
      ManifestTable.readVersion(spark, s"$root/a", 1))
    // a lagging table: only 'a' advances in cuts 4-5; 'b' stays at v3
    Catalog.transact(spark, root, 20250601, 1000, Seq(
      "a" -> Seq((4L, "a4")).toDF("id", "v")))
    Catalog.transact(spark, root, 20250601, 1001, Seq(
      "a" -> Seq((5L, "a5")).toDF("id", "v")))
    assert(Catalog.vacuumCatalog(spark, root, keepLast = 2) == Seq(2, 3))
    // b's v3 is ancient in b's log but still referenced by both retained
    // cuts — it must survive b's keepLast=2 window
    assert(Catalog.readTable(spark, root, "b").select("v").as[String]
      .collect().toSet == Set("b3"))
  }

  test("DRY RUN lists exactly the files a vacuum reclaims, on an appendRetrying-built table") {
    val dir = Scratch.dir("vac_dry")
    ManifestTable.appendRetrying(Seq((1, "a")).toDF("k", "s"), dir, 20250601, 900)
    ManifestTable.appendRetrying(Seq((2, "b")).toDF("k", "s"), dir, 20250601, 1000)
    ManifestTable.commit(Seq((3, "c")).toDF("k", "s"), dir, 20250601, 1100)
    val all = ManifestTable.snapshots(spark, dir).flatMap(_.files).distinct
    val listed = Vacuum.dryRun(spark, dir, keepLast = 1).map(_._1)
    assert(listed.size == 2, s"v1 and v2's appended files: $listed")
    assert(Vacuum.vacuum(spark, dir, keepLast = 1) == Seq(1, 2))
    val reclaimed = all.filterNot(f => fs(dir).exists(new Path(s"$dir/$f")))
    assert(listed.toSet == reclaimed.toSet)
    assert(ManifestTable.readLatest(spark, dir).select("s").as[String]
      .collect().toSeq == Seq("c"))
  }

  test("retention must keep at least one version") {
    val dir = Scratch.dir("vac_guard")
    commit3(dir)
    intercept[IllegalArgumentException](Vacuum.vacuum(spark, dir, keepLast = 0))
  }
}

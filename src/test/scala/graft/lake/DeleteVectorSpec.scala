package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** X64: merge-on-read deletion vectors — delete commits must leave every
  * data file byte-untouched, compose cumulatively, keep time travel
  * intact, stay invisible to readers' results, and interact safely with
  * vacuum's reference counting and with materialization.
  */
class DeleteVectorSpec extends SparkSpec {

  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  private def fileInventory(dir: String): Seq[(String, Long, Long)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$dir/data")
    def walk(p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    walk(root).sortBy(_._1)
  }

  /** The staging dir of a table-relative file. */
  private def dirOf(file: String): String = file.split('/').init.mkString("/")

  private def seed(dir: String): Unit = {
    val df = (1L to 100L).map(i => (i, s"row$i", i % 7)).toDF("id", "v", "grp")
      .repartition(4)
    ManifestTable.commit(df, dir, 20250801, 900)
  }

  test("a delete commit touches no data file and removes exactly the matched rows") {
    val dir = tmpTable()
    seed(dir)
    val before = fileInventory(dir)
    val v2 = DeleteVectors.deleteWhere(spark, dir, col("id") % 10 === 0, 20250801, 1000)
    assert(v2 == 2)
    assert(fileInventory(dir) == before, "delete commit rewrote data files")
    val got = ManifestTable.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet
    assert(got == (1L to 100L).filterNot(_ % 10 == 0).toSet)
    // time travel to the pre-delete version still sees every row
    assert(ManifestTable.readVersion(spark, dir, 1).count() == 100)
  }

  test("deletes compose cumulatively and re-deleting deleted rows is a no-op") {
    val dir = tmpTable()
    seed(dir)
    DeleteVectors.deleteWhere(spark, dir, col("id") <= 10, 20250801, 1000)
    DeleteVectors.deleteWhere(spark, dir, col("id") % 9 === 0, 20250801, 1100)
    // second predicate overlaps the first (id=9 already gone); union dedups
    val expect = (1L to 100L).filterNot(i => i <= 10 || i % 9 == 0).toSet
    assert(ManifestTable.readLatest(spark, dir).select("id").as[Long].collect().toSet == expect)
    // v2 state: only the first delete applied
    assert(ManifestTable.readVersion(spark, dir, 2).count() == 90)
    // replaying the SAME predicate produces an identical result set
    DeleteVectors.deleteWhere(spark, dir, col("id") <= 10, 20250801, 1200)
    assert(ManifestTable.readLatest(spark, dir).select("id").as[Long].collect().toSet == expect)
  }

  test("a no-deletes version keeps the bare-scan plan (no join added)") {
    val dir = tmpTable()
    seed(dir)
    val plan = ManifestTable.readLatest(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"plain read gained a join:\n$plan")
    DeleteVectors.deleteWhere(spark, dir, col("id") === 1, 20250801, 1000)
    val plan2 = ManifestTable.readLatest(spark, dir).queryExecution.executedPlan.toString
    assert(plan2.contains("BroadcastHashJoin") && plan2.contains("LeftAnti"),
      s"DV read should subtract via broadcast anti join:\n$plan2")
  }

  test("materialize folds tombstones into fresh files; vacuum then reclaims") {
    val dir = tmpTable()
    seed(dir)
    DeleteVectors.deleteWhere(spark, dir, col("id") > 50, 20250801, 1000)
    val v3 = DeleteVectors.materialize(spark, dir, 20250801, 1100)
    assert(v3 == 3)
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.find(_.version == 3).get.deletes.isEmpty)
    val v1Dir = dirOf(snaps.head.files.head)
    val v2DvDir = dirOf(snaps(1).deletes.head)
    assert(ManifestTable.readVersion(spark, dir, 3).select("id").as[Long].collect().toSet ==
      (1L to 50L).toSet)
    // retention of 1 keeps only v3, which references no v1 file — both the
    // v1 data dir and the v2 deletion-vector dir must be swept
    val expired = Vacuum.vacuum(spark, dir, keepLast = 1)
    assert(expired == Seq(1, 2))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/$v1Dir")), "v1 data dir survived")
    assert(!fs.exists(new Path(s"$dir/$v2DvDir")), "v2 DV dir survived")
    assert(ManifestTable.readLatest(spark, dir).count() == 50)
  }

  test("vacuum keeps a shared data dir while a retained delete commit references it") {
    val dir = tmpTable()
    seed(dir)
    val v1Dir = dirOf(ManifestTable.snapshots(spark, dir).head.files.head)
    DeleteVectors.deleteWhere(spark, dir, col("id") > 90, 20250801, 1000)
    // keepLast=1 retains only v2 — whose data files all live in v1's dir:
    // the v1 MANIFEST goes, the v1 DATA DIR must stay
    val expired = Vacuum.vacuum(spark, dir, keepLast = 1)
    assert(expired == Seq(1))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/_manifests/v00000001.json")))
    assert(fs.exists(new Path(s"$dir/$v1Dir")),
      "vacuum deleted a data dir still referenced by the retained delete commit")
    assert(ManifestTable.readVersion(spark, dir, 2).count() == 90)
    // vacuum is still idempotent with the reference-counted sweep
    assert(Vacuum.vacuum(spark, dir, keepLast = 1).isEmpty)
    assert(ManifestTable.readVersion(spark, dir, 2).count() == 90)
  }

  test("crash before the delete's manifest rename leaves the delete invisible") {
    val dir = tmpTable()
    seed(dir)
    // simulate the crash: stage a DV sidecar, write no manifest
    val v1 = ManifestTable.snapshots(spark, dir).head
    ManifestTable.stageDataFiles(Seq((v1.files.head, 0L)).toDF("file", "pos"), dir, "deletes")
    assert(ManifestTable.latestVersion(spark, dir) == Some(1))
    assert(ManifestTable.readLatest(spark, dir).count() == 100)
    // the retry path: a fresh deleteWhere allocates version 2 and commits
    // its own sidecar, never the stale one
    DeleteVectors.deleteWhere(spark, dir, col("id") === 42, 20250801, 1000)
    assert(ManifestTable.readLatest(spark, dir).count() == 99)
  }

  test("evolution history and zone-map pruned reads subtract tombstones too") {
    val dir = tmpTable()
    val df = (1L to 100L).map(i => (i, i * 2)).toDF("id", "qty")
      .repartitionByRange(4, col("id"))
    ZoneMap.commitWithStats(df, dir, 20250801, 900, Seq("id"))
    DeleteVectors.deleteWhere(spark, dir, col("id") % 4 === 0, 20250801, 1000)
    // readHistory: v1 intact, v2 with tombstones applied
    val hist = Evolution.readHistory(spark, dir)
      .groupBy("version").count().orderBy("version")
      .as[(Int, Long)].collect().toSeq
    assert(hist == Seq((1, 100L), (2, 75L)))
    // pruned range read on the DV version: v2 stats sidecar doesn't exist,
    // but v1's files back v2 — prune via the shared file list, then apply
    val got = ZoneMap.readRange(spark, dir, 2, "id", 10L, 30L)
      .select("id").as[Long].collect().toSet
    assert(got == (10L to 30L).filterNot(_ % 4 == 0).toSet)
  }
}

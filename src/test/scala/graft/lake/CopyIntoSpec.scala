package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X119 COPY INTO: exactly-once per landing path across re-runs, crashes,
  * and incremental drops.
  */
class CopyIntoSpec extends SparkSpec {
  import spark.implicits._

  private def drop(landing: String, name: String, rows: Seq[(Long, Long)]): Unit = {
    val tmp = s"$landing/_tmp_$name"
    rows.toDF("k", "v").coalesce(1).write.parquet(tmp)
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = fs.listStatus(new Path(tmp)).toSeq
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(f, new Path(s"$landing/$name.parquet"))
    fs.delete(new Path(tmp), true)
  }

  test("each landing file ingests exactly once across re-runs") {
    val dir = Scratch.dir("copy_tbl")
    val landing = Scratch.dir("copy_land")
    drop(landing, "a", (0L until 5L).map(i => (i, i)))
    drop(landing, "b", (5L until 8L).map(i => (i, i)))

    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 900).contains(1))
    assert(ManifestTable.readLatest(spark, dir).count() == 8)

    // re-run with nothing new: no version
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).isEmpty)

    // one more file lands beside the ingested ones: only it ingests
    drop(landing, "c", (8L until 10L).map(i => (i, i)))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1100).contains(2))
    val rows = ManifestTable.readLatest(spark, dir)
    assert(rows.count() == 10)
    assert(rows.groupBy("k").count().where(col("count") > 1).count() == 0)
  }

  /** Simulate a crashed COPY INTO: its sidecar for `version` is written,
    * its commit never happens.
    */
  private def orphanSidecar(dir: String, version: Int, files: Seq[String]): Unit = {
    val m = classOf[CopyInto.type].getDeclaredMethods
      .find(_.getName == "writeSidecar").get
    m.setAccessible(true)
    m.invoke(CopyInto, spark, dir, Int.box(version), files, Nil)
  }

  test("crash-orphaned sidecars are invisible: the increment re-ingests") {
    val dir = Scratch.dir("copy_crash")
    val landing = Scratch.dir("copy_crash_land")
    drop(landing, "a", Seq((1L, 1L)))
    CopyInto.copyInto(spark, dir, landing, 20250901, 900)

    orphanSidecar(dir, 2, Seq(s"$landing/b.parquet"))

    drop(landing, "b", Seq((2L, 2L)))
    // the orphan does NOT hide b: resolution only reads sidecars of
    // committed versions
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).contains(2))
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
  }

  test("a crash-orphaned sidecar is not adopted by a foreign commit at its version (known defect)") {
    // Sidecars resolve by version number alone, so a plain append that
    // commits the orphan's version makes the orphan look committed: b is
    // then "already ingested" and never lands. Fixing it needs a link
    // from sidecar to commit (a format change); the same rule governs
    // the JDBC watermark, the identity high water and the stream txn.
    val dir = Scratch.dir("copy_adopt")
    val landing = Scratch.dir("copy_adopt_land")
    drop(landing, "a", Seq((1L, 1L)))
    CopyInto.copyInto(spark, dir, landing, 20250901, 900)
    orphanSidecar(dir, 2, Seq(s"$landing/b.parquet"))
    ManifestTable.appendRetrying(Seq((9L, 9L)).toDF("k", "v"), dir, 20250901, 950)
    drop(landing, "b", Seq((2L, 2L)))
    pendingUntilFixed {
      assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).contains(3))
      assert(ManifestTable.readLatest(spark, dir).where(col("k") === 2L).count() == 1)
    }
  }

  test("content mode: a re-dropped file under a new name is not new data") {
    val dir = Scratch.dir("copy_content")
    val landing = Scratch.dir("copy_content_land")
    drop(landing, "a", Seq((1L, 1L), (2L, 2L)))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 900,
      dedupeBy = "content").contains(1))

    // same BYTES re-dropped as a new path: content mode skips it...
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$landing/a.parquet"),
      fs, new Path(s"$landing/a_redrop.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000,
      dedupeBy = "content").isEmpty)
    assert(ManifestTable.readLatest(spark, dir).count() == 2)

    // ...while genuinely new content ingests
    drop(landing, "b", Seq((3L, 3L)))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1100,
      dedupeBy = "content").contains(2))
    assert(ManifestTable.readLatest(spark, dir).count() == 3)
  }
}

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

  test("crash-orphaned sidecars are invisible: the increment re-ingests") {
    val dir = Scratch.dir("copy_crash")
    val landing = Scratch.dir("copy_crash_land")
    drop(landing, "a", Seq((1L, 1L)))
    CopyInto.copyInto(spark, dir, landing, 20250901, 900)

    drop(landing, "b", Seq((2L, 2L)))
    // the run crashes at its commit point: b must not read as ingested
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(
      CopyInto.copyInto(spark, dir, landing, 20250901, 950)))
    assert(CopyInto.ingestedFiles(spark, dir) == Set(s"$landing/a.parquet"))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).contains(2))
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
  }

  test("a crashed COPY INTO leaves nothing for a foreign commit at its version to adopt") {
    // the crashed run's ingested set never reached storage, so the plain
    // append that takes its version cannot make b look ingested
    val dir = Scratch.dir("copy_adopt")
    val landing = Scratch.dir("copy_adopt_land")
    drop(landing, "a", Seq((1L, 1L)))
    CopyInto.copyInto(spark, dir, landing, 20250901, 900)
    drop(landing, "b", Seq((2L, 2L)))
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(
      CopyInto.copyInto(spark, dir, landing, 20250901, 940)))
    ManifestTable.appendRetrying(Seq((9L, 9L)).toDF("k", "v"), dir, 20250901, 950)
    assert(CopyInto.ingestedFiles(spark, dir) == Set(s"$landing/a.parquet"))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).contains(3))
    assert(ManifestTable.readLatest(spark, dir).where(col("k") === 2L).count() == 1)
  }

  test("a landing path with a quote round-trips through the manifest") {
    val dir = Scratch.dir("copy_quote")
    val landing = s"${Scratch.dir("copy_quote_land")}/say \"hi\""
    drop(landing, "a", Seq((1L, 1L)))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 900).contains(1))
    assert(CopyInto.ingestedFiles(spark, dir) == Set(s"$landing/a.parquet"))
    assert(CopyInto.copyInto(spark, dir, landing, 20250901, 1000).isEmpty)
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

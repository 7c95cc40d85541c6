package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X166 record index: exact point lookups open only index-named files,
  * routing groups updates by target file and isolates inserts, duplicate
  * keys refuse at build, misses return empty.
  */
class RecordIndexSpec extends SparkSpec {
  import spark.implicits._

  // 800 keys over 8 files clustered by an UNRELATED column, so key-range
  // pruning can never help and the index is load-bearing
  private def mk(tag: String): String = {
    val dir = Scratch.dir(tag)
    val df = (0L until 800L).map(i => (i, (i * 37) % 800, i * 10))
      .toDF("k", "j", "v")
    RecordIndex.commitWithIndex(df.repartitionByRange(8, col("j")), dir,
      20250701, 900, "k")
    dir
  }

  test("point lookup: exact rows, only the index-named files open") {
    val dir = mk("ri_basic")
    val keys = Seq(3L, 400L, 777L)
    val df = RecordIndex.pointLookup(spark, dir, 1, "k", keys)
    val got = df.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === keys.map(k => k -> k * 10).toMap)
    // the scan's input files are exactly the files the index names
    val expected = RecordIndex.index(spark, dir, 1).get
      .where(col("key").isin(keys: _*))
      .select("file").distinct().as[String].collect().toSet.map((f: String) => f.split('/').last)
    val opened = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs(); f.relation.location.inputFiles.toSet.map((p: String) => p.split('/').last)
      }.get
    assert(opened === expected)
    assert(opened.size < 8, "a subset of the 8 files must suffice")
  }

  test("point lookup: misses return empty with the data schema") {
    val dir = mk("ri_miss")
    val out = RecordIndex.pointLookup(spark, dir, 1, "k", Seq(99999L))
    assert(out.count() === 0L && out.columns.toSeq === Seq("k", "j", "v"))
  }

  test("routing: updates group by their target file, inserts isolate") {
    val dir = mk("ri_route")
    val batch = Seq(1L, 2L, 500L, 123456L, 234567L).toDF("k")
    val routed = RecordIndex.routeUpserts(spark, dir, 1, batch, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routed("__insert__") === 2L)
    assert(routed.filterKeys(_ != "__insert__").values.sum === 3L)
    val files = ManifestTable.snapshots(spark, dir).head.files.toSet
    assert(routed.keys.filter(_ != "__insert__").forall(files.contains))
  }

  test("duplicate keys refuse at build (ambiguous positions)") {
    val dir = Scratch.dir("ri_dup")
    val df = Seq((1L, 1L), (1L, 2L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      RecordIndex.commitWithIndex(df, dir, 20250701, 900, "k"))
    assert(e.getMessage.contains("duplicate"))
    // the refused commit left no visible version and no staged data
    assert(ManifestTable.snapshots(spark, dir).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_index")))
  }

  test("the index stages with its version's files: the manifest names it and vacuum reclaims it with them") {
    val dir = mk("ri_vacuum")
    RecordIndex.commitWithIndex((0L until 50L).map(i => (i, i, i * 10)).toDF("k", "j", "v"),
      dir, 20250701, 910, "k")
    val Seq(v1, v2) = ManifestTable.snapshots(spark, dir)
    Seq(v1, v2).foreach(s => assert(s.index.toSeq ==
      s.files.map(_.split('/').dropRight(1).mkString("/")).distinct.map(d => s"$d/_index")))
    // a later commit does not carry an index of other files
    ManifestTable.appendRetrying(Seq((900L, 900L, 9000L)).toDF("k", "j", "v"), dir, 20250701, 920)
    assert(ManifestTable.snapshots(spark, dir).last.index.isEmpty)
    assert(RecordIndex.pointLookup(spark, dir, 3, "k", Seq(5L, 900L))
      .select("v").as[Long].collect().toSet == Set(50L, 9000L))
    Vacuum.vacuum(spark, dir, keepLast = 2)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${v1.index.get}")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${v2.index.get}")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_index")))
    assert(RecordIndex.pointLookup(spark, dir, 2, "k", Seq(5L))
      .select("v").as[Long].collect().toSeq == Seq(50L))
  }

  test("a lost race leaves no index behind: the interloper's version reads only its own rows") {
    val dir = s"${Scratch.dir("ri_lose")}/t"
    RecordIndex.commitWithIndex((0L until 100L).map(i => (i, i * 10)).toDF("k", "v")
      .repartition(4), dir, 20250701, 900, "k")
    val landed = InterloperCommit.losing(spark, dir)(RecordIndex.commitWithIndex(
      (100L until 110L).map(i => (i, i * 10)).toDF("k", "v"), dir, 20250701, 910, "k"))
    // the interloper took v2 with v1's content; the replace landed at v3
    assert(RecordIndex.pointLookup(spark, dir, 2, "k", Seq(105L)).count() == 0)
    assert(RecordIndex.pointLookup(spark, dir, 2, "k", Seq(5L))
      .select("v").as[Long].collect().toSeq == Seq(50L))
    assert(landed == 3)
    assert(RecordIndex.pointLookup(spark, dir, 3, "k", Seq(105L))
      .select("v").as[Long].collect().toSeq == Seq(1050L))
  }
}

package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.{DeleteVectors, ManifestTable, ZoneMap}
import graft.util.Scratch

/** X113 `format("graft")`: service-file registration, manifest-driven
  * listing, versionAsOf time travel, plan-time zone-map file pruning
  * composed with parquet footer pushdown, and the DV refusal.
  */
class GraftFormatSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(tag: String): String = {
    val dir = Scratch.dir(tag)
    val df = (0L until 800L).map(i => (i, i * 2)).toDF("k", "v")
    ZoneMap.commitWithStats(df.repartitionByRange(8, col("k")), dir,
      20250701, 900, statsCols = Seq("k"))
    dir
  }

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
  }

  test("format('graft') resolves by shortName and reads the manifest listing") {
    val dir = mkTable("gfmt_basic")
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 800)
    assert(got.columns.toSeq == Seq("k", "v"))
    // files come from the manifest, not a directory walk: a stray
    // non-manifest parquet in the data dir is invisible
    Seq((9999L, 0L)).toDF("k", "v").write.parquet(s"$dir/data/stray")
    assert(spark.read.format("graft").load(dir).count() == 800)
  }

  test("versionAsOf serves the committed snapshot, unknown versions refuse") {
    val dir = mkTable("gfmt_tt")
    ZoneMap.commitWithStats((0L until 100L).map(i => (i, i)).toDF("k", "v"),
      dir, 20250701, 1000, statsCols = Seq("k"))
    assert(spark.read.format("graft").load(dir).count() == 100)
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 800)
    intercept[NoSuchElementException](
      spark.read.format("graft").option("versionAsOf", 7).load(dir).count())
  }

  test("zone maps prune files at plan time; footer pushdown rides below") {
    val dir = mkTable("gfmt_prune")
    // range-partitioned into 8 files over k=0..799: a 100-wide band
    // overlaps at most 2-3 files
    val df = spark.read.format("graft").load(dir).where($"k".between(300, 399))
    val scan = scanOf(df)
    val planned = scan.metrics("numFiles").value
    assert(planned < 8, s"expected pruned file count, planned $planned")
    // the parquet-level pushdown is still there underneath
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(k,300)"))
    // pruning is invisible in the answer
    assert(df.count() == 100)
    // and an unprunable predicate keeps every file (soundness, not magic)
    assert(scanOf(spark.read.format("graft").load(dir)
      .where($"v" % 7 === 0)).metrics("numFiles").value == 8)
  }

  test("versions carrying deletion vectors serve tombstone-subtracted rows") {
    val dir = Scratch.dir("gfmt_dv")
    ManifestTable.commit((0L until 50L).map(i => (i, i)).toDF("k", "v"),
      dir, 20250701, 900)
    DeleteVectors.deleteWhere(spark, dir, col("k") < 10, 20250701, 1000)
    // plain format read = the tombstone-aware state, via the plan relation
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 40)
    assert(got.select("k").collect().map(_.getLong(0)).forall(_ >= 10))
    // pruning + pushed filters travel through the plan relation
    assert(got.where($"k" >= 45).select("v").collect()
      .map(_.getLong(0)).sorted.sameElements(Array(45L, 46L, 47L, 48L, 49L)))
    // time travel to the pre-delete version still reads the fast path
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 50)
  }

  test("timestampAsOf resolves by run stamp; append schema drift refuses") {
    val dir = Scratch.dir("gfmt_ts")
    graft.lake.ManifestTable.commit(Seq((1L, "a")).toDF("k", "tag"), dir, 20250601, 900)
    graft.lake.ManifestTable.commit(Seq((2L, "b"), (3L, "b")).toDF("k", "tag"), dir, 20250601, 1100)

    assert(spark.read.format("graft").option("asOfDate", "20250601")
      .option("asOfTime", "1000").load(dir).count() == 1) // v1 era
    assert(spark.read.format("graft").option("asOfDate", "20250601")
      .load(dir).count() == 2) // end of day: v2
    intercept[NoSuchElementException](
      spark.read.format("graft").option("asOfDate", "20250101").load(dir).count())

    // appends must match the table schema unless drift is opted into
    val e = intercept[IllegalArgumentException](
      Seq((4L, 9.9)).toDF("k", "price").write.format("graft")
        .mode(org.apache.spark.sql.SaveMode.Append).save(dir))
    assert(e.getMessage.contains("allowSchemaDrift"))
    assert(graft.lake.ManifestTable.latestVersion(spark, dir).contains(2))
    Seq((4L, "c")).toDF("k", "tag").write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir) // matching: fine
    assert(spark.read.format("graft").load(dir).count() == 3)
  }

  test("column-mapped tables serve logical names through the format") {
    val dir = Scratch.dir("gfmt_colmap")
    graft.lake.ColumnMap.create(Seq((1L, 10.0)).toDF("k", "price"), dir, 20250701, 900)
    graft.lake.ColumnMap.renameColumn(spark, dir, "price", "amount")
    val got = spark.read.format("graft").load(dir)
    // the RENAMED logical name, not the file's physical "price"
    assert(got.columns.toSeq == Seq("k", "amount"))
    assert(got.select("amount").head.getDouble(0) == 10.0)
    // versionAsOf resolves the mapping of THAT version: pre-rename era
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(dir)
    assert(v1.columns.toSeq == Seq("k", "price"))
    // SQL surface composes: a USING graft view over the mapped table
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gfmt_cm
                 |USING graft OPTIONS (path '$dir')""".stripMargin)
    assert(spark.sql("SELECT sum(amount) FROM gfmt_cm").head.getDouble(0) == 10.0)
  }

  test("versionAsOf before an in-place mapping upgrade reads that version as stored") {
    val dir = Scratch.dir("gfmt_preupgrade")
    ManifestTable.commit(Seq((1L, 10.0)).toDF("k", "v"), dir, 20250701, 900)
    ManifestTable.appendRetrying(Seq((2L, 20.0)).toDF("k", "v"), dir, 20250701, 910)
    GraftDml.extSession(spark).sql(s"ALTER TABLE '$dir' RENAME COLUMN v TO w").collect()
    def at(v: Int) = spark.read.format("graft").option("versionAsOf", v).load(dir)
    assert(at(1).columns.toSeq == Seq("k", "v"))
    assert(at(1).as[(Long, Double)].collect().toSeq == Seq((1L, 10.0)))
    assert(at(2).columns.toSeq == Seq("k", "v") && at(2).count() == 2)
    assert(graft.lake.ColumnMap.read(spark, dir, Some(1)).columns.toSeq == Seq("k", "v"))
    val latest = spark.read.format("graft").load(dir)
    assert(latest.columns.toSeq == Seq("k", "w"))
    assert(latest.agg(sum("w")).head.getDouble(0) == 30.0)
  }

  test("string zone maps prune through the format (X78 composition)") {
    val dir = Scratch.dir("gfmt_str")
    // date-string keys, range-clustered into 6 files
    val df = (0 until 600).map { i =>
      (f"2025-${i / 50 % 12 + 1}%02d-${i % 28 + 1}%02d-${i}%04d", i.toLong)
    }.toDF("k", "v")
    graft.lake.ZoneMap.commitWithStats(df.repartitionByRange(6, col("k")),
      dir, 20250901, 900, statsCols = Nil, strCols = Seq("k"))

    val got = spark.read.format("graft").load(dir)
      .where($"k" >= "2025-04" && $"k" < "2025-05")
    got.collect()
    val scan = got.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan.metrics("numFiles").value < 6)
    // pruning invisible: same rows as the unpruned filter
    assert(got.count() ==
      df.where($"k" >= "2025-04" && $"k" < "2025-05").count())
  }

  test("refs surface: branch/tag options read the ref head; selectors are exclusive") {
    val bdir = s"${graft.lake.Branches.buildFixture(spark, sf)}/t"
    // branch exp = v1 (k%3=0) + k%3=1 adds; tag rel1 pins v1
    val expKeys = spark.read.format("graft").option("branch", "exp").load(bdir)
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(expKeys.nonEmpty && expKeys.forall(k => k % 3 == 0 || k % 3 == 1))
    val tagCount = spark.read.format("graft").option("tag", "rel1").load(bdir).count()
    val v1Count = spark.read.format("graft").option("versionAsOf", "1").load(bdir).count()
    assert(tagCount == v1Count)
    // conflicting selectors refuse instead of silently picking one
    val e1 = intercept[IllegalArgumentException](
      spark.read.format("graft").option("branch", "main")
        .option("versionAsOf", "1").load(bdir).count())
    assert(e1.getMessage.contains("mutually exclusive"))
    val e2 = intercept[IllegalArgumentException](
      spark.read.format("graft").option("branch", "main")
        .option("tag", "rel1").load(bdir).count())
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("refs surface: catalogTable serves a consistent cut; unknown cut refuses") {
    val croot = graft.lake.Catalog.txFixture(spark, sf)
    val ordV1 = spark.read.format("graft")
      .option("catalogTable", "ord").option("catalogVersion", "1").load(croot)
    assert(ordV1.select("o_orderkey").collect().map(_.getLong(0)).forall(_ % 3 == 0))
    // latest cut = the wider pair
    val ordLatest = spark.read.format("graft").option("catalogTable", "ord").load(croot)
    assert(ordLatest.count() > ordV1.count())
    intercept[NoSuchElementException](
      spark.read.format("graft").option("catalogTable", "nope").load(croot).count())
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft").option("catalogTable", "ord")
        .option("branch", "main").load(croot).count())
    assert(e.getMessage.contains("catalogTable"))
  }

  test("subtable 'files': per-file stats, DV debt, and sidecar-less degradation (X160)") {
    val dir = mkTable("gfmt_files")
    val files1 = spark.read.format("graft").option("subtable", "files").load(dir)
      .orderBy("file").collect()
    assert(files1.length == 8)
    // sidecar stats: rows sum to the table, bounds tile 0..799 in order
    assert(files1.map(_.getAs[Long]("rows")).sum == 800L)
    val bounds = files1.map(r =>
      (r.getAs[Map[String, Long]]("lo")("k"), r.getAs[Map[String, Long]]("hi")("k")))
    assert(bounds.map(_._1).min == 0L && bounds.map(_._2).max == 799L)
    assert(files1.forall(_.getAs[Long]("tombstones") == 0L))

    // a DV delete adds tombstone debt to exactly the files holding the
    // deleted keys; file list and stats stay those of the parent commit
    DeleteVectors.deleteWhere(spark, dir, col("k") < 100L, 20250701, 930)
    val files2 = spark.read.format("graft").option("subtable", "files").load(dir).collect()
    assert(files2.length == 8)
    assert(files2.map(_.getAs[Long]("tombstones")).sum == 100L)
    assert(files2.map(_.getAs[Long]("rows")).sum == 800L, "MOR: stats keep physical rows")
    // versionAsOf 1 still shows the pre-delete state
    val v1 = spark.read.format("graft").option("subtable", "files")
      .option("versionAsOf", "1").load(dir).collect()
    assert(v1.map(_.getAs[Long]("tombstones")).sum == 0L)

    // a table committed WITHOUT sidecars degrades to NULL stats, never a guess
    val bare = Scratch.dir("gfmt_files_bare")
    ManifestTable.commit(Seq((1L, 2L)).toDF("k", "v"), bare, 20250701, 900)
    val nf = spark.read.format("graft").option("subtable", "files").load(bare).collect()
    assert(nf.nonEmpty && nf.forall(r => r.isNullAt(r.fieldIndex("rows"))))
  }
}

package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.Layout.TableRef

/** FIXTURES §4: the layered-lake fixture — 3 run-times under one usage
  * table; previous-snapshot discovery picks the greatest run_time strictly
  * below "current", and a glob read equals the unionByName fold.
  */
class LayoutSpec extends SparkSpec {

  private def freshRef(): TableRef = {
    val root = Files.createTempDirectory("graft_layout").toFile.getAbsolutePath
    TableRef(root, Layout.usageLayer, "apify", "tbl")
  }

  import spark.implicits._

  private def snap(tag: String) =
    Seq((1L, s"a_$tag"), (2L, s"b_$tag")).toDF("id", "name")

  test("writeSnapshot lands hive-partitioned (run_date, run_time) directories") {
    val ref = freshRef()
    Layout.writeSnapshot(snap("x"), ref, 20250301, 930)
    val dir = new java.io.File(s"${ref.dir}/run_date=20250301/run_time=930")
    assert(dir.isDirectory, s"expected partition dir at $dir")
    val back = Layout.snapshots(spark, ref)
    assert(back.columns.contains("run_date") && back.columns.contains("run_time"))
    assert(back.count() == 2)
  }

  test("previousRunTime picks the greatest run_time strictly below current") {
    val ref = freshRef()
    Seq(900, 1000, 1100).foreach(h => Layout.writeSnapshot(snap(h.toString), ref, 20250301, h))
    assert(Layout.previousRunTime(spark, ref, 20250301, 1100).contains(1000))
    assert(Layout.previousRunTime(spark, ref, 20250301, 1001).contains(1000))
    assert(Layout.previousRunTime(spark, ref, 20250301, 901).contains(900))
    assert(Layout.previousRunTime(spark, ref, 20250301, 900).isEmpty)
    // other dates never leak in
    assert(Layout.previousRunTime(spark, ref, 20250302, 2359).isEmpty)
  }

  test("snapshotAsOf resolves across dates, inclusively, and empty before history") {
    val ref = freshRef()
    Layout.writeSnapshot(snap("d1_1400"), ref, 20250228, 1400)
    Seq(900, 1000).foreach(h => Layout.writeSnapshot(snap(s"d2_$h"), ref, 20250301, h))
    // cross-date fallback: 08:45 on day 2 → previous day's last snapshot
    assert(Layout.snapshotAsOf(spark, ref, 20250301, 845).contains((20250228, 1400)))
    // inclusive at the exact stamp
    assert(Layout.snapshotAsOf(spark, ref, 20250301, 900).contains((20250301, 900)))
    // later same-day stamp picks the greatest at-or-before
    assert(Layout.snapshotAsOf(spark, ref, 20250301, 2359).contains((20250301, 1000)))
    // a future date sees the full history's max
    assert(Layout.snapshotAsOf(spark, ref, 20260101, 0).contains((20250301, 1000)))
    // before all history: no snapshot
    assert(Layout.snapshotAsOf(spark, ref, 20250228, 1359).isEmpty)
    assert(Layout.readAsOf(spark, ref, 20250228, 1359).isEmpty)
  }

  test("readAsOf prunes the scan to the single resolved partition") {
    val ref = freshRef()
    Layout.writeSnapshot(snap("d1"), ref, 20250228, 1400)
    Seq(900, 1000).foreach(h => Layout.writeSnapshot(snap(s"d2_$h"), ref, 20250301, h))
    val df = Layout.readAsOf(spark, ref, 20250301, 845).get
    val rows = df.select("name").as[String].collect().sorted
    assert(rows.toSeq == Seq("a_d1", "b_d1"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains(s"(${Layout.runTimeCol}"), s"no run_time partition filter:\n$plan")
  }

  test("snapshotAt reads exactly one snapshot's rows") {
    val ref = freshRef()
    Seq(900, 1000).foreach(h => Layout.writeSnapshot(snap(h.toString), ref, 20250301, h))
    val rows = Layout.snapshotAt(spark, ref, 20250301, 900)
      .select("name").as[String].collect().sorted
    assert(rows.toSeq == Seq("a_900", "b_900"))
  }

  test("snapshotAt's plan prunes to the single chosen partition") {
    val ref = freshRef()
    Seq(900, 1000, 1100).foreach(h => Layout.writeSnapshot(snap(h.toString), ref, 20250301, h))
    val plan = Layout.snapshotAt(spark, ref, 20250301, 1000)
      .queryExecution.executedPlan.toString
    // FileSourceScanExec prints the partition filters it pushed down
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains(s"(${Layout.runTimeCol}"), s"no run_time partition filter:\n$plan")
  }

  test("overwriteSnapshot replaces only its own partition — re-runs are idempotent") {
    val ref = freshRef()
    Layout.writeSnapshot(snap("early"), ref, 20250301, 900)
    Layout.overwriteSnapshot(snap("v1"), ref, 20250301, 1000)
    // re-run of the same (date, time): no duplication, content replaced
    Layout.overwriteSnapshot(snap("v2"), ref, 20250301, 1000)
    val all = Layout.snapshots(spark, ref)
    assert(all.count() == 4) // 2 rows per surviving snapshot
    val at1000 = Layout.snapshotAt(spark, ref, 20250301, 1000)
      .select("name").as[String].collect().sorted
    assert(at1000.toSeq == Seq("a_v2", "b_v2"))
    // the untouched earlier snapshot survives
    val at900 = Layout.snapshotAt(spark, ref, 20250301, 900)
      .select("name").as[String].collect().sorted
    assert(at900.toSeq == Seq("a_early", "b_early"))
  }

  test("glob read across snapshots equals the unionByName fold (FIXTURES §4)") {
    val ref = freshRef()
    val times = Seq(900, 1000, 1100)
    times.foreach(h => Layout.writeSnapshot(snap(h.toString), ref, 20250301, h))
    val folded = times.map(h => snap(h.toString)
        .withColumn("run_date", lit(20250301)).withColumn("run_time", lit(h)))
      .reduce(_ unionByName _)
      .select("id", "name", "run_date", "run_time")
      .collect().map(_.toString).sorted
    val globbed = Layout.globRead(spark, ref.dir, "run_date=*/run_time=*")
      .select("id", "name", "run_date", "run_time")
      .collect().map(_.toString).sorted
    assert(globbed.toSeq == folded.toSeq)
  }

  /** The scan-based discovery that the listing replaced: aggregates over the
    * partition values Spark's partition discovery finds.
    */
  private def scanPrevious(ref: TableRef, date: Int, current: Int): Option[Int] = {
    val r = Layout.snapshots(spark, ref)
      .where(col("run_date") === date && col("run_time") < current)
      .agg(max("run_time")).first()
    if (r.isNullAt(0)) None else Some(r.getInt(0))
  }

  private def scanAsOf(ref: TableRef, date: Int, time: Int): Option[(Int, Int)] = {
    val r = Layout.snapshots(spark, ref)
      .where(col("run_date") < date || (col("run_date") === date && col("run_time") <= time))
      .agg(max(struct(col("run_date"), col("run_time")))).first()
    if (r.isNullAt(0)) None else Some((r.getStruct(0).getInt(0), r.getStruct(0).getInt(1)))
  }

  test("listing-based discovery equals the partition-value scan") {
    val ref = freshRef()
    Seq((20250228, 1400), (20250228, 2300), (20250301, 900), (20250301, 1100),
      (20250302, 0)).foreach { case (d, t) => Layout.writeSnapshot(snap(s"${d}_$t"), ref, d, t) }
    def dir(rel: String) = { val f = new java.io.File(s"${ref.dir}/$rel"); f.mkdirs(); f }
    // an empty partition dir, one holding only _SUCCESS, and hidden dirs
    // holding a real data file: partition discovery sees none of them
    dir("run_date=20250301/run_time=1200")
    new java.io.File(dir("run_date=20250301/run_time=1000"), "_SUCCESS").createNewFile()
    new java.io.File(dir("run_date=20250303/run_time=500"), "_SUCCESS").createNewFile()
    val dataFile = new java.io.File(s"${ref.dir}/run_date=20250301/run_time=900")
      .listFiles().find(_.getName.endsWith(".parquet")).get
    Seq(".copy-staged/run_date=20250304/run_time=100", "run_date=20250301/.copy-x",
      "run_date=20250301/_temporary/0/run_time=1300", "_temporary/run_date=20250305/run_time=1")
      .foreach { rel =>
      Files.copy(dataFile.toPath, new java.io.File(dir(rel), dataFile.getName).toPath)
    }
    for {
      d <- Seq(20250227, 20250228, 20250301, 20250302, 20250303, 20250304, 20250305)
      t <- Seq(0, 1, 500, 899, 900, 901, 1000, 1100, 1101, 1200, 1300, 1400, 2300, 2359)
    } {
      assert(Layout.previousRunTime(spark, ref, d, t) == scanPrevious(ref, d, t), s"previous $d $t")
      assert(Layout.snapshotAsOf(spark, ref, d, t) == scanAsOf(ref, d, t), s"as of $d $t")
    }
    // a table with no dir has no snapshot
    assert(Layout.snapshotAsOf(spark, freshRef(), 20250301, 900).isEmpty)
  }

  test("copySnapshot re-run replaces only its own partition; an empty source leaves the target") {
    val root = Files.createTempDirectory("graft_layout_copy").toFile.getAbsolutePath
    val from = TableRef(root, Layout.formattedLayer, "apify", "tbl")
    val to = TableRef(root, Layout.usageLayer, "apify", "tbl")
    def names(ref: TableRef, t: Int) = Layout.snapshotAt(spark, ref, 20250301, t)
      .select("name").as[String].collect().sorted.toSeq
    Seq(900, 1000).foreach { t =>
      Layout.overwriteSnapshot(snap(s"v1_$t"), from, 20250301, t)
      Layout.copySnapshot(spark, from, to, 20250301, t)
    }
    // re-run of 1000 with new rows: the copy replaces that partition only
    Layout.overwriteSnapshot(snap("v2_1000"), from, 20250301, 1000)
    Layout.copySnapshot(spark, from, to, 20250301, 1000)
    assert(names(to, 1000) == Seq("a_v2_1000", "b_v2_1000"))
    assert(names(to, 900) == Seq("a_v1_900", "b_v1_900"))
    assert(Layout.snapshots(spark, to).count() == 4)
    assert(new java.io.File(to.dir).list().forall(!_.startsWith(".copy-")))
    // no source partition: the target partition stays as it was
    Layout.copySnapshot(spark, TableRef(root, Layout.formattedLayer, "apify", "none"), to,
      20250301, 900)
    assert(names(to, 900) == Seq("a_v1_900", "b_v1_900"))
    // a first copy of an empty source still leaves the table dir, as a write would
    val fresh = TableRef(root, Layout.usageLayer, "apify", "fresh")
    Layout.copySnapshot(spark, TableRef(root, Layout.formattedLayer, "apify", "none"), fresh,
      20250301, 900)
    assert(new java.io.File(fresh.dir).isDirectory)
    intercept[IllegalArgumentException](Layout.copySnapshot(spark, from,
      to.copy(dataSchema = Some(snap("x").schema)), 20250301, 900))
  }
}

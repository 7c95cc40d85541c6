package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** X47 pins beyond the hash gate (incremental == full recompute):
  * intermediate versions time-travel to the exact partial aggregates,
  * untouched groups pass through combines, and a crashed (staged but
  * uncommitted) increment is invisible to readers.
  */
class IncrementalAggSpec extends SparkSpec {

  private def batch(k: Int): DataFrame =
    Tables.events(spark, sf).where(pmod(col("event_id"), lit(3)) === k)

  private def fullAgg(df: DataFrame): Map[String, (Long, BigDecimal)] =
    IncrementalAgg.delta(df, Seq("event_type"), "value").collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  private def state(dir: String, v: Int): Map[String, (Long, BigDecimal)] =
    ManifestTable.readVersion(spark, dir, v).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  test("incr-agg: every intermediate version time-travels to its exact prefix aggregate") {
    val dir = graft.util.Scratch.dir("incr_spec")
    (0 until 3).foreach { k =>
      val v = IncrementalAgg.increment(spark, dir, batch(k),
        Seq("event_type"), "value", 20250301, 900 + k)
      assert(v == k + 1)
    }
    assert(state(dir, 1) == fullAgg(batch(0)))
    assert(state(dir, 2) == fullAgg(batch(0).unionByName(batch(1))))
    assert(state(dir, 3) == fullAgg(Tables.events(spark, sf)))
  }

  test("incr-agg: groups missing from a delta pass through a combine untouched") {
    val dir = graft.util.Scratch.dir("incr_spec2")
    IncrementalAgg.increment(spark, dir, batch(0), Seq("event_type"), "value", 20250301, 900)
    // an increment holding a single event type must leave the others as v1
    val one = batch(1).where(col("event_type") === "click")
    IncrementalAgg.increment(spark, dir, one, Seq("event_type"), "value", 20250301, 901)
    val v1 = state(dir, 1)
    val v2 = state(dir, 2)
    v1.keys.filter(_ != "click").foreach(k => assert(v2(k) == v1(k), s"group $k changed"))
    assert(v2("click") == fullAgg(batch(0).where(col("event_type") === "click")
      .unionByName(one))("click"))
  }

  test("incr-agg: a crashed increment (staged, no manifest) is invisible") {
    val dir = graft.util.Scratch.dir("incr_spec3")
    IncrementalAgg.increment(spark, dir, batch(0), Seq("event_type"), "value", 20250301, 900)
    val before = state(dir, 1)
    // simulate the crash between data staging and manifest publish
    ManifestTable.stageDataFiles(
      IncrementalAgg.delta(batch(1), Seq("event_type"), "value"), dir)
    assert(ManifestTable.latestVersion(spark, dir).contains(1))
    assert(state(dir, 1) == before)
    // and the retry completes normally on top
    val v = IncrementalAgg.increment(spark, dir, batch(1), Seq("event_type"), "value", 20250301, 901)
    assert(v == 2 && state(dir, 2) == fullAgg(batch(0).unionByName(batch(1))))
  }

  test("incr-agg: an increment landing while this one stages fails it and drops its files") {
    val dir = graft.util.Scratch.dir("incr_spec4")
    IncrementalAgg.increment(spark, dir, batch(0), Seq("event_type"), "value", 20250301, 900)
    val v1Dirs = ManifestTable.snapshots(spark, dir).head.files
      .map(_.split('/').dropRight(1).mkString("/")).toSet
    InterloperDuringJob.arm()
    intercept[LostRace](IncrementalAgg.increment(spark, dir,
      batch(1).where(InterloperDuringJob.during(dir)),
      Seq("event_type"), "value", 20250301, 901))
    // the interloper's v2 stands, and no version folds batch 1 onto v1
    // behind its back; the loser's staged dir is gone
    assert(ManifestTable.latestVersion(spark, dir).contains(2))
    assert(state(dir, 2) == state(dir, 1))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(st => s"data/${st.getPath.getName}").toSet == v1Dirs)
  }
}

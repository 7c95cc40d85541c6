package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.{CrashingCommit, InterloperCommit, ManifestTable}
import graft.sinks.Jdbc
import graft.sinks.Jdbc.JdbcConfig
import graft.util.Scratch

/** X112 incremental JDBC ingest: full first load, append-only increments,
  * version-less no-op when the source is quiet, and a watermark that
  * crashed or lost attempts leave where it was.
  */
class JdbcIncrSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = JdbcConfig(
    url = "jdbc:derby:memory:jincrspec;create=true",
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  test("first pull loads all, increments append, quiet source is a no-op") {
    val dir = Scratch.dir("jincr")
    Jdbc.append((1L to 5L).map(i => (i, i * 10)).toDF("wm", "v"), cfg, "inc_src")

    assert(JdbcIncr.pull(spark, cfg, "inc_src", "wm", dir, 20250601, 900).contains(1))
    assert(ManifestTable.readLatest(spark, dir).count() == 5)
    assert(JdbcIncr.committedWatermark(spark, dir).contains(5L))

    Jdbc.append((6L to 8L).map(i => (i, i * 10)).toDF("wm", "v"), cfg, "inc_src")
    assert(JdbcIncr.pull(spark, cfg, "inc_src", "wm", dir, 20250601, 1000).contains(2))
    val rows = ManifestTable.readLatest(spark, dir)
    assert(rows.count() == 8)
    // the increment appended ONLY the new rows: no row duplicated
    assert(rows.groupBy("wm").count().where(col("count") > 1).count() == 0)
    assert(JdbcIncr.committedWatermark(spark, dir).contains(8L))

    // nothing new at the source: no commit, no version, watermark holds
    assert(JdbcIncr.pull(spark, cfg, "inc_src", "wm", dir, 20250601, 1100).isEmpty)
    assert(ManifestTable.latestVersion(spark, dir).contains(2))
    assert(JdbcIncr.committedWatermark(spark, dir).contains(8L))
  }

  test("orphan sidecars above the committed latest are invisible") {
    val dir = Scratch.dir("jincr_orphan")
    Jdbc.append(Seq((1L, 10L)).toDF("wm", "v"), cfg, "inc_orph")
    JdbcIncr.pull(spark, cfg, "inc_orph", "wm", dir, 20250601, 900)

    // the next pull crashes at its commit point: its watermark never lands
    Jdbc.append(Seq((2L, 20L)).toDF("wm", "v"), cfg, "inc_orph")
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(
      JdbcIncr.pull(spark, cfg, "inc_orph", "wm", dir, 20250601, 950)))
    assert(JdbcIncr.committedWatermark(spark, dir).contains(1L))
    // and the re-run re-pulls from the COMMITTED watermark
    assert(JdbcIncr.pull(spark, cfg, "inc_orph", "wm", dir, 20250601, 1000).contains(2))
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
  }

  test("an always-losing pull leaves no watermark for the interlopers at its versions to adopt") {
    val dir = Scratch.dir("jincr_adopt")
    Jdbc.append((1L to 3L).map(i => (i, i)).toDF("wm", "v"), cfg, "inc_adopt")
    JdbcIncr.pull(spark, cfg, "inc_adopt", "wm", dir, 20250601, 900)
    Jdbc.append(Seq((4L, 4L)).toDF("wm", "v"), cfg, "inc_adopt")
    intercept[IllegalStateException](InterloperCommit.losing(spark, dir, Int.MaxValue)(
      JdbcIncr.pull(spark, cfg, "inc_adopt", "wm", dir, 20250601, 950)))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == (1 to 7))
    assert(JdbcIncr.committedWatermark(spark, dir).contains(3L))
    // the re-run pulls row 4 exactly once
    assert(JdbcIncr.pull(spark, cfg, "inc_adopt", "wm", dir, 20250601, 1000).contains(8))
    assert(ManifestTable.readLatest(spark, dir).where(col("wm") === 4L).count() == 1)
  }
}

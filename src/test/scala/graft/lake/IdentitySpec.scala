package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X121 identity columns: gapless monotonic ids across appends, atomic
  * high-water advance, crash-orphan invisibility, replay determinism.
  */
class IdentitySpec extends SparkSpec {
  import spark.implicits._

  test("ids are globally contiguous and ordered across appends") {
    val dir = Scratch.dir("ident_basic")
    Identity.appendWithIds((10L until 20L).toDF("k"), dir, "id", "k", 20250901, 900, parts = 3)
    Identity.appendWithIds((0L until 5L).toDF("k"), dir, "id", "k", 20250901, 1000, parts = 3)

    val rows = ManifestTable.readLatest(spark, dir)
      .orderBy("id").collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(rows.map(_._1).toSeq == (1L to 15L)) // gapless 1..N
    // batch 1 got 1..10 in k order; batch 2 got 11..15 in k order
    assert(rows.take(10).map(_._2).toSeq == (10L until 20L))
    assert(rows.drop(10).map(_._2).toSeq == (0L until 5L))
    assert(Identity.highWater(spark, dir) == 15L)
  }

  test("a crash-orphaned sidecar neither burns ids nor blocks the retry") {
    val dir = Scratch.dir("ident_crash")
    Identity.appendWithIds((0L until 5L).toDF("k"), dir, "id", "k", 20250901, 900)

    // the append crashes at its commit point: its ids stay unclaimed
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(
      Identity.appendWithIds((20L until 30L).toDF("k"), dir, "id", "k", 20250901, 950)))
    assert(Identity.highWater(spark, dir) == 5L)

    // the retry reissues the SAME range — no gap
    Identity.appendWithIds((10L until 13L).toDF("k"), dir, "id", "k", 20250901, 1000)
    val ids = ManifestTable.readLatest(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 8L))
  }

  test("a crashed identity append leaves no high water for a foreign commit at its version to adopt") {
    val dir = Scratch.dir("ident_adopt")
    Identity.appendWithIds((0L until 3L).toDF("k"), dir, "id", "k", 20250901, 900)
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(
      Identity.appendWithIds((5L until 7L).toDF("k"), dir, "id", "k", 20250901, 940)))
    // a metadata-only commit takes the crashed attempt's version
    Properties.set(spark, dir, Map("owner" -> "ops"), 20250901, 950)
    assert(Identity.highWater(spark, dir) == 3L)
    assert(Identity.appendWithIds((5L until 7L).toDF("k"), dir, "id", "k",
      20250901, 1000) == ((3, 5L)))
    val ids = ManifestTable.readLatest(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 5L))
  }

  test("replaying the same batches yields bit-identical ids") {
    def build(tag: String): Seq[(Long, Long)] = {
      val dir = Scratch.dir(tag)
      Identity.appendWithIds((0L until 50L).map(i => i * 7 % 50).toDF("k"),
        dir, "id", "k", 20250901, 900, parts = 4)
      ManifestTable.readLatest(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    }
    assert(build("ident_rep_a") == build("ident_rep_b"))
  }
}

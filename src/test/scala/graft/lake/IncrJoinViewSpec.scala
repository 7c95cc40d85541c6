package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** X88 incremental join view: per-step equivalence with a from-scratch
  * recompute, idempotent refresh, update-pair application, and inner-join
  * semantics for dimension misses.
  */
class IncrJoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def viewSet(df: DataFrame) =
    df.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
      "c_name", "c_mktsegment")
      .as[(Long, Long, Double, String, String, String)].collect().toSet

  test("every maintained view version equals the full recompute at that version") {
    val root = IncrJoinView.buildFixture(spark, sf)
    val dim = IncrJoinView.dimFor(spark, sf)
    for (v <- 1 to 4) {
      val maintained = viewSet(ManifestTable.readVersion(spark, s"$root/view", v))
      val recomputed = viewSet(
        ManifestTable.readVersion(spark, s"$root/fact", v)
          .join(dim, "o_custkey"))
      assert(maintained == recomputed, s"view v$v diverges from recompute")
      assert(maintained.nonEmpty)
    }
  }

  test("refresh with no new fact versions commits nothing") {
    val root = IncrJoinView.buildFixture(spark, sf)
    val before = ManifestTable.latestVersion(spark, s"$root/view")
    val v = IncrJoinView.refresh(spark, s"$root/fact", s"$root/view",
      IncrJoinView.dimFor(spark, sf),
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
      "o_custkey", 20250801, 1400)
    assert(ManifestTable.latestVersion(spark, s"$root/view") == before)
    assert(Some(v) == before)
  }

  test("payload update arrives as an add/delete pair and lands exactly once") {
    val root = IncrJoinView.buildFixture(spark, sf)
    // keys updated at v3 and still alive at v3: price bumped by exactly 1
    val v2 = ManifestTable.readVersion(spark, s"$root/fact", 2)
      .where($"o_orderkey" % 7 === 2)
      .select($"o_orderkey", $"o_totalprice".as("old_price"))
    val got = ManifestTable.readVersion(spark, s"$root/view", 3)
      .join(v2, "o_orderkey")
      .select($"o_orderkey", $"o_totalprice", $"old_price")
      .as[(Long, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (k, now, old) =>
      assert(now == old + 1, s"key $k: expected ${old + 1}, got $now")
    }
    // and exactly once: no duplicate keys in the view
    val dups = ManifestTable.readVersion(spark, s"$root/view", 3)
      .groupBy("o_orderkey").count().where($"count" > 1).count()
    assert(dups == 0)
  }

  test("fact rows without a dim match stay out of the view (inner semantics)") {
    val root = graft.util.Scratch.dir("ijv_inner")
    val fact = Seq((1L, 10L, 5.0), (2L, 99L, 7.0)).toDF("k", "fk", "x")
    val dim = Seq((10L, "ten")).toDF("fk", "label")
    ManifestTable.commit(fact, s"$root/fact", 20250801, 900)
    // append another dim-miss and a dim-hit
    ManifestTable.commit(
      fact.unionByName(Seq((3L, 98L, 1.0), (4L, 10L, 2.0)).toDF("k", "fk", "x")),
      s"$root/fact", 20250801, 1000)
    IncrJoinView.refresh(spark, s"$root/fact", s"$root/view", dim,
      Seq("k", "fk", "x"), "fk", 20250801, 1100)
    val got = ManifestTable.readLatest(spark, s"$root/view")
      .select("k").as[Long].collect().toSet
    assert(got == Set(1L, 4L))
  }

  test("a refresh landing while this one stages fails it instead of shifting the view") {
    val root = graft.util.Scratch.dir("ijv_race")
    val fact = Seq((1L, 10L, 5.0), (2L, 10L, 7.0)).toDF("k", "fk", "x")
    val dim = Seq((10L, "ten")).toDF("fk", "label")
    ManifestTable.commit(fact, s"$root/fact", 20250801, 900)
    IncrJoinView.refresh(spark, s"$root/fact", s"$root/view", dim,
      Seq("k", "fk", "x"), "fk", 20250801, 1000)
    ManifestTable.commit(fact.unionByName(Seq((3L, 10L, 1.0)).toDF("k", "fk", "x")),
      s"$root/fact", 20250801, 1100)
    InterloperDuringJob.arm()
    intercept[LostRace](IncrJoinView.refresh(spark, s"$root/fact", s"$root/view",
      dim.where(InterloperDuringJob.during(s"$root/view")),
      Seq("k", "fk", "x"), "fk", 20250801, 1200))
    // view v2 is the interloper's, not a step published on top of it as v3
    assert(ManifestTable.latestVersion(spark, s"$root/view").contains(2))
  }
}

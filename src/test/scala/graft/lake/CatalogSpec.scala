package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X99: multi-table atomic commits — a catalog version is a consistent
  * cross-table cut; the catalog rename is THE commit point of a
  * transaction, so a crash between table commits and the publish leaves
  * every catalog reader on the old cut for every table.
  */
class CatalogSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_catalog").toString

  private def rows(root: String, tbl: String, asOf: Option[Int] = None): Set[(Long, String)] =
    Catalog.readTable(spark, root, tbl, asOf)
      .as[(Long, String)].collect().toSet

  test("transaction is all-or-nothing: crash before publish serves the old cut") {
    val root = tmpRoot()
    Catalog.transact(spark, root, 20250301, 900, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")))
    // tx2 crashes AFTER both table logs committed, BEFORE the catalog
    // publish — the exact torn window the reference's two-step DAG has
    val staged = Catalog.commitTableVersions(root, 20250301, 1000, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v"),
      "b" -> Seq((1L, "b2")).toDF("id", "v")))
    assert(staged == Map("a" -> 2, "b" -> 2))
    assert(Catalog.latestVersion(spark, root) == Some(1))
    assert(rows(root, "a") == Set((1L, "a1")), "catalog reader saw an unpublished table commit")
    assert(rows(root, "b") == Set((1L, "b1")))
    // the retried job completes the publish: both tables flip together
    val cv = Catalog.publishCatalog(spark, root, 20250301, 1000, staged)
    assert(cv == 2)
    assert(rows(root, "a") == Set((1L, "a2")))
    assert(rows(root, "b") == Set((1L, "b2")))
    // and the old cut stays time-travelable
    assert(rows(root, "a", Some(1)) == Set((1L, "a1")))
    assert(rows(root, "b", Some(1)) == Set((1L, "b1")))
  }

  test("partial-table transactions overlay the previous cut") {
    val root = tmpRoot()
    Catalog.transact(spark, root, 20250301, 900, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")))
    Catalog.transact(spark, root, 20250301, 1000, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")))
    assert(rows(root, "a") == Set((1L, "a2")))
    assert(rows(root, "b") == Set((1L, "b1")), "untouched table must carry forward")
  }

  test("lost catalog race rebases the cut instead of dropping the other writer") {
    val root = tmpRoot()
    Catalog.transact(spark, root, 20250301, 900, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")))
    val w1 = Catalog.commitTableVersions(root, 20250301, 1000, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v")))
    // writer 2 publishes FIRST (wins the race for catalog v2)
    val w2 = Catalog.commitTableVersions(root, 20250301, 1001, Seq(
      "b" -> Seq((1L, "b2")).toDF("id", "v")))
    assert(Catalog.publishCatalog(spark, root, 20250301, 1001, w2) == 2)
    // writer 1's publish loses the v2 rename, retries, lands at v3 with
    // BOTH transactions' effects in the final cut
    assert(Catalog.publishCatalog(spark, root, 20250301, 1000, w1) == 3)
    assert(rows(root, "a") == Set((1L, "a2")))
    assert(rows(root, "b") == Set((1L, "b2")), "lost race dropped the winner's tables")
    // middle cut: writer 2 only
    assert(rows(root, "a", Some(2)) == Set((1L, "a1")))
    assert(rows(root, "b", Some(2)) == Set((1L, "b2")))
  }

  test("X224 catalog-wide AS OF: one cut for every table at a stamp; interleaved clocks never mix") {
    val root = tmpRoot()
    Catalog.transact(spark, root, 20250301, 900, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v"),
      "b" -> Seq((1L, "b1")).toDF("id", "v")))
    // table `a` advances OUTSIDE any cut (its own clock interleaves)
    ManifestTable.appendRetrying(Seq((9L, "stray")).toDF("id", "v"),
      s"$root/a", 20250301, 950)
    Catalog.transact(spark, root, 20250301, 1000, Seq(
      "a" -> Seq((1L, "a2")).toDF("id", "v"),
      "b" -> Seq((1L, "b2")).toDF("id", "v")))
    // a stamp between the cuts serves BOTH tables from cut 1 — the
    // stray per-table commit at 950 is invisible (a per-table asOfDate
    // would have served it, mixing worlds)
    def vAt(t: String, time: Int): String =
      Catalog.readTableAsOf(spark, root, t, 20250301, time)
        .orderBy("id").select("v").as[String].collect().head
    assert(vAt("a", 970) === "a1" && vAt("b", 970) === "b1")
    assert(vAt("a", 1200) === "a2" && vAt("b", 1200) === "b2")
    // a stamp predating every cut refuses
    val e = intercept[NoSuchElementException](
      Catalog.readTableAsOf(spark, root, "a", 20250301, 800))
    assert(e.getMessage.contains("no catalog cut"))
  }

  test("unknown table and unknown catalog version fail loudly") {
    val root = tmpRoot()
    Catalog.transact(spark, root, 20250301, 900, Seq(
      "a" -> Seq((1L, "a1")).toDF("id", "v")))
    intercept[NoSuchElementException](Catalog.readTable(spark, root, "nope"))
    intercept[NoSuchElementException](Catalog.readTable(spark, root, "a", Some(9)))
    intercept[IllegalArgumentException](
      Catalog.commitTableVersions(root, 20250301, 901, Seq(
        "_catalog" -> Seq((1L, "x")).toDF("id", "v"))))
  }

  test("X126: crash between table deletes and publish leaves every reader pre-delete") {
    import org.apache.spark.sql.functions._
    val root = Scratch.dir("gdpr_crash")
    Catalog.transact(spark, root, 20250901, 900, Seq(
      "a" -> (0L until 40L).map(i => (i, i)).toDF("uid", "v"),
      "b" -> (0L until 40L).map(i => (i, -i)).toDF("uid", "w")))

    // the per-table delete commits land...
    val tvs = Seq("a", "b").map(t => t ->
      DeleteVectors.deleteWhere(spark, s"$root/$t",
        col("uid") % 4 === 1, 20250901, 1000)).toMap
    // ...but the publish "crashes": both tables still serve PRE-delete
    assert(Catalog.readTable(spark, root, "a").count() == 40)
    assert(Catalog.readTable(spark, root, "b").count() == 40)

    // the completing publish flips both at once
    Catalog.publishCatalog(spark, root, 20250901, 1001, tvs)
    assert(Catalog.readTable(spark, root, "a").count() == 30)
    assert(Catalog.readTable(spark, root, "b").count() == 30)
  }

  test("X126: deleteWhereAll forgets a cohort atomically; unknown tables refuse") {
    import org.apache.spark.sql.functions._
    val root = Scratch.dir("gdpr_all")
    Catalog.transact(spark, root, 20250901, 900, Seq(
      "a" -> (0L until 20L).map(i => (i, i)).toDF("uid", "v"),
      "b" -> (0L until 20L).map(i => (i, -i)).toDF("uid", "w")))
    Catalog.deleteWhereAll(spark, root, 20250901, 1000, Seq(
      "a" -> (col("uid") < 5), "b" -> (col("uid") < 5)))
    assert(Catalog.readTable(spark, root, "a").where(col("uid") < 5).count() == 0)
    assert(Catalog.readTable(spark, root, "b").where(col("uid") < 5).count() == 0)
    // pre-delete cut intact
    assert(Catalog.readTable(spark, root, "a", Some(1)).count() == 20)
    intercept[IllegalArgumentException](
      Catalog.deleteWhereAll(spark, root, 20250901, 1100,
        Seq("nope" -> (col("uid") < 5))))
  }
}

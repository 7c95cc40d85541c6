package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X110 column mapping: renames are metadata-only and map already-written
  * files; physical names stay rename-proof on append; drop + re-add never
  * resurrects old bytes; time travel serves era-correct logical names.
  */
class ColumnMapSpec extends SparkSpec {
  import spark.implicits._

  test("rename is metadata-only and maps old files; time travel keeps old names") {
    val dir = Scratch.dir("colmap_rename")
    ColumnMap.create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"), dir, 20250601, 900)
    ColumnMap.renameColumn(spark, dir, "price", "amount")

    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.map(_.version) == Seq(1, 2))
    // metadata-only: v2 carries v1's exact file list, no data rewritten
    assert(snaps(1).files == snaps(0).files && snaps(1).op == "rename")

    val latest = ColumnMap.read(spark, dir)
    assert(latest.columns.toSeq == Seq("k", "amount"))
    assert(latest.agg(sum("amount")).head.getDouble(0) == 30.0)
    // time travel to v1 serves the pre-rename logical name
    assert(ColumnMap.read(spark, dir, Some(1)).columns.toSeq == Seq("k", "price"))
  }

  test("append after rename stores the field's original physical name") {
    val dir = Scratch.dir("colmap_append")
    ColumnMap.create(Seq((1L, 10.0)).toDF("k", "price"), dir, 20250601, 900)
    ColumnMap.renameColumn(spark, dir, "price", "amount")
    ColumnMap.append(Seq((2L, 20.0)).toDF("k", "amount"), dir, 20250601, 1000)

    // the appended file's parquet schema carries the PHYSICAL name
    val appended = ManifestTable.snapshots(spark, dir).last.files
      .filterNot(ManifestTable.snapshots(spark, dir).head.files.contains)
    assert(appended.nonEmpty)
    val raw = spark.read.parquet(appended.map(f => s"$dir/$f"): _*)
    assert(raw.columns.contains("price") && !raw.columns.contains("amount"))
    // ...while reads serve the logical name across both eras of files
    assert(ColumnMap.read(spark, dir).agg(sum("amount")).head.getDouble(0) == 30.0)
  }

  test("drop + re-add mints a fresh physical name; old bytes never resurrect") {
    val dir = Scratch.dir("colmap_readd")
    ColumnMap.create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amount"), dir, 20250601, 900)
    ColumnMap.dropColumn(spark, dir, "amount")
    assert(ColumnMap.read(spark, dir).columns.toSeq == Seq("k"))
    ColumnMap.addColumn(spark, dir, "amount", "double")

    // old rows: NULL (the files still HOLD the old bytes, but under a
    // physical name the new field id does not map to)
    val nulls = ColumnMap.read(spark, dir).where(col("amount").isNotNull).count()
    assert(nulls == 0)
    ColumnMap.append(Seq((3L, 99.0)).toDF("k", "amount"), dir, 20250601, 1000)
    val rows = ColumnMap.read(spark, dir).orderBy("k").collect()
    assert(rows.map(r => Option(r.get(1))).toSeq == Seq(None, None, Some(99.0)))
  }

  test("name collisions and unknown columns are refused") {
    val dir = Scratch.dir("colmap_refuse")
    ColumnMap.create(Seq((1L, 10.0)).toDF("k", "price"), dir, 20250601, 900)
    intercept[IllegalArgumentException](
      ColumnMap.renameColumn(spark, dir, "price", "k"))
    intercept[IllegalArgumentException](
      ColumnMap.renameColumn(spark, dir, "nope", "x"))
    intercept[IllegalArgumentException](
      ColumnMap.addColumn(spark, dir, "price", "double"))
    intercept[IllegalArgumentException](
      ColumnMap.append(Seq((2L, 1.0)).toDF("k", "wrong"), dir, 20250601, 1000))
    // refusals are side-effect-free: still at v1 with the original schema
    assert(ManifestTable.latestVersion(spark, dir).contains(1))
    assert(ColumnMap.read(spark, dir).columns.toSeq == Seq("k", "price"))
  }

  test("X208 appendEvolve: new columns land with the data in ONE commit; subsets null-fill") {
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap_ev").toString
    ColumnMap.create(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"),
      dir, 20250601, 900)
    // batch carries a NEW column and omits `price`: one atomic version
    ColumnMap.appendEvolve(Seq((3L, "x"), (4L, "y")).toDF("k", "tag"),
      dir, 20250601, 1000)
    assert(ManifestTable.latestVersion(spark, dir).contains(2),
      "evolution and data must be one commit, not schema-then-data")
    val latest = ColumnMap.read(spark, dir)
    assert(latest.columns.toSeq === Seq("k", "price", "tag"))
    assert(latest.where(col("tag").isNull).count() === 2, "old rows null tag")
    assert(latest.where(col("price").isNull).count() === 2, "subset write null-fills")
    // era-correct: v1 has no `tag`
    assert(!ColumnMap.read(spark, dir, Some(1)).columns.contains("tag"))
    // a later plain append still requires the full evolved schema
    ColumnMap.append(Seq((5L, 50.0, "z")).toDF("k", "price", "tag"),
      dir, 20250601, 1100)
    assert(ColumnMap.read(spark, dir).count() === 5)
    // an evolve-append with no new columns degrades to a plain append
    ColumnMap.appendEvolve(Seq((6L, 60.0, "w")).toDF("k", "price", "tag"),
      dir, 20250601, 1200)
    assert(ColumnMap.read(spark, dir).count() === 6)
  }

  test("column names with quotes and backslashes round-trip through the mapping") {
    val dir = Scratch.dir("colmap_quote")
    ColumnMap.create(Seq((1L, 10.0)).toDF("k", "a\"b"), dir, 20250601, 900)
    ColumnMap.renameColumn(spark, dir, "a\"b", "c\"d\\e")
    val got = ColumnMap.read(spark, dir)
    assert(got.columns.toSeq == Seq("k", "c\"d\\e"))
    assert(got.head.getDouble(1) == 10.0)
    assert(ColumnMap.read(spark, dir, Some(1)).columns.toSeq == Seq("k", "a\"b"))
  }
}

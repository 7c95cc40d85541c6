package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** X172 — predicate-scoped replacement as one commit. */
class ReplaceWhereSpec extends SparkSpec {

  import spark.implicits._

  private def commitClustered(dir: String): Unit = {
    val df = (1L to 80L).map(k => (k, s"old$k")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    ZoneMap.commitWithStats(df, dir, 20250801, 900, Seq("k"))
  }

  /** The `data/` dirs the committed manifests reference a file in. */
  private def committedDirs(dir: String): Set[String] =
    ManifestTable.snapshots(spark, dir).flatMap(_.files).map(_.split('/')(1)).toSet

  test("result is exactly (old minus band) union new; prior version time-travels") {
    val dir = graft.util.Scratch.dir("rw_basic")
    commitClustered(dir)
    val batch = (30L to 50L).map(k => (k, s"new$k")).toDF("k", "v")
    val v = ReplaceWhere.replaceWhere(spark, dir, "k", 30, 50, batch,
      20250802, 900, Seq("k"))
    assert(v === 2)
    val got = ManifestTable.readLatest(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 80)
    (1L to 80L).foreach { k =>
      val want = if (k >= 30 && k <= 50) s"new$k" else s"old$k"
      assert(got(k) === want, s"k=$k")
    }
    // the previous version is untouched
    assert(ManifestTable.readVersion(spark, dir, 1)
      .where(col("v").startsWith("new")).count() === 0L)
  }

  test("band-disjoint files are retained BY REFERENCE, not rewritten") {
    val dir = graft.util.Scratch.dir("rw_retain")
    commitClustered(dir)
    val before = ManifestTable.snapshots(spark, dir).last
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    val disjoint = stats.filter(s => s.hi("k") < 30 || s.lo("k") > 50).map(_.file)
    assert(disjoint.nonEmpty, "fixture must have provably-disjoint files")
    ReplaceWhere.replaceWhere(spark, dir,
      "k", 30, 50, Seq((31L, "x")).toDF("k", "v"), 20250802, 900, Seq("k"))
    val after = ManifestTable.snapshots(spark, dir).last
    disjoint.foreach(f => assert(after.files.contains(f),
      s"disjoint file $f must carry over by reference"))
    // and the carried-over stats entries still prune: a probe fully below
    // the band only opens the retained low files
    val cand = ZoneMap.candidateFiles(spark, dir, after.version, "k", 1, 5)
    assert(cand.toSet.subsetOf(disjoint.toSet), s"low probe opened $cand")
  }

  test("an out-of-band row in the new batch refuses the whole commit") {
    val dir = graft.util.Scratch.dir("rw_refuse")
    commitClustered(dir)
    val e = intercept[IllegalArgumentException](ReplaceWhere.replaceWhere(
      spark, dir, "k", 30, 50,
      Seq((31L, "ok"), (99L, "leak")).toDF("k", "v"), 20250802, 900, Seq("k")))
    assert(e.getMessage.contains("outside"))
    assert(ManifestTable.latestVersion(spark, dir) === Some(1),
      "refusal must commit nothing")
    // stage-first validation (round-7 ADVICE): the refused batch's staged
    // files are cleaned up — no orphaned data/w* dirs accumulate
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(s"$dir/data")
    val staged = fs.listStatus(dataDir).map(_.getPath.getName).toSet --
      committedDirs(dir)
    assert(staged.isEmpty, s"refusal left staged dirs: ${staged.mkString(",")}")
  }

  test("STRING band: out-of-band files retained by reference (X78 bounds)") {
    val dir = graft.util.Scratch.dir("rw_str")
    // four files clustered on a yyyy-MM-dd day string, one month each
    val rows = for (m <- 1 to 4; d <- 1 to 20)
      yield (f"2025-0$m%d-$d%02d", s"old-$m-$d")
    val df = rows.toDF("day", "v").repartitionByRange(4, col("day"))
    ZoneMap.commitWithStats(df, dir, 20250801, 900, Nil, strCols = Seq("day"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    val disjoint = stats.filter(s =>
      s.shi("day") < "2025-02-01" || s.slo("day") > "2025-02-28").map(_.file)
    assert(disjoint.nonEmpty, "fixture must have provably-disjoint files")
    val batch = (1 to 20).map(d => (f"2025-02-$d%02d", s"new-2-$d")).toDF("day", "v")
    ReplaceWhere.replaceWhere(spark, dir,
      ReplaceWhere.StringBand("day", "2025-02-01", "2025-02-28"),
      batch, 20250802, 900, Nil, strCols = Seq("day"))
    val after = ManifestTable.snapshots(spark, dir).last
    disjoint.foreach(f => assert(after.files.contains(f),
      s"string-band-disjoint file $f must carry over by reference"))
    val got = ManifestTable.readLatest(spark, dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size === 80)
    assert(got("2025-02-05") === "new-2-5" && got("2025-03-05") === "old-3-5")
  }

  test("replaceValues: inferred value-set replaces exactly the batch's partitions; X168 evidence retains the rest by reference") {
    val dir = graft.util.Scratch.dir("rw_vals")
    val rows = for (p <- Seq("a", "b", "c", "d"); i <- 1 to 20)
      yield (s"$p$i", p, s"old-$p-$i")
    ZoneMap.commitWithStats(
      rows.toDF("id", "part", "v").repartitionByRange(4, col("part")),
      dir, 20250801, 900, Nil, setCols = Seq("part"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    val disjoint = stats.filter(s =>
      s.vals("part").toSet.intersect(Set("b", "d")).isEmpty).map(_.file)
    assert(disjoint.nonEmpty, "fixture must have value-disjoint files")
    // the batch DEFINES the scope: partitions b and d reload
    val batch = (for (p <- Seq("b", "d"); i <- 1 to 10)
      yield (s"$p$i", p, s"new-$p-$i")).toDF("id", "part", "v")
    ReplaceWhere.replaceValues(spark, dir, "part", batch, 20250802, 900)
    val after = ManifestTable.snapshots(spark, dir).last
    disjoint.foreach(f => assert(after.files.contains(f),
      s"value-disjoint file $f must carry over by reference"))
    val got = ManifestTable.readLatest(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got.count(_._1 == "a") === 20 && got.count(_._1 == "b") === 10)
    assert(got.filter(_._1 == "b").forall(_._2.startsWith("new")))
    assert(got.filter(_._1 == "a").forall(_._2.startsWith("old")))
    // and the NEW files carry value-set stats too: a second reload of b
    // retains d's fresh file by evidence
    val batch2 = (1 to 5).map(i => (s"b$i", "b", s"newer-b-$i")).toDF("id", "part", "v")
    ReplaceWhere.replaceValues(spark, dir, "part", batch2, 20250803, 900)
    val v3 = ManifestTable.readLatest(spark, dir)
    assert(v3.where(col("part") === "b").count() === 5)
    assert(v3.where(col("part") === "d").count() === 10)
  }

  test("replaceValues: an empty batch and an over-wide batch both refuse with nothing committed") {
    val dir = graft.util.Scratch.dir("rw_vals_refuse")
    ZoneMap.commitWithStats(
      (1L to 20L).map(k => (k, s"p${k % 4}", s"v$k")).toDF("id", "part", "v"),
      dir, 20250801, 900, Nil, setCols = Seq("part"))
    val empty = Seq.empty[(Long, String, String)].toDF("id", "part", "v")
    val e1 = intercept[IllegalArgumentException](
      ReplaceWhere.replaceValues(spark, dir, "part", empty, 20250802, 900))
    assert(e1.getMessage.contains("no non-null"))
    val wide = (1L to 20L).map(k => (k, s"q$k", s"w$k")).toDF("id", "part", "v")
    val e2 = intercept[IllegalArgumentException](
      ReplaceWhere.replaceValues(spark, dir, "part", wide, 20250802, 900,
        maxValues = 10))
    assert(e2.getMessage.contains("distinct"))
    assert(ManifestTable.latestVersion(spark, dir) === Some(1))
    // refusals leave no staged garbage
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).toSet -- committedDirs(dir)
    assert(staged.isEmpty, s"refusal left staged dirs: ${staged.mkString(",")}")
  }

  test("arbitrary-predicate scope rewrites everything but answers right") {
    val dir = graft.util.Scratch.dir("rw_pred")
    commitClustered(dir)
    ReplaceWhere.replaceWhere(spark, dir,
      ReplaceWhere.Predicate(col("k") % 10 === 0),
      Seq((10L, "N10"), (20L, "N20"), (30L, "N30"), (40L, "N40"),
        (50L, "N50"), (60L, "N60"), (70L, "N70"), (80L, "N80")).toDF("k", "v"),
      20250802, 900, Seq("k"))
    val got = ManifestTable.readLatest(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 80)
    (1L to 80L).foreach { k =>
      val want = if (k % 10 == 0) s"N$k" else s"old$k"
      assert(got(k) === want, s"k=$k")
    }
    // no disjointness evidence for a general predicate: nothing retained
    val v1 = ManifestTable.snapshots(spark, dir).head.files.toSet
    val v2 = ManifestTable.snapshots(spark, dir).last.files.toSet
    assert(v1.intersect(v2).isEmpty)
  }

  test("NULL predicate-column rows never match — they survive the replace") {
    val dir = graft.util.Scratch.dir("rw_null")
    val df = Seq((Some(10L), "a"), (None: Option[Long], "null-row"),
      (Some(40L), "b")).toDF("k", "v")
    ZoneMap.commitWithStats(df, dir, 20250801, 900, Seq("k"))
    ReplaceWhere.replaceWhere(spark, dir, "k", 30, 50,
      Seq((40L, "b2")).toDF("k", "v"), 20250802, 900, Seq("k"))
    val vs = ManifestTable.readLatest(spark, dir)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(vs === Seq("a", "b2", "null-row"))
  }

  test("a stats-less table rewrites everything but still answers right") {
    val dir = graft.util.Scratch.dir("rw_nostats")
    ManifestTable.commit((1L to 20L).map(k => (k, s"old$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), dir, 20250801, 900)
    ReplaceWhere.replaceWhere(spark, dir, "k", 5, 10,
      (5L to 10L).map(k => (k, s"new$k")).toDF("k", "v"), 20250802, 900, Seq("k"))
    val got = ManifestTable.readLatest(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 20L).foreach { k =>
      val want = if (k >= 5 && k <= 10) s"new$k" else s"old$k"
      assert(got(k) === want)
    }
    // no stats = no retention evidence: no v1 file may carry over
    val v1 = ManifestTable.snapshots(spark, dir).head.files.toSet
    val v2 = ManifestTable.snapshots(spark, dir).last.files.toSet
    assert(v1.intersect(v2).isEmpty, "absence of stats must never retain")
  }

  test("X64 tombstones on retained files still subtract after the replace") {
    val dir = graft.util.Scratch.dir("rw_dv")
    commitClustered(dir)
    // tombstone a row far from the band (lives in a retained file)
    DeleteVectors.deleteWhere(spark, dir, col("k") === 3L, 20250801, 930)
    ReplaceWhere.replaceWhere(spark, dir, "k", 30, 50,
      (30L to 50L).map(k => (k, s"new$k")).toDF("k", "v"), 20250802, 900, Seq("k"))
    val rows = ManifestTable.readLatest(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!rows.contains(3L), "tombstone must survive the replace")
    assert(rows.contains(31L) && rows.contains(2L))
  }
}

package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X57 zone maps: pruning is real (files actually skipped), invisible
  * (same rows as a full scan), and safe (no sidecar → no pruning).
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def keyedRows = (0L until 800L).map(i => (i, i % 7, s"r$i"))
    .toDF("k", "grp", "payload")

  test("pruned range read returns exactly the full-scan-and-filter rows") {
    val dir = Scratch.dir("zm_correct")
    ZoneMap.commitWithStats(keyedRows.repartitionByRange(8, $"k"),
      dir, 20250401, 900, Seq("k"))
    val pruned = ZoneMap.readRange(spark, dir, 1, "k", 250, 449)
      .select("k").as[Long].collect().sorted
    assert(pruned.toSeq == (250L to 449L))
  }

  test("zone map actually skips files on a range-clustered commit") {
    val dir = Scratch.dir("zm_skip")
    ZoneMap.commitWithStats(keyedRows.repartitionByRange(8, $"k"),
      dir, 20250401, 900, Seq("k"))
    val total = ManifestTable.snapshots(spark, dir).head.files.size
    val cand = ZoneMap.candidateFiles(spark, dir, 1, "k", 300, 399)
    assert(total == 8)
    // 100 keys out of 800 across 8 range files → at most 2 straddling files.
    assert(cand.size <= 2, s"expected <=2 candidate files, got ${cand.size}")
    // And stats must never prune a file that holds matching rows:
    val full = spark.read.parquet(
      ManifestTable.snapshots(spark, dir).head.files.map(f => s"$dir/$f"): _*)
      .where($"k".between(300, 399)).count()
    val viaCand = spark.read.parquet(cand.map(f => s"$dir/$f"): _*)
      .where($"k".between(300, 399)).count()
    assert(full == viaCand)
  }

  test("no sidecar → all files stay candidates (plain X39 commit)") {
    val dir = Scratch.dir("zm_nosidecar")
    ManifestTable.commit(keyedRows, dir, 20250401, 900)
    val all = ManifestTable.snapshots(spark, dir).head.files
    assert(ZoneMap.candidateFiles(spark, dir, 1, "k", 0, 10) == all)
  }

  test("disjoint predicate range prunes everything yet still answers") {
    val dir = Scratch.dir("zm_empty")
    ZoneMap.commitWithStats(keyedRows.repartitionByRange(4, $"k"),
      dir, 20250401, 900, Seq("k"))
    assert(ZoneMap.candidateFiles(spark, dir, 1, "k", 5000, 6000).isEmpty)
    assert(ZoneMap.readRange(spark, dir, 1, "k", 5000, 6000).count() == 0)
  }

  test("stats sidecar lands before the manifest: commit remains the rename") {
    val dir = Scratch.dir("zm_atomic")
    ZoneMap.commitWithStats(keyedRows, dir, 20250401, 900, Seq("k"))
    // Version 2 staged without manifest (crash window) — stats or not,
    // readers still resolve only v1.
    ManifestTable.stageDataFiles(keyedRows.where($"k" < 10), dir)
    assert(ManifestTable.latestVersion(spark, dir).contains(1))
    assert(ZoneMap.fileStats(spark, dir, 1).nonEmpty)
  }

  test("X69: full count answered from stats alone, range count scans only straddlers") {
    val dir = Scratch.dir("zm_count")
    ZoneMap.commitWithStats(keyedRows.repartitionByRange(8, $"k"),
      dir, 20250401, 900, Seq("k"))
    assert(ZoneMap.metaCount(spark, dir, 1).contains(800L))
    // 100-key files; [250, 449] covers files [200,299]..[400,499] with the
    // endpoints straddling: 1 fully-inside file, 2 boundary scans
    val (skip, inside, straddle) = ZoneMap.classifyRange(spark, dir, 1, "k", 250, 449)
    assert(skip.size + inside.size + straddle.size == 8)
    assert(inside.nonEmpty && straddle.size <= 2,
      s"classification skip=${skip.size} inside=${inside.size} straddle=${straddle.size}")
    val (cnt, scanned) = ZoneMap.countRange(spark, dir, 1, "k", 250, 449)
    assert(cnt == 200L)
    assert(scanned == straddle.size && scanned <= 2)
    // a range aligned exactly on file boundaries scans nothing at all
    val (cnt2, scanned2) = ZoneMap.countRange(spark, dir, 1, "k", 200, 499)
    assert(cnt2 == 300L && scanned2 == 0)
    // min/max answer from stats alone, exactly (bounds are attained values)
    assert(ZoneMap.metaMinMax(spark, dir, 1, "k").contains((0L, 799L)))
    assert(ZoneMap.metaMinMax(spark, dir, 1, "nosuchcol").isEmpty)
  }

  test("X78: string bounds prune files lexicographically and stay invisible") {
    val dir = Scratch.dir("zm_str")
    val rows = (0 until 600).map { i =>
      (i.toLong, f"2025-${1 + i / 50}%02d-${1 + i % 28}%02d") // 12 months
    }.toDF("id", "day")
    ZoneMap.commitWithStats(rows.repartitionByRange(6, $"day"),
      dir, 20250401, 900, Nil, strCols = Seq("day"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    assert(stats.forall(s => s.slo.contains("day") && s.shi("day") >= s.slo("day")))
    // the March–April window lives in a prefix of the range-clustered
    // files; the pruned read must equal the full filter
    val got = ZoneMap.readRangeStr(spark, dir, 1, "day", "2025-03-01", "2025-04-31")
      .select("id").as[Long].collect().toSet
    val expect = rows.where($"day".between("2025-03-01", "2025-04-31"))
      .select("id").as[Long].collect().toSet
    assert(got == expect && expect.nonEmpty)
    // pruning is real: a one-day window touches fewer files than exist
    val oneDay = stats.count(s =>
      s.shi("day") >= "2025-06-01" && s.slo("day") <= "2025-06-01")
    assert(oneDay < stats.size, "string bounds pruned nothing")
    // disjoint window: empty but answerable
    assert(ZoneMap.readRangeStr(spark, dir, 1, "day", "2030-01-01", "2030-12-31")
      .count() == 0)
  }

  test("X69: a pre-X69 sidecar without row counts degrades to scanning, never guesses") {
    val dir = Scratch.dir("zm_oldstats")
    ZoneMap.commitWithStats(keyedRows.repartitionByRange(4, $"k"),
      dir, 20250401, 900, Seq("k"))
    // write the sidecar the way the pre-X69 writer did (no "rows" field)
    // — the parser must fill the -1 default
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00000001.stats.json")
    val rowsLess = ZoneMap.fileStats(spark, dir, 1).get.map(s =>
      s"""{"file": "${s.file}", "lo": {"k": ${s.lo("k")}}, "hi": {"k": ${s.hi("k")}}}""")
      .mkString("[", ",\n ", "]")
    val out = fs.create(p, true)
    try out.write(rowsLess.getBytes("UTF-8")) finally out.close()
    assert(ZoneMap.fileStats(spark, dir, 1).get.forall(_.rows == -1L))
    assert(ZoneMap.metaCount(spark, dir, 1).isEmpty)
    val (cnt, scanned) = ZoneMap.countRange(spark, dir, 1, "k", 100, 299)
    assert(cnt == 200L)
    assert(scanned > 0, "rows-less stats cannot answer from metadata")
  }

  test("X69: stats-only answers degrade to scanning on a version with tombstones") {
    val dir = Scratch.dir("zm_count_dv")
    ManifestTable.commit(keyedRows.repartitionByRange(4, $"k"), dir, 20250401, 900)
    DeleteVectors.deleteWhere(spark, dir, $"k" < 100L, 20250401, 1000)
    ZoneMap.analyze(spark, dir)
    // the entries count raw rows: 800 of them, but only 700 are live and
    // the smallest live key is 100
    assert(ZoneMap.fileStats(spark, dir, 2).get.map(_.rows).sum == 800L)
    assert(ZoneMap.metaCount(spark, dir, 2).isEmpty)
    assert(ZoneMap.metaMinMax(spark, dir, 2, "k").isEmpty)
    val (_, inside, straddle) = ZoneMap.classifyRange(spark, dir, 2, "k", 0, 799)
    assert(inside.isEmpty && straddle.size == 4)
    assert(ZoneMap.countRange(spark, dir, 2, "k", 0, 199)._1 == 100L)
    assert(ZoneMap.countRange(spark, dir, 2, "k", 0, 799)._1 == 700L)
  }

  test("a file whose column is all null records no bounds for it, so stats-only answers never see a 0") {
    val dir = Scratch.dir("zm_allnull")
    val rows = Seq[(Option[Long], Option[String], Int)]((None, None, 0), (None, None, 0),
      (Some(5L), Some("m"), 1), (Some(9L), Some("q"), 1)).toDF("k", "s", "f")
    ZoneMap.commitWithStats(rows.repartitionByRange(2, $"f"), dir, 20250401, 900, Seq("k"),
      strCols = Seq("s"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    assert(stats.size == 2)
    val (nulls, vals) = stats.partition(e => !e.lo.contains("k"))
    assert(nulls.size == 1 && nulls.head.hi.isEmpty && nulls.head.slo.isEmpty &&
      nulls.head.shi.isEmpty, s"the all-null file recorded bounds: ${nulls.headOption}")
    assert(vals.head.lo == Map("k" -> 5L) && vals.head.hi == Map("k" -> 9L) &&
      vals.head.slo == Map("s" -> "m") && vals.head.shi == Map("s" -> "q"))
    // a file without bounds answers nothing from stats alone...
    assert(ZoneMap.metaMinMax(spark, dir, 1, "k").isEmpty)
    // ...and stays in scope for pruned reads
    assert(ZoneMap.candidateFiles(spark, dir, 1, "k", 0, 0).size == 1)
    assert(ZoneMap.readRange(spark, dir, 1, "k", 5, 9).count() == 2)
    assert(ZoneMap.readRangeStr(spark, dir, 1, "s", "a", "z").count() == 2)
  }

  test("zone maps round-trip a column named with a quote") {
    val dir = Scratch.dir("zm_quote")
    val rows = keyedRows.withColumnRenamed("k", "k\"q").withColumnRenamed("payload", "p\\s")
    ZoneMap.commitWithStats(rows.repartitionByRange(4, col("`k\"q`")), dir,
      20250401, 900, Seq("k\"q"), strCols = Seq("p\\s"), setCols = Seq("grp"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    assert(stats.size == 4 && stats.forall(s => s.lo.contains("k\"q") &&
      s.slo.contains("p\\s") && s.vals("grp").nonEmpty))
    assert(ZoneMap.candidateFiles(spark, dir, 1, "k\"q", 0, 10).size == 1)
    assert(ZoneMap.metaMinMax(spark, dir, 1, "k\"q").contains((0L, 799L)))
  }

  test("an ANALYZE or old-table sidecar is read as its version's entries, and the next commit folds them into the log") {
    val dir = Scratch.dir("zm_fold")
    ManifestTable.commit(keyedRows.repartitionByRange(4, $"k"), dir, 20250401, 900)
    assert(ZoneMap.fileStats(spark, dir, 1).isEmpty)
    val analyzed = ZoneMap.analyze(spark, dir, Some(Seq("k")))
    // the sidecar is the version's entries; no new commit
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(1))
    assert(ZoneMap.fileStats(spark, dir, 1).contains(analyzed))
    assert(ZoneMap.candidateFiles(spark, dir, 1, "k", 0, 10).size == 1)
    // an old table's sidecar may name files its version does not hold:
    // the resolver keeps the version's own
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00000001.stats.json")
    val text = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val out = fs.create(p, true)
    try out.write(text.replaceFirst("\\[",
      """[{"file": "data/v00000009/gone.parquet", "lo": {"k": 0}, "hi": {"k": 0}, "rows": 1},""")
      .getBytes("UTF-8")) finally out.close()
    assert(ZoneMap.fileStats(spark, dir, 1).contains(analyzed))
    // the next commit, of any kind, carries the entries in its manifest
    ManifestTable.appendRetrying(Seq((900L, 1L, "x")).toDF("k", "grp", "payload"),
      dir, 20250401, 1000)
    fs.delete(p, false)
    assert(ZoneMap.fileStats(spark, dir, 1).isEmpty)
    assert(ZoneMap.fileStats(spark, dir, 2).contains(analyzed))
    assert(ZoneMap.candidateFiles(spark, dir, 2, "k", 0, 10).size == 2,
      "the analyzed file and the appended stats-less one")
  }

  test("X134 appendWithStats: skipping survives appends; stats-less parents degrade safely") {
    import spark.implicits._
    import graft.util.Scratch
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Scratch.dir("zm_append")
    ZoneMap.commitWithStats(
      (0L until 400L).map(i => (i, i)).toDF("k", "v")
        .repartitionByRange(4, col("k")), dir, 20250901, 900, Seq("k"))
    ZoneMap.appendWithStats(
      (400L until 800L).map(i => (i, i)).toDF("k", "v")
        .repartitionByRange(4, col("k")), dir, 20250901, 1000, Seq("k"))

    val df = spark.read.format("graft").load(dir).where($"k".between(500, 599))
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metrics("numFiles").value < 8) // appended files still skip
    assert(df.count() == 100)

    // parent WITHOUT a sidecar: its files stay in scope (never pruned on
    // absence of evidence), appended files still carry stats
    val dir2 = Scratch.dir("zm_append_nostats")
    ManifestTable.commit((0L until 400L).map(i => (i, i)).toDF("k", "v")
      .repartition(4), dir2, 20250901, 900)
    ZoneMap.appendWithStats(
      (400L until 800L).map(i => (i, i)).toDF("k", "v")
        .repartitionByRange(4, col("k")), dir2, 20250901, 1000, Seq("k"))
    val df2 = spark.read.format("graft").load(dir2).where($"k".between(500, 599))
    df2.collect()
    val scan2 = df2.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    // 4 stats-less parent files always planned + pruned appended subset
    assert(scan2.metrics("numFiles").value < 8)
    assert(scan2.metrics("numFiles").value >= 4)
    assert(df2.count() == 100)
  }

  // --- X168 categorical value-set skipping ---

  test("value sets prune equality probes string RANGES structurally cannot (X168)") {
    val dir = Scratch.dir("zm_cat")
    // cluster on is-B: the non-B files then hold the NON-CONTIGUOUS set
    // {A, C}, whose lexicographic [A, C] range spans the 'B' they lack
    val df = (0L until 800L).map { i =>
      val cat = (i % 4) match { case 0 | 1 => "A"; case 2 => "C"; case _ => "B" }
      (i, cat)
    }.toDF("k", "cat")
      .withColumn("m", when(col("cat") === "B", 1).otherwise(0))
    ZoneMap.commitWithStats(df.repartitionByRange(8, col("m"), col("k")).drop("m"),
      dir, 20250901, 900, Seq("k"), strCols = Seq("cat"), setCols = Seq("cat"))
    val all = ManifestTable.snapshots(spark, dir).head.files
    // the {A,C} files have string range [A, C] ⊇ 'B': range pruning keeps
    // them for a cat='B' probe, the value sets rule them out
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    val rangeCand = stats.filter(st =>
      st.shi("cat") >= "B" && st.slo("cat") <= "B").map(_.file)
    val eqCand = ZoneMap.candidateFilesEq(spark, dir, 1, "cat", Seq("B"))
    assert(eqCand.size < rangeCand.size,
      s"value sets must beat ranges: eq=${eqCand.size} range=${rangeCand.size}")
    assert(eqCand.size < all.size)
    // pruning invisible: exact rows back
    assert(ZoneMap.readEq(spark, dir, 1, "cat", Seq("B")).count() === 200L)
    assert(ZoneMap.readEq(spark, dir, 1, "cat", Seq("A", "C")).count() === 600L)
    // absent value never scans a file, and still answers (empty)
    assert(ZoneMap.readEq(spark, dir, 1, "cat", Seq("Z")).count() === 0L)
  }

  test("over-cap cardinality records no set and degrades to scanning (X168)") {
    val dir = Scratch.dir("zm_cat_cap")
    // 100 distinct values per file > MaxValsPerFile: nothing recorded
    val df = (0L until 800L).map(i => (i, s"v$i")).toDF("k", "cat")
    ZoneMap.commitWithStats(df.repartitionByRange(8, col("k")), dir,
      20250901, 900, Seq("k"), setCols = Seq("cat"))
    val stats = ZoneMap.fileStats(spark, dir, 1).get
    assert(stats.forall(_.vals.isEmpty), "over-cap sets must be absent")
    val cand = ZoneMap.candidateFilesEq(spark, dir, 1, "cat", Seq("v5"))
    assert(cand.size === 8, "absence keeps every file in scope")
    assert(ZoneMap.readEq(spark, dir, 1, "cat", Seq("v5")).count() === 1L)
  }
}

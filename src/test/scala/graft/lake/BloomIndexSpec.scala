package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the X81 per-file Bloom index: pruning actually skips files,
  * never loses rows, and degrades safely without a sidecar.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = graft.util.FixtureCache.dir("bloomspec", sf) { d =>
    // 64 keys spread over 8 files, clustered by a column UNRELATED to
    // the key — the layout where zone maps on `k` cannot prune at all.
    val df = (0L until 64L).map(k => (k, k % 8, s"payload$k")).toDF("k", "t", "p")
      .repartition(8, col("t"))
    BloomIndex.commitWithBloom(df, d, 20250601, 1200, "k")
  }

  test("point lookup scans fewer files than the snapshot holds") {
    // Hash-partitioning may leave some of the 8 partitions empty (empty
    // partitions write no file) — only the file count actually present
    // matters for the pruning assertion.
    val all = ManifestTable.snapshots(spark, dir).find(_.version == 1).get.files
    val cand = BloomIndex.candidateFilesIn(spark, dir, 1, "k", Seq(5L))
    assert(all.size >= 3, s"fixture should span several files, got ${all.size}")
    assert(cand.nonEmpty && cand.size < all.size,
      s"expected bloom pruning to skip files: ${cand.size} of ${all.size}")
  }

  test("no false negatives: every key finds its row through the pruned read") {
    val got = BloomIndex.readIn(spark, dir, 1, "k", (0L until 64L))
      .select("k").as[Long].collect().toSet
    assert(got == (0L until 64L).toSet)
  }

  test("absent keys return no rows (false positives filtered by the predicate)") {
    val got = BloomIndex.readIn(spark, dir, 1, "k", Seq(1000L, -3L))
    assert(got.count() == 0)
  }

  test("no sidecar degrades to scanning all files, same answer") {
    val plainDir = graft.util.FixtureCache.dir("bloomspec_plain", sf) { d =>
      val df = (0L until 16L).map(k => (k, s"p$k")).toDF("k", "p").repartition(4)
      ManifestTable.commit(df, d, 20250601, 1200)
    }
    val all = ManifestTable.snapshots(spark, plainDir).find(_.version == 1).get.files
    val cand = BloomIndex.candidateFilesIn(spark, plainDir, 1, "k", Seq(3L))
    assert(cand.toSet == all.toSet)
    val got = BloomIndex.readIn(spark, plainDir, 1, "k", Seq(3L, 7L))
      .select("k").as[Long].collect().toSet
    assert(got == Set(3L, 7L))
  }

  test("commit order: bloom sidecar belongs to a committed manifest version") {
    // The committed version always has its filters (published by the
    // manifest put itself), covering every data file.
    val all = ManifestTable.snapshots(spark, dir).find(_.version == 1).get.files
    assert(BloomIndex.fileBlooms(spark, dir, ManifestTable.snapshot(spark, dir, 1), "k")
      .keySet == all.toSet)
  }

  test("a bloom column named with a quote round-trips its sidecar") {
    val qdir = graft.util.Scratch.dir("bloom_quote")
    val df = (0L until 32L).map(k => (k, k % 4)).toDF("k\"q", "t").repartition(4, col("t"))
    BloomIndex.commitWithBloom(df, qdir, 20250601, 1200, "k\"q")
    assert(BloomIndex.fileBlooms(spark, qdir, ManifestTable.snapshot(spark, qdir, 1), "k\"q")
      .nonEmpty)
    assert(BloomIndex.readIn(spark, qdir, 1, "k\"q", Seq(5L, 6L))
      .select(col("`k\"q`")).as[Long].collect().toSet == Set(5L, 6L))
  }

  test("vacuum deletes the bloom sidecar of every expired version") {
    val vdir = graft.util.Scratch.dir("bloom_vacuum")
    val df = (0L until 16L).map(k => (k, s"p$k")).toDF("k", "p").repartition(2)
    BloomIndex.commitWithBloom(df, vdir, 20250601, 1200, "k")
    BloomIndex.commitWithBloom(df, vdir, 20250601, 1300, "k")
    val v1Filters = filterFiles(vdir, 1)
    Vacuum.vacuum(spark, vdir, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(vdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the filters sit in the version's staging dir: they went with it
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$vdir/_manifests"))
      .map(_.getPath.getName).toSet
    assert(names("v00000002.json") && !names("v00000001.json") &&
      !names.exists(_.contains("bloom")), names)
    assert(v1Filters.nonEmpty &&
      v1Filters.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(s"$vdir/$f"))))
    assert(BloomIndex.fileBlooms(spark, vdir, ManifestTable.snapshot(spark, vdir, 2), "k").nonEmpty)
  }

  private def filterFiles(d: String, v: Int): Set[String] =
    ManifestTable.snapshots(spark, d).find(_.version == v).get
      .stats.values.flatMap(_.blooms.values).toSet

  test("filters live in one staged file the entries name, so later manifests stay small") {
    val sdir = graft.util.Scratch.dir("bloom_small")
    val df = (0L until 8000L).map(k => (k, s"p$k")).toDF("k", "p").repartition(4)
    BloomIndex.commitWithBloom(df, sdir, 20250601, 1200, "k")
    ManifestTable.appendRetrying(Seq((99999L, "x")).toDF("k", "p"), sdir, 20250601, 1300)
    val Seq(v1, v2) = ManifestTable.snapshots(spark, sdir)
    // the append keeps v1's files, and with them their filters
    val filters = BloomIndex.fileBlooms(spark, sdir, ManifestTable.snapshot(spark, sdir, 2), "k")
    assert(filters.keySet == v1.files.toSet)
    assert(filterFiles(sdir, 2).toSeq == v1.files.map(_.split('/').dropRight(1)
      .mkString("/")).distinct.map(d => s"$d/_blooms.json"))
    val fs = new org.apache.hadoop.fs.Path(sdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(v1, v2).foreach { s =>
      val in = fs.open(new org.apache.hadoop.fs.Path(f"$sdir/_manifests/v${s.version}%08d.json"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(text.length < 4096, s"v${s.version} manifest is ${text.length} bytes")
      filters.values.foreach(b => assert(!text.contains(b)))
    }
  }

  test("a clone prunes like its source") {
    val cdir = graft.util.Scratch.dir("bloom_clone")
    ManifestTable.cloneVersion(spark, dir, cdir, 20250601, 1300)
    assert(BloomIndex.candidateFilesIn(spark, cdir, 1, "k", Seq(5L)).size ==
      BloomIndex.candidateFilesIn(spark, dir, 1, "k", Seq(5L)).size)
    assert(BloomIndex.readIn(spark, cdir, 1, "k", Seq(5L)).select("p").as[String]
      .collect().toSeq == Seq("payload5"))
  }

  test("a lost race leaves no filter behind: the interloper's version reads only its own rows") {
    val ldir = s"${graft.util.Scratch.dir("bloom_lose")}/t"
    val base = (0L until 100L).map(k => (k, s"p$k")).toDF("k", "p").repartition(4)
    BloomIndex.commitWithBloom(base, ldir, 20250601, 1200, "k")
    val more = (100L until 110L).map(k => (k, s"q$k")).toDF("k", "p").repartition(2)
    val landed = InterloperCommit.losing(spark, ldir)(
      BloomIndex.commitWithBloom(more, ldir, 20250601, 1300, "k"))
    // the interloper took v2 with v1's content; the replace landed at v3
    assert(BloomIndex.readIn(spark, ldir, 2, "k", Seq(105L)).count() == 0)
    assert(BloomIndex.candidateFilesIn(spark, ldir, 2, "k", Seq(105L)).toSet
      .subsetOf(ManifestTable.snapshots(spark, ldir)(1).files.toSet))
    assert(landed == 3)
    assert(BloomIndex.readIn(spark, ldir, 3, "k", Seq(105L)).select("p").as[String]
      .collect().toSeq == Seq("q105"))
  }
}

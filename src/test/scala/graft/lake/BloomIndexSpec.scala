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
    // The committed version always has its sidecar (written before the
    // manifest rename), covering every data file.
    val all = ManifestTable.snapshots(spark, dir).find(_.version == 1).get.files
    assert(BloomIndex.fileBlooms(spark, dir, 1).exists(_.size == all.size))
  }

  test("a bloom column named with a quote round-trips its sidecar") {
    val qdir = graft.util.Scratch.dir("bloom_quote")
    val df = (0L until 32L).map(k => (k, k % 4)).toDF("k\"q", "t").repartition(4, col("t"))
    BloomIndex.commitWithBloom(df, qdir, 20250601, 1200, "k\"q")
    assert(BloomIndex.fileBlooms(spark, qdir, 1).exists(_.forall(_.column == "k\"q")))
    assert(BloomIndex.readIn(spark, qdir, 1, "k\"q", Seq(5L, 6L))
      .select(col("`k\"q`")).as[Long].collect().toSet == Set(5L, 6L))
  }

  test("vacuum deletes the bloom sidecar of every expired version") {
    val vdir = graft.util.Scratch.dir("bloom_vacuum")
    val df = (0L until 16L).map(k => (k, s"p$k")).toDF("k", "p").repartition(2)
    BloomIndex.commitWithBloom(df, vdir, 20250601, 1200, "k")
    BloomIndex.commitWithBloom(df, vdir, 20250601, 1300, "k")
    Vacuum.vacuum(spark, vdir, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(vdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$vdir/_manifests/v00000001.bloom.json")))
    assert(BloomIndex.fileBlooms(spark, vdir, 2).nonEmpty)
  }
}

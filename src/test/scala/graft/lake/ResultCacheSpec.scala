package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X167 result cache: fill-once semantics, version-keyed invalidation,
  * crash-mid-write recovery (no marker ⇒ recompute), illegal tags.
  */
class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  test("cache fills once per version and invalidates on commit") {
    val root = Scratch.dir("rc_spec")
    ManifestTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), s"$root/t",
      20250701, 900)
    val computes = new AtomicInteger(0)
    def agg() = {
      computes.incrementAndGet()
      ManifestTable.readLatest(spark, s"$root/t").agg(sum("v").as("s"))
    }
    def call() = ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg())
      .collect().head.getLong(0)
    assert(call() === 30L && computes.get() === 1)
    assert(call() === 30L && computes.get() === 1, "second call serves the entry")
    ManifestTable.appendRetrying(Seq((3L, 5L)).toDF("k", "v"), s"$root/t", 20250701, 930)
    assert(call() === 35L && computes.get() === 2, "a commit changes the key")
    assert(call() === 35L && computes.get() === 2)
  }

  test("vacuum survives unparseable entry names — zero-input and foreign dirs are kept") {
    val root = Scratch.dir("rc_badnames")
    ManifestTable.commit(Seq((1L, 10L)).toDF("k", "v"), s"$root/t", 20250701, 900)
    def agg() = ManifestTable.readLatest(spark, s"$root/t").agg(sum("v").as("s"))
    // a zero-input entry keys to the bare dir name "k" (round-7 ADVICE:
    // its parse used to NumberFormatException and abort the whole sweep)
    ResultCache.cached(spark, root, "const", Seq())(agg()).count()
    // a live entry the sweep must still evaluate correctly
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    // a foreign (non-graft) dir dropped inside the results tree
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_results/sum_v/not-a-key"))
    val reclaimed = ResultCache.vacuum(spark, root, graceMs = Long.MaxValue)
    assert(reclaimed === 0, "unparseable names must degrade to keep, not abort")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_results/const/k")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_results/sum_v/not-a-key")))
    // and the sweep still reclaims a genuinely-stale sibling afterwards
    ManifestTable.appendRetrying(Seq((2L, 5L)).toDF("k", "v"), s"$root/t", 20250701, 930)
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    ManifestTable.commit(Seq((9L, 9L)).toDF("k", "v"), s"$root/t", 20250701, 940)
    // t is now at v3; both v1- and v2-keyed entries are live versions still
    // on the log, so nothing reclaims — but the sweep must complete cleanly
    assert(ResultCache.vacuum(spark, root, graceMs = Long.MaxValue) >= 0)
  }

  test("a crashed fill (data without marker) recomputes instead of serving garbage") {
    val root = Scratch.dir("rc_crash")
    ManifestTable.commit(Seq((1L, 7L)).toDF("k", "v"), s"$root/t", 20250701, 900)
    // simulate the crash: stale data present, no marker
    Seq((99L, 999L)).toDF("k", "v").write.parquet(s"$root/_results/sum_v/k1/data")
    val got = ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(
      ManifestTable.readLatest(spark, s"$root/t").agg(sum("v").as("s")))
      .collect().head.getLong(0)
    assert(got === 7L)
  }

  test("vacuum reclaims stale entries, keeps live ones, and survives a mid-fill race") {
    val root = Scratch.dir("rc_vac")
    ManifestTable.commit(Seq((1L, 10L)).toDF("k", "v"), s"$root/t", 20250701, 900)
    def agg() = ManifestTable.readLatest(spark, s"$root/t").agg(sum("v").as("s"))
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    // advance the table twice, filling at each version, then expire v1
    ManifestTable.appendRetrying(Seq((2L, 5L)).toDF("k", "v"), s"$root/t", 20250701, 930)
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    Vacuum.vacuum(spark, s"$root/t", keepLast = 1)
    // entry k1 is keyed by the now-expired version 1 → garbage;
    // entry k2 is keyed by the live latest → survives
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ResultCache.vacuum(spark, root) === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_results/sum_v/k1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_results/sum_v/k2/_RESULT_COMMITTED")))
    // the live entry still serves without recompute
    val computes = new AtomicInteger(0)
    val got = ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t")) {
      computes.incrementAndGet(); agg()
    }.collect().head.getLong(0)
    assert(got === 15L && computes.get() === 0)
    // idempotent: a second sweep reclaims nothing
    assert(ResultCache.vacuum(spark, root) === 0)
  }

  test("vacuum never yanks an in-flight fill (markerless but young) but sweeps a crashed one") {
    val root = Scratch.dir("rc_vac_fill")
    ManifestTable.commit(Seq((1L, 7L)).toDF("k", "v"), s"$root/t", 20250701, 900)
    // an in-flight fill: data staged, marker not yet written
    Seq((1L, 7L)).toDF("k", "v").write.parquet(s"$root/_results/sum_v/k1/data")
    assert(ResultCache.vacuum(spark, root) === 0,
      "a fresh markerless entry is a concurrent fill, not garbage")
    // with the grace window collapsed it is a crashed fill and sweeps;
    // marker-last discipline means no reader ever saw it
    assert(ResultCache.vacuum(spark, root, graceMs = 0L) === 1)
    // the next cached() call recomputes cleanly over the swept dir
    val got = ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(
      ManifestTable.readLatest(spark, s"$root/t").agg(sum("v").as("s")))
      .collect().head.getLong(0)
    assert(got === 7L)
  }

  test("catalog retention sweeps result-cache entries in the same pass (X105 hook)") {
    val root = Scratch.dir("rc_vac_cat")
    Catalog.transact(spark, root, 20250701, 900,
      Seq("t" -> Seq((1L, 10L)).toDF("k", "v")))
    def agg() = Catalog.readTable(spark, root, "t").agg(sum("v").as("s"))
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    Catalog.transact(spark, root, 20250701, 930,
      Seq("t" -> Seq((1L, 10L), (2L, 5L)).toDF("k", "v")))
    ResultCache.cached(spark, root, "sum_v", Seq(s"$root/t"))(agg()).count()
    Catalog.vacuumCatalog(spark, root, keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_results/sum_v/k1")),
      "the v1-keyed entry dies with the expired table version")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_results/sum_v/k2/_RESULT_COMMITTED")))
  }

  test("illegal cache tags refuse (path injection)") {
    val e = intercept[IllegalArgumentException](
      ResultCache.cached(spark, Scratch.dir("rc_bad"), "../evil", Seq())(
        spark.range(1).toDF()))
    assert(e.getMessage.contains("illegal"))
  }
}

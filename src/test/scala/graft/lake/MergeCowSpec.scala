package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Scratch

/** X180 — keyed upsert as a copy-on-write commit over touched files only
  * (`Merge.upsertCow`). Pins: result ≡ the full-rebuild `Merge.upsert`,
  * untouched files retained BY REFERENCE with their stats entries
  * verbatim, zone-map candidate pruning sound and effective, no-op
  * batches commit nothing, and tombstoned keys re-insert cleanly.
  */
class MergeCowSpec extends SparkSpec {

  import spark.implicits._

  /** 200 keys range-clustered into 8 files with X57 bounds on `k`. */
  private def mkTable(tag: String): String = {
    val dir = Scratch.dir(tag)
    val df = (0L until 200L).map(i => (i, s"n$i", i * 1.0))
      .toDF("k", "name", "bal")
    ZoneMap.commitWithStats(df.repartitionByRange(8, $"k"), dir,
      20250801, 900, statsCols = Seq("k"))
    dir
  }

  test("upsertCow ≡ full-rebuild upsert; untouched files retained by reference") {
    val dir = mkTable("cow_eq")
    val v1 = ManifestTable.snapshots(spark, dir).last
    val updates = Seq(
      (5L, "u5", 55.0, false), // update, low band
      (6L, "u6", 66.0, false), // update, same file
      (300L, "i300", 3.0, false), // insert (outside every file's range)
      (7L, "x", 0.0, true), // delete
      (999L, "x", 0.0, true)) // delete of an absent key — no-op
      .toDF("k", "name", "bal", "del")
    val v2 = Merge.upsertCow(spark, dir, updates, Seq("k"),
      20250801, 1000, deleteCol = Some("del"))
    assert(v2 == v1.version + 1)

    val base = (0L until 200L).map(i => (i, s"n$i", i * 1.0))
      .toDF("k", "name", "bal")
    val want = Merge.upsert(base, updates, Seq("k"), deleteCol = Some("del"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val got = ManifestTable.readVersion(spark, dir, v2)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == want)

    // CoW, not rewrite: the batch touches keys 5/6/7 — one band file —
    // so at least 6 of the 8 v1 files must carry into v2 BY REFERENCE
    val snap2 = ManifestTable.snapshots(spark, dir).last
    val carried = snap2.files.toSet.intersect(v1.files.toSet)
    assert(v1.files.size == 8)
    assert(carried.size >= 6, s"expected most files retained, got $carried")
    assert(snap2.files.size > carried.size, "rewritten + insert files staged")

    // retained files keep their stats entries verbatim; staged files get
    // fresh entries on the same column — the v2 reader prunes like v1's
    val s1 = ZoneMap.fileStats(spark, dir, v1.version).get.map(s => s.file -> s).toMap
    val s2 = ZoneMap.fileStats(spark, dir, v2).get.map(s => s.file -> s).toMap
    assert(snap2.files.toSet.subsetOf(s2.keySet))
    carried.foreach(f => assert(s2(f) == s1(f), s"stats drifted for $f"))
  }

  test("candidate pruning: a banded batch keeps only its band's files in scope") {
    val dir = mkTable("cow_prune")
    val snap = ManifestTable.snapshots(spark, dir).last
    val updates = Seq((190L, "u", 1.0), (195L, "u", 1.0)).toDF("k", "name", "bal")
    val cands = Merge.candidateFiles(spark, dir, snap, updates, Seq("k"))
    assert(cands.nonEmpty)
    assert(cands.size < snap.files.size,
      s"zone maps should prune: ${cands.size} of ${snap.files.size}")
    // soundness: every file that holds a matching key is a candidate
    val holding = graft.sources.Tables
      .cachedScan(spark, snap.files.map(f => s"$dir/$f"))
      .where($"k".isin(190L, 195L))
      .select(regexp_extract(col("_metadata.file_path"),
        """data/[vw][0-9a-f]{8}/[^/]+$""", 0))
      .distinct().collect().map(_.getString(0)).toSet
    assert(holding.subsetOf(cands.toSet))
    // a batch with no non-null key values can match nothing at all
    assert(Merge.candidateFiles(spark, dir, snap,
      updates.where(lit(false)), Seq("k")).isEmpty)
  }

  test("a batch matching nothing and inserting nothing commits nothing") {
    val dir = mkTable("cow_noop")
    val v1 = ManifestTable.snapshots(spark, dir).last.version
    val dels = Seq((5000L, "x", 0.0, true)).toDF("k", "name", "bal", "del")
    val v = Merge.upsertCow(spark, dir, dels, Seq("k"),
      20250801, 1000, deleteCol = Some("del"))
    assert(v == v1)
    assert(ManifestTable.snapshots(spark, dir).last.version == v1)
    // ...and the stage-first scratch dir is gone: every data file on disk
    // is one the committed manifest references
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).toSet
    val referenced = ManifestTable.snapshots(spark, dir)
      .flatMap(_.files).map(_.split('/')(1)).toSet
    assert((onDisk -- referenced).isEmpty,
      s"staged scratch left behind: ${onDisk -- referenced}")
  }

  test("a tombstoned key re-inserts cleanly; the old tombstone stays effective") {
    val dir = mkTable("cow_dv")
    DeleteVectors.deleteWhere(spark, dir, $"k" === 10, 20250801, 950)
    val updates = Seq((10L, "re", 1.5)).toDF("k", "name", "bal")
    val v3 = Merge.upsertCow(spark, dir, updates, Seq("k"), 20250801, 1000)
    val rows = ManifestTable.readVersion(spark, dir, v3)
      .where($"k" === 10).collect()
    assert(rows.length == 1, "exactly the re-inserted row — the DV still " +
      "hides the original and the insert lands once")
    assert(rows(0).getString(1) == "re")
    assert(ManifestTable.readVersion(spark, dir, v3).count() == 200)
  }

  test("stage-first: a nondeterministic batch cannot leak past pruning") {
    val dir = mkTable("cow_rand")
    // keys drawn fresh on EVERY evaluation: before the round-9 stage-first
    // fix, the bounds probe / touched-file semi-join / merge each saw a
    // DIFFERENT key set, so the merge could insert keys the pruning never
    // accounted for — duplicating rows the retained files still carry
    val drawn = new java.util.concurrent.atomic.AtomicLong(0)
    val nextKey = udf(() => drawn.getAndIncrement() % 400L).asNondeterministic()
    val batch = spark.range(0, 40).select(nextKey().as("k"))
      .withColumn("name", lit("r")).withColumn("bal", lit(-1.0))
      .dropDuplicates("k")
    val v2 = Merge.upsertCow(spark, dir, batch, Seq("k"), 20250801, 1100)
    val rows = ManifestTable.readVersion(spark, dir, v2)
      .groupBy("k").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall(_._2 == 1L),
      s"leaked keys appear twice: ${rows.filter(_._2 > 1).map(_._1).toSeq}")
    // every pre-existing key still present exactly once (updated or not)
    val keys = rows.map(_._1).toSet
    assert((0L until 200L).forall(keys.contains))
  }

  test("X168 value sets prune where ranges cannot (interleaved keys)") {
    val dir = Scratch.dir("cow_vals")
    // two files with IDENTICAL key ranges but disjoint value sets: range
    // evidence keeps both, value sets rule one out
    // RDD-level union: the SQL optimizer would collapse two local
    // relations into one partition (= one file), defeating the fixture
    val even = spark.sparkContext.parallelize((0L until 40L by 2).map(i => (i, i * 1.0)), 1)
    val odd = spark.sparkContext.parallelize((1L until 40L by 2).map(i => (i, i * 1.0)), 1)
    ZoneMap.commitWithStats(
      even.union(odd).toDF("k", "bal"), dir,
      20250801, 900, statsCols = Seq("k"), setCols = Seq("k"))
    val snap = ManifestTable.snapshots(spark, dir).last
    assume(snap.files.size == 2)
    val updates = Seq((2L, 99.0), (4L, 98.0)).toDF("k", "bal")
    val cands = Merge.candidateFiles(spark, dir, snap, updates, Seq("k"))
    assert(cands.size == 1, s"value sets should exclude the odd file: $cands")
    val v2 = Merge.upsertCow(spark, dir, updates, Seq("k"), 20250801, 1000)
    val got = ManifestTable.readVersion(spark, dir, v2)
      .where($"k".isin(2L, 4L)).orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(99.0, 98.0))
  }
}

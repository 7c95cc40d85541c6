package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.Catalog
import graft.sources.Tables
import graft.util.Scratch

/** The persisted IVF index (round-6 item 2): durability across JVM
  * state, atomic two-table cuts, incremental append under a fixed
  * quantizer, and index time travel.
  */
class IvfIndexSpec extends SparkSpec {

  private def corpus: DataFrame =
    Tables.embeddings(spark, sf).select("vec_id", "embedding")

  private def queriesDf: DataFrame =
    corpus.where(col("vec_id") < Similarity.nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("search reads ONLY committed state — a fresh root reproduces it exactly") {
    // loadCentroids memoizes per (root, committed centroids version), so
    // different roots are different memo keys: r2's search reads r2's
    // committed state, which IS what a restarted JVM would see.
    val r1 = Scratch.dir("ivf_idx_a")
    val r2 = Scratch.dir("ivf_idx_b")
    assert(IvfIndex.build(spark, corpus, r1, 20250801, 900) == 1)
    assert(IvfIndex.build(spark, corpus, r2, 20250801, 900) == 1)
    val a = rows(IvfIndex.search(spark, r1, queriesDf, Similarity.k))
    val b = rows(IvfIndex.search(spark, r2, queriesDf, Similarity.k))
    assert(a.nonEmpty && a == b)
    // quantizer round-trips bit-exactly through the committed table
    val direct = Similarity.ivfCentroids(spark, corpus,
      Similarity.adaptiveIvfK(corpus.count()))
    val loaded = IvfIndex.loadCentroids(spark, r1)
    assert(loaded.length == direct.length)
    loaded.zip(direct).foreach { case (l, d) => assert(l.sameElements(d)) }
  }

  test("incremental append = direct build under the same quantizer; centroids untouched") {
    val half = corpus.where(col("vec_id") % 2 === 0)
    val rest = corpus.where(col("vec_id") % 2 === 1)
    val incr = Scratch.dir("ivf_idx_incr")
    IvfIndex.build(spark, half, incr, 20250801, 900)
    val cents = IvfIndex.loadCentroids(spark, incr)
    assert(IvfIndex.append(spark, rest, incr, 20250801, 1000) == 2)

    // cut 2 overlays ONLY lists: centroids stay at table version 1
    val cut2 = Catalog.snapshots(spark, incr).last
    assert(cut2.tables("centroids") == 1 && cut2.tables("lists") == 2)

    // equivalent to committing the full corpus under those same centroids
    val direct = Scratch.dir("ivf_idx_direct")
    IvfIndex.commitIndex(spark, corpus, direct, cents, 20250801, 900)
    assert(rows(IvfIndex.search(spark, incr, queriesDf, Similarity.k)) ==
      rows(IvfIndex.search(spark, direct, queriesDf, Similarity.k)))
  }

  test("vector deletion: tombstoned vectors never return, survivor results unchanged, pre-delete cut time-travels") {
    val root = Scratch.dir("ivf_idx_del")
    IvfIndex.build(spark, corpus, root, 20250801, 900)
    val before = rows(IvfIndex.search(spark, root, queriesDf, Similarity.k))
    // GDPR-delete every 7th vector (X126 composing with the index)
    assert(IvfIndex.delete(spark, col("vec_id") % 7 === 3, root, 20250801, 1000) == 2)
    val after = rows(IvfIndex.search(spark, root, queriesDf, Similarity.k))
    assert(after.nonEmpty)
    assert(after.forall { case (_, candId, _, _) => candId % 7 != 3 },
      "a deleted vector must never be served")
    // recall on survivors unchanged: post-delete search ≡ an index built
    // over ONLY the survivors under the SAME quantizer (no data rewrite
    // happened — pinned by the untouched lists file set)
    val cents = IvfIndex.loadCentroids(spark, root)
    val rebuilt = Scratch.dir("ivf_idx_del_rebuilt")
    IvfIndex.commitIndex(spark, corpus.where(col("vec_id") % 7 =!= 3),
      rebuilt, cents, 20250801, 900)
    assert(after == rows(IvfIndex.search(spark, rebuilt, queriesDf, Similarity.k)))
    val lists1 = graft.lake.ManifestTable.snapshots(spark, s"$root/lists")
    assert(lists1.last.files.toSet == lists1.head.files.toSet,
      "delete must tombstone, not rewrite list files")
    // pre-delete cut still serves the deleted vectors (index time travel)
    val atCut1 = rows(IvfIndex.search(spark, root, queriesDf, Similarity.k, asOf = Some(1)))
    assert(atCut1 == before)
    assert(atCut1.exists { case (_, candId, _, _) => candId % 7 == 3 })
    // materialize folds the tombstones into fresh files: same answers,
    // no deletion vector left on the latest lists version
    assert(IvfIndex.materialize(spark, root, 20250801, 1100) == 3)
    assert(rows(IvfIndex.search(spark, root, queriesDf, Similarity.k)) == after)
    assert(graft.lake.ManifestTable.snapshots(spark, s"$root/lists")
      .last.deletes.isEmpty)
  }

  test("index time travel: the pre-append cut never serves appended vectors") {
    val half = corpus.where(col("vec_id") % 2 === 0)
    val rest = corpus.where(col("vec_id") % 2 === 1)
    val root = Scratch.dir("ivf_idx_tt")
    IvfIndex.build(spark, half, root, 20250801, 900)
    IvfIndex.append(spark, rest, root, 20250801, 1000)
    val atCut1 = rows(IvfIndex.search(spark, root, queriesDf, Similarity.k, asOf = Some(1)))
    assert(atCut1.nonEmpty)
    assert(atCut1.forall { case (_, candId, _, _) => candId % 2 == 0 })
    // the live cut does serve both halves
    val latest = rows(IvfIndex.search(spark, root, queriesDf, Similarity.k))
    assert(latest.exists { case (_, candId, _, _) => candId % 2 == 1 })
  }
}

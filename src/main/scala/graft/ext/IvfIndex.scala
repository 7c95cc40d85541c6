package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.lake.{Catalog, ManifestTable}

/** The IVF ANN index as a PERSISTED lake artifact (round-6 VERDICT
  * item 2) — in FAISS terms, the index FILE rather than an in-process
  * structure rebuilt per JVM.
  *
  * Layout: one X99 catalog at `root` holding two tables committed in one
  * atomic cut, so readers can never see centroids from one index
  * generation with lists from another:
  *
  *   - `centroids(cluster, centroid)` — the coarse quantizer, k rows;
  *   - `lists(cluster, vec_id, embedding)` — the corpus in IVF-flat
  *     form, repartitioned by cluster so a probe reads only its lists'
  *     partitions.
  *
  * Maintenance is the X47 incremental shape: an append assigns ONLY the
  * new vectors to the EXISTING centroids (one small distributed pass),
  * appends their rows to `lists` (an X39 append commit — old files
  * untouched), and publishes a new catalog cut; the quantizer is never
  * retrained in place. That is the standard IVF contract: centroids are
  * a trained artifact, lists grow under them, and when occupancy skew
  * says the quantizer has aged out you REBUILD into a fresh generation
  * (a new `build` — the cut flip is atomic for readers). Catalog time
  * travel gives index-as-of-cut for free, and X105 retention applies.
  *
  * Scale: nothing here is driver-sized except the k×dim centroid table
  * (bounded by [[Similarity.maxIvfK]]); the corpus moves through one
  * repartition at build and appends move only the new rows.
  */
object IvfIndex {

  /** Train the quantizer on `corpus` (`vec_id`, `embedding`) and commit
    * centroids + assigned lists as catalog cut 1. Returns the cut.
    */
  def build(s: SparkSession, corpus: DataFrame, root: String,
      date: Int, time: Int): Int = {
    val k = Similarity.adaptiveIvfK(corpus.count())
    commitIndex(s, corpus, root, Similarity.ivfCentroids(s, corpus, k),
      date, time)
  }

  /** Commit `corpus` under the GIVEN centroids (a rebuild into a new
    * generation, or a build with an externally trained quantizer).
    */
  def commitIndex(s: SparkSession, corpus: DataFrame, root: String,
      cents: Array[Array[Long]], date: Int, time: Int): Int = {
    val lists = Similarity.assignClusters(corpus, cents)
      .select(col("cluster"), col("vec_id"), col("embedding"))
      .repartition(col("cluster"))
    Catalog.transact(s, root, date, time,
      Seq("centroids" -> centroidsDf(s, cents), "lists" -> lists))
  }

  private[ext] def centroidsDf(s: SparkSession, cents: Array[Array[Long]]): DataFrame = {
    import s.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
  }

  /** The quantizer of the index at `root` (optionally at a past cut) —
    * read from the COMMITTED table only, no in-process state beyond a
    * cache, which is what makes the index survive a JVM restart.
    *
    * The k×dim array is memoized per COMMITTED `centroids` TABLE VERSION
    * (resolved from the cut's manifest — a driver-side metadata read, no
    * Spark job), the standard "load the index file once per process"
    * shape: repeat probes skip the collect, and the version key makes a
    * rebuild (which commits new centroids) invalidate naturally while
    * appends (which carry the centroids version over) keep hitting.
    */
  def loadCentroids(s: SparkSession, root: String,
      asOf: Option[Int] = None): Array[Array[Long]] = {
    val snaps = Catalog.snapshots(s, root)
    require(snaps.nonEmpty, s"no committed catalog version at $root")
    val cut = asOf match {
      case Some(v) => snaps.find(_.version == v).getOrElse(
        throw new NoSuchElementException(s"no catalog version $v at $root"))
      case None => snaps.last
    }
    val tv = cut.tables.getOrElse("centroids", throw new NoSuchElementException(
      s"table 'centroids' not in catalog version ${cut.version}"))
    graft.util.FixtureCache.value("ivf_centroids", s"$root#$tv") {
      ManifestTable.readVersion(s, s"$root/centroids", tv).orderBy("cluster")
        .collect()
        .map(_.getAs[scala.collection.Seq[Long]]("centroid").toArray)
    }
  }

  /** Incremental maintenance: assign `newVecs` to the existing
    * quantizer, append to `lists`, publish the next cut (centroids
    * version carries over via the catalog overlay). Returns the cut.
    */
  def append(s: SparkSession, newVecs: DataFrame, root: String,
      date: Int, time: Int): Int = {
    val cents = loadCentroids(s, root)
    val add = Similarity.assignClusters(newVecs, cents)
      .select(col("cluster"), col("vec_id"), col("embedding"))
      .repartition(col("cluster"))
    val lv = ManifestTable.appendRetrying(add, s"$root/lists", date, time)
    Catalog.publishCatalog(s, root, date, time, Map("lists" -> lv))
  }

  /** Vector deletion (round-6 VERDICT item 6 — the GDPR hole): an X126
    * corpus delete must not leave the deleted vectors inside the
    * committed inverted lists, or a probe keeps returning them. Composes
    * with X64: tombstone `lists` rows matching `pred` (typically
    * `vec_id IN (...)`) via a deletion-vector commit — NO list file is
    * rewritten, the sidecar rides the same files — then publish the next
    * cut. [[search]] filters for free because `Catalog.readTable`
    * subtracts tombstones on every read, and index time travel keeps
    * working: a probe `asOf` a pre-delete cut still sees the old lists
    * (the forensic/reproducibility contract), while X105 retention can
    * later expire those cuts. An X32-style materialize (re-commit of the
    * surviving lists) is the way back to tombstone-free files when debt
    * accumulates. Returns the new cut.
    */
  def delete(s: SparkSession, pred: org.apache.spark.sql.Column, root: String,
      date: Int, time: Int): Int = {
    val lv = graft.lake.DeleteVectors.deleteWhere(
      s, s"$root/lists", pred, date, time)
    Catalog.publishCatalog(s, root, date, time, Map("lists" -> lv))
  }

  /** Fold accumulated deletion tombstones back into fresh list files
    * (X64 `materialize`, published as a cut) — the MOR→CoW compaction
    * for an index that has absorbed many deletes; afterwards probes scan
    * tombstone-free files again and X105 retention can reclaim the old
    * generation. Returns the new cut.
    */
  def materialize(s: SparkSession, root: String, date: Int, time: Int): Int = {
    val lv = graft.lake.DeleteVectors.materialize(s, s"$root/lists", date, time)
    Catalog.publishCatalog(s, root, date, time, Map("lists" -> lv))
  }

  /** Probe the committed index: per query the `nProbes` nearest
    * centroids, candidates from those inverted lists only, exact rerank.
    * Identical output contract to the exact tier (qid, cand_id, cos6,
    * rank ≤ k).
    */
  def search(s: SparkSession, root: String, queries: DataFrame, k: Int,
      asOf: Option[Int] = None): DataFrame = {
    val cents = loadCentroids(s, root, asOf)
    val nProbes = Similarity.adaptiveProbes(cents.length)
    val lists = Catalog.readTable(s, root, "lists", asOf)
    val probes = queries
      .select(col("qid"), col("qe"),
        Similarity.probeClusters(col("qe"), cents, nProbes).as("top"))
      .select(col("qid"), col("qe"), explode(col("top.idx")).as("probe"))
    lists.join(broadcast(probes),
        col("cluster") === col("probe") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc))
          .cast("long"))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.lake.{Catalog, ManifestTable}

/** X178: IVF-PQ — the X7 persisted inverted-file index composed with the
  * X177 product quantizer: the standard billion-scale ANN layout (FAISS
  * `IVFx,PQy`). The committed `lists` table carries BOTH the raw
  * embedding and its m-byte PQ code; a probe reads ONLY
  * `(cluster, vec_id, codes)` from the probed clusters — parquet column
  * pruning keeps the raw vectors' bytes on disk — shortlists by the
  * native ADC kernel, and reranks just the shortlist against raw
  * vectors. At 100 TB the hot scan is probed-lists × 16-bytes-per-row;
  * the full-precision column is touched only for `shortlist·k` rows per
  * query.
  *
  * One X99 catalog cut holds `centroids` (coarse quantizer), `pqbooks`
  * (the PQ codebooks as rows — the index survives JVM restarts exactly
  * like the X7 centroids), and `lists`. Appends assign + encode new
  * vectors under the EXISTING quantizers (cost ∝ new rows); X64 deletes
  * and materialize compose unchanged because the codes live in the same
  * list files the tombstones target.
  */
object IvfPq extends graft.QueryModule {
  private def booksDf(s: SparkSession, books: Array[Array[Array[Long]]]): DataFrame = {
    val rows = for (i <- books.indices; c <- books(i).indices)
      yield Row(i, c, books(i)(c).toSeq)
    s.createDataFrame(
      s.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("centroid", ArrayType(LongType, containsNull = false)))))
  }

  /** PQ codebooks of the index at `root`, memoized per committed
    * `pqbooks` table version — the X7 loadCentroids rule.
    */
  def loadBooks(s: SparkSession, root: String,
      asOf: Option[Int] = None): Array[Array[Array[Long]]] = {
    val snaps = Catalog.snapshots(s, root)
    require(snaps.nonEmpty, s"no committed catalog version at $root")
    val cut = asOf match {
      case Some(v) => snaps.find(_.version == v).getOrElse(
        throw new NoSuchElementException(s"no catalog version $v at $root"))
      case None => snaps.last
    }
    val tv = cut.tables.getOrElse("pqbooks", throw new NoSuchElementException(
      s"table 'pqbooks' not in catalog version ${cut.version}"))
    bookCache.computeIfAbsent(s"$root#$tv", _ => {
      val rows = ManifestTable.readVersion(s, s"$root/pqbooks", tv)
        .orderBy("sub", "cid").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val kk = rows.map(_.getInt(1)).max + 1
      val byKey = rows.map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Long]]("centroid").toArray).toMap
      Array.tabulate(m)(i => Array.tabulate(kk)(c => byKey((i, c))))
    })
  }

  private val bookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()

  /** Train both quantizers on `corpus` and commit centroids + pqbooks +
    * encoded lists as one catalog cut. Returns the cut.
    */
  def build(s: SparkSession, corpus: DataFrame, root: String,
      date: Int, time: Int): Int = {
    val k = Similarity.adaptiveIvfK(corpus.count())
    val cents = Similarity.ivfCentroids(s, corpus, k)
    val books = Pq.train(corpus, "vec_id", "embedding")
    val lists = Similarity.assignClusters(corpus, cents)
      .select(col("cluster"), col("vec_id"), col("embedding"),
        Pq.encodeCol(books, col("embedding")).as("codes"))
      .repartition(col("cluster"))
    Catalog.transact(s, root, date, time, Seq(
      "centroids" -> IvfIndex.centroidsDf(s, cents),
      "pqbooks" -> booksDf(s, books),
      "lists" -> lists))
  }

  /** Incremental maintenance: assign + encode new vectors under the
    * EXISTING quantizers, append, publish the next cut.
    */
  def append(s: SparkSession, newVecs: DataFrame, root: String,
      date: Int, time: Int): Int = {
    val cents = IvfIndex.loadCentroids(s, root)
    val books = loadBooks(s, root)
    val add = Similarity.assignClusters(newVecs, cents)
      .select(col("cluster"), col("vec_id"), col("embedding"),
        Pq.encodeCol(books, col("embedding")).as("codes"))
      .repartition(col("cluster"))
    val lv = ManifestTable.appendRetrying(add, s"$root/lists", date, time)
    Catalog.publishCatalog(s, root, date, time, Map("lists" -> lv))
  }

  /** The compressed probe: nProbes nearest clusters per query, ADC
    * shortlist over `(cluster, vec_id, codes)` ONLY (embedding column
    * pruned from the hot scan — spec-pinned), exact-cosine rerank of the
    * shortlist's raw vectors. Output contract identical to the exact
    * tier (qid, cand_id, cos6, rank ≤ k).
    */
  def search(s: SparkSession, root: String, queries: DataFrame, k: Int,
      shortlist: Int = 8, asOf: Option[Int] = None): DataFrame = {
    val cents = IvfIndex.loadCentroids(s, root, asOf)
    val books = loadBooks(s, root, asOf)
    val nProbes = Similarity.adaptiveProbes(cents.length)
    val lists = Catalog.readTable(s, root, "lists", asOf)
    val probes = queries
      .select(col("qid"), col("qe"),
        Similarity.probeClusters(col("qe"), cents, nProbes).as("top"))
      .select(col("qid"), col("qe"), explode(col("top.idx")).as("probe"))
    val short = lists.select("cluster", "vec_id", "codes") // embedding pruned
      .join(broadcast(probes),
        col("cluster") === col("probe") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(Pq.adcCosineCol(books, col("qe"), col("codes")), 6).as("adc6"))
      .withColumn("r", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc6").desc, col("cand_id").asc)))
      .where(col("r") <= k * shortlist)
    val raw = lists.select(col("vec_id").as("cand_id"), col("embedding"))
    short.join(raw, "cand_id")
      .join(queries, "qid")
      .select(col("qid"), col("cand_id"),
        round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc))
        .cast("long"))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  val queries: Map[String, Q] = Map(
    // IVF-PQ tier over the committed index. FULLY ORACLED (round-10):
    // both quantizers are the X111 bit-reproducible fixed-point Lloyd's,
    // so the DuckDB twin composes the IVF replay (coarse training, list
    // assignment, probe selection) with the PQ replay (per-subspace
    // codebooks, codes, exact-integer ADC) and re-runs the probed
    // shortlist + rerank — identical row sets even though recall < 1 vs
    // the exact tier. IvfPqSpec keeps recall, column pruning on the hot
    // scan, restart survival, and delete composition as the named pins.
    "q_sim_ivfpq" -> ((s, d) => {
      val root = graft.util.FixtureCache.durableDir("ivfpq_index", d,
        s"v2-fixedpoint-l2:${Similarity.ivfK}:${Similarity.ivfIters}:${Pq.M}:${Pq.K}:${Pq.Iters}") { root =>
        IvfPq.build(s,
          graft.sources.Tables.embeddings(s, d).select("vec_id", "embedding"),
          root, 20250801, 900)
      }
      val q = graft.sources.Tables.embeddings(s, d)
        .where(col("vec_id") < Similarity.nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      search(s, root, q, Similarity.k)
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_sim_ivfpq" ->
      s"""WITH ${Similarity.ivfReplaySql},
         |${Pq.pqReplaySql()},
         |cand AS (SELECT p.qid, a.vec_id AS cand_id
         |         FROM af a JOIN pr p ON a.cid = p.cid AND a.vec_id <> p.qid),
         |${Pq.pqSearchSql("cand", Similarity.k, 8)}""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic fixed-point k-means over embedding columns (extension
  * X111) — the clustering primitive behind cluster-balanced corpus
  * curation (SemDeDup-style: cluster, then dedup/sample WITHIN clusters)
  * and IVF-like index builds. Classic Lloyd's, made bit-reproducible so a
  * DuckDB twin can replay it round for round:
  *
  *  - vectors quantize to integers (`floor(x * 10000)` per element —
  *    float→double cast and floor are IEEE-identical in both engines);
  *  - distances are EXACT integer squared-L2, ties break to the lowest
  *    centroid id;
  *  - init is the k lowest-id vectors (no RNG anywhere);
  *  - centroid update is `floor(sum / count)` per element — integer sums
  *    are exact, and the single double division is correctly rounded in
  *    both engines (quotients are ≥ 1/count away from integers unless
  *    exact, so floor never straddles a rounding error);
  *  - a cluster that empties keeps its previous centroid.
  *
  * Scale shape: one Lloyd's round = one ASSIGN (narrow map — centroids
  * ride into codegen as array literals, k·dim values, no join, no
  * shuffle) + one UPDATE (posexplode then a combinable groupBy(cluster,
  * pos) — k·dim result rows collected to the driver, which is the
  * O(k·dim) model state every distributed k-means keeps). The corpus
  * shuffles k·dim partial rows per partition, never vectors. The
  * expression-literal assign is the right tier for curation-scale k
  * (tens); larger k would switch to a broadcast-join assign — same
  * contract, different physical plan.
  */
object KMeans extends graft.QueryModule {

  /** `floor(x * 10000)` per element, as BIGINT — the shared quantizer. */
  def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"), x => floor(x * 10000).cast("long"))

  /** Exact integer squared-L2 of a quantized-vector column against a
    * constant centroid, via the expansion Σ(x−y)² = Σx² + Σy² − 2Σxy
    * with the NATIVE codegen'd exact dot (`vec_dot_exact`) — the HOF
    * `aggregate(zip_with(...))` form is CodegenFallback (interpreted per
    * element), which is fine at curation-scale k but melts at the IVF
    * tier's √n centroids (round-10: 200k vectors × 447 centroids × 64
    * dims of interpreted lambdas). Values are IDENTICAL integers — the
    * expansion is exact in long arithmetic (terms ≤ 64·10⁸ each), so
    * every oracle and tie-break is untouched. `vn2` is the caller's
    * precomputed Σx² column (one native dot per ROW instead of per
    * row×centroid).
    */
  def distToCol(v: Column, vn2: Column, c: Seq[Long]): Column = {
    val c2 = c.map(x => x * x).sum
    lit(c2) + vn2 - lit(2L) * graft.functions.VectorOps.dotExact(v, typedLit(c))
  }

  /** Nearest-centroid assignment as a pure expression: min over k
    * (distance, cid) structs — struct ordering gives the lowest-cid
    * tie-break for free. One native self-dot per row, one native
    * centroid-dot per row×centroid, all inside whole-stage codegen.
    */
  private def assign(q: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val withN2 = q.withColumn("__qn2",
      graft.functions.VectorOps.dotExact(col("__v"), col("__v")))
    val scored = cents.map { case (cid, c) =>
      struct(distToCol(col("__v"), col("__qn2"), c).as("d"), lit(cid).as("j"))
    }
    withN2.withColumn("cluster", least(scored: _*).getField("j")).drop("__qn2")
  }

  /** Train `iters` Lloyd's rounds and return the FINAL CENTROIDS — the
    * frozen-quantizer hook (X223 drift, or any assign-without-retrain
    * consumer). Model state is k·dim longs on the driver.
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[(Int, Seq[Long])] = {
    require(k >= 2, "k must be >= 2")
    val q = df.withColumn("__v", quantize(col(vecCol)))
    var cents: Seq[(Int, Seq[Long])] =
      q.orderBy(idCol).limit(k).select("__v").collect().toSeq
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Long](0) }
    require(cents.size == k, s"need at least $k vectors, got ${cents.size}")
    for (_ <- 1 to iters) {
      val parts = assign(q, cents)
        .select(col("cluster"), posexplode(col("__v")).as(Seq("pos", "el")))
        .groupBy("cluster", "pos")
        .agg(sum("el").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.map { case (cid, old) =>
        cid -> parts.get(cid).map { rows =>
          rows.sortBy(_.getInt(1))
            .map(r => math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong)
            .toSeq
        }.getOrElse(old) // emptied cluster keeps its centroid
      }
    }
    cents
  }

  /** [[trainCentroids]] memoized per caller key — the Pq.trainedBooks
    * rule for driver-side model artifacts: training is bit-reproducible
    * (KMeansSpec), so consumers whose OPERATOR is downstream of a frozen
    * quantizer (X223 drift) retrain once per JVM per corpus instead of
    * per bench repeat. q_kmeans itself never uses this — Lloyd's IS the
    * thing it times.
    */
  def trainedCentroidsCached(key: String, df: => DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int): Seq[(Int, Seq[Long])] =
    trainCache.computeIfAbsent(key,
      _ => trainCentroids(df, idCol, vecCol, k, iters))

  private val trainCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Long])]]()

  /** Assign `df` to FROZEN centroids (no retrain). */
  def assignTo(df: DataFrame, vecCol: String,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    assign(df.withColumn("__v", quantize(col(vecCol))), cents)

  /** Run `iters` Lloyd's rounds and return the final assignment: the
    * input columns plus `__v` (quantized vector) and `cluster`.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignTo(df, vecCol, trainCentroids(df, idCol, vecCol, k, iters))

  val queries: Map[String, Q] = Map(
    // k=4, 2 update rounds + final assignment over the embeddings table;
    // per-cluster size, lowest member id, and the exact integer checksum
    // of first components. The oracle replays every round as chained
    // CTEs — a wrong distance, tie-break, floor division, or init order
    // in ANY round reshuffles the final membership.
    // X223: embedding drift — centroids train on the REFERENCE corpus
    // (even ids) and FREEZE; both corpora assign to them and the
    // per-cluster histograms compare in exact cross-multiplied integers
    // (the X157 chi-square discipline on embedding space instead of
    // tokens). A retrained-on-the-wrong-corpus quantizer, a drifted
    // assignment, or a wrong tie-break reshuffles a histogram and
    // hash-fails — the oracle replays training AND both assignments.
    "q_embed_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      // the frozen reference quantizer is memoized INPUT (X115): drift
      // DETECTION is the operator; retraining an identical
      // bit-reproducible quantizer per bench repeat only re-times Lloyd's,
      // which q_kmeans owns
      val cents = trainedCentroidsCached(s"drift|$d",
        e.where(col("vec_id") % 2 === 0), "vec_id", "embedding", 4, 2)
      val h = assignTo(e, "embedding", cents)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_cur"))
      val tot = h.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
      h.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_ref"), col("n_cur"),
          abs(col("n_cur") * col("tr") - col("n_ref") * col("tc")).as("shift"))
        .orderBy("cluster")
    }),

    "q_kmeans" -> ((s, d) => {
      kmeans(Tables.embeddings(s, d), "vec_id", "embedding", 4, 2)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"),
          min("vec_id").cast("long").as("first_id"),
          sum(element_at(col("__v"), 1)).cast("long").as("sum_q0"))
        .orderBy("cluster")
    }),

    // X140: exact cluster dispersion — mean pairwise squared distance
    // per cluster WITHOUT the pairwise join: E-identity
    // Σᵢⱼ‖xᵢ−xⱼ‖² = 2·(n·Σ‖x‖² − ‖Σx‖²), all integer moments on the
    // quantized vectors, so the redundancy-vs-diversity signal cluster
    // curation ranks by (tight cluster ⇒ near-dup mass ⇒ sample harder)
    // is EXACT and O(n·dim), not O(n²·dim). Two combinable aggregates
    // (scalar moments; per-dim sums via posexplode, k·dim rows).
    // Numerator published unreduced — no division to disagree on.
    "q_cluster_dispersion" -> ((s, d) => {
      val adir = graft.util.FixtureCache.dir("kmeans_assign", d) { dir =>
        kmeans(Tables.embeddings(s, d), "vec_id", "embedding", 4, 2)
          .select(col("vec_id"), col("cluster"))
          .write.mode("overwrite").parquet(dir)
      }
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), quantize(col("embedding")).as("__v"))
        .join(graft.sources.Tables.cachedParquet(s, adir), "vec_id")
      val scalar = q.select(col("cluster"), explode(col("__v")).as("el"))
        .groupBy("cluster")
        .agg(sum(col("el") * col("el")).as("ssq"))
      val n = q.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      val dimsums = q.select(col("cluster"), posexplode(col("__v")).as(Seq("pos", "el")))
        .groupBy("cluster", "pos").agg(sum("el").as("s"))
        .groupBy("cluster").agg(sum(col("s") * col("s")).as("sums2"))
      n.join(scalar, "cluster").join(dimsums, "cluster")
        .select(col("cluster").cast("long").as("cluster"),
          col("n_vecs"),
          (lit(2) * (col("n_vecs") * col("ssq") - col("sums2")))
            .cast("long").as("disp_num"))
        .orderBy("cluster")
    }),

    // X115: cluster-balanced sampling (the SemDeDup/curation move the
    // clustering exists FOR) — cap every cluster at the same budget,
    // keeping the members with the lowest md5(vec_id) (deterministic,
    // backfill-stable "random", the X67 discipline). Over-represented
    // regions of embedding space lose mass; small clusters survive
    // whole. The assignment is memoized input (the operator under test
    // here is the balanced cap, not Lloyd's — q_kmeans times that).
    "q_cluster_sample" -> ((s, d) => {
      val adir = graft.util.FixtureCache.dir("kmeans_assign", d) { dir =>
        kmeans(Tables.embeddings(s, d), "vec_id", "embedding", 4, 2)
          .select(col("vec_id"), col("cluster"))
          .write.mode("overwrite").parquet(dir)
      }
      val cap = 25
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      graft.sources.Tables.cachedParquet(s, adir)
        .withColumn("rk", row_number().over(w))
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          count(when(col("rk") <= cap, 1)).as("n_kept"),
          sum(when(col("rk") <= cap, col("vec_id"))).cast("long").as("sum_kept_ids"))
        .orderBy("cluster")
    }),
  )

  private[ext] def assignSql(src: String, cents: String, out: String): String =
    s"""$out AS (SELECT vec_id, v, cid FROM (
       |    SELECT q.vec_id, q.v, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.v, c.v),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
       |    FROM $src q, $cents c) WHERE rn = 1)""".stripMargin

  /** [[updateSql]] with the emptied-cluster rule made explicit: a cluster
    * with no assigned vectors KEEPS its previous centroid (exactly
    * [[trainCentroids]]'s `getOrElse(old)`). The plain [[updateSql]] only
    * emits clusters present in the assignment — safe at k=4 on the
    * fixture, wrong in general; the IVF oracle (k ≈ √n) uses this form.
    */
  private[ext] def updateKeepSql(assigned: String, prev: String, out: String): String =
    s"""$out AS (SELECT p.cid, COALESCE(u.v, p.v) AS v FROM $prev p LEFT JOIN (
       |    SELECT cid, list(el ORDER BY pos) AS v FROM (
       |      SELECT cid, pos, CAST(floor(CAST(sum(el) AS DOUBLE) / count(*)) AS BIGINT) AS el
       |      FROM (SELECT cid, unnest(v) AS el, generate_subscripts(v, 1) AS pos FROM $assigned)
       |      GROUP BY cid, pos) GROUP BY cid) u ON u.cid = p.cid)""".stripMargin

  private[ext] def updateSql(src: String, out: String): String =
    s"""$out AS (SELECT cid, list(el ORDER BY pos) AS v FROM (
       |    SELECT cid, pos, CAST(floor(CAST(sum(el) AS DOUBLE) / count(*)) AS BIGINT) AS el
       |    FROM (SELECT cid, unnest(v) AS el, generate_subscripts(v, 1) AS pos FROM $src)
       |    GROUP BY cid, pos) GROUP BY cid)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_embed_drift" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * 10000) AS BIGINT)) AS v
         |  FROM embeddings),
         |qe AS (SELECT * FROM q WHERE vec_id % 2 = 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |       FROM (SELECT vec_id, v FROM qe ORDER BY vec_id LIMIT 4)),
         |${assignSql("qe", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("qe", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("q", "c2", "af")},
         |h AS (SELECT cid,
         |        count(*) FILTER (WHERE vec_id % 2 = 0) AS n_ref,
         |        count(*) FILTER (WHERE vec_id % 2 = 1) AS n_cur
         |      FROM af GROUP BY cid),
         |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
         |               CAST(sum(n_cur) AS BIGINT) AS tc FROM h)
         |SELECT CAST(cid AS BIGINT) AS cluster, n_ref, n_cur,
         |       CAST(abs(n_cur * tr - n_ref * tc) AS BIGINT) AS shift
         |FROM h, tot ORDER BY cluster""".stripMargin,
    "q_kmeans" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * 10000) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |       FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
         |${assignSql("q", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("q", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("q", "c2", "a2")}
         |SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n_vecs,
         |       CAST(min(vec_id) AS BIGINT) AS first_id,
         |       CAST(sum(v[1]) AS BIGINT) AS sum_q0
         |FROM a2 GROUP BY cid ORDER BY cluster""".stripMargin,

    "q_cluster_dispersion" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * 10000) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |       FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
         |${assignSql("q", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("q", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("q", "c2", "a2")},
         |flat AS (SELECT cid, vec_id, unnest(v) AS el,
         |                generate_subscripts(v, 1) AS pos FROM a2),
         |nn AS (SELECT cid, count(DISTINCT vec_id) AS n_vecs FROM flat GROUP BY cid),
         |ssq AS (SELECT cid, CAST(sum(el * el) AS BIGINT) AS ssq FROM flat GROUP BY cid),
         |ds AS (SELECT cid, CAST(sum(s * s) AS BIGINT) AS sums2 FROM (
         |        SELECT cid, pos, CAST(sum(el) AS BIGINT) AS s
         |        FROM flat GROUP BY cid, pos) GROUP BY cid)
         |SELECT CAST(nn.cid AS BIGINT) AS cluster, nn.n_vecs,
         |       CAST(2 * (nn.n_vecs * ssq.ssq - ds.sums2) AS BIGINT) AS disp_num
         |FROM nn JOIN ssq USING (cid) JOIN ds USING (cid)
         |ORDER BY cluster""".stripMargin,

    "q_cluster_sample" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |                   x -> CAST(floor(x * 10000) AS BIGINT)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
         |       FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
         |${assignSql("q", "c0", "a0")},
         |${updateSql("a0", "c1")},
         |${assignSql("q", "c1", "a1")},
         |${updateSql("a1", "c2")},
         |${assignSql("q", "c2", "a2")},
         |ranked AS (SELECT cid, vec_id,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |  FROM a2)
         |SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n_members,
         |       count(CASE WHEN rk <= 25 THEN 1 END) AS n_kept,
         |       CAST(sum(CASE WHEN rk <= 25 THEN vec_id END) AS BIGINT) AS sum_kept_ids
         |FROM ranked GROUP BY cid ORDER BY cluster""".stripMargin,
  )
}

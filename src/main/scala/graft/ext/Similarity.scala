package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.Tables._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star mandate E3; the reference has no vector surface).
  *
  * Two tiers:
  *  - `q_sim_topk`: exact brute force — broadcast the (small) query set
  *    against every candidate, cosine via the codegen'd native expression,
  *    per-query top-k through a ranking window. This is the oracle-checked
  *    baseline and the right plan whenever |queries|·|corpus| is scan-sized.
  *  - `q_sim_lsh`: random-hyperplane (SimHash-for-vectors) bucketing with
  *    multi-probe: a vector's bucket is the sign pattern of `nPlanes` fixed
  *    hyperplane dot products; a query probes its own bucket plus all
  *    Hamming-1 neighbors, then reranks candidates exactly. At 100 TB the
  *    bucket join replaces the full crossJoin — cost drops from |corpus| per
  *    query to |corpus|/2^nPlanes · (nPlanes+1) — and the bucketed side can
  *    be written partitioned by bucket so probes prune to single partitions.
  *    Recall is property-tested against the exact tier (SimilaritySpec).
  */
object Similarity extends graft.QueryModule {
  val k = 5
  val nQueries = 8
  val nPlanes = 6

  /** Upper bound of the plane pool — 2^24 buckets is enough for ~500M
    * vectors at the default occupancy target.
    */
  val maxPlanes = 24

  /** Deterministic pseudo-random Gaussian hyperplanes (fixed seed, 64-dim —
    * the fixture embedding dimensionality). Float32, matching the embedding
    * column, so the codegen'd dot product runs on homogeneous arrays.
    * One sequential draw stream ⇒ PREFIX-STABLE: `planePool.take(n)` for
    * any n ≤ [[maxPlanes]] gives the same planes regardless of how many a
    * caller uses, so growing the plane count refines buckets without
    * reshuffling the old sign bits.
    */
  lazy val planePool: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(maxPlanes)(Array.fill(64)(rnd.nextGaussian().toFloat))
  }

  lazy val planes: Array[Array[Float]] = planePool.take(nPlanes)

  /** Hyperplane count for a corpus of `count` vectors targeting ~`target`
    * vectors per bucket: expected occupancy n/2^p stays CONSTANT as the
    * corpus grows, which keeps the within-bucket candidate join linear in
    * n instead of quadratic — the difference between a 10× corpus costing
    * 10× and costing 100×.
    */
  def adaptivePlanes(count: Long, target: Long = 32L): Int = {
    val needed = math.ceil(math.log(math.max(1.0, count.toDouble / target)) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(nPlanes, needed))
  }

  /** Sign-pattern bucket id of an `array<float>` embedding column over the
    * first `n` pool planes. Each plane projection is the native codegen'd
    * `vec_dot` against a constant plane literal — the whole bucket id stays
    * inside whole-stage codegen.
    *
    * This FLOAT-dot variant backs q_dedup_embedding, whose recall guarantee
    * (an exactly-scaled copy lands in the same bucket) relies on IEEE
    * power-of-two scaling being exact in the double accumulation — a
    * property the quantized variant below does not have.
    */
  def bucketOf(emb: Column, n: Int = nPlanes): Column =
    (0 until n).map { j =>
      when(VectorOps.dot(emb, lit(planePool(j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The pool planes quantized to `floor(p·10⁴)` longs — the X111
    * fixed-point discipline applied to the hyperplanes, so a bucket id is
    * a pure EXACT-INTEGER function of the embedding (quantized the same
    * way) that DuckDB recomputes bit-for-bit. This is what lifts q_sim_lsh
    * from property-pinned to fully oracled (round-10): the oracle replays
    * bucketing, multi-probe, and the rerank, so the row sets match even
    * though recall < 1 vs the exact tier.
    */
  lazy val planeInts: Array[Array[Long]] =
    planePool.map(_.map(x => math.floor(x.toDouble * 10000).toLong))

  /** Exact-integer sign-pattern bucket over a PRE-QUANTIZED `array<long>`
    * vector column (`KMeans.quantize`): one native codegen'd exact dot per
    * plane against the quantized plane literal, strict `> 0` sign rule.
    */
  def bucketOfExact(qv: Column, n: Int = nPlanes): Column =
    (0 until n).map { j =>
      when(VectorOps.dotExact(qv, lit(planeInts(j))) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  val ivfK = 16
  val ivfProbes = 3
  val ivfIters = 3

  /** Maximum coarse-quantizer size — 4096 lists indexes ~16M vectors at
    * the √n rule before list sizes grow linearly again.
    */
  val maxIvfK = 4096

  /** Centroid count for a corpus of `count` vectors: the classic IVF ~√n
    * rule (FAISS's nlist guidance), floored at [[ivfK]]. Fixed k at a
    * growing corpus makes each inverted list — and so every probe — grow
    * LINEARLY with n; √n lists keep list size AND list count balanced at
    * √n, so probe cost grows as √n instead (the same occupancy argument
    * as [[adaptivePlanes]], solved multiplicatively instead of by bit
    * depth).
    */
  def adaptiveIvfK(count: Long): Int =
    math.min(maxIvfK,
      math.max(ivfK, math.round(math.sqrt(count.toDouble)).toInt))

  /** Probe count for a `k`-list quantizer: holds the probed corpus
    * FRACTION at [[ivfProbes]]/[[ivfK]] (the recall-bearing constant) as
    * k grows — finer lists at the same probed fraction strictly improve
    * recall, because the fraction concentrates on lists nearer the query.
    */
  def adaptiveProbes(k: Int): Int =
    math.max(ivfProbes,
      math.ceil(k.toDouble * ivfProbes / ivfK).toInt)

  /** The corpus quantizer and its probe count, memoized per corpus dir:
    * centroids are a deterministic pure function of the corpus (seeded by
    * first-k ids, fixed iteration count), so Lloyd's runs once per JVM.
    */
  def quantizerFor(s: SparkSession, d: String, e: DataFrame): (Array[Array[Long]], Int) =
    graft.util.FixtureCache.value("ivf_quant", d) {
      // committed sidecar (round-10 ask #4) — the FAISS index-file role:
      // a cold driver reads the k×dim centroid lines instead of paying
      // the Lloyd's passes again; k (and thus probes) falls back out of
      // the line count
      val lines = graft.util.ArtifactStore.lines("ivf_quant", d,
        s"v1:iters=$ivfIters") {
        val k = adaptiveIvfK(e.count())
        graft.util.ArtifactStore.encodeMatrix(ivfCentroids(s, e, k))
      }
      val cents = graft.util.ArtifactStore.decodeMatrix(lines)
      (cents, adaptiveProbes(cents.length))
    }

  /** Coarse quantizer for the IVF tier: the X111 bit-reproducible
    * fixed-point Lloyd's (integer ×10⁴ vectors, exact integer squared-L2,
    * first-k-ids seeding, floor-division updates, lowest-cid tie-break,
    * emptied clusters keep their centroid) — the embeddings are
    * unit-normalized, so L2 ordering coincides with cosine ordering and
    * nothing is lost vs the spherical variant, while every centroid
    * component becomes an exact BIGINT a DuckDB oracle replays round for
    * round (round-10: this is what lifts q_sim_ivf/q_sim_ivfpq from
    * property-pinned to fully oracled). Each Lloyd round is distributed
    * (assign = codegen'd integer distances; update = one combinable
    * groupBy); only the k×dim centroid table crosses the driver.
    */
  def ivfCentroids(s: SparkSession, e: DataFrame,
      targetK: Int = ivfK): Array[Array[Long]] = {
    val cents = KMeans.trainCentroids(e, "vec_id", "embedding", targetK, ivfIters)
    cents.sortBy(_._1).map(_._2.toArray).toArray
  }

  /** Nearest-centroid assignment under the fixed-point quantizer: exact
    * integer squared-L2 against centroid literals, lowest-cid tie-break
    * (the X111 assign). Output schema = input + `cluster` (int).
    */
  def assignClusters(e: DataFrame, cents: Array[Array[Long]]): DataFrame =
    KMeans.assignTo(e, "embedding",
      cents.toIndexedSeq.zipWithIndex.map { case (c, i) => i -> c.toSeq })
      .drop("__v")

  /** Per-query nearest-`nProbes` cluster ids (asc integer L2, then asc
    * cid) over a raw float query column — the probe half of the X111
    * assign, generalized from argmin to top-p.
    */
  def probeClusters(qe: Column, cents: Array[Array[Long]], nProbes: Int): Column = {
    val qv = KMeans.quantize(qe)
    val qn2 = VectorOps.dotExact(qv, qv)
    val scored = array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(KMeans.distToCol(qv, qn2, c.toSeq).as("d"), lit(i).as("idx"))
    }: _*)
    slice(sort_array(scored), 1, nProbes)
  }

  /** The committed IVF index fixture shared by q_sim_ivf and
    * q_ivf_balance (built once per corpus; durable across bench JVMs —
    * the round-10 fixture-cache rule).
    */
  def ivfIndexDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.durableDir("ivf_index", d,
      s"v2-fixedpoint-l2:$ivfK:$maxIvfK:$ivfIters") { root =>
      IvfIndex.build(s, embeddings(s, d).select("vec_id", "embedding"),
        root, 20250801, 900)
    }

  val queries: Map[String, Q] = Map(
    // Exact top-k: rank on the ROUNDED cosine (6 dp) with candidate-id
    // tie-break so ordering is reproducible across engines regardless of
    // last-ulp differences.
    "q_sim_topk" -> ((s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
      val q = e.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc)
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cand_id"),
          round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .orderBy("qid", "rank")
    }),

    // IVF tier: probes run against the COMMITTED index (round-6: the
    // quantizer + inverted lists are a durable X99 catalog artifact, not
    // per-JVM state — see IvfIndex). The fixture trains and commits the
    // ~√n adaptive index once; the query is purely index-read + probe +
    // exact rerank, surviving JVM restarts like any lake table. At 100 TB
    // the lists table IS the cluster-partitioned corpus, so a probe
    // reads ivfProbes/k of the data — the classic IVF-flat layout.
    // FULLY ORACLED (round-10): the coarse quantizer is the X111
    // bit-reproducible fixed-point Lloyd's, so the DuckDB twin replays
    // training (√n clusters, 3 unrolled rounds, emptied-cluster keep
    // rule), list assignment, per-query probe selection, and the cos6
    // rerank — identical row sets even though recall < 1 vs the exact
    // tier. SimilaritySpec keeps recall and candidate-efficiency as the
    // quality pins, IvfIndexSpec the durability contract.
    "q_sim_ivf" -> ((s, d) => {
      val q = embeddings(s, d).where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      IvfIndex.search(s, ivfIndexDir(s, d), q, k)
    }),

    // X232: IVF occupancy audit — the index-MAINTENANCE statistic: list
    // sizes decide probe cost (a probe reads its lists' rows, so the
    // Σ size² moment IS the expected candidate volume under uniform
    // queries), and occupancy skew is the signal that the quantizer has
    // aged out and the index needs a rebuild into a fresh generation
    // (the X7 contract). One combinable groupBy over the committed lists
    // table — metadata-cheap at any scale. `balanced_ok` (max ≤ 8× the
    // mean, exact cross-multiplied integers) rides as a boolean the
    // oracle writes literally; the oracle replays training + assignment
    // to rebuild every size.
    "q_ivf_balance" -> ((s, d) => {
      val lists = graft.lake.Catalog.readTable(s, ivfIndexDir(s, d), "lists")
      lists.groupBy("cluster").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_lists"),
          sum("sz").cast("long").as("n_vecs"),
          min("sz").cast("long").as("min_size"),
          max("sz").cast("long").as("max_size"),
          sum(col("sz") * col("sz")).cast("long").as("probe_cost_sq"))
        .withColumn("balanced_ok",
          col("max_size") * col("n_lists") <= col("n_vecs") * 8)
    }),

    // LSH tier: same output shape, candidates restricted to multi-probe
    // buckets. FULLY ORACLED (round-10): bucket ids are exact-integer
    // functions of the quantized embedding (see [[planeInts]]), so the
    // DuckDB twin replays bucketing + Hamming-1 multi-probe + the cos6
    // rerank and the row sets match by construction; a wrong plane, sign
    // rule, probe set, or rank tie-break reshuffles rows and hash-fails.
    // SimilaritySpec keeps the recall-vs-exact property as the quality pin.
    "q_sim_lsh" -> ((s, d) => {
      val e = embeddings(s, d).select("vec_id", "embedding")
        .withColumn("bucket",
          bucketOfExact(KMeans.quantize(col("embedding"))))
      val q = e.where(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(array(
            col("bucket") +:
              (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j))): _*))
            .as("probe"))
      e.join(broadcast(q), col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cand_id"),
          round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
        .withColumn("rank",
          row_number().over(
            Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc))
            .cast("long"))
        .where(col("rank") <= k)
        .orderBy("qid", "rank")
    }),

    // X72: per-label elementwise centroids — class prototypes (the
    // nearest-class-mean classifier, IVF seeding, embedding-drift
    // monitoring). One posexplode → one combinable (label, dim) groupBy:
    // the shuffle carries |labels|·dim rows per map partition, never the
    // corpus. Sums are fixed-point 2⁻³⁰ units (X59's integer-exactness
    // move): float→double widens exactly, ×2³⁰ is an exact exponent
    // shift, floor → BIGINT — so the nondeterministic reduce order can't
    // wiggle the hash and no engine's double↔decimal conversion quirks
    // enter (DECIMAL-of-double rounds via scaled float math in DuckDB).
    // 2⁻³⁰ sits below float's own resolution for |v| ≥ 2⁻⁶, so the
    // quantization is invisible at embedding magnitudes.
    "q_vec_centroid" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vecs"),
          sum(floor(col("v").cast("double") * (1L << 30))).as("sum_fp"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("n_vecs"),
          col("sum_fp"),
          (col("sum_fp").cast("double") / lit(1073741824.0) / col("n_vecs"))
            .as("mean_val"))
        .orderBy("label", "dim")),
  )

  /** DuckDB twin of [[bucketOfExact]] over a quantized-vector SQL
    * expression — exact BIGINT plane dots against the same [[planeInts]]
    * literals, same strict `> 0` sign rule.
    */
  private def lshBucketSql(qv: String): String =
    (0 until nPlanes).map { j =>
      s"""(CASE WHEN list_sum(list_transform(list_zip($qv,
         |   ${planeInts(j).mkString("[", ", ", "]")}),
         |   p -> p[1] * p[2])) > 0 THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString("\n + ")

  private val cosSql =
    "round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(p.qe AS DOUBLE[])), 6)"

  /** `floor(x·10⁴)` fixed-point quantization of the embedding column —
    * the DuckDB twin of `KMeans.quantize`.
    */
  private[ext] val quantSql =
    "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 10000) AS BIGINT))"

  /** The unrolled IVF training replay shared by the q_sim_ivf and
    * q_sim_ivfpq oracles: quantized corpus `q`, adaptive k/p CTEs,
    * first-k seeding, [[ivfIters]] Lloyd rounds (keep rule on empties),
    * final assignment `af(vec_id, v, cid)`, and per-query probed clusters
    * `pr(qid, cid)`.
    */
  private[ext] def ivfReplaySql: String = {
    val rounds = (0 until ivfIters).map { i =>
      s"""${KMeans.assignSql("q", s"c$i", s"a$i")},
         |${KMeans.updateKeepSql(s"a$i", s"c$i", s"c${i + 1}")}""".stripMargin
    }.mkString(",\n")
    s"""q AS (SELECT vec_id, embedding, $quantSql AS v FROM embeddings),
       |kk AS (SELECT GREATEST($ivfK, LEAST($maxIvfK,
       |         CAST(round(sqrt(CAST(count(*) AS DOUBLE))) AS INT))) AS k FROM q),
       |pp AS (SELECT GREATEST($ivfProbes, CAST(ceil(k * ${ivfProbes}.0 / $ivfK) AS INT)) AS p FROM kk),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
       |       FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |$rounds,
       |${KMeans.assignSql("q", s"c$ivfIters", "af")},
       |qd AS (SELECT qq.vec_id AS qid, c.cid,
       |         list_sum(list_transform(list_zip(qq.v, c.v),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM q qq, c$ivfIters c WHERE qq.vec_id < $nQueries),
       |pr AS (SELECT qid, cid FROM (
       |         SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |         FROM qd) WHERE rn <= (SELECT p FROM pp))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_ivf_balance" ->
      s"""WITH $ivfReplaySql,
         |sizes AS (SELECT cid, count(*) AS sz FROM af GROUP BY cid)
         |SELECT count(*) AS n_lists,
         |       CAST(sum(sz) AS BIGINT) AS n_vecs,
         |       CAST(min(sz) AS BIGINT) AS min_size,
         |       CAST(max(sz) AS BIGINT) AS max_size,
         |       CAST(sum(sz * sz) AS BIGINT) AS probe_cost_sq,
         |       max(sz) * count(*) <= sum(sz) * 8 AS balanced_ok
         |FROM sizes""".stripMargin,
    "q_sim_ivf" ->
      s"""WITH $ivfReplaySql,
         |cand AS (SELECT p.qid, a.vec_id AS cand_id
         |         FROM af a JOIN pr p ON a.cid = p.cid AND a.vec_id <> p.qid)
         |SELECT qid, cand_id, cos6, rank FROM (
         |  SELECT t.qid, t.cand_id,
         |         round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
         |                                      CAST(qe.embedding AS DOUBLE[])), 6) AS cos6,
         |         row_number() OVER (PARTITION BY t.qid
         |           ORDER BY round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
         |                                                 CAST(qe.embedding AS DOUBLE[])), 6) DESC,
         |                    t.cand_id) AS rank
         |  FROM cand t JOIN q ce ON ce.vec_id = t.cand_id
         |              JOIN q qe ON qe.vec_id = t.qid)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin,
    "q_sim_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |    ${lshBucketSql(
                "list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 10000) AS BIGINT))")} AS bucket
         |  FROM embeddings),
         |probes AS (SELECT vec_id AS qid, embedding AS qe,
         |    unnest([bucket, ${(0 until nPlanes).map(j => s"xor(bucket, ${1 << j})").mkString(", ")}]) AS probe
         |  FROM b WHERE vec_id < $nQueries)
         |SELECT qid, cand_id, cos6, rank FROM (
         |  SELECT p.qid, c.vec_id AS cand_id, $cosSql AS cos6,
         |         row_number() OVER (PARTITION BY p.qid
         |           ORDER BY $cosSql DESC, c.vec_id) AS rank
         |  FROM b c JOIN probes p ON c.bucket = p.probe AND c.vec_id <> p.qid)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin,
    "q_sim_topk" ->
      s"""SELECT qid, cand_id, cos6, rank FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS cand_id,
         |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                      CAST(q.embedding AS DOUBLE[])), 6) AS cos6,
         |         row_number() OVER (
         |           PARTITION BY q.vec_id
         |           ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
         |                                                 CAST(q.embedding AS DOUBLE[])), 6) DESC,
         |                    c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c
         |    ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin,
    "q_vec_centroid" ->
      """SELECT label, i.i AS dim, count(*) AS n_vecs,
        |       CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1073741824) AS BIGINT)) AS BIGINT) AS sum_fp,
        |       CAST(sum(CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1073741824) AS BIGINT)) AS DOUBLE)
        |         / 1073741824.0 / count(*) AS mean_val
        |FROM embeddings JOIN range(0, 256) i(i) ON i.i < len(embedding)
        |GROUP BY label, i.i
        |ORDER BY label, dim""".stripMargin,
  )
}

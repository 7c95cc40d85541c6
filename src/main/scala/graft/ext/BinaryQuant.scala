package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.Tables

/** Binary (sign) quantization + exact Hamming search (extension X205) —
  * the 1-bit tier of the similarity family (E3 exact / LSH / IVF / PQ /
  * IVF-PQ), the RaBitQ / "binary quantization" shape vector stores ship:
  * keep only each dimension's SIGN, pack 64 dims into one long (32×
  * compression over float32), and rank candidates by Hamming distance —
  * `bit_count(a ^ b)` over the packed words, one popcount per 64 dims.
  *
  * Unlike the other compressed tiers this one is fully ORACLED, not
  * property-pinned: sign + Hamming is deterministic exact integer
  * arithmetic, so DuckDB replays the whole search (bit-for-bit) from the
  * raw embeddings. Recall vs the exact cosine tier is still measured and
  * floor-pinned in BinaryQuantSpec — the quality story — but correctness
  * needs no recall hedge.
  *
  * Scale shape (100 TB of vectors): packing is per-row HOF arithmetic
  * (embarrassingly parallel, no shuffle; all codegen'd builtins — no
  * UDF); search broadcasts the query set and scans packed words at 1/32
  * the bytes of the raw corpus (parquet column pruning keeps raw floats
  * on disk when the packed column is materialized next to them); the
  * top-k per query is a TakeOrdered-class window over candidate counts.
  * Composes with X7 IVF buckets for sub-linear probes: Hamming replaces
  * ADC inside each probed cluster.
  */
object BinaryQuant extends graft.QueryModule {

  /** Sign-pack an `array<float>` into `array<long>` words: dimension i
    * contributes bit `i % 64` of word `i / 64` iff its value > 0.
    * Builtins only (sequence/aggregate/shiftleft/|) — whole-stage
    * codegen, no UDF.
    */
  def signPack(emb: String): Column = expr(
    s"""transform(sequence(0, CAST(ceil(size($emb) / 64.0) AS INT) - 1),
       |  w -> aggregate(
       |    sequence(w * 64, least(w * 64 + 63, size($emb) - 1)),
       |    0L,
       |    (a, i) -> IF(element_at($emb, i + 1) > CAST(0.0 AS FLOAT),
       |                 a | shiftleft(1L, i % 64), a)))""".stripMargin)

  /** Hamming distance between two packed sign vectors: one popcount per
    * 64 dims.
    */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Exact Hamming top-k of `queries` (qid, qbits) against `corpus`
    * (vec_id, bits): deterministic rank (distance, then candidate id).
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("ham").asc, col("cand_id").asc)
    corpus.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        hamming(col("bits"), col("qbits")).as("ham"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** The production search shape (Jégou §V applied to the 1-bit tier):
    * Hamming SHORTLIST over packed words (the cheap 1/32-bytes scan),
    * then exact-cosine rerank of the shortlist's raw vectors only — raw
    * reads are shortlist-sized, like the PQ tier's ADC→rerank. Recall is
    * floor-pinned in BinaryQuantSpec; the pure-Hamming ranking is the
    * oracled query.
    */
  def searchRerank(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int): DataFrame = {
    val short = topK(
      corpus.select(col("vec_id"), col("bits")),
      queries.select(col("qid"), col("qbits")), shortlist)
      .select("qid", "cand_id")
    val w = Window.partitionBy("qid").orderBy(col("cos6").desc, col("cand_id").asc)
    short.join(corpus.select(col("vec_id").as("cand_id"), col("embedding")), "cand_id")
      .join(broadcast(queries.select(col("qid"), col("qe"))), "qid")
      .select(col("qid"), col("cand_id"),
        round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  val queries: Map[String, Q] = Map(
    // Sign-pack the corpus, Hamming-rank the standard 8 query vectors —
    // the oracle rebuilds every bit and every distance from raw floats
    "q_sim_hamming" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), signPack("embedding").as("bits"))
      val q = e.where(col("vec_id") < Similarity.nQueries)
        .select(col("vec_id").as("qid"), col("bits").as("qbits"))
      topK(e, q, Similarity.k).orderBy("qid", "rank")
    }))

  val oracles: Map[String, String] = Map(
    "q_sim_hamming" ->
      s"""WITH bits AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |         (unnest(embedding) > 0) AS b
         |  FROM embeddings
         |), dist AS (
         |  SELECT qb.vec_id AS qid, cb.vec_id AS cand_id,
         |         count(*) FILTER (WHERE qb.b <> cb.b) AS ham
         |  FROM bits qb JOIN bits cb USING (i)
         |  WHERE qb.vec_id < ${Similarity.nQueries} AND cb.vec_id <> qb.vec_id
         |  GROUP BY qb.vec_id, cb.vec_id
         |)
         |SELECT qid, cand_id, ham, rank FROM (
         |  SELECT qid, cand_id, ham,
         |         row_number() OVER (PARTITION BY qid ORDER BY ham, cand_id) AS rank
         |  FROM dist)
         |WHERE rank <= ${Similarity.k} ORDER BY qid, rank""".stripMargin)
}

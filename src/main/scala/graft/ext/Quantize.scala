package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Int8 scalar quantization of embedding vectors (X46) — the memory-
  * bandwidth lever of large-scale ANN: 4 bytes/dim float32 → 1 byte/dim
  * codes (plus one float scale per vector) cuts the scan volume of the
  * rerank/search tiers 4×, which at 100 TB of embeddings is the
  * difference between a bandwidth-bound and a compute-bound scan.
  *
  * Scheme: symmetric per-vector quantization — `code_i = trunc(x_i /
  * max|x| · 127)`, reconstruction `code_i · max|x| / 127`, absolute error
  * ≤ max|x|/127 per dimension (pinned in QuantizeSpec). All per-row
  * column expressions (no shuffle, no UDF); the double arithmetic is
  * written with the IDENTICAL operation order in the DuckDB oracle, so
  * the hash pins cross-engine IEEE bit-agreement of the whole pipeline,
  * not just "roughly similar codes".
  */
object Quantize extends graft.QueryModule {
  /** Per-vector max|x| (double); the quantization scale is maxAbs/127. */
  def maxAbs(emb: Column): Column =
    array_max(transform(emb, x => abs(x.cast("double"))))

  /** Int codes in [-127, 127]; the all-zero vector quantizes to zeros
    * (guarding the 0/0 NaN).
    */
  def codes(emb: Column): Column = {
    val m = maxAbs(emb)
    when(m === 0d, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb, x =>
        (x.cast("double") / m * 127d).cast("long")))
  }

  /** X243 Matryoshka geometry: audited prefix widths (last = full). */
  val mrlDims = Seq(16, 32, 64)

  val queries: Map[String, Q] = Map(
    // X243: Matryoshka truncation audit — MRL-trained embeddings promise
    // that a PREFIX of the vector is itself a usable embedding; whether
    // YOUR vectors keep their neighbors under truncation is the audit
    // this runs (retrieval pipelines downshift to 16/32-dim prefixes for
    // the coarse pass only when this table says recall survives).
    // Per prefix width: top-k neighbor sets for the query panel under
    // the exact-integer prefix dot (X111 ×10⁴ quantization, native
    // codegen'd kernel), compared against the full-width baseline —
    // recall_permille per width, exact integers end-to-end (the
    // full-width row must read 1000, a built-in self-check).
    // Scale shape: ONE pass over corpus × query panel (panel broadcast,
    // |queries| rows); the three prefix dots ride the same row, then
    // explode output-sized (3 · corpus · |panel| before top-k windows
    // whose partitions are panel-sized — many small windows).
    "q_matryoshka" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("v"))
      val q = e.where(col("vec_id") < Similarity.nQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val dots = mrlDims.map(p => struct(lit(p.toLong).as("dims"),
        graft.functions.VectorOps.dotExact(
          slice(col("v"), 1, p), slice(col("qv"), 1, p)).as("dp")))
      // materialized: `top` feeds both sides of the baseline self-join
      // below, and Spark recomputes shared subplans per branch — without
      // this the corpus × panel cross join and the three per-width top-k
      // windows run TWICE per invocation (the Dedup.materializeCached
      // discipline; a pure function of the corpus, so FixtureCache keys
      // it per dir and warm repeats read parquet)
      val top = graft.util.FixtureCache.parquet(s, "mrl_top", d) { dir =>
        e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cand"),
            explode(array(dots: _*)).as("x"))
          .select(col("qid"), col("cand"), col("x.dims").as("dims"),
            col("x.dp").as("dp"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("dims", "qid")
              .orderBy(col("dp").desc, col("cand").asc)))
          .where(col("rk") <= Similarity.k)
          .select("dims", "qid", "cand")
          .write.mode("overwrite").parquet(dir)
      }
      val full = top.where(col("dims") === mrlDims.last)
        .select(col("qid"), col("cand"), lit(1L).as("hit"))
      top.join(full, Seq("qid", "cand"), "left")
        .groupBy("dims")
        .agg(count(lit(1)).as("n_ranked"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
        .withColumn("recall_permille", expr("n_hits * 1000 div n_ranked"))
        .orderBy("dims")
    }),

    // Quantization manifest per vector: dimension count and the code
    // stream's sum/extrema — enough to pin every code value's sign,
    // truncation, and scale handling against the oracle's recomputation.
    "q_embed_quant" -> ((s, d) => {
      val c = codes(col("embedding"))
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        aggregate(c, lit(0L), (acc, x) => acc + x).as("sum_codes"),
        array_min(c).as("min_code"),
        array_max(c).as("max_code"))
        .orderBy("vec_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_matryoshka" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(x * 10000) AS BIGINT)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < ${Similarity.nQueries}),
         |dims AS (SELECT unnest([${mrlDims.mkString(", ")}]) AS p),
         |scored AS (
         |  SELECT d.p AS dims, q.qid, e.vec_id AS cand,
         |         CAST(list_sum([e.v[i] * q.qv[i] for i in range(1, d.p + 1)]) AS BIGINT) AS dp
         |  FROM e, q, dims d WHERE e.vec_id <> q.qid),
         |topk AS (
         |  SELECT dims, qid, cand FROM (
         |    SELECT dims, qid, cand,
         |           row_number() OVER (PARTITION BY dims, qid
         |                              ORDER BY dp DESC, cand) AS rk
         |    FROM scored) WHERE rk <= ${Similarity.k}),
         |base AS (SELECT qid, cand FROM topk WHERE dims = ${mrlDims.last})
         |SELECT CAST(t.dims AS BIGINT) AS dims, count(*) AS n_ranked,
         |       CAST(sum(CASE WHEN b.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |       CAST(sum(CASE WHEN b.qid IS NOT NULL THEN 1 ELSE 0 END) * 1000
         |            // count(*) AS BIGINT) AS recall_permille
         |FROM topk t LEFT JOIN base b ON b.qid = t.qid AND b.cand = t.cand
         |GROUP BY t.dims ORDER BY dims""".stripMargin,

    // trunc() before the BIGINT cast: DuckDB CAST(double AS BIGINT)
    // ROUNDS where Spark's cast truncates — the explicit trunc aligns
    // them (toward zero in both engines).
    "q_embed_quant" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(list_min(codes) AS BIGINT) AS min_code,
        |  CAST(list_max(codes) AS BIGINT) AS max_code
        |FROM (
        |  SELECT vec_id,
        |    embedding,
        |    CASE WHEN m = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |                x -> CAST(trunc(CAST(x AS DOUBLE) / m * 127) AS BIGINT)) END AS codes
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        |        FROM embeddings))
        |ORDER BY vec_id""".stripMargin,
  )
}

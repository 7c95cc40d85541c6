package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** SemDeDup (extension X191) — semantic deduplication via cluster-scoped
  * cosine near-dup removal (Abbas et al., "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication", 2023): embed,
  * k-means cluster, and remove near-duplicates WITHIN each cluster only.
  * The clustering is what makes web-scale semantic dedup tractable — the
  * candidate set shrinks from all-pairs O(N²) to Σ c² over cluster sizes
  * (the same bucket-bound discipline as every other dedup tier here:
  * MinHash bands E2, LSH planes, SimHash bands), and the clusters are
  * the X111 fixed-point Lloyd's assignment, so membership is
  * bit-deterministic and ORACLE-REPLAYABLE — unlike the ANN tiers, this
  * dedup is exact-checkable end to end.
  *
  * Dedup rule (the paper's, with a deterministic survivor): inside a
  * cluster, drop row d when some EARLIER row e (lower id — the
  * backfill-stable total order every dedup family here uses) satisfies
  * cos(e, d) ≥ τ. The cosine test runs in EXACT integer arithmetic on
  * the ×10⁴-quantized vectors: `cos ≥ τ` (with positive dot) iff
  * `dot² · 10⁴ ≥ (τ²·10⁴) · |a|²·|b|²` — 128-bit-safe via DECIMAL(38,0)
  * on the engine side and HUGEINT in the oracle, no sqrt, no floats, no
  * last-ulp cross-engine drift.
  *
  * Scale shape: one equi-join on `cluster` bounded per-cluster (never
  * all-pairs), quantization and the dot products inside whole-stage
  * codegen, the assignment memoized as a committed artifact exactly like
  * X115's (Lloyd's is the INPUT here; q_kmeans times that).
  */
object SemDedup extends graft.QueryModule {

  /** τ²·10⁴ for τ = 0.95 — the similarity threshold as an exact
    * integer.
    */
  val Tau2E4: Long = 9025L

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // native codegen'd exact integer dot (functions/DotProdL) — the
  // interpreted aggregate(zip_with(...)) fold was measured ~7× slower
  // over the pair join, exactly the X177 HOF-vs-kernel lesson
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dotExact(a, b)

  /** Survivors of cluster-scoped cosine dedup. `assigned` must carry
    * (`idCol`, `__v` quantized vector, `cluster`). Returns `assigned`
    * minus dropped rows.
    *
    * Shape: norms are computed ONCE PER ROW (a projection before the
    * join — putting them in the join condition would re-fold both
    * 64-element arrays for every candidate pair), the cluster equi-join
    * emits pairs, ONE projection computes each pair's dot, and the
    * exact 128-bit comparison runs on three scalars. The only decimal
    * work per pair is the three overflow-safe multiplies.
    */
  def semdedup(assigned: DataFrame, idCol: String,
      tau2E4: Long = Tau2E4): DataFrame = {
    val withNorm = assigned
      .withColumn("__n2", dot(col("__v"), col("__v")))
    val a = withNorm.select(col("cluster").as("__ca"),
      col(idCol).as("__ida"), col("__v").as("__va"), col("__n2").as("__na"))
    val dup = withNorm.join(a,
        col("__ca") === col("cluster") && col("__ida") < col(idCol))
      .withColumn("__dot", dot(col("__va"), col("__v")))
      .where(col("__dot") > 0 &&
        dec(col("__dot")) * dec(col("__dot")) * lit(10000L) >=
          lit(tau2E4) * dec(col("__na")) * dec(col("__n2")))
      .select(col(idCol)).distinct()
    assigned.join(dup, Seq(idCol), "left_anti")
  }

  /** The corpus with planted semantic duplicates: every `vec_id % 10 ==
    * 0` row re-enters as `vec_id + 100000` scaled by 1.02 — same
    * direction (cosine 1 to its source), different magnitude, so
    * cluster-scoped cosine dedup must catch it while L2 k-means may
    * place it anywhere. The double multiply is IEEE-exact, so the
    * oracle rebuilds the identical corpus from raw embeddings.
    */
  def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val copies = e.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * 1.02)
          .as("embedding"))
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(copies)
  }

  val queries: Map[String, Q] = Map(
    // X191: planted duplicates drop, distinct-direction vectors survive;
    // per-cluster membership, drop counts, and the surviving id checksum
    // are all exact — the oracle replays Lloyd's AND the integer cosine
    // test from raw embeddings.
    //
    // Cluster count is ADAPTIVE (round-10: the sf1 sweep measured the
    // fixed k=16 version at 6.9× for 10× data — within-cluster pairs grow
    // Σc² ≈ n²/k when k is pinned; the √n rule bounds pair volume at
    // ~n^1.5 and is exactly how the SemDeDup paper keeps web-scale
    // tractable: cluster count grows with the corpus). The oracle
    // computes the same k from the corpus count, so the replay stays
    // bit-exact at every SF.
    "q_semdedup" -> ((s, d) => {
      val adir = graft.util.FixtureCache.dir("semdedup_assign", d) { dir =>
        val corpus = plantedCorpus(s, d)
        val k = Similarity.adaptiveIvfK(corpus.count())
        KMeans.kmeans(corpus, "vec_id", "embedding", k, 2)
          .select(col("vec_id"), col("__v"), col("cluster"))
          .write.mode("overwrite").parquet(dir)
      }
      val assigned = graft.sources.Tables.cachedParquet(s, adir)
      val kept = semdedup(assigned, "vec_id")
      assigned.groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .join(kept.groupBy(col("cluster").cast("long").as("cluster"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("vec_id")).cast("long").as("sum_kept_ids")), Seq("cluster"))
        .withColumn("n_dropped", col("n_members") - col("n_kept"))
        .orderBy("cluster")
    }))

  val oracles: Map[String, String] = Map(
    "q_semdedup" -> {
      val prelude =
        s"""WITH base AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.02)
           |  FROM embeddings WHERE vec_id % 10 = 0),
           |q AS (SELECT vec_id,
           |    list_transform(emb, x -> CAST(floor(x * 10000) AS BIGINT)) AS v
           |  FROM base),
           |kk AS (SELECT GREATEST(${Similarity.ivfK}, LEAST(${Similarity.maxIvfK},
           |         CAST(round(sqrt(CAST(count(*) AS DOUBLE))) AS INT))) AS k FROM q),
           |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
           |       FROM q QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
           |${KMeans.assignSql("q", "c0", "a0")},
           |${KMeans.updateKeepSql("a0", "c0", "c1")},
           |${KMeans.assignSql("q", "c1", "a1")},
           |${KMeans.updateKeepSql("a1", "c1", "c2")},
           |${KMeans.assignSql("q", "c2", "a2")}""".stripMargin
      prelude +
        """,
          |dots AS (
          |  SELECT d.vec_id, d.cid
          |  FROM a2 d JOIN a2 e
          |    ON e.cid = d.cid AND e.vec_id < d.vec_id
          |   AND list_sum(list_transform(list_zip(e.v, d.v), p -> p[1] * p[2])) > 0
          |   AND CAST(list_sum(list_transform(list_zip(e.v, d.v), p -> p[1] * p[2])) AS HUGEINT)
          |       * list_sum(list_transform(list_zip(e.v, d.v), p -> p[1] * p[2])) * 10000
          |       >= 9025
          |       * CAST(list_sum(list_transform(e.v, x -> x * x)) AS HUGEINT)
          |       * list_sum(list_transform(d.v, x -> x * x))
          |  GROUP BY d.vec_id, d.cid),
          |kept AS (SELECT * FROM a2 WHERE vec_id NOT IN (SELECT vec_id FROM dots))
          |SELECT CAST(m.cid AS BIGINT) AS cluster, m.n_members, k.n_kept,
          |       k.sum_kept_ids, m.n_members - k.n_kept AS n_dropped
          |FROM (SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid) m
          |JOIN (SELECT cid, count(*) AS n_kept,
          |             CAST(sum(vec_id) AS BIGINT) AS sum_kept_ids
          |      FROM kept GROUP BY cid) k ON k.cid = m.cid
          |ORDER BY cluster""".stripMargin
    })
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** X157: Corpus drift detection — which tokens' frequencies shifted most
  * between two corpus slices, ranked by the 2×2 chi-square statistic.
  *
  * The monitoring question every continuously-ingested training corpus
  * asks: did this crawl snapshot's token distribution move against the
  * last one's (new spam cluster, a source gone bad, a language mix
  * shift)? The classic answer is a per-token two-sample test; chi-square
  * over the (slice × {token, ¬token}) contingency table is the standard
  * choice (it is also the G-test's second-order Taylor twin, without the
  * logarithms that would make cross-engine bit-agreement impossible).
  *
  * Exactness (the X86 move): with a = count of t in slice A, b = in B,
  * NA/NB the slice token totals, N = NA+NB,
  *
  *   χ² = N·(a·NB − b·NA)² / (NA·NB·(a+b)·(N−a−b))
  *
  * — every term integral, so the engine reports `⌊χ²·10⁴⌋` via integral
  * division in DECIMAL(38,0): bit-identical to DuckDB's HUGEINT `//`.
  * Magnitude bound: peak term N·(a·NB)²·10⁴ stays under 10³⁸ through
  * sf10 (N ≈ 2.7·10⁷ tokens ⇒ ≈ 5·10³⁷); past that scale a double G-test
  * replaces the exact tier (ranking, not an oracle gate, is the job
  * there).
  *
  * Plan shape: explode tokens ONCE, one combinable (token)-keyed count
  * aggregate carrying both slices as conditional sums (shuffle traffic =
  * vocabulary, not corpus), slice totals summed FROM the vocab-sized
  * count table (no second corpus pass), broadcast back as a scalar row,
  * pure per-token arithmetic, top-k by (score desc, token asc). The
  * corpus shuffles zero times.
  */
object Drift extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Slices: even vs odd doc_id (two deterministic interleaved
    // "snapshots" of the same corpus — drift ranking mechanics and the
    // exact-arithmetic contract are what's pinned; real deployments slice
    // by crawl/ingest date).
    "q_corpus_drift" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cnt_b"))
      val totals = counts.agg(
        sum("cnt_a").cast("decimal(20,0)").as("na"),
        sum("cnt_b").cast("decimal(20,0)").as("nb"))
      counts
        .crossJoin(broadcast(totals))
        .withColumn("chi2_e4", expr(
          """((na + nb) * (cast(cnt_a as decimal(20,0)) * nb - cast(cnt_b as decimal(20,0)) * na)
             |  * (cast(cnt_a as decimal(20,0)) * nb - cast(cnt_b as decimal(20,0)) * na) * 10000)
             | div (na * nb * (cnt_a + cnt_b) * (na + nb - cnt_a - cnt_b))""".stripMargin))
        .orderBy(desc("chi2_e4"), asc("token"))
        .select("token", "cnt_a", "cnt_b", "chi2_e4")
        .limit(15)
    }))

  val oracles: Map[String, String] = Map(
    "q_corpus_drift" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                    t -> t <> '')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token,
        |         sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS cnt_a,
        |         sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cnt_b
        |  FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt_a) AS HUGEINT) AS na,
        |               CAST(sum(cnt_b) AS HUGEINT) AS nb FROM counts)
        |SELECT token, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
        |       CAST(((na + nb) * (cnt_a * nb - cnt_b * na) * (cnt_a * nb - cnt_b * na) * 10000)
        |            // (na * nb * (cnt_a + cnt_b) * (na + nb - cnt_a - cnt_b)) AS BIGINT)
        |         AS chi2_e4
        |FROM counts, tot
        |ORDER BY chi2_e4 DESC, token
        |LIMIT 15""".stripMargin)
}

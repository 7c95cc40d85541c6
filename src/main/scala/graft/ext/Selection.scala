package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.documents

/** Budgeted top-score selection (X240) — data pruning's final step: keep
  * the best-scoring documents until a token budget is exhausted, drop
  * the rest. The selection rule every scored-data pipeline ends in
  * ("train on the top-X% by quality, measured in tokens, not docs").
  *
  * Contract: documents order by fluency (stopword permille, the X228
  * proxy) descending, ties by doc_id; a doc is SELECTED iff the budget
  * is not yet exhausted when its turn comes (`cum_before < B` — the X45
  * inclusion rule, so the boundary doc may overflow the budget by at
  * most its own tokens). Exact integers end-to-end.
  *
  * Scale shape: the interesting operator here is the global running
  * total in score order — naively `sum(tokens) OVER (ORDER BY score)`,
  * a single-partition window that dies at scale (the X77 trap, prefix-
  * sum flavored). It rides [[graft.ops.DenseId.prefixSumWithTotal]]
  * instead: explicit range buckets over a composite (score, id) key,
  * bucket-local running sums, driver-sized bucket offsets broadcast
  * back. One slim-frame pass, bucket-parallel everywhere; the budget
  * itself falls out of the offsets pass for free.
  */
object Selection extends graft.QueryModule {
  /** Keep the top `budgetNum`/`budgetDen` of corpus tokens. */
  val budgetNum = 4
  val budgetDen = 10

  val queries: Map[String, Q] = Map(
    // Per-source manifest of the selected subset: the mixture a fixed
    // token budget actually buys (fluent sources crowd out the rest —
    // the effect this report exists to surface).
    "q_budget_select" -> ((s, d) => {
      val scored = graft.util.FixtureCache.parquet(s, "budget_scores", d) { dir =>
        val t = TextAnalysis.tokens(col("text"))
        documents(s, d)
          .select(col("doc_id"), col("source"),
            size(t).cast("long").as("n_tok"),
            TextAnalysis.countIn(t, TextAnalysis.stopwords).as("n_stop"))
          .withColumn("permille",
            expr("n_stop * 1000 div greatest(n_tok, 1)"))
          .write.mode("overwrite").parquet(dir)
      }
      // composite sort key + prefix structure: pure functions of the
      // immutable score fixture, cached per corpus dir (the X7
      // quantizer-cache discipline) so warm runs pay ONE distributed
      // pass — at scale the structure persists alongside the table: a
      // COMMITTED sidecar (round-10 ask #4) a restarted driver re-reads
      val (stride, st) = graft.util.FixtureCache.value("sel_prefix", d) {
        val lines = graft.util.ArtifactStore.lines("sel_prefix", d, "v1:k8") {
          val stride = scored.agg(max("doc_id")).head.getAs[Number](0).longValue() + 1
          val st = graft.ops.DenseId.prefixStructure(
            scored.withColumn("k", (lit(1000L) - col("permille")) * stride +
              col("doc_id")), "k", "n_tok", 8)
          stride.toString +: graft.util.ArtifactStore.encodePrefix(st)
        }
        (lines.head.toLong,
          graft.util.ArtifactStore.decodePrefix(lines.tail))
      }
      val keyed = scored.withColumn("k",
        (lit(1000L) - col("permille")) * stride + col("doc_id"))
      val cum = graft.ops.DenseId.applyPrefix(keyed, "k", "n_tok", st)
      val budget = st.total * budgetNum / budgetDen
      cum.where(col("cum_before") < budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"),
          sum("n_tok").cast("long").as("sel_tokens"),
          sum("doc_id").cast("long").as("sum_ids"))
        .orderBy("source")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_budget_select" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tok,
         |         ${TextAnalysis.countInSql(TextAnalysis.stopwords)} AS n_stop
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, source, n_tok,
         |         (1000 - n_stop * 1000 // GREATEST(n_tok, 1)) *
         |           (SELECT max(doc_id) + 1 FROM base) + doc_id AS k
         |  FROM base),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |         CAST(coalesce(sum(n_tok) OVER (ORDER BY k
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum
         |  FROM keyed)
         |SELECT source, count(*) AS n_sel,
         |       CAST(sum(n_tok) AS BIGINT) AS sel_tokens,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM c
         |WHERE cum < (SELECT CAST(sum(n_tok) * $budgetNum // $budgetDen AS BIGINT)
         |             FROM base)
         |GROUP BY source ORDER BY source""".stripMargin,
  )
}

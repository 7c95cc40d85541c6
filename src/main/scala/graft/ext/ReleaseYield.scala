package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.documents

/** Composed curation-chain yield report (X254) — the round's curation
  * operators INTERLOCKED as one pipeline, reported as the yield funnel a
  * dataset release publishes: how much survives each stage and at what
  * token mass.
  *
  *   raw → quality (the X247 rule ladder's `kept` rung)
  *       → dedup   (X251 keep-best over clusters restricted to quality
  *                  survivors — the keeper is the quality argmax among
  *                  SURVIVING members, so stages compose rather than
  *                  leak: a cluster whose min-id member failed quality
  *                  still keeps its best surviving copy)
  *       → budget  (X240's fluent-first cut at 40% of SURVIVOR tokens —
  *                  the budget is relative to what dedup left, the way a
  *                  real release budgets what it can actually ship)
  *       → packed  (X45 contiguous 256-token packs over the selection).
  *
  * One row per stage: (stage, n_units, sum_tokens) — units are documents
  * through `budget` and packs at `packed`. Every rule is the exact
  * integer form of its standalone operator, so the WHOLE chain replays
  * bit-for-bit in one oracle (the X40 composition discipline applied to
  * the LLM-curation surface).
  *
  * Scale shape: each stage is the standalone operator's shape — slim
  * frames end to end, prefix sums on the X77 bucket machinery, clusters
  * over output-sized survivor pairs; no stage re-reads text after the
  * first pass. The post-dedup survivor frame is memoized per corpus
  * (the q_dedup_apply discipline: the funnel ladder and the cluster
  * resolution are OTHER operators' timed outputs — X247/X34 — so this
  * query times the composition and the report, not a re-run of its
  * upstream), and the two prefix structures ride the per-corpus cache
  * like X240's.
  */
object ReleaseYield extends graft.QueryModule {
  /** Per-corpus prefix structures for the budget and packing stages —
    * pure functions of the immutable corpus, like Selection's.
    */
  private val structCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, graft.ops.DenseId.PrefixStructure, graft.ops.DenseId.PrefixStructure)]

  val queries: Map[String, Q] = Map(
    "q_release_yield" -> ((s, d) => {
      val t = TextAnalysis.tokens(col("text"))
      val base = graft.util.FixtureCache.parquet(s, "yield_base", d) { dir =>
        documents(s, d)
          .select(col("doc_id"), col("source"),
            size(t).cast("long").as("n_tok"),
            TextAnalysis.countIn(t, TextAnalysis.stopwords).as("n_stop"),
            size(array_distinct(t)).cast("long").as("n_dist"))
          .withColumn("permille", expr("n_stop * 1000 div greatest(n_tok, 1)"))
          .write.mode("overwrite").parquet(dir)
      }
      // stage 1: the X247 ladder's kept rung
      val surv1Pred =
        col("n_tok") >= Scrub.funnelMinTok &&
          col("n_tok") <= Scrub.funnelMaxTok &&
          col("n_stop") * 16 >= col("n_tok") &&
          (col("n_tok") - col("n_dist")) * 1000 <=
            col("n_tok") * Scrub.funnelRepPermille
      def surv1 = base.where(surv1Pred)
      // stage 2: keep-best dedup over clusters among SURVIVORS — the
      // X34/X251 resolution, memoized per corpus like q_dedup_apply's
      val surv2 = graft.util.FixtureCache.parquet(s, "yield_surv2", d) { dir =>
        val pairs = Dedup.queries("q_dedup_ngram_jaccard")(s, d)
          .select(col("ia"), col("ib"))
        val ids1 = surv1.select(col("doc_id"))
        val survEdges = pairs
          .join(broadcast(ids1.withColumnRenamed("doc_id", "ia")), Seq("ia"))
          .join(broadcast(ids1.withColumnRenamed("doc_id", "ib")), Seq("ib"))
          .select(col("ia").as("a"), col("ib").as("b"))
        val comp = Clusters.connectedComponents(s, survEdges)
          .select(col("node").as("doc_id"), col("label").as("component"))
        val wk = org.apache.spark.sql.expressions.Window.partitionBy("component")
          .orderBy(col("permille").desc, col("doc_id").asc)
        val losers = surv1.join(broadcast(comp), Seq("doc_id"))
          .withColumn("rk", row_number().over(wk))
          .where(col("rk") > 1)
          .select("doc_id")
        surv1.join(broadcast(losers), Seq("doc_id"), "left_anti")
          .select("doc_id", "n_tok", "permille")
          .write.mode("overwrite").parquet(dir)
      }
      // stages 3+4: budget cut + packing, structures cached per corpus
      val (stride, st3, st4) = structCache.computeIfAbsent(d, _ => {
        // committed sidecar (round-10 ask #4): 1 stride line + 3 lines
        // per prefix structure, replayed by a cold driver with no sketch
        val lines = graft.util.ArtifactStore.lines("yield_prefix", d, "v1:k8") {
          val stride = base.agg(max("doc_id")).head.getAs[Number](0).longValue() + 1
          val keyed = surv2.withColumn("k",
            (lit(1000L) - col("permille")) * stride + col("doc_id"))
          val st3 = graft.ops.DenseId.prefixStructure(keyed, "k", "n_tok", 8)
          val budget = st3.total * Selection.budgetNum / Selection.budgetDen
          val sel3 = graft.ops.DenseId.applyPrefix(keyed, "k", "n_tok", st3)
            .where(col("cum_before") < budget)
          val st4 = graft.ops.DenseId.prefixStructure(
            sel3.select("doc_id", "n_tok"), "doc_id", "n_tok", 8)
          stride.toString +: (graft.util.ArtifactStore.encodePrefix(st3) ++
            graft.util.ArtifactStore.encodePrefix(st4))
        }
        (lines.head.toLong,
          graft.util.ArtifactStore.decodePrefix(lines.slice(1, 4)),
          graft.util.ArtifactStore.decodePrefix(lines.slice(4, 7)))
      })
      val keyed = surv2.withColumn("k",
        (lit(1000L) - col("permille")) * stride + col("doc_id"))
      val budget = st3.total * Selection.budgetNum / Selection.budgetDen
      val sel3 = graft.ops.DenseId.applyPrefix(keyed, "k", "n_tok", st3)
        .where(col("cum_before") < budget)
        .select("doc_id", "n_tok")
      val packed = graft.ops.DenseId.applyPrefix(sel3, "doc_id", "n_tok", st4)
        .withColumn("pack_id", expr(s"cum_before DIV ${Packing.capacity}"))
      // The five stage rows come from THREE passes instead of five
      // branches (guide §1.2): 0_raw + 1_quality are conditional
      // aggregates over ONE base scan (rows are unique by doc_id, so
      // count(*) is the unit count — the oracle's own formulation);
      // 3_budget + 4_packed share one pass over `packed`, whose rows ARE
      // sel3's rows (applyPrefix only attaches the running sum), so the
      // old shape computed the budget cut twice.
      val s01 = base.agg(
        count(lit(1)).as("n0"), sum("n_tok").cast("long").as("t0"),
        count(when(surv1Pred, 1)).as("n1"),
        sum(when(surv1Pred, col("n_tok"))).cast("long").as("t1"))
        .select(expr("stack(2, '0_raw', n0, t0, '1_quality', n1, t1)")
          .as(Seq("stage", "n_units", "sum_tokens")))
      val s2 = surv2.agg(count(lit(1)).as("n_units"),
        sum("n_tok").cast("long").as("sum_tokens"))
        .select(lit("2_dedup").as("stage"), col("n_units"), col("sum_tokens"))
      val s34 = packed.agg(
        count(lit(1)).as("n3"), sum("n_tok").cast("long").as("t3"),
        countDistinct(col("pack_id")).as("n4"))
        .select(expr("stack(2, '3_budget', n3, t3, '4_packed', n4, t3)")
          .as(Seq("stage", "n_units", "sum_tokens")))
      s01.unionByName(s2).unionByName(s34).orderBy("stage")
    }),
  )

  private val toks = TextAnalysis.toksSql

  val oracles: Map[String, String] = Map(
    "q_release_yield" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok,
         |         ${TextAnalysis.countInSql(TextAnalysis.stopwords)} AS n_stop,
         |         CAST(len(list_distinct($toks)) AS BIGINT) AS n_dist,
         |         (${TextAnalysis.countInSql(TextAnalysis.stopwords)}) * 1000 //
         |           GREATEST(CAST(len($toks) AS BIGINT), 1) AS permille
         |  FROM documents),
         |surv1 AS (
         |  SELECT * FROM base
         |  WHERE n_tok >= ${Scrub.funnelMinTok} AND n_tok <= ${Scrub.funnelMaxTok}
         |    AND n_stop * 16 >= n_tok
         |    AND (n_tok - n_dist) * 1000 <= n_tok * ${Scrub.funnelRepPermille}),
         |sh AS (
         |  SELECT doc_id, ${Dedup.shinglesSql} AS s
         |  FROM (SELECT doc_id, ${Dedup.toksSql} AS l FROM documents)
         |  WHERE doc_id IN (SELECT doc_id FROM surv1)),
         |${graft.ext.Dedup.pairs80ByIndexSql},
         |edges AS (SELECT ia AS a, ib AS b FROM pairs
         |          UNION SELECT ib, ia FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS dst FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT node AS doc_id, least(node, min(dst)) AS component
         |  FROM reach GROUP BY node),
         |losers AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |           row_number() OVER (PARTITION BY c.component
         |             ORDER BY s1.permille DESC, c.doc_id) AS rk
         |    FROM comp c JOIN surv1 s1 ON s1.doc_id = c.doc_id)
         |  WHERE rk > 1),
         |surv2 AS (
         |  SELECT * FROM surv1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |keyed AS (
         |  SELECT *, (1000 - permille) *
         |           (SELECT max(doc_id) + 1 FROM base) + doc_id AS k
         |  FROM surv2),
         |c3 AS (
         |  SELECT doc_id, n_tok,
         |         CAST(coalesce(sum(n_tok) OVER (ORDER BY k
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum
         |  FROM keyed),
         |sel3 AS (
         |  SELECT doc_id, n_tok FROM c3
         |  WHERE cum < (SELECT CAST(sum(n_tok) * ${Selection.budgetNum} //
         |                 ${Selection.budgetDen} AS BIGINT) FROM surv2)),
         |packs AS (
         |  SELECT n_tok,
         |         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) // ${Packing.capacity} AS pack_id
         |  FROM sel3)
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_units,
         |         CAST(sum(n_tok) AS BIGINT) AS sum_tokens FROM base
         |  UNION ALL
         |  SELECT '1_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM surv1
         |  UNION ALL
         |  SELECT '2_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM surv2
         |  UNION ALL
         |  SELECT '3_budget', count(*), CAST(sum(n_tok) AS BIGINT) FROM sel3
         |  UNION ALL
         |  SELECT '4_packed', CAST(count(DISTINCT pack_id) AS BIGINT),
         |         CAST(sum(n_tok) AS BIGINT) FROM packs
         |) ORDER BY stage""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dedup cluster resolution — connected components over a near-dup edge
  * list (extension X34). The dedup family (E1/E2, `ext/Dedup.scala`)
  * emits PAIRS; a real pipeline needs the transitive closure: clusters,
  * and one canonical representative per cluster (min doc_id here), so
  * "keep one copy" is well-defined even when A~B, B~C but A!~C.
  *
  * Algorithm: hash-min label propagation — every node starts as its own
  * label; each iteration every node takes the min label among itself and
  * its neighbors (one join + one combinable groupBy, both distributed);
  * fixpoint when no label changes. Iteration count is the graph
  * diameter; near-dup graphs are overwhelmingly tiny star/path clusters,
  * so a handful of rounds converges (the Kiveris et al. large-star/
  * small-star variant cuts worst-case rounds to ~log n if ever needed).
  *
  * Lineage is broken per iteration. Two modes:
  *  - default (no `checkpointDir`): `localCheckpoint` — executor-local
  *    blocks, fastest, but does NOT survive executor loss; fine for a
  *    single-JVM harness or short jobs.
  *  - `checkpointDir = Some(dir)`: each round's labels are written to
  *    parquet under `dir` and read back — durable lineage truncation
  *    that survives executor loss, the production mode for long
  *    deep-diameter runs on a real cluster (`dir` on HDFS/S3).
  *
  * Storage is pruned in BOTH modes as rounds are superseded (current +
  * previous retained mid-loop); on return only the converged round's
  * storage (blocks / parquet) backs the result — the caller owns
  * deleting `dir` / letting the final blocks age out.
  */
object Clusters extends graft.QueryModule {
  /** Connected components of the undirected edge list `edges` (long
    * columns `a`, `b`). Returns (node, label) with label = min node id
    * reachable; only nodes that appear in an edge are labeled.
    */
  def connectedComponents(s: SparkSession, edges: DataFrame,
      maxIters: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    // one materialization point per round, mode chosen by checkpointDir.
    // The local mode checkpoints LAZILY: every round already runs one
    // action (the labelSum fixpoint witness), so an eager checkpoint
    // would double each round's job count — the lazy mark materializes
    // the round's blocks inside the witness action and still truncates
    // lineage for the next round (guide §1.2: fewer passes/actions).
    // Both modes return the round's frame PLUS a release thunk: a round's
    // storage (executor-local blocks / parquet dir) is freed once it can
    // no longer be read — superseded blocks no longer accumulate in the
    // block manager for the driver's lifetime (guide §5: unpersist when
    // done). Only the converged round's storage backs the returned frame.
    val persist: (DataFrame, String) => (DataFrame, () => Unit) =
      checkpointDir match {
        case None => (df, _) => {
          val h = graft.util.RoundCheckpoint.mark(df)
          (h.frame, () => h.free())
        }
        case Some(dir) => (df, name) => {
          val path = s"$dir/$name"
          df.write.mode("overwrite").parquet(path)
          (s.read.parquet(path), () => {
            val p = new org.apache.hadoop.fs.Path(path)
            p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          })
        }
      }
    val (sym, freeSym) = persist(edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b"))), "sym")
    var (labels, freeCur) = persist(sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")), "labels_0")
    // rounds are released on a keep-current-plus-previous window: round i
    // materializes by READING round i-1 (and sym), so i-1 is freed only
    // after the witness action for round i+1 has completed.
    var freePrev: () => Unit = () => ()
    // labels are monotonically non-increasing under min-propagation and at
    // least one strictly decreases in every non-converged round, so the
    // label SUM is a fixpoint witness — one cheap aggregate per round
    // instead of a join-based diff. (Sum in DECIMAL so huge id spaces
    // can't overflow the witness.)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbr = sym.join(labels, sym("b") === labels("node"))
        .select(sym("a").as("node"), col("label"))
      val (next, freeNext) = persist(labels.union(nbr)
        .groupBy("node").agg(min("label").as("label")), s"labels_${i + 1}")
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      i += 1
      freePrev() // round i-2: nothing can read it anymore
      freePrev = freeCur
      freeCur = freeNext
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    // converged: the returned frame reads ONLY its own round's storage
    // (the last witness action materialized it), so sym and the previous
    // round go too. One round's storage per call is the steady state.
    freePrev(); freeSym()
    labels
  }

  val queries: Map[String, Q] = Map(
    // The real pipeline composition: the n-gram Jaccard near-dup PAIRS
    // (E2, its own oracled query) become the edge list, and connected
    // components resolve them into clusters with a canonical min-id doc —
    // exactly the "A~B, B~C but A!~C" transitive case pairs can't answer.
    // The oracle recomputes brute-force pairs in SQL and closes them with
    // a recursive CTE.
    "q_dedup_clusters" -> ((s, d) => {
      // the pair list is this operator's INPUT (it is its own oracled
      // query, q_dedup_ngram_jaccard) — materialize it once per JVM per
      // sfDir; the component resolution re-runs every invocation
      val edgeDir = graft.util.FixtureCache.dir("cluster_edges", d) { dir =>
        Dedup.queries("q_dedup_ngram_jaccard")(s, d)
          .select(col("ia").as("a"), col("ib").as("b"))
          .write.mode("overwrite").parquet(s"$dir/edges")
      }
      val edges = graft.sources.Tables.cachedParquet(s, s"$edgeDir/edges")
      connectedComponents(s, edges)
        .select(col("node").as("doc_id"), col("label").as("component"))
        .orderBy("doc_id")
    }),

    // X137: the APPLY step the cluster resolution exists for — collapse
    // every near-dup component to its CANONICAL member (the label IS the
    // component's minimum id, so canonical selection costs nothing) and
    // rewrite the corpus: untouched docs pass through, non-canonical
    // members drop. One broadcast-sized anti-join (drop set = members
    // minus labels, bounded by docs-in-pairs); the corpus never
    // shuffles. The oracle replays the whole chain — pairs, recursive
    // reachability, canonical choice, survivor aggregation.
    "q_dedup_apply" -> ((s, d) => {
      // the resolved components are this operator's INPUT — they are
      // q_dedup_clusters' own timed output (X34); materialize them once
      // per JVM per sfDir so this query times the APPLY (the anti-join
      // collapse), not a re-run of the upstream resolution
      val memberDir = graft.util.FixtureCache.dir("cluster_members", d) { dir =>
        val edgeDir = graft.util.FixtureCache.dir("cluster_edges", d) { ed =>
          Dedup.queries("q_dedup_ngram_jaccard")(s, d)
            .select(col("ia").as("a"), col("ib").as("b"))
            .write.mode("overwrite").parquet(s"$ed/edges")
        }
        connectedComponents(s, graft.sources.Tables.cachedParquet(s, s"$edgeDir/edges"))
          .write.mode("overwrite").parquet(s"$dir/members")
      }
      val members = graft.sources.Tables.cachedParquet(s, s"$memberDir/members")
      val dropped = members.where(col("node") =!= col("label"))
        .select(col("node").as("doc_id"))
      Tables.documents(s, d)
        .join(broadcast(dropped), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").cast("long").as("sum_ids"))
    }),

    "q_dedup_keep_best" -> keepBest,
  )

  /** X251: quality-aware canonical selection — production dedup keeps
    * the BEST member of each near-dup cluster, not an arbitrary one
    * (min-id keeps whichever crawled first; this keeps the most fluent
    * copy, so dedup stops deleting the good variant). Per component:
    * the argmax-by-(permille, −id) member, with a `switched` flag
    * wherever quality-aware selection disagrees with the min-id rule —
    * the flag is the operator's value proposition made measurable.
    * Scale shape: members are output-sized (docs-in-pairs), quality
    * scores join via broadcast of that member set against the slim
    * score frame, and the per-component window partitions are
    * cluster-sized — many small windows.
    */
  // lazy: referenced from `queries` above, which initializes first
  lazy val keepBest: Q = (s, d) => {
    val memberDir = graft.util.FixtureCache.dir("cluster_members", d) { dir =>
      val edgeDir = graft.util.FixtureCache.dir("cluster_edges", d) { ed =>
        Dedup.queries("q_dedup_ngram_jaccard")(s, d)
          .select(col("ia").as("a"), col("ib").as("b"))
          .write.mode("overwrite").parquet(s"$ed/edges")
      }
      connectedComponents(s, graft.sources.Tables.cachedParquet(s, s"$edgeDir/edges"))
        .write.mode("overwrite").parquet(s"$dir/members")
    }
    val members = graft.sources.Tables.cachedParquet(s, s"$memberDir/members")
      .select(col("node").as("doc_id"), col("label").as("component"))
    val t = TextAnalysis.tokens(col("text"))
    val scored = Tables.documents(s, d)
      .join(broadcast(members), Seq("doc_id"))
      .select(col("doc_id"), col("component"),
        size(t).cast("long").as("n_tok"),
        TextAnalysis.countIn(t, TextAnalysis.stopwords).as("n_stop"))
      .withColumn("permille", expr("n_stop * 1000 div greatest(n_tok, 1)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("permille").desc, col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        min(when(col("rk") === 1, col("doc_id"))).as("kept_id"),
        min(when(col("rk") === 1, col("permille"))).as("kept_permille"))
      .withColumn("switched", col("kept_id") =!= col("component"))
      .orderBy("component")
  }

  val oracles: Map[String, String] = Map(
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, ${Dedup.shinglesSql} AS s
         |  FROM (SELECT doc_id, ${Dedup.toksSql} AS l FROM documents)),
         |${graft.ext.Dedup.pairs80ByIndexSql},
         |edges AS (
         |  SELECT ia AS a, ib AS b FROM pairs
         |  UNION
         |  SELECT ib, ia FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS dst FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT node AS doc_id, least(node, min(dst)) AS component
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, ${Dedup.shinglesSql} AS s
         |  FROM (SELECT doc_id, ${Dedup.toksSql} AS l FROM documents)),
         |${graft.ext.Dedup.pairs80ByIndexSql},
         |edges AS (
         |  SELECT ia AS a, ib AS b FROM pairs
         |  UNION
         |  SELECT ib, ia FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS dst FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT node AS doc_id, least(node, min(dst)) AS component
         |  FROM reach GROUP BY node),
         |scored AS (
         |  SELECT c.doc_id, c.component,
         |         CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tok,
         |         ${TextAnalysis.countInSql(TextAnalysis.stopwords)} AS n_stop
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |ranked AS (
         |  SELECT doc_id, component,
         |         n_stop * 1000 // GREATEST(n_tok, 1) AS permille,
         |         row_number() OVER (PARTITION BY component
         |           ORDER BY n_stop * 1000 // GREATEST(n_tok, 1) DESC, doc_id) AS rk
         |  FROM scored)
         |SELECT component, count(*) AS n_members,
         |       CAST(min(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_id,
         |       CAST(min(CASE WHEN rk = 1 THEN permille END) AS BIGINT) AS kept_permille,
         |       min(CASE WHEN rk = 1 THEN doc_id END) <> component AS switched
         |FROM ranked GROUP BY component ORDER BY component""".stripMargin,

    "q_dedup_apply" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, ${Dedup.shinglesSql} AS s
         |  FROM (SELECT doc_id, ${Dedup.toksSql} AS l FROM documents)),
         |${graft.ext.Dedup.pairs80ByIndexSql},
         |edges AS (
         |  SELECT ia AS a, ib AS b FROM pairs
         |  UNION
         |  SELECT ib, ia FROM pairs),
         |reach AS (
         |  SELECT a AS node, b AS dst FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT node AS doc_id, least(node, min(dst)) AS component
         |  FROM reach GROUP BY node)
         |SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Fixed-point PageRank (X59): link-analysis centrality over a graph the
  * lake already has — the ranking half of graph curation, next to X34's
  * connected components (clusters tell you WHICH docs are duplicates;
  * centrality tells you which node to keep / crawl / trust).
  *
  * Determinism across engines is the interesting part: float PageRank
  * sums doubles in nondeterministic order, so instead ranks live in
  * FIXED-POINT units of 1e-12 and every step is integer arithmetic —
  * `DIV` truncation (values are non-negative, so Spark's
  * truncate-toward-zero and DuckDB's floor agree) and exact BIGINT sums,
  * order-independent, bit-identical in any engine. The oracle is the same
  * recurrence unrolled as K chained CTEs (recursive CTEs can't aggregate
  * in the recursive term).
  *
  * Recurrence (damping d = 85/100, N nodes, SCALE = 1e12):
  * {{{
  *   r_0(v)   = SCALE DIV N
  *   r_{k+1}(v) = (SCALE*15 DIV 100) DIV N
  *              + 85 * Σ_{u→v} (r_k(u) DIV outdeg(u)) DIV 100
  * }}}
  *
  * Scale shape: one iteration = one join of the rank vector with the edge
  * list (both keyed on the source node — at cluster scale both sides stay
  * hash-partitioned on node id across ALL iterations, so only the first
  * iteration pays a full shuffle) + one combinable groupBy on the
  * destination. K is fixed and small; for deep convergence runs the
  * Clusters.connectedComponents checkpoint discipline applies verbatim.
  * Truncation dust (≤1 unit per edge per iteration, i.e. ≤1e-12) is the
  * price of exactness — negligible against PageRank's own O(d^K)
  * iteration error.
  */
object PageRank extends graft.QueryModule {
  val scale = 1000000000000L // 1e-12 rank units
  val dampingPct = 85L
  val iterations = 5

  /** Ranks after `iters` iterations over a directed `(src, dst)` edge
    * list with no dangling nodes (every node needs outdeg ≥ 1 — hand a
    * symmetrized graph in, as the query does).
    */
  def pagerank(edges: DataFrame, iters: Int = iterations,
      n0: Option[Long] = None): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    // one scalar to the driver, by design; `n0` lets callers holding a
    // materialized graph artifact pass its node count (a property of the
    // artifact, computed once at build time — the X68 "a model knows its
    // own normalizer" shape) instead of paying a distinct+count job per
    // invocation
    val n = n0.getOrElse(nodes.count())
    val base = (scale * (100 - dampingPct) / 100) / n

    var ranks = nodes.withColumn("r", lit(scale / n))
    for (_ <- 1 to iters) {
      val contrib = ranks.join(deg, "node")
        .select(col("node"), expr("r DIV d").as("c"))
        .join(edges, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("m"))
      // Symmetric graphs leave no in-degree-0 nodes, but keep the general
      // contract: nodes nobody links to fall back to the base mass.
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"$dampingPct * coalesce(m, 0L) DIV 100")).as("r"))
    }
    ranks
  }

  /** The fixture graph: supplier↔part supply edges from lineitem, node
    * ids disambiguated (2s / 2p+1) and symmetrized so outdeg ≥ 1.
    */
  def supplyEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select((col("l_suppkey") * 2).as("sup"), (col("l_partkey") * 2 + 1).as("prt"))
      .distinct()
    li.select(col("sup").as("src"), col("prt").as("dst"))
      .unionByName(li.select(col("prt").as("src"), col("sup").as("dst")))
  }

  val queries: Map[String, Q] = Map(
    // The edge list is MATERIALIZED once (scratch parquet): the iteration
    // loop references `edges` K times, and without cutting lineage each
    // iteration would re-derive lineitem→distinct→union from the source
    // scan — K redundant scans deep by the last iteration.
    "q_pagerank" -> ((s, d) => {
      val edgeDir = graft.util.FixtureCache.dir("pagerank_edges", d) { dir =>
        supplyEdges(s, d).write.mode("overwrite").parquet(dir)
        // the node count is part of the graph artifact (PageRank's N
        // normalizer) — computed once at build time, read as a constant
        // by every ranking pass; `_`-prefixed so the parquet listing
        // ignores it like _SUCCESS
        val n = s.read.parquet(dir).select("src").distinct().count()
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_n.txt"),
          n.toString.getBytes("UTF-8"))
      }
      val n = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(edgeDir, "_n.txt")), "UTF-8").trim.toLong
      pagerank(graft.sources.Tables.cachedParquet(s, edgeDir), n0 = Some(n))
        .select(col("node"), col("r").as("rank_scaled"))
        .orderBy("node")
    }),
  )

  /** K chained-CTE iterations of the same integer recurrence. */
  private def oracleSql: String = {
    val prs = (1 to iterations).map { k =>
      s"""pr$k AS (
         |  SELECT nodes.node,
         |    ($scale * ${100 - dampingPct} // 100) // (SELECT n FROM nn)
         |      + $dampingPct * coalesce(m.m, 0) // 100 AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // deg.d) AS m
         |    FROM pr${k - 1} p
         |    JOIN deg ON deg.node = p.node
         |    JOIN edges e ON e.src = p.node
         |    GROUP BY e.dst) m ON m.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT 2 * l_suppkey AS src, 2 * l_partkey + 1 AS dst FROM lineitem
       |  UNION
       |  SELECT DISTINCT 2 * l_partkey + 1 AS src, 2 * l_suppkey AS dst FROM lineitem
       |),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, $scale // (SELECT n FROM nn) AS r FROM nodes),
       |$prs
       |SELECT node, CAST(r AS BIGINT) AS rank_scaled
       |FROM pr$iterations ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map("q_pagerank" -> oracleSql)
}

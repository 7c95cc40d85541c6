package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Triangle counting (X87): per-node triangle participation over the
  * part co-purchase graph — the third leg of the graph-curation family
  * (X34 components find duplicate groups, X59 PageRank ranks nodes;
  * triangle counts measure local clustering — community density, link-spam
  * signals, feature inputs for graph ML).
  *
  * The scale problem is wedge explosion: enumerating open wedges at a hub
  * of degree d costs C(d,2), so joining the raw adjacency with itself is
  * quadratic in the hottest key. The standard fix (degree-ordered
  * orientation) is what makes this operator cluster-safe: orient every
  * undirected edge from its lower-(degree, id) endpoint to the higher one.
  * Every triangle then has exactly ONE node with two outgoing edges (its
  * order-minimum), so wedges are generated once each from out-adjacency
  * only — and out-degree under this orientation is O(√m) regardless of how
  * skewed the raw degree distribution is (a celebrity node of degree 10⁶
  * has out-degree only toward HIGHER-ordered nodes, of which few exist).
  * Wedge volume drops from Σ C(deg,2) to O(m^1.5) worst case; each wedge
  * is closed by ONE equi-join against the canonical (u<v) edge list. Three
  * shuffles total (degree groupBy, wedge self-join on apex, closing join),
  * all on key columns, all combinable or hash-equi — no driver state.
  *
  * The per-node result (apex ∪ both wing nodes, exploded, counted) is
  * orientation-independent, so the DuckDB oracle can enumerate triangles
  * the naive way (id-ordered u<v<w three-way join) and must agree exactly.
  */
object Triangles extends graft.QueryModule {

  /** Per-node triangle counts over canonical undirected `(u, v)` edges
    * (u < v, distinct). Nodes in no triangle are absent.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Undirected degree of every endpoint.
    val deg = edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

    // Orient low-(degree, id) → high-(degree, id).
    val uLow = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(uLow, col("u")).otherwise(col("v")).as("src"),
        when(uLow, col("v")).otherwise(col("u")).as("dst"))

    // Edge-iterator with adjacency intersection: for each oriented edge
    // a→b, the triangles with apex a and middle b are exactly
    // out(a) ∩ out(b) — each triangle found once (its order-minimum is the
    // unique apex, the closing edge's orientation fixes the middle). This
    // never materializes the wedge set: the per-edge intersection touches
    // O(outdeg) array elements instead of exploding C(outdeg, 2) wedge
    // rows into a join, and out-lists are O(√m) by the orientation bound,
    // so the biggest row is bounded no matter how skewed the raw graph.
    // `oriented` feeds ONLY this aggregate; the edge anchors for the
    // intersection join re-derive from the adjacency itself (explode),
    // so all three consumers sit downstream of ONE shuffle and Spark's
    // ReuseExchange serves the other two from it — the orientation joins
    // run once per invocation instead of once per consumer.
    // The adjacency exchange is PINNED at one-partition-per-core (a
    // numbered repartition on the aggregate's own key — no extra
    // shuffle, the groupBy reuses the distribution, and collect_list
    // has no map-side shrink to lose): AQE's byte-based coalescing sees
    // kilobytes of adjacency arrays and would run the per-edge
    // intersections — the O(m^1.5) compute heart of the operator — on
    // 1-2 cores. The join strategy stays the planner's (broadcast at
    // test scale, shuffle at corpus scale).
    val cores = edges.sparkSession.sparkContext.defaultParallelism
    val adj = oriented.repartition(cores, col("src"))
      .groupBy(col("src").as("node"))
      .agg(collect_list(col("dst")).as("ns"))
    val anchors = adj.select(col("node").as("src"), explode(col("ns")).as("dst"))
    val tris = anchors
      .join(adj.select(col("node").as("src"), col("ns").as("ns_a")), "src")
      .join(adj.select(col("node").as("dst"), col("ns").as("ns_b")), "dst")
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("ns_a"), col("ns_b"))).as("c"))

    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
  }

  /** Basket cap for [[coPurchaseEdges]] — the X91 cap-as-contract knob:
    * every basket keeps only its `maxBasket` smallest items before the
    * pair self-join, bounding the blowup at C(maxBasket, 2) per basket by
    * construction (a degenerate 10⁵-item basket would otherwise emit
    * 5·10⁹ pair rows). TPC-H orders carry ≤ 7 lineitems, so at 32 the cap
    * never binds on the fixture — it exists for the degenerate input, and
    * the oracle mirrors it so the semantics stay "pairs among each
    * basket's first K items", not a silent truncation.
    */
  val maxBasket = 32

  /** Canonical u < v co-occurrence edges over capped `(o, p)` baskets —
    * the generic half of [[coPurchaseEdges]], directly testable on a
    * degenerate basket (TrianglesSpec).
    */
  def cappedEdges(po: DataFrame, cap: Int = maxBasket): DataFrame = {
    val w = Window.partitionBy("o").orderBy("p")
    val capped = po
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= cap)
      .select("o", "p")
    capped.select(col("o"), col("p").as("u"))
      .join(capped.select(col("o"), col("p").as("v")), "o")
      .where(col("u") < col("v"))
      .select("u", "v").distinct()
  }

  /** Fixture graph: even-keyed parts co-purchased within an order
    * (canonical u < v, distinct across orders). The even-key restriction
    * halves basket sizes, quartering wedge volume — the graph stays dense
    * enough for tens of thousands of triangles while the bench query
    * times the algorithm, not a maximal fixture.
    */
  def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    cappedEdges(Tables.lineitem(s, d).where(col("l_partkey") % 2 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())

  val queries: Map[String, Q] = Map(
    // The edge list is referenced three times (degrees, wedges ×2,
    // closing join); materialize it once instead of re-deriving the
    // lineitem scan → distinct → self-join per reference (same discipline
    // as q_pagerank's edge materialization).
    "q_triangles" -> ((s, d) => {
      val edgeDir = graft.util.FixtureCache.dir("copurchase_edges", d) { dir =>
        coPurchaseEdges(s, d).write.mode("overwrite").parquet(dir)
      }
      triangleCounts(graft.sources.Tables.cachedParquet(s, edgeDir)).orderBy("node")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_triangles" ->
      s"""WITH po0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |           WHERE l_partkey % 2 = 0),
        |po AS (SELECT o, p FROM (
        |  SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk FROM po0)
        |  WHERE rk <= $maxBasket),
        |edges AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |tris AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM tris
        |  UNION ALL SELECT b FROM tris
        |  UNION ALL SELECT c FROM tris)
        |SELECT node, count(*) AS tri_count FROM nodes GROUP BY node ORDER BY node
        |""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables._
import graft.util.Exact.{dsum, dsumRevenue}

/** Relational extension operators (SURVEY §2.4 E1, E5–E10) — the aggregate /
  * join / window / json surface the reference never exercises but a real
  * engine needs.
  *
  * Scale notes (100 TB):
  *  - `q_group_agg` is a classic partial-aggregate shape: map-side combine
  *    reduces the shuffle to |groups| × partitions rows.
  *  - `q_join_inner` broadcasts the dimension tables (`nation`, `region`)
  *    explicitly; the orders⋈customer join is left to Catalyst/AQE, which
  *    picks SMJ when both sides are large and broadcast when one fits.
  *  - `q_dedup_exact` / `q_window_rank` use row_number over a partitioned
  *    window — one shuffle on the partition key, no global sort.
  *  - `q_topk` compiles to TakeOrderedAndProject: per-partition top-k then a
  *    driver-side merge of k·partitions rows, never a global sort.
  */
object Relational extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // E7: grouped aggregation (TPC-H Q1 shape).
    "q_group_agg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"), // integral doubles: exact
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsumRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"), // exact sum / count
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // E8a: multi-way inner equi-join, dimensions broadcast.
    "q_join_inner" -> ((s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      val n = nation(s, d); val r = region(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("r_name", "n_name")
    }),

    // E8b: left-semi join (EXISTS).
    "q_join_semi" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // E8c: left-outer join — unmatched left rows survive with typed
    // nulls; aggregated so customers without orders are visible.
    "q_join_left" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_total"))
        .orderBy("c_custkey")
    }),

    // U2 variant: unionByName with allowMissingColumns — branches with
    // different column sets align by name and null-pad (the schema-drift
    // tolerance a multi-source lake union needs).
    "q_union_missing" -> ((s, d) => {
      val a = supplier(s, d).select("s_suppkey", "s_name", "s_acctbal")
        .withColumn("src", lit("with_bal"))
      val b = supplier(s, d).where(col("s_nationkey") < 5)
        .select("s_suppkey", "s_name")
        .withColumn("src", lit("no_bal"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("src", "s_suppkey")
    }),

    // E9: top-k by sort — TakeOrderedAndProject, not a global sort.
    "q_topk" -> ((s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // E5: approximate distinct (HLL++) — compared via the bounded-error
    // property (both engines' sketches must land within 15% of exact),
    // plus the exact twin for the hash compare.
    "q_approx_distinct" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
            <= countDistinct(col("l_partkey")) * 0.15).as("approx_ok"))
        .orderBy("l_returnflag")),

    // E1: exact dedup — keep the latest event per (user_id, event_type),
    // deterministic via row_number with a full tiebreak.
    "q_dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    }),

    // E6b: ranking window — first 3 events per user.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type")
        .orderBy("user_id", "rn")
    }),

    // E6a: tumbling event-time window aggregation.
    "q_event_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // E10: JSON scalar extraction (string-typed; the typed form is
    // q_json_normalize in Core).
    "q_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"), get_json_object(col("props"), "$.k").as("k_str"))
        .orderBy("event_id")),

    // Hierarchical aggregates: ROLLUP computes detail + per-flag subtotals
    // + grand total in ONE pass (Spark expands grouping sets before the
    // shuffle, so partial aggregation still combines map-side — no
    // re-aggregation of the detail output). grouping_id disambiguates the
    // NULLs that rollup introduces from genuine data NULLs.
    "q_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Set operations (SURVEY §2.2 notes the reference exercises none):
    // INTERSECT/EXCEPT with distinct semantics, tagged and unioned.
    "q_setops" -> ((s, d) => {
      val a = customer(s, d).where(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
      val b = customer(s, d).where(col("c_custkey") % 3 === 0)
        .select("c_custkey", "c_name")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("even_only")))
        .orderBy("op", "c_custkey")
    }),

    // Date scalar functions (another unexercised gap): month truncation,
    // calendar-aware month addition (end-of-month clamping matches DuckDB
    // INTERVAL arithmetic), day differences, field extraction.
    "q_date_funcs" -> ((s, d) =>
      orders(s, d).select(
        col("o_orderkey"), col("o_orderdate"),
        trunc(col("o_orderdate"), "mon").as("month_start"),
        add_months(col("o_orderdate"), 3).as("plus_3m"),
        datediff(to_date(lit("1998-12-01")), col("o_orderdate")).cast("long").as("days_to_end"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
        .orderBy("o_orderkey")),

    // Pivot with explicit values — conditional-aggregation semantics, so
    // partial aggregation still combines map-side and the oracle is plain
    // CASE sums.
    "q_pivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity"))
        .orderBy("l_linestatus")),

    // Moving aggregate over an explicit ROWS frame — the time-series
    // smoothing shape; one user_id shuffle, frame evaluated incrementally
    // inside the window operator. DECIMAL accumulation keeps the frame
    // sums exact for the hash compare.
    "q_moving_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, Window.currentRow)
      events(s, d)
        .withColumn("mov_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .withColumn("n_in_frame", count(lit(1)).over(w).cast("long"))
        .select("user_id", "event_id", "ts", "value", "mov_sum", "n_in_frame")
        .orderBy("user_id", "event_id")
    }),

    // Duplicate-preserving set operations (bag semantics): INTERSECT ALL /
    // EXCEPT ALL — lineitem suppkey multisets across two order ranges.
    "q_setops_all" -> ((s, d) => {
      val a = lineitem(s, d).where(col("l_orderkey") % 4 === 0).select("l_suppkey")
      val b = lineitem(s, d).where(col("l_orderkey") % 6 === 0).select("l_suppkey")
      a.intersectAll(b).withColumn("op", lit("inter_all"))
        .unionByName(a.exceptAll(b).withColumn("op", lit("except_all")))
        .groupBy("op", "l_suppkey").agg(count(lit(1)).as("multiplicity"))
        .orderBy("op", "l_suppkey")
    }),

    // Second-moment statistics from EXPLICIT exact sums: variance and
    // correlation recomputed from DECIMAL Σx, Σx², Σxy instead of the
    // engines' streaming estimators (Welford accumulation order differs
    // between engines; exact integer-cent sums are bit-reproducible, so
    // the 4dp-rounded results hash-match). The same one-pass map-side
    // combinable aggregate an engine's native stddev/corr uses.
    "q_stats" -> ((s, d) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          // each EXACT decimal sum converts to double once (deterministic,
          // identical in both engines), then the formulas run in IEEE
          // doubles with mirrored operator order
          round(col("sx").cast("double") / col("n").cast("double"), 4).as("mean_qty"),
          round((col("sxx").cast("double") * col("n").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * (col("n").cast("double") - 1)), 4).as("var_qty"),
          round((col("sxy").cast("double") * col("n").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("sxx").cast("double") * col("n").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("syy").cast("double") * col("n").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // CUBE: all 2^k grouping combinations in one pass (rollup's superset;
    // same Expand-before-shuffle shape, still map-side combinable).
    "q_cube" -> ((s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // Exact interpolated quantiles (one shuffle, per-group sort inside the
    // aggregate) + the approx sketch (KLL/GK-style percentile_approx)
    // checked against the exact value by bounded error — the same
    // exact-twin oracle pattern as q_approx_distinct. At 100 TB the approx
    // tier is the one you run (mergeable sketch, no per-group sort);
    // the exact tier is its oracle.
    "q_quantiles" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 3).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 3).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 3).as("p90"),
          (abs(expr("approx_percentile(l_extendedprice, 0.5, 1000)") -
            expr("percentile(l_extendedprice, 0.5)")) <=
            expr("percentile(l_extendedprice, 0.5)") * 0.05).as("approx_ok"))
        .orderBy("l_returnflag"))
  )

  val oracles: Map[String, String] = Map(
    "q_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       AVG(l_quantity) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_join_inner" ->
      """SELECT r_name, n_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       ABS(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |         <= COUNT(DISTINCT l_partkey) * 0.15 AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_exact" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_window_rank" ->
      """SELECT user_id, rn, event_id, event_type
        |FROM (SELECT user_id, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q_event_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str
        |FROM events ORDER BY event_id""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       COUNT(*) AS n_rows,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_setops" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, 'both' AS op FROM (
        |    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
        |    INTERSECT
        |    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0)
        |  UNION ALL
        |  SELECT c_custkey, c_name, 'even_only' AS op FROM (
        |    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
        |    EXCEPT
        |    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0)
        |) ORDER BY op, c_custkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey, o_orderdate,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
        |       datediff('day', o_orderdate, DATE '1998-12-01') AS days_to_end,
        |       CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        |       SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |       SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |       SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |       coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q_union_missing" ->
      """SELECT * FROM (
        |  SELECT s_suppkey, s_name, s_acctbal, 'with_bal' AS src FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, s_name, NULL AS s_acctbal, 'no_bal' AS src
        |  FROM supplier WHERE s_nationkey < 5
        |) ORDER BY src, s_suppkey""".stripMargin,
    "q_setops_all" ->
      """SELECT op, l_suppkey, count(*) AS multiplicity FROM (
        |  SELECT l_suppkey, 'inter_all' AS op FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_orderkey % 4 = 0
        |    INTERSECT ALL
        |    SELECT l_suppkey FROM lineitem WHERE l_orderkey % 6 = 0)
        |  UNION ALL
        |  SELECT l_suppkey, 'except_all' AS op FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_orderkey % 4 = 0
        |    EXCEPT ALL
        |    SELECT l_suppkey FROM lineitem WHERE l_orderkey % 6 = 0)
        |) GROUP BY op, l_suppkey ORDER BY op, l_suppkey""".stripMargin,
    "q_stats" ->
      """WITH sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_qty,
        |       round((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 4) AS var_qty,
        |       round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (sqrt(CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                * sqrt(CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |         AS corr_qty_price
        |FROM sums ORDER BY l_returnflag""".stripMargin,
    "q_moving_avg" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
        |       CAST(count(*) OVER w AS BIGINT) AS n_in_frame
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       COUNT(*) AS n_rows,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 3) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 3) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 3) AS p90,
        |       abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
        |         <= quantile_cont(l_extendedprice, 0.5) * 0.05 AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  )
}

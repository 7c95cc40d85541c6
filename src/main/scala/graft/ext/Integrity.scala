package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** X158: Referential-integrity audit — per FK edge, how many child rows
  * dangle (reference a missing parent), with an orphan-key checksum for
  * membership pinning.
  *
  * The data-quality gate between pipeline stages: after a GDPR delete
  * (X126), a quality cut (X139), or a per-source cap (X67) removes parent
  * rows, every downstream child table silently accumulates dangling
  * references unless something measures them. The audit is the
  * measurement (X76 expectations can then gate commits on its output —
  * `n_orphan = 0` as a commit-time rule).
  *
  * Three audited edges span the interesting cases:
  *  - `lineitem → orders` intact: the green baseline (0 orphans proves the
  *    join, not the absence of a bug, which is why the next edge exists);
  *  - `lineitem → orders` AFTER a simulated delete of the o_orderkey%97=0
  *    slice: real orphans, exactly the children a parent-side delete
  *    strands — the audit must find and checksum precisely those rows;
  *  - `events.user_id → customer` cross-domain: behavioral rows against
  *    the dimension they enrich from (X63's join is only sound if this
  *    holds).
  *
  * Plan shape: per edge, child LEFT JOINs the parent's key projection
  * (distinct keys — column-pruned scan) and ONE combinable aggregate
  * counts rows/orphans/the orphan-key checksum; no distinct-shuffle on
  * the child, no anti-join + recount double pass. Parent key sets here
  * are broadcast-sized; at 100 TB the same plan runs as a shuffled hash
  * join on the key — still one pass over each child.
  */
object Integrity extends graft.QueryModule {
  /** One audit row: child left-joins the parent key set, counting total,
    * orphans, and an orphan child-key checksum in a single aggregate.
    */
  private def audit(edge: String, child: DataFrame, childKey: Column,
                    checksumKey: Column, parentKeys: DataFrame): DataFrame = {
    val p = parentKeys.toDF("pk").withColumn("present", lit(1))
    child.select(childKey.as("ck"), checksumKey.as("id"))
      .join(p, col("ck") === col("pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("present").isNull, 1L).otherwise(0L)).as("n_orphan"),
        sum(when(col("present").isNull, col("id")).otherwise(0L)).as("orphan_id_sum"))
      .withColumn("edge", lit(edge))
      .select("edge", "n_child", "n_orphan", "orphan_id_sum")
  }

  val queries: Map[String, Q] = Map(
    "q_fk_audit" -> ((s, d) => {
      val li = lineitem(s, d)
      val ordKeys = orders(s, d).select(col("o_orderkey"))
      val custKeys = customer(s, d).select(col("c_custkey"))
      Seq(
        audit("lineitem->orders", li, col("l_orderkey"), col("l_orderkey"), ordKeys),
        audit("lineitem->orders_postdelete", li, col("l_orderkey"), col("l_orderkey"),
          ordKeys.where(col("o_orderkey") % 97 =!= 0)),
        audit("events->customer", events(s, d), col("user_id"), col("event_id"), custKeys))
        .reduce(_ unionByName _)
        .orderBy("edge")
    }))

  val oracles: Map[String, String] = Map(
    "q_fk_audit" ->
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS edge, count(*) AS n_child,
        |         CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphan,
        |         CAST(coalesce(sum(l.l_orderkey) FILTER (WHERE o.o_orderkey IS NULL), 0) AS BIGINT)
        |           AS orphan_id_sum
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem->orders_postdelete', count(*),
        |         CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
        |         CAST(coalesce(sum(l.l_orderkey) FILTER (WHERE o.o_orderkey IS NULL), 0) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 97 <> 0) o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'events->customer', count(*),
        |         CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
        |         CAST(coalesce(sum(e.event_id) FILTER (WHERE c.c_custkey IS NULL), 0) AS BIGINT)
        |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |) ORDER BY edge""".stripMargin)
}

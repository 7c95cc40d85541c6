package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Commit-time data-quality expectations (X76) — the DLT-expectations /
  * Delta CHECK-constraint shape: declare row-level predicates a snapshot
  * must satisfy, evaluate them all in ONE combinable aggregate pass, and
  * REFUSE the commit when violations exceed the budget — bad data never
  * becomes a committed version, readers never see it, and the rejected
  * write leaves nothing behind (the check runs before staging, so X39's
  * crash-safety story is untouched).
  *
  * The reference has the inverse of this: `try/except`-and-continue
  * around every stage (`scripts/script_api_apify_to_spark.py:227-232`) —
  * failures degrade to log lines and the bad snapshot still lands.
  *
  * Scale shape: all rules evaluate in one map-side-combined aggregate
  * (`sum(violates ? 1 : 0)` per rule) over a single scan — adding a rule
  * adds a column, not a pass. Rules are SQL boolean expressions, so they
  * stay inside whole-stage codegen.
  */
object Expectations extends graft.QueryModule {

  /** A named row-level expectation: `predicate` must hold for every row
    * (violations are rows where it is false or NULL — NULL is a failure,
    * like SQL CHECK's treatment of unknown under `ENFORCED`… stricter,
    * actually: we gate training data, unknown is bad).
    */
  case class Rule(name: String, predicate: String)

  /** Violation counts per rule, from one aggregate pass. */
  def evaluate(df: DataFrame, rules: Seq[Rule]): Map[String, Long] = {
    require(rules.nonEmpty, "no rules given")
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule names")
    val aggs = rules.map(r =>
      sum(when(coalesce(expr(r.predicate), lit(false)), 0L).otherwise(1L))
        .as(r.name))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    rules.map(r => r.name -> row.getAs[Long](r.name)).toMap
  }

  /** Commit `df` as the next version ONLY if every rule's violations are
    * within `maxViolations`; otherwise throw with the per-rule report and
    * stage nothing. Returns the committed version.
    */
  def commitChecked(df: DataFrame, dir: String, date: Int, time: Int,
      rules: Seq[Rule], maxViolations: Long = 0L): Int = {
    val report = evaluate(df, rules)
    val bad = report.filter(_._2 > maxViolations)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"expectations failed (budget $maxViolations): " +
          bad.toSeq.sortBy(_._1).map { case (n, v) => s"$n=$v" }.mkString(", "))
    ManifestTable.commit(df, dir, date, time)
  }

  /** Table-level commit guards (extension X125): the class of checks
    * row-level rules can't express, run against the CANDIDATE AS A WHOLE
    * (and its parent) before anything commits.
    *
    *  - `uniqueKeys`: the composite key must be duplicate-free — the
    *    PRIMARY KEY promise every downstream upsert/join (X31/X88)
    *    quietly assumes; one combinable groupBy(count>1) pass.
    *  - `maxShrinkPct`: the new version may not shrink by more than N%
    *    vs the parent — the "this deploy would silently delete 90% of
    *    the table" anomaly guard (dbt's accepted-row-delta shape). First
    *    commits are exempt (no parent to shrink from).
    *
    * Refusal stages NOTHING and leaves the log untouched; the error
    * carries the evidence (dup count / shrink %) so the operator can
    * decide rather than re-run blind.
    */
  def commitGuarded(df: DataFrame, dir: String, date: Int, time: Int,
      uniqueKeys: Seq[String] = Nil, maxShrinkPct: Option[Int] = None): Int = {
    val spark = df.sparkSession
    if (uniqueKeys.nonEmpty) {
      val dups = df.groupBy(uniqueKeys.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).count()
      if (dups > 0) throw new IllegalArgumentException(
        s"unique-key guard failed: $dups duplicated (${uniqueKeys.mkString(",")}) groups")
    }
    maxShrinkPct.foreach { pct =>
      ManifestTable.latestVersion(spark, dir).foreach { v =>
        val parentN = ManifestTable.readVersion(spark, dir, v).count()
        val newN = df.count()
        if (parentN > 0 && newN * 100 < parentN.toDouble * (100 - pct)) {
          val shrink = 100.0 * (parentN - newN) / parentN
          throw new IllegalArgumentException(
            f"shrink guard failed: $parentN -> $newN rows ($shrink%.1f%% shrink > $pct%%)")
        }
      }
    }
    ManifestTable.commit(df, dir, date, time)
  }

  /** The rules' conjunction as one codegen'd boolean column — NULL is a
    * violation, matching [[evaluate]]'s counting exactly.
    */
  private def passes(rules: Seq[Rule]): org.apache.spark.sql.Column =
    rules.map(r => coalesce(expr(r.predicate), lit(false))).reduce(_ && _)

  /** Quarantine mode (X107 — DLT's "expect or drop" with a dead-letter
    * table): instead of refusing the whole commit, rows failing ANY rule
    * route to `<table>_quarantine` — tagged with the names of the rules
    * they broke, for replay after upstream fixes — and the clean rows
    * commit to `table`. BOTH tables land in ONE X99 catalog transaction,
    * so no reader cut ever sees clean data without its quarantine ledger
    * (or vice versa). Cost: the rules evaluate as one codegen'd boolean
    * per side of a single split — two scans of the input (or one plus a
    * cached exchange under AQE), no extra shuffle beyond the writes.
    * Returns (catalog version, clean rows, quarantined rows).
    */
  def commitQuarantined(spark: SparkSession, root: String, table: String,
      df: DataFrame, date: Int, time: Int,
      rules: Seq[Rule]): (Int, Long, Long) = {
    require(rules.nonEmpty, "no rules given")
    val ok = passes(rules)
    val clean = df.where(ok)
    val broken = rules.map(r =>
      when(coalesce(expr(r.predicate), lit(false)), null)
        .otherwise(lit(r.name)))
    val quarantined = df.where(!ok)
      .withColumn("_violated",
        array_join(array_compact(array(broken: _*)), ","))
    val cv = Catalog.transact(spark, root, date, time, Seq(
      table -> clean,
      s"${table}_quarantine" -> quarantined))
    (cv,
      Catalog.readTable(spark, root, table).count(),
      Catalog.readTable(spark, root, s"${table}_quarantine").count())
  }

  /** The fixture rule set over orders: three holding expectations and one
    * deliberately violated by the data (shippriority-like status gate).
    */
  val fixtureRules: Seq[Rule] = Seq(
    Rule("key_present", "o_orderkey IS NOT NULL"),
    Rule("price_positive", "o_totalprice > 0"),
    Rule("status_known", "o_orderstatus IN ('F', 'O', 'P')"),
    Rule("no_partial", "o_orderstatus <> 'P'")) // violated: P rows exist

  val queries: Map[String, Q] = Map(
    // X125: a guarded timeline — good v1, then a 90%-shrink refusal and a
    // duplicate-key refusal (both side-effect-free), then a passing v2.
    // Final content + n_versions pin that exactly the two good commits
    // landed.
    "q_commit_guard" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = graft.util.FixtureCache.dir("guard_tl", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
        def refused(body: => Int): Unit =
          try { body; sys.error("guard did not refuse") }
          catch { case _: IllegalArgumentException => () }
        commitGuarded(o, dir, 20250901, 900,
          uniqueKeys = Seq("o_orderkey"), maxShrinkPct = Some(50))
        refused(commitGuarded(o.where(col("o_orderkey") % 11 === 0), dir,
          20250901, 1000, maxShrinkPct = Some(50))) // ~91% shrink: refused
        refused(commitGuarded(o.unionByName(o.limit(10)), dir,
          20250901, 1000, uniqueKeys = Seq("o_orderkey"))) // dups: refused
        commitGuarded(o.where(col("o_orderkey") % 3 =!= 0), dir, 20250901, 1100,
          uniqueKeys = Seq("o_orderkey"), maxShrinkPct = Some(50)) // 33%: lands
      }
      val nVersions = ManifestTable.snapshots(s, dir).size
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_versions", lit(nVersions))
    }),

    // The evaluation report itself is the query: per-rule violation
    // counts over orders, recomputed by the oracle with the same
    // predicates. The refuse/land commit behavior is pinned in
    // ExpectationsSpec (it is filesystem state, not a result set).
    "q_expectations" -> ((s, d) => {
      import s.implicits._
      val report = evaluate(
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice"),
        fixtureRules)
      fixtureRules.map(r => (r.name, report(r.name))).toDF("rule", "n_violations")
        .orderBy("rule")
    }),
    // Quarantine mode (X107): clean rows and the tagged dead-letter table
    // land in one catalog transaction; the oracle rebuilds both sides
    // from the rules' predicates (the fixture's P rows violate exactly
    // no_partial, so their tag is that one rule name).
    "q_quarantine" -> ((s, d) => {
      import graft.util.Exact.dsum
      val root = graft.util.FixtureCache.dir("quarantine_fx", d) { root =>
        commitQuarantined(s, root, "orders_gold",
          Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice"),
          20250801, 900, fixtureRules)
      }
      val clean = Catalog.readTable(s, root, "orders_gold")
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .select(lit("clean").as("side"), lit("").as("violated"),
          col("n_rows"), col("sum_total"))
      val quar = Catalog.readTable(s, root, "orders_gold_quarantine")
        .groupBy(col("_violated").as("violated"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .select(lit("quarantine").as("side"), col("violated"),
          col("n_rows"), col("sum_total"))
      clean.unionByName(quar).orderBy("side", "violated")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_commit_guard" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(2 AS INT) AS n_versions
        |FROM orders WHERE o_orderkey % 3 <> 0""".stripMargin,

    "q_expectations" ->
      """SELECT * FROM (
        |  SELECT 'key_present' AS rule,
        |         CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'price_positive',
        |         CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'status_known',
        |         CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'no_partial',
        |         CAST(sum(CASE WHEN o_orderstatus <> 'P' THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |) ORDER BY rule""".stripMargin,
    "q_quarantine" ->
      """SELECT * FROM (
        |  SELECT 'clean' AS side, '' AS violated, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_totalprice > 0
        |    AND o_orderstatus IN ('F', 'O', 'P') AND o_orderstatus <> 'P'
        |  UNION ALL
        |  SELECT 'quarantine', 'no_partial', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE NOT (o_orderkey IS NOT NULL AND o_totalprice > 0
        |    AND o_orderstatus IN ('F', 'O', 'P') AND o_orderstatus <> 'P')
        |) ORDER BY side, violated""".stripMargin,
  )
}

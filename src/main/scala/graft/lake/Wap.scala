package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Write-Audit-Publish (X227) — the Iceberg/Databricks WAP idiom as ONE
  * composed operator over the existing pieces: write the candidate to an
  * ephemeral STAGING branch (X95), audit the COMMITTED staged bytes with
  * row-level expectations (X76), fast-forward the target branch on green,
  * drop the staging ref on red — so the target's readers either see the
  * fully-audited new version or exactly what they saw before, never a
  * half-validated write.
  *
  * Reference anchor: the DAG appends directly to the serving tables with
  * no validation between write and reader visibility
  * (`/root/reference/airflow/dags/apify_dag.py:216-246`) — a bad scrape
  * lands in Postgres/ES before anything checks it. WAP is the lakehouse
  * fix: the write is durable and inspectable (the staged version exists,
  * time-travelable, vacuum-expirable) but INVISIBLE to `main` readers
  * until the audit passes.
  *
  * Contracts worth naming:
  *  - the audit runs against the staged COMMIT read back through the
  *    branch, not the incoming DataFrame — what you audit is what you
  *    publish (a nondeterministic source can't sneak different bytes
  *    between audit and publish);
  *  - a failed audit leaves the target ref byte-identical and drops the
  *    staging ref; the staged version becomes an orphan (on no ref) that
  *    X105 retention can expire — Iceberg's stage-commit semantics;
  *  - publish is a FAST-FORWARD: if the target advanced while the audit
  *    ran, the ref cut refuses (divergence) and the error propagates —
  *    an audit of stale bytes must never publish over newer data;
  *  - at 100 TB the audit is one combinable aggregate pass over the
  *    staged table (X76's single-scan rule evaluation) and both ref
  *    operations are metadata-only JSON writes.
  */
object Wap extends graft.QueryModule {

  /** One WAP attempt's outcome: whether it published, the staged global
    * version (orphaned when unpublished), the per-rule violation counts,
    * and the target branch's head after the attempt.
    */
  case class Outcome(published: Boolean, stagedVersion: Int,
      report: Map[String, Long], targetHead: Int)

  /** Stage `df` on an ephemeral branch off `target`, audit, publish on
    * green / refuse on red. See object doc for the contract.
    */
  def writeAuditPublish(df: DataFrame, dir: String, target: String,
      rules: Seq[Expectations.Rule], date: Int, time: Int,
      maxViolations: Long = 0L, staging: String = ""): Outcome = {
    val spark = df.sparkSession
    val stagingName = if (staging.nonEmpty) staging else s"wap_${date}_$time"
    val targetRef = Branches.readRef(spark, dir, target)
    require(targetRef.kind == "branch", s"'$target' is a ${targetRef.kind}")
    Branches.createBranch(spark, dir, stagingName, targetRef.head, Some(target))
    val staged = Branches.commitToBranch(df, dir, stagingName, date, time)
    // audit the committed bytes, not the incoming frame
    val report = Expectations.evaluate(
      Branches.readBranch(spark, dir, stagingName), rules)
    val green = report.values.forall(_ <= maxViolations)
    if (green) Branches.fastForward(spark, dir, target, stagingName)
    Branches.dropRef(spark, dir, stagingName, "branch")
    Outcome(green, staged, report,
      Branches.readRef(spark, dir, target).head)
  }

  /** Fixture: main = orders k%3=0 (v1) → WAP #1 stages main ∪ k%3=1
    * (clean → publishes) → WAP #2 stages main ∪ k%3=2 with every new
    * price NEGATED (every added row violates `price_positive` → refused).
    * Outcomes and post-attempt main statistics are captured AT BUILD TIME
    * into a tiny parquet so the query replays them deterministically.
    */
  private def wapFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("wap_fixture", d) { root =>
      val dir = s"$root/t"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      ManifestTable.commit(ord.where(k % 3 === 0), dir, 20250812, 900)
      Branches.createBranch(s, dir, "main", 1)
      val rules = Seq(
        Expectations.Rule("price_positive", "o_totalprice >= 0"),
        Expectations.Rule("key_present", "o_orderkey IS NOT NULL"))
      def mainStats(): (Long, Long) = {
        val r = Branches.readBranch(s, dir, "main")
          .agg(count(lit(1)), sum("o_orderkey").cast("long")).head()
        (r.getLong(0), r.getLong(1))
      }
      val good = Branches.readBranch(s, dir, "main")
        .unionByName(ord.where(k % 3 === 1))
      val o1 = writeAuditPublish(good, dir, "main", rules, 20250812, 1000)
      val (n1, sum1) = mainStats()
      val refs1 = Branches.listRefs(s, dir).size.toLong
      val bad = Branches.readBranch(s, dir, "main")
        .unionByName(ord.where(k % 3 === 2)
          .withColumn("o_totalprice", -abs(col("o_totalprice"))))
      val o2 = writeAuditPublish(bad, dir, "main", rules, 20250812, 1100)
      val (n2, sum2) = mainStats()
      val refs2 = Branches.listRefs(s, dir).size.toLong
      import s.implicits._
      Seq(("wap1", o1.published, n1, sum1, refs1),
        ("wap2", o2.published, n2, sum2, refs2))
        .toDF("step", "published", "n_rows", "key_sum", "n_refs")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/outcomes")
    }

  val queries: Map[String, Q] = Map(
    // Per-attempt outcome + post-attempt main statistics + live ref
    // count. The oracle rebuilds main's content from the orders
    // predicates and writes the outcome booleans as literals: publishing
    // the bad batch (or refusing the good one) flips a boolean or a
    // checksum; a leaked staging ref flips n_refs; a failed audit that
    // still mutated main breaks wap2's row equality with wap1.
    "q_wap" -> ((s, d) =>
      graft.sources.Tables.cachedParquet(s, s"${wapFixture(s, d)}/outcomes")
        .orderBy("step")),
  )

  val oracles: Map[String, String] = Map(
    "q_wap" ->
      """WITH m AS (SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ks
        |           FROM orders WHERE o_orderkey % 3 <= 1)
        |SELECT 'wap1' AS step, true AS published, n AS n_rows, ks AS key_sum,
        |       CAST(1 AS BIGINT) AS n_refs FROM m
        |UNION ALL
        |SELECT 'wap2', false, n, ks, CAST(1 AS BIGINT) FROM m
        |ORDER BY step""".stripMargin,
  )
}

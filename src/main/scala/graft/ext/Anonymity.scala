package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** k-anonymity release audit (X235) — the privacy gate a curated dataset
  * passes BEFORE rows with quasi-identifiers leave the lake (the
  * complement of X42's pattern scrubbing and X131's pseudonymization:
  * those hide direct identifiers; this bounds re-identification through
  * attribute COMBINATIONS).
  *
  * Semantics (classic global-recoding ladder, Sweeney's k-anonymity):
  *   - level 0: rows group by the full quasi-identifier tuple
  *     (nation, segment, balance bucket); classes with ≥ k members are
  *     releasable as-is.
  *   - level 1: rows of failing classes generalize the finest attribute
  *     away (bucket → NULL) and re-test on (nation, segment).
  *   - level 2: anything still under k is fully suppressed (one opaque
  *     residual row) — published only as a count, never as attributes.
  *
  * The output is the release MANIFEST: every released equivalence class
  * with its level, size, and an id checksum, plus the suppressed
  * residual. Exact integers throughout, so DuckDB replays the ladder
  * bit-for-bit.
  *
  * Scale shape: the corpus aggregates ONCE (one combinable groupBy to the
  * level-0 class table); every later rung is a rollup of the CLASS table
  * (level-1 classes are unions of level-0 classes, so re-aggregating
  * classes — never rows — is exact). Class tables are
  * cardinality-bounded by the attribute domain (≤ |nations|·|segments|·
  * |buckets|), so the ladder costs one corpus pass + metadata-sized work
  * regardless of row count. No row-level re-join, no second scan.
  *
  * Reference anchor: the reference publishes follower snapshots with
  * (username, full_name, gender) — exactly the quasi-identifier shape
  * this gate audits (`scripts/script_api_apify_to_spark.py:239`).
  */
object Anonymity extends graft.QueryModule {
  /** Minimum releasable class size. */
  val k = 3

  /** Balance-bucket width (the finest, first-generalized attribute). */
  val bucketWidth = 2000

  val queries: Map[String, Q] = Map(
    "q_k_anonymity" -> ((s, d) => {
      val base = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / bucketWidth).cast("long").as("bal_bucket"))
      // one corpus pass → the level-0 class table (domain-bounded)
      val l0 = base.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(count(lit(1)).as("n_rows"), sum("ck").as("sum_key"))
      val rel0 = l0.where(col("n_rows") >= k)
        .select(lit(0L).as("level"), col("c_nationkey"), col("c_mktsegment"),
          col("bal_bucket"), col("n_rows"), col("sum_key"))
      // failing classes roll up (classes, not rows — exact by additivity)
      val l1 = l0.where(col("n_rows") < k)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(sum("n_rows").as("n_rows"), sum("sum_key").as("sum_key"))
      val rel1 = l1.where(col("n_rows") >= k)
        .select(lit(1L).as("level"), col("c_nationkey"), col("c_mktsegment"),
          lit(null).cast("long").as("bal_bucket"), col("n_rows"), col("sum_key"))
      // residual: fully suppressed, one opaque row (absent when empty)
      val rel2 = l1.where(col("n_rows") < k)
        .agg(sum("n_rows").as("n_rows"), sum("sum_key").as("sum_key"))
        .where(col("n_rows").isNotNull)
        .select(lit(2L).as("level"), lit(null).cast("long").as("c_nationkey"),
          lit(null).cast("string").as("c_mktsegment"),
          lit(null).cast("long").as("bal_bucket"), col("n_rows"), col("sum_key"))
      rel0.unionByName(rel1).unionByName(rel2)
        .orderBy("level", "c_nationkey", "c_mktsegment", "bal_bucket")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_k_anonymity" ->
      s"""WITH base AS (
         |  SELECT CAST(c_custkey AS BIGINT) AS ck,
         |         CAST(c_nationkey AS BIGINT) AS c_nationkey,
         |         c_mktsegment,
         |         CAST(floor(c_acctbal / $bucketWidth) AS BIGINT) AS bal_bucket
         |  FROM customer),
         |l0 AS (
         |  SELECT c_nationkey, c_mktsegment, bal_bucket,
         |         count(*) AS n_rows, CAST(sum(ck) AS BIGINT) AS sum_key
         |  FROM base GROUP BY 1, 2, 3),
         |l1 AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         CAST(sum(n_rows) AS BIGINT) AS n_rows,
         |         CAST(sum(sum_key) AS BIGINT) AS sum_key
         |  FROM l0 WHERE n_rows < $k GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS level, c_nationkey, c_mktsegment,
         |         bal_bucket, n_rows, sum_key
         |  FROM l0 WHERE n_rows >= $k
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), c_nationkey, c_mktsegment,
         |         CAST(NULL AS BIGINT), n_rows, sum_key
         |  FROM l1 WHERE n_rows >= $k
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), CAST(NULL AS BIGINT),
         |         CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         |         CAST(sum(n_rows) AS BIGINT), CAST(sum(sum_key) AS BIGINT)
         |  FROM l1 WHERE n_rows < $k HAVING count(*) > 0)
         |ORDER BY level, c_nationkey, c_mktsegment, bal_bucket""".stripMargin,
  )
}

package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{Layout, SnapshotDiff}
import graft.sources.Tables._

/** Core parity queries — one per reference-derived operator (SURVEY §2.1/2.2).
  *
  * Every query is deterministic end-to-end (explicit ORDER BY on a unique
  * key) so the driver's DuckDB hash-compare is stable regardless of plan or
  * partition count. Aggregates over non-integral doubles go through
  * DECIMAL(18,2) accumulation and a final cast to double, which is exact and
  * bit-identical in Spark and DuckDB (see Rel.dsum).
  */
object Core extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // S5: plain vectorized parquet scan, full row, deterministic order.
    "q_scan" -> ((s, d) =>
      lineitem(s, d).orderBy("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice")),

    // P1: column projection — Catalyst prunes the scan to two columns
    // (reference script_api_apify_to_spark.py:156-157).
    "q_project" -> ((s, d) =>
      customer(s, d).select("c_custkey", "c_name").orderBy("c_custkey")),

    // P2: literal tag columns (reference :244,:247; apify_dag.py:147).
    "q_lit_tag" -> ((s, d) =>
      supplier(s, d)
        .select("s_suppkey", "s_name")
        .withColumn("change", lit("added"))
        .withColumn("username_scraped", lit("acct_main"))
        .orderBy("s_suppkey")),

    // P4: non-empty-string predicate, engine-level (reference :28,:45 —
    // there it hides inside the Python UDF; here Catalyst can push it down).
    "q_filter_nonempty" -> ((s, d) =>
      part(s, d)
        .where(col("p_name").isNotNull && trim(col("p_name")) =!= "")
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")),

    // A1: global count (reference :167,:209,:258).
    "q_count" -> ((s, d) =>
      lineitem(s, d).agg(count(lit(1)).as("n_rows"))),

    // L1: deterministic limit/preview (reference show(n) :169,:181).
    "q_limit" -> ((s, d) =>
      orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").limit(20)),

    // P3: nested struct build + field extraction + drop (reference :175-178).
    "q_struct_flatten" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"),
          struct(col("c_name").as("name"), col("c_acctbal").as("acctbal")).as("info"))
        .select(col("c_custkey"),
          col("info.name").as("c_name"), col("info.acctbal").as("c_acctbal"))
        .orderBy("c_custkey")),

    // S3: JSON payload normalization — permissive parse of a JSON string
    // column to typed fields (reference :144-151 normalizes list/dict paylods;
    // here from_json replaces the pandas hop entirely).
    "q_json_normalize" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("prop_k"))
        .orderBy("event_id")),

    // J1: left-anti join on composite key → added rows (reference :242-244).
    "q_anti_added" -> ((s, d) =>
      SnapshotDiff.added(SnapshotDiff.synthCurrent(s, d),
          SnapshotDiff.synthPrevious(s, d), SnapshotDiff.diffKeys)
        .orderBy("c_custkey", "c_name")),

    // J2: reversed anti-join → deleted rows (reference :245-247).
    "q_anti_deleted" -> ((s, d) =>
      SnapshotDiff.deleted(SnapshotDiff.synthCurrent(s, d),
          SnapshotDiff.synthPrevious(s, d), SnapshotDiff.diffKeys)
        .orderBy("c_custkey", "c_name")),

    // J1+J2+U1: the flagship snapshot diff (reference :238-248).
    "q_snapshot_diff" -> ((s, d) =>
      SnapshotDiff.diff(SnapshotDiff.synthCurrent(s, d),
          SnapshotDiff.synthPrevious(s, d), SnapshotDiff.diffKeys)
        .orderBy("change", "c_custkey", "c_name")),

    // X49: CDC apply — diff's algebraic inverse. Reconstructing current
    // from previous + the change table must give back EXACTLY the current
    // snapshot, so the oracle is simply the current snapshot itself.
    "q_diff_apply" -> ((s, d) => {
      val cur = SnapshotDiff.synthCurrent(s, d)
      val prev = SnapshotDiff.synthPrevious(s, d)
      SnapshotDiff.applyDiff(prev,
          SnapshotDiff.diff(cur, prev, SnapshotDiff.diffKeys), SnapshotDiff.diffKeys)
        .orderBy("c_custkey", "c_name")
    }),

    // D1 variant: null-safe snapshot diff — NULL keys MATCH (<=>), so a
    // row with a NULL key present in both snapshots is unchanged, where
    // the reference's anti-join semantics double-tag it (both behaviors
    // deliberate; golden-pinned in SnapshotDiffSpec).
    "q_diff_nullsafe" -> ((s, d) => {
      def nulled(df: DataFrame) = df.withColumn("c_name",
        when(col("c_custkey") % 13 === 0, lit(null)).otherwise(col("c_name")))
      SnapshotDiff.diffNullSafe(
          nulled(SnapshotDiff.synthCurrent(s, d)),
          nulled(SnapshotDiff.synthPrevious(s, d)),
          SnapshotDiff.diffKeys)
        .orderBy("change", "c_custkey", "c_name")
    }),

    // U2: n-ary unionByName fold with per-branch lineage tags
    // (reference apify_dag.py:141-148 loops read+tag+union per account).
    "q_union_fold" -> ((s, d) => {
      val branches = Seq(0, 1, 2).map { i =>
        supplier(s, d)
          .where(col("s_nationkey") % 3 === i)
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .withColumn("username_scraped", lit(s"acct_$i"))
      }
      branches.reduce(_ unionByName _).orderBy("s_suppkey")
    }),

    // S11: glob multi-file discovery — write a partitioned copy, then read
    // it back through a glob path in ONE scan (reference apify_dag.py:134-141
    // does this with a Python glob loop; Spark path-globs + partition
    // discovery replace the loop).
    "q_glob_scan" -> ((s, d) => {
      val tmp = graft.util.FixtureCache.dir("glob", d) { tmp =>
        supplier(s, d)
          .withColumn("bucket", (col("s_nationkey") % 3).cast("int"))
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      }
      Layout.globRead(s, tmp, "bucket=*")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal", "bucket")
        .orderBy("s_suppkey")
    }),

    // S12: previous-snapshot discovery — the reference lists + sorts dirs and
    // takes the greatest < current (script_api_apify_to_spark.py:218-234).
    // Spark-native via lake.Layout: each run appends one immutable
    // (run_date, run_time) snapshot partition; previousRunTime lists the
    // partition dirs (no Spark job) and snapshotAt prunes the
    // scan to the single chosen partition — the pattern that scales to
    // thousands of snapshots.
    "q_prev_snapshot" -> ((s, d) => {
      val (date, current) = (20250301, 1100)
      val o = orders(s, d).select("o_orderkey", "o_totalprice")
      // the snapshot layout is the INPUT fixture; built once per JVM per
      // sfDir — discovery + pruned read (the operator) re-run every time
      val tmp = graft.util.FixtureCache.dir("snap", d) { tmp =>
        val ref = Layout.TableRef(tmp, Layout.usageLayer, "apify", "orders")
        Seq(900, 1000, 1100).foreach { h =>
          // one task per snapshot write → one file, not shufflePartitions many
          Layout.writeSnapshot(
            o.where(col("o_orderkey") % (h / 100) === 0).coalesce(1), ref, date, h)
        }
      }
      val ref = Layout.TableRef(tmp, Layout.usageLayer, "apify", "orders")
      val prev = Layout.previousRunTime(s, ref, date, current).get
      Layout.snapshotAt(s, ref, date, prev)
        .select("o_orderkey", "o_totalprice", "run_time")
        .orderBy("o_orderkey")
    }),

    // X26: as-of-T snapshot read ACROSS dates — asking for 08:45 on a day
    // whose first snapshot lands at 09:00 must fall back to the previous
    // day's last snapshot (the case the reference's same-day listdir loop
    // cannot serve). Discovery lists partition dirs; the read prunes to the one
    // chosen partition (LayoutSpec pins both).
    "q_snapshot_asof" -> ((s, d) => {
      val o = orders(s, d).select("o_orderkey", "o_totalprice")
      val tmp = graft.util.FixtureCache.dir("asof", d) { tmp =>
        val ref = Layout.TableRef(tmp, Layout.usageLayer, "apify", "orders")
        Seq((20250228, 1400, 7), (20250301, 900, 9), (20250301, 1000, 10))
          .foreach { case (date, h, k) =>
            Layout.writeSnapshot(
              o.where(col("o_orderkey") % k === 0).coalesce(1), ref, date, h)
          }
      }
      val ref = Layout.TableRef(tmp, Layout.usageLayer, "apify", "orders")
      Layout.readAsOf(s, ref, 20250301, 845).get
        .select("o_orderkey", "o_totalprice", "run_date", "run_time")
        .orderBy("o_orderkey")
    })
  )

  private val diffCtes = SnapshotDiff.oracleCtes

  val oracles: Map[String, String] = Map(
    "q_scan" ->
      """SELECT * FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice""".stripMargin,
    "q_project" ->
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",
    "q_lit_tag" ->
      """SELECT s_suppkey, s_name, 'added' AS change, 'acct_main' AS username_scraped
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_filter_nonempty" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name IS NOT NULL AND trim(p_name) <> '' ORDER BY p_partkey""".stripMargin,
    "q_count" ->
      "SELECT count(*) AS n_rows FROM lineitem",
    "q_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20",
    "q_struct_flatten" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",
    "q_json_normalize" ->
      // type-gated to mirror Spark's from_json('k INT'): a STRING-typed k
      // parses to NULL in Spark, so the oracle must not cast it (and a
      // bare CAST would hard-error on non-numeric strings)
      """SELECT event_id,
        |       CASE WHEN json_type(props, '$.k') IN ('UBIGINT', 'BIGINT', 'INTEGER')
        |            THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_anti_added" ->
      (diffCtes + "SELECT * FROM added ORDER BY c_custkey, c_name"),
    "q_anti_deleted" ->
      (diffCtes + "SELECT * FROM deleted ORDER BY c_custkey, c_name"),
    "q_snapshot_diff" ->
      (diffCtes +
        """SELECT * FROM (SELECT * FROM added UNION ALL SELECT * FROM deleted)
          |ORDER BY change, c_custkey, c_name""".stripMargin),
    "q_diff_apply" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey, c_name""".stripMargin,
    "q_diff_nullsafe" ->
      """WITH cur AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_name END AS c_name,
        |         c_acctbal
        |  FROM customer),
        |prev AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 13 = 0 THEN NULL
        |              WHEN c_custkey % 7 = 0 THEN c_name || '_v0'
        |              ELSE c_name END AS c_name,
        |         c_acctbal
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |added AS (
        |  SELECT cur.c_custkey, cur.c_name, cur.c_acctbal, 'added' AS change FROM cur
        |  WHERE NOT EXISTS (SELECT 1 FROM prev
        |                    WHERE prev.c_custkey IS NOT DISTINCT FROM cur.c_custkey
        |                      AND prev.c_name IS NOT DISTINCT FROM cur.c_name)),
        |deleted AS (
        |  SELECT prev.c_custkey, prev.c_name, prev.c_acctbal, 'deleted' AS change FROM prev
        |  WHERE NOT EXISTS (SELECT 1 FROM cur
        |                    WHERE cur.c_custkey IS NOT DISTINCT FROM prev.c_custkey
        |                      AND cur.c_name IS NOT DISTINCT FROM prev.c_name))
        |SELECT * FROM (SELECT * FROM added UNION ALL SELECT * FROM deleted)
        |ORDER BY change, c_custkey, c_name""".stripMargin,
    "q_union_fold" ->
      """SELECT * FROM (
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'acct_0' AS username_scraped
        |  FROM supplier WHERE s_nationkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'acct_1' AS username_scraped
        |  FROM supplier WHERE s_nationkey % 3 = 1
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'acct_2' AS username_scraped
        |  FROM supplier WHERE s_nationkey % 3 = 2
        |) ORDER BY s_suppkey""".stripMargin,
    "q_glob_scan" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
        |       CAST(s_nationkey % 3 AS INTEGER) AS bucket
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_prev_snapshot" ->
      """SELECT o_orderkey, o_totalprice, 1000 AS run_time
        |FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin,
    "q_snapshot_asof" ->
      // as-of 20250301 08:45 with day-1 snapshots at 09:00/10:00 resolves
      // to the PREVIOUS day's 14:00 snapshot (the % 7 slice)
      """SELECT o_orderkey, o_totalprice, 20250228 AS run_date, 1400 AS run_time
        |FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""".stripMargin
  )
}

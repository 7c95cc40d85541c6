package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** X160: the `files` metadata subtable — Iceberg's `table.files` /
  * Delta's `DESCRIBE DETAIL` per-file view, derived from manifests,
  * zone-map sidecars (X57/X69/X78) and deletion-vector deltas (X64)
  * WITHOUT opening a single data file.
  *
  * The operational questions this answers at 100 TB — "how many files,
  * how big, what key ranges, how much MOR debt has accumulated?" — are
  * exactly the inputs to compaction (X32), clustering (X48/X106) and
  * materialize (X64) decisions, and the table costs the same for a
  * 100 MB table as a 100 TB one: manifests + sidecars are metadata,
  * tombstone deltas are proportional to deleted rows, never to data.
  *
  * Stats resolution: per file, the NEWEST sidecar at any version ≤ the
  * requested one wins (appends carry parent stats forward, so this is
  * normally the version's own sidecar; delete commits write none and
  * inherit). Files without stats surface NULL rows/bounds — absence
  * degrades to "unknown", never to a wrong number (the X57 rule).
  */
object MetaTables extends graft.QueryModule {
  /** Shared fixture: an 8-file o_orderkey-range-clustered commit with
    * zone maps, then a DV delete of the %9 slice (≈11% MOR debt) —
    * used by `q_format_files` and the advisor's "clustered" table.
    */
  def metaFilesFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("meta_files", d) { dir =>
      val o = graft.sources.Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, org.apache.spark.sql.functions.col("o_orderkey"))
      ZoneMap.commitWithStats(o, dir, 20250601, 900, Seq("o_orderkey"))
      DeleteVectors.deleteWhere(s, dir,
        org.apache.spark.sql.functions.col("o_orderkey") % 9 === 0, 20250601, 930)
    }

  val filesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("lo", MapType(StringType, LongType), nullable = true),
    StructField("hi", MapType(StringType, LongType), nullable = true),
    StructField("slo", MapType(StringType, StringType), nullable = true),
    StructField("shi", MapType(StringType, StringType), nullable = true),
    StructField("tombstones", LongType, nullable = false)))

  /** The per-file view of `version` (default: latest). One row per live
    * data file: sidecar stats (NULL when no sidecar covers the file) and
    * the file's tombstone count from the version's DV delta.
    */
  def filesTable(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"graft: no committed versions at $dir")
    val snap = version match {
      case Some(v) => snaps.find(_.version == v).getOrElse(
        throw new NoSuchElementException(s"graft: no version $v at $dir"))
      case None => snaps.last
    }
    // newest sidecar ≤ version wins per file (fold in ascending order)
    val stats: Map[String, ZoneMap.FileStats] =
      (1 to snap.version).foldLeft(Map.empty[String, ZoneMap.FileStats]) { (acc, v) =>
        acc ++ ZoneMap.fileStats(spark, dir, v).getOrElse(Nil).map(s => s.file -> s)
      }
    // MOR debt: tombstones per file from the cumulative DV delta —
    // proportional to deleted rows, the only non-metadata input
    val tomb: Map[String, Long] =
      if (snap.deletes.isEmpty) Map.empty
      else spark.read.schema("file STRING, pos BIGINT")
        .parquet(snap.deletes.map(f => s"$dir/$f"): _*)
        .groupBy("file").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = snap.files.sorted.map { f =>
      val s = stats.get(f)
      Row(f,
        s.map(_.rows).filter(_ >= 0).map(java.lang.Long.valueOf).orNull,
        s.map(_.lo).orNull, s.map(_.hi).orNull,
        s.map(_.slo).orNull, s.map(_.shi).orNull,
        tomb.getOrElse(f, 0L))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), filesSchema)
  }

  /** X163: maintenance advisor — the CONSUMER of the files view:
    * Databricks' predictive-optimization / Iceberg's maintenance-
    * recommendation shape, as three deterministic rules over per-file
    * metadata (zero data read, so the advisor costs the same at 100 TB):
    *
    *  - `binpack` (X32/X129): average stats-rows per file under half the
    *    target — the small-files debt hourly ingest accumulates;
    *  - `cluster` (X48/X106): the layout no longer serves the query key —
    *    measured as sort-sweep boundary violations on the key's per-file
    *    [lo, hi] (sort by lo; count files opening before the running max
    *    hi closes). 0 ⟺ perfectly clustered; O(F log F) driver work on
    *    file-count-sized metadata, never O(F²);
    *  - `materialize` (X64): tombstone debt ≥ the threshold fraction of
    *    stats rows — when merge-on-read reads pay more than a rewrite.
    *
    * Files without sidecar stats contribute nothing to the evidence
    * (unknown never fires a rule — the X57 degradation contract).
    */
  def maintenancePlan(spark: SparkSession, dir: String, keyCol: String,
      targetRows: Long, morDebtPct: Int = 10): DataFrame = {
    import spark.implicits._
    val files = filesTable(spark, dir).collect() // file-count-sized metadata
    val withStats = files.filter(!_.isNullAt(1))
    val statRows = withStats.map(_.getAs[Long]("rows")).sum
    val avgRows = if (withStats.isEmpty) Long.MaxValue else statRows / withStats.length
    val bounds = withStats
      .filter(r => Option(r.getAs[Map[String, Long]]("lo")).exists(_.contains(keyCol)))
      .map(r => (r.getAs[Map[String, Long]]("lo")(keyCol),
        r.getAs[Map[String, Long]]("hi")(keyCol)))
      .sortBy(_._1)
    var runMax = Long.MinValue
    var violations = 0L
    bounds.foreach { case (lo, hi) =>
      if (runMax != Long.MinValue && lo <= runMax) violations += 1
      runMax = math.max(runMax, hi)
    }
    val tomb = files.map(_.getAs[Long]("tombstones")).sum
    Seq(
      ("binpack", files.length > 1 && withStats.nonEmpty && avgRows < targetRows / 2),
      ("cluster", violations > 0),
      ("materialize", statRows > 0 && tomb * 100L >= morDebtPct.toLong * statRows))
      .toDF("rule", "fired")
  }

  /** X174: maintenance EXECUTOR — closes the X163 advisor loop (the
    * predictive-optimization tick Databricks ships): read the plan,
    * execute the advised maintenance, re-advise. ALL fired rules are
    * served by ONE range-clustered, stats-carrying, row-budgeted fold of
    * the latest version (`op = "optimize"`): the fold applies tombstones
    * (materialize), packs to `ceil(rows / targetRows)` files (binpack),
    * and range-lays-out on the advised key (cluster) — one rewrite, never
    * the same bytes twice, and the fresh X57 sidecar keeps the NEXT tick's
    * advisor evidence honest (a bare X64 materialize would drop stats and
    * blind it). Convergent by construction: after the fold every rule's
    * evidence is zero, so the second tick advises nothing — the
    * idempotency contract MetaTablesSpec pins.
    *
    * Guarded (X125 discipline): a content signature — (row count,
    * xxhash64 sum over the full row) — is taken before and after; a
    * mismatch RESTOREs to the pre-maintenance version (X118) and throws,
    * so a buggy rewrite can never publish silently.
    *
    * Returns (fired rule, committed version) pairs — empty when the
    * advisor fired nothing (nothing is committed then).
    */
  def maintain(spark: SparkSession, dir: String, keyCol: String,
      targetRows: Long, date: Int, time: Int,
      morDebtPct: Int = 10): Seq[(String, Int)] = {
    import org.apache.spark.sql.functions._
    val plan = maintenancePlan(spark, dir, keyCol, targetRows, morDebtPct)
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    val fired = Seq("binpack", "cluster", "materialize").filter(plan(_))
    if (fired.isEmpty) return Nil
    val preV = ManifestTable.latestVersion(spark, dir).get
    // decimal(38,0) sum: exact and overflow-free under ANSI mode for any
    // realistic row count (a long sum of 64-bit hashes overflows)
    def signature(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(struct(df.columns.map(col): _*)).cast("decimal(38,0)"))).first()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    val before = signature(ManifestTable.readVersion(spark, dir, preV))
    val n = math.max(1, math.ceil(before._1.toDouble / targetRows).toInt)
    val folded = ManifestTable.readVersion(spark, dir, preV)
      .repartitionByRange(n, org.apache.spark.sql.functions.col(keyCol))
      .sortWithinPartitions(keyCol)
    val v = ZoneMap.commitWithStats(folded, dir, date, time, Seq(keyCol),
      op = "optimize")
    val after = signature(ManifestTable.readLatest(spark, dir))
    if (after != before) {
      Restore.restore(spark, dir, preV, date, time)
      throw new IllegalStateException(
        s"maintain at $dir: content signature changed $before -> $after " +
          s"across the optimize fold — restored to v$preV")
    }
    fired.map(_ -> v)
  }

  val queries: Map[String, Q] = Map(
    // The advisor over two honest states: the clustered+tombstoned table
    // (materialize should fire — ≈11% MOR debt — and nothing else) and a
    // table range-laid-out on the WRONG column for the query key with
    // 64 small files (binpack + cluster fire, no deletes). The oracle
    // derives every decision from the raw data + the fixture's layout
    // constants, so a rule mis-firing in either direction breaks a row.
    "q_maintenance_plan" -> ((s, d) => {
      val clustered = metaFilesFixture(s, d)
      val fragmented = graft.util.FixtureCache.dir("maint_frag", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(64, org.apache.spark.sql.functions.col("o_custkey"))
        ZoneMap.commitWithStats(o, dir, 20250601, 900, Seq("o_orderkey"))
      }
      val target = graft.sources.Tables.orders(s, d).count() / 10
      maintenancePlan(s, clustered, "o_orderkey", target)
        .withColumn("tbl", org.apache.spark.sql.functions.lit("clustered"))
        .unionByName(maintenancePlan(s, fragmented, "o_orderkey", target)
          .withColumn("tbl", org.apache.spark.sql.functions.lit("fragmented")))
        .select("tbl", "rule", "fired")
        .orderBy("tbl", "rule")
    }),

    // X174: the executor tick over a table where ALL THREE rules fire —
    // 64 small files ranged on the WRONG column with ≈12.5% tombstone
    // debt. Tick 1 executes one optimize fold (3 advised rules, 1
    // commit); tick 2 advises nothing (idempotency); content is
    // invisible before/after (the oracle recomputes it from raw orders
    // minus the delete predicate); the commit log carries exactly one
    // 'optimize' op.
    "q_maintenance_run" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val target = graft.sources.Tables.orders(s, d).count() / 10
      val work = graft.util.FixtureCache.dir("maint_run", d) { work =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(64, col("o_custkey"))
        ZoneMap.commitWithStats(o, work, 20250601, 900, Seq("o_orderkey"))
        DeleteVectors.deleteWhere(s, work, col("o_orderkey") % 8 === 0,
          20250601, 930)
        val t1 = maintain(s, work, "o_orderkey", target, 20250601, 1000)
        require(t1.map(_._1).toSet == Set("binpack", "cluster", "materialize"),
          s"tick 1 must fire all three rules, got $t1")
      }
      val tick2 = maintain(s, work, "o_orderkey", target, 20250601, 1100)
      val optimizeOps = ManifestTable.snapshots(s, work).count(_.op == "optimize")
      val content = ManifestTable.readLatest(s, work)
        .agg(count(lit(1)).as("n"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"))
        .select(lit("content").as("probe"), col("n"), col("sum_total"))
      val ticks = s.createDataFrame(Seq(
        ("tick1_rules_fired", 3L, Option.empty[Double]),
        ("tick2_rules_fired", tick2.size.toLong, Option.empty[Double]),
        ("optimize_commits", optimizeOps.toLong, Option.empty[Double])))
        .toDF("probe", "n", "sum_total")
      content.unionByName(ticks).orderBy("probe")
    }))

  val oracles: Map[String, String] = Map(
    "q_maintenance_plan" ->
      """WITH n AS (SELECT count(*) AS c FROM orders)
        |SELECT * FROM (
        |  SELECT 'clustered' AS tbl, 'binpack' AS rule,
        |         (c // 8) < (c // 10) // 2 AS fired FROM n
        |  UNION ALL SELECT 'clustered', 'cluster', false
        |  UNION ALL SELECT 'clustered', 'materialize',
        |    (SELECT 100 * count(*) FILTER (WHERE o_orderkey % 9 = 0) >= 10 * count(*)
        |     FROM orders)
        |  UNION ALL SELECT 'fragmented', 'binpack',
        |         (c // 64) < (c // 10) // 2 FROM n
        |  UNION ALL SELECT 'fragmented', 'cluster', true
        |  UNION ALL SELECT 'fragmented', 'materialize', false
        |) ORDER BY tbl, rule""".stripMargin,

    "q_maintenance_run" ->
      """SELECT * FROM (
        |  SELECT 'content' AS probe, count(*) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 8 <> 0
        |  UNION ALL SELECT 'optimize_commits', 1, CAST(NULL AS DOUBLE)
        |  UNION ALL SELECT 'tick1_rules_fired', 3, CAST(NULL AS DOUBLE)
        |  UNION ALL SELECT 'tick2_rules_fired', 0, CAST(NULL AS DOUBLE)
        |) ORDER BY probe""".stripMargin)
}

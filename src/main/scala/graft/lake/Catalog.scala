package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Multi-table atomic commits (extension X99) — one transaction spanning
  * several manifest tables, visible all-or-nothing.
  *
  * The reference's hourly DAG writes accounts AND followers snapshots as
  * separate steps (`airflow/dags/apify_dag.py:83-91`), so a reader
  * between the two writes sees accounts from run N and followers from
  * run N−1 — a torn cross-table view no single-table log (X39) can fix.
  * The standard cure is a CATALOG pointer above the table logs (the
  * Nessie/HMS-atomic-swap shape): each table keeps its own X39 manifest
  * log, and a catalog version is a tiny JSON mapping table name → table
  * version, published with the same rename-as-commit + optimistic-retry
  * discipline as X96. Readers that resolve through a catalog version get
  * a CONSISTENT cross-table cut; a crash between table commits and the
  * catalog publish leaves newer table versions committed-but-unreferenced
  * (harmless — exactly X39's staged-data story, one level up), and the
  * catalog still serves the old cut for every table.
  *
  * Layout under one catalog root:
  * {{{
  *   _catalog/v00000001.json        -- {"tables": {"accounts": 1, ...}}
  *   accounts/_manifests/...        -- ordinary X39 table
  *   followers/_manifests/...
  * }}}
  *
  * At 100 TB this is pure metadata: a transaction moves one small JSON
  * per table plus one for the catalog — data bytes are staged by the
  * table commits themselves, and no data is ever rewritten to join or
  * leave a transaction.
  */
object Catalog extends graft.QueryModule {

  /** A committed catalog version: a consistent cut across tables.
    * `epoch` marks cuts published by an exactly-once streaming writer
    * (X109) with the micro-batch id they committed — absent for plain
    * transactions, so pre-epoch catalogs parse unchanged.
    */
  case class CatalogSnapshot(version: Int, runDate: Int, runTime: Int,
      tables: Map[String, Int], epoch: Option[Long] = None)

  private def catalogDir(root: String) = s"$root/_catalog"
  private val VersionRe = """v(\d{8})\.json""".r

  /** All committed catalog versions, oldest first — one tiny listing +
    * one driver-side JSON read per version, no table or data listing.
    */
  def snapshots(spark: SparkSession, root: String): Seq[CatalogSnapshot] = {
    val fs = ManifestTable.fsFor(spark, root)
    val cdir = new Path(catalogDir(root))
    if (!fs.exists(cdir)) return Seq.empty
    fs.listStatus(cdir).toSeq
      .flatMap(s => s.getPath.getName match {
        case VersionRe(_) => Some(s.getPath)
        case _ => None // in-flight .tmp files are not commits
      })
      .map { p =>
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        implicit val fmts: Formats = DefaultFormats
        val j = JsonMethods.parse(text)
        CatalogSnapshot((j \ "version").extract[Int],
          (j \ "run_date").extract[Int], (j \ "run_time").extract[Int],
          (j \ "tables").extract[Map[String, Int]],
          (j \ "epoch").extractOpt[Long])
      }
      .sortBy(_.version)
  }

  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    snapshots(spark, root).lastOption.map(_.version)

  /** Step 1 of a transaction: commit every table write on its OWN log
    * (X96 optimistic replace — concurrent single-table writers compose),
    * returning table → committed version. Nothing is visible through the
    * catalog yet; a crash after this step leaves the catalog cut intact.
    */
  def commitTableVersions(root: String, date: Int, time: Int,
      writes: Seq[(String, DataFrame)]): Map[String, Int] =
    writes.map { case (name, df) =>
      require(!name.startsWith("_") && name.matches("[A-Za-z0-9._-]+"),
        s"illegal table name '$name'")
      name -> ManifestTable.commitRetrying(df, s"$root/$name", date, time)
    }.toMap

  /** Step 2 — THE commit point: publish a new catalog version whose table
    * map is the previous cut overlaid with this transaction's versions.
    * Rename-as-commit with bounded optimistic retry: a lost race re-reads
    * the new latest cut and re-overlays (the transaction's table versions
    * are already durable, so only this tiny JSON is rebuilt).
    */
  /** `expectBase`: compare-and-swap publish — the new cut must land
    * directly on catalog version `expectBase`; if any concurrent writer
    * advanced the catalog past it, REFUSE instead of overlay-and-retry.
    * This is the single-writer guard for read-modify-write transactions
    * (X165 scd2Apply recomputes tails it read at a specific cut — an
    * overlay on a newer cut would silently drop the concurrent writer's
    * tail work, the X121 lost-update shape).
    */
  def publishCatalog(spark: SparkSession, root: String, date: Int, time: Int,
      tableVersions: Map[String, Int], maxRetries: Int = 5,
      epoch: Option[Long] = None, expectBase: Option[Int] = None): Int = {
    val fs = ManifestTable.fsFor(spark, root)
    val cdir = new Path(catalogDir(root))
    fs.mkdirs(cdir)
    var tries = 0
    while (true) {
      val latest = snapshots(spark, root).lastOption
      expectBase.foreach { eb =>
        val lv = latest.map(_.version).getOrElse(0)
        if (lv != eb) throw new IllegalStateException(
          s"catalog at $root advanced past expected base $eb (now $lv): " +
            "a concurrent writer committed; re-run against the new cut")
      }
      val v = latest.map(_.version).getOrElse(0) + 1
      val cut = latest.map(_.tables).getOrElse(Map.empty) ++ tableVersions
      val body = cut.toSeq.sortBy(_._1)
        .map { case (n, tv) => s""""$n": $tv""" }.mkString(", ")
      val epochField = epoch.map(e => s""",\n "epoch": $e""").getOrElse("")
      val json = s"""{"version": $v, "run_date": $date, "run_time": $time,
                    | "tables": {$body}$epochField}""".stripMargin
      // put-if-absent through the storage seam (CommitPrimitive) — same
      // commit point as the table manifests, same object-store caveats
      if (CommitPrimitive.active(spark).putIfAbsent(spark,
          new Path(cdir, f"v$v%08d.json"), json.getBytes("UTF-8"))) return v
      tries += 1
      if (tries > maxRetries) throw new IllegalStateException(
        s"catalog commit at $root lost $tries consecutive races; giving up")
    }
    -1 // unreachable
  }

  /** One atomic multi-table transaction: commit each table, then publish
    * the catalog cut. Returns the catalog version.
    */
  def transact(spark: SparkSession, root: String, date: Int, time: Int,
      writes: Seq[(String, DataFrame)]): Int =
    publishCatalog(spark, root, date, time,
      commitTableVersions(root, date, time, writes))

  /** Catalog-wide keyed delete (extension X126 — the right-to-be-forgotten
    * sweep): tombstone matching rows in SEVERAL tables and make all of it
    * visible in ONE cut. Each table takes an X64 merge-on-read delete
    * commit on its own log (optimistic retry, predicate re-evaluated on a
    * lost race), then a single catalog publish flips every reader to the
    * post-delete world atomically — no window where the user is gone from
    * `accounts` but still present in `events`, which is exactly the torn
    * state a per-table sweep leaves between its steps. A crash before the
    * publish leaves every reader on the pre-delete cut (the table-log
    * deletes are committed-but-unreferenced, the X99 staged story); the
    * re-run re-deletes (idempotent — re-tombstoning dedups) and publishes.
    * Cost: per table one predicate-column scan + a tombstone sidecar;
    * zero data files rewritten (X32/X106 fold them later).
    */
  def deleteWhereAll(spark: SparkSession, root: String, date: Int, time: Int,
      preds: Seq[(String, org.apache.spark.sql.Column)]): Int = {
    val latestCut = snapshots(spark, root).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed catalog version at $root"))
    preds.foreach { case (t, _) =>
      require(latestCut.tables.contains(t),
        s"table '$t' not in catalog version ${latestCut.version}")
    }
    val tvs = preds.map { case (t, p) =>
      t -> DeleteVectors.deleteWhereRetrying(spark, s"$root/$t", p, date, time)
    }.toMap
    publishCatalog(spark, root, date, time, tvs)
  }

  /** Clone a whole catalog CUT (extension X145 — X108's deep clone
    * lifted to the multi-table consistency level): every table version
    * the cut resolves to copies to an independent root (data files AND
    * deletion-vector sidecars, X108 semantics), then ONE catalog publish
    * makes the clone's tables visible together — the hand-a-CONSISTENT-
    * WORLD-to-another-team contract (environment promotion, dev
    * refresh, incident forensics). The clone shares nothing: vacuuming
    * or rewriting ANY source table can never break it. Cost is
    * data-proportional per table and embarrassingly parallel; a crash
    * mid-clone leaves the destination catalog unpublished — readers see
    * nothing rather than half a world.
    */
  def cloneCut(spark: SparkSession, srcRoot: String, dstRoot: String,
      date: Int, time: Int, asOf: Option[Int] = None): Int = {
    val snaps = snapshots(spark, srcRoot)
    require(snaps.nonEmpty, s"no committed catalog version at $srcRoot")
    val cut = asOf.map(v => snaps.find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"no catalog version $v at $srcRoot")))
      .getOrElse(snaps.last)
    val tvs = cut.tables.map { case (t, v) =>
      t -> ManifestTable.cloneVersion(spark, s"$srcRoot/$t", s"$dstRoot/$t",
        date, time, Some(v))
    }
    publishCatalog(spark, dstRoot, date, time, tvs)
  }

  /** Read `table` as of catalog version `asOf` (latest cut if omitted) —
    * resolution is ONLY catalog cut → table version → X39 manifest, so
    * concurrent transactions can never tear the view.
    */
  def readTable(spark: SparkSession, root: String, table: String,
      asOf: Option[Int] = None): DataFrame = {
    val snaps = snapshots(spark, root)
    require(snaps.nonEmpty, s"no committed catalog version at $root")
    val cut = asOf match {
      case Some(v) => snaps.find(_.version == v).getOrElse(
        throw new NoSuchElementException(s"no catalog version $v at $root"))
      case None => snaps.last
    }
    val tv = cut.tables.getOrElse(table, throw new NoSuchElementException(
      s"table '$table' not in catalog version ${cut.version}"))
    ManifestTable.readVersion(spark, s"$root/$table", tv)
  }

  /** X224 — catalog-wide point-in-time read: resolve the newest CUT
    * committed at-or-before the stamp (the X26 run-stamp rule on catalog
    * versions) and read `table` at exactly the version that cut
    * references. The property this buys over per-table `asOfDate`:
    * CROSS-TABLE CONSISTENCY — every table read through the same stamp
    * comes from ONE atomic X99 cut, so a join between them can never mix
    * a pre-transaction `a` with a post-transaction `b` (per-table stamp
    * resolution can, whenever the two tables' commit clocks interleave).
    * Stamp resolution is catalog-metadata-only; a stamp predating every
    * cut refuses.
    */
  def readTableAsOf(spark: SparkSession, root: String, table: String,
      date: Int, time: Int): DataFrame = {
    val cut = snapshots(spark, root)
      .filter(s => s.runDate < date || (s.runDate == date && s.runTime <= time))
      .sortBy(s => (s.runDate, s.runTime, s.version))
      .lastOption.getOrElse(throw new NoSuchElementException(
        s"no catalog cut at or before $date/$time at $root"))
    readTable(spark, root, table, Some(cut.version))
  }

  /** Catalog-aware retention (X105): expire all but the newest `keepLast`
    * catalog cuts, then vacuum every table with the versions the RETAINED
    * cuts resolve to pinned — a table version an old-but-retained
    * cross-table cut still references is not garbage, no matter how far
    * the table's own log has advanced. Returns expired catalog versions.
    */
  def vacuumCatalog(spark: SparkSession, root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "retention must keep at least the latest cut")
    val snaps = snapshots(spark, root)
    if (snaps.isEmpty) return Seq.empty
    val expired = snaps.dropRight(keepLast)
    val retained = snaps.drop(expired.size)
    val fs = ManifestTable.fsFor(spark, root)
    expired.foreach(s =>
      fs.delete(new Path(catalogDir(root), f"v${s.version}%08d.json"), false))
    val tables = retained.flatMap(_.tables.keys).distinct
    tables.foreach { t =>
      val pinned = retained.flatMap(_.tables.get(t)).toSet
      Vacuum.vacuum(spark, s"$root/$t", keepLast, protect = pinned)
    }
    // X167 result-cache entries keyed by now-expired table versions are
    // garbage too — reclaim them in the same retention sweep
    ResultCache.vacuum(spark, root)
    expired.map(_.version)
  }

  /** Timeline: tx1 writes a consistent pair (orders slice + lineitem
    * slice, both keyed `% 3 === 0`); tx2 replaces both with the wider
    * `% 3 <= 1` cut. Reading both tables through both catalog versions
    * must reproduce the four predicate-defined contents — cross-table
    * consistency in both directions of time.
    */
  /** tx1 = consistent `% 3 === 0` pair; tx2 = the wider `% 3 <= 1` pair.
    * Shared by q_catalog_tx and the SQL-surface refs query (X128).
    */
  def txFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("catalog_tx", d) { root =>
      import org.apache.spark.sql.functions._
      val o = graft.sources.Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      val l = graft.sources.Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity")
      transact(s, root, 20250301, 900, Seq(
        "ord" -> o.where(col("o_orderkey") % 3 === 0),
        "li" -> l.where(col("l_orderkey") % 3 === 0)))
      transact(s, root, 20250301, 1000, Seq(
        "ord" -> o.where(col("o_orderkey") % 3 <= 1),
        "li" -> l.where(col("l_orderkey") % 3 <= 1)))
    }

  val queries: Map[String, Q] = Map(
    // X224: a stamp BETWEEN the two transactions resolves BOTH tables to
    // cut 1 (cross-table consistency — never a mixed-world read); a
    // stamp after tx2 serves cut 2. The oracle rebuilds all three reads
    // from the raw tables' predicates.
    "q_catalog_asof" -> ((s, d) => {
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val root = txFixture(s, d)
      def agg(tag: String, df: DataFrame, c: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col(c)).as("sum_v"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_v"))
      agg("cut1_li", readTableAsOf(s, root, "li", 20250301, 950), "l_quantity")
        .unionByName(agg("cut1_ord",
          readTableAsOf(s, root, "ord", 20250301, 950), "o_totalprice"))
        .unionByName(agg("cut2_ord",
          readTableAsOf(s, root, "ord", 20250301, 1100), "o_totalprice"))
        .orderBy("probe")
    }),

    "q_catalog_tx" -> ((s, d) => {
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val root = txFixture(s, d)
      def cut(cv: Int, tbl: String, valueCol: String): DataFrame =
        readTable(s, root, tbl, Some(cv))
          .agg(count(lit(1)).as("n_rows"), dsum(col(valueCol)).as("sum_val"))
          .select(lit(cv.toLong).as("cat_version"), lit(tbl).as("tbl"),
            col("n_rows"), col("sum_val"))
      cut(1, "ord", "o_totalprice")
        .unionByName(cut(1, "li", "l_quantity"))
        .unionByName(cut(2, "ord", "o_totalprice"))
        .unionByName(cut(2, "li", "l_quantity"))
        .orderBy("cat_version", "tbl")
    }),

    // X145: clone the post-delete cut to an independent root, then the
    // SOURCE moves on (another cohort deleted) — the clone must still
    // serve the cut it captured, tombstones intact, while the source's
    // latest diverges. Any sharing between clone and source breaks one
    // of the four probes.
    "q_catalog_clone" -> ((s, d) => {
      import graft.sources.Tables
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val roots = graft.util.FixtureCache.dir("cat_clone", d) { roots =>
        val src = s"$roots/src"
        transact(s, src, 20250901, 900, Seq(
          "facts" -> Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "profiles" -> Tables.customer(s, d)
            .select("c_custkey", "c_acctbal")))
        deleteWhereAll(s, src, 20250901, 1000, Seq(
          "facts" -> (col("o_custkey") % 10 === 3),
          "profiles" -> (col("c_custkey") % 10 === 3)))
        cloneCut(s, src, s"$roots/dst", 20250901, 1100)
        // the source moves on AFTER the clone
        deleteWhereAll(s, src, 20250901, 1200, Seq(
          "facts" -> (col("o_custkey") % 10 === 7)))
      }
      def agg(tag: String, df: DataFrame, valueCol: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col(valueCol)).as("sum_val"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_val"))
      agg("clone_facts", readTable(s, s"$roots/dst", "facts"), "o_totalprice")
        .unionByName(agg("clone_profiles",
          readTable(s, s"$roots/dst", "profiles"), "c_acctbal"))
        .unionByName(agg("src_facts_latest",
          readTable(s, s"$roots/src", "facts"), "o_totalprice"))
        .unionByName(agg("src_profiles_latest",
          readTable(s, s"$roots/src", "profiles"), "c_acctbal"))
        .orderBy("probe")
    }),

    // X126: one customer cohort forgotten across BOTH tables in one cut —
    // cut 2 has them gone everywhere, cut 1 (pre-delete) intact.
    "q_gdpr_delete" -> ((s, d) => {
      import graft.sources.Tables
      import graft.util.Exact.dsum
      import org.apache.spark.sql.functions._
      val root = graft.util.FixtureCache.dir("gdpr_cat", d) { root =>
        transact(s, root, 20250901, 900, Seq(
          "facts" -> Tables.orders(s, d)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
          "profiles" -> Tables.customer(s, d)
            .select("c_custkey", "c_acctbal")))
        deleteWhereAll(s, root, 20250901, 1000, Seq(
          "facts" -> (col("o_custkey") % 10 === 3),
          "profiles" -> (col("c_custkey") % 10 === 3)))
      }
      def cut(cv: Int, tbl: String, valueCol: String): DataFrame =
        readTable(s, root, tbl, Some(cv))
          .agg(count(lit(1)).as("n_rows"), dsum(col(valueCol)).as("sum_val"))
          .select(lit(cv.toLong).as("cat_version"), lit(tbl).as("tbl"),
            col("n_rows"), col("sum_val"))
      cut(1, "facts", "o_totalprice")
        .unionByName(cut(1, "profiles", "c_acctbal"))
        .unionByName(cut(2, "facts", "o_totalprice"))
        .unionByName(cut(2, "profiles", "c_acctbal"))
        .orderBy("cat_version", "tbl")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_catalog_asof" ->
      """SELECT * FROM (
        |  SELECT 'cut1_li' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |  FROM lineitem WHERE l_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'cut1_ord', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'cut2_ord', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 <= 1
        |) ORDER BY probe""".stripMargin,
    "q_catalog_tx" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS cat_version, 'ord' AS tbl, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 1, 'li', count(*),
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM lineitem WHERE l_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 2, 'ord', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 <= 1
        |  UNION ALL
        |  SELECT 2, 'li', count(*),
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM lineitem WHERE l_orderkey % 3 <= 1
        |) ORDER BY cat_version, tbl""".stripMargin,

    "q_catalog_clone" ->
      """SELECT * FROM (
        |  SELECT 'clone_facts' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_custkey % 10 <> 3
        |  UNION ALL
        |  SELECT 'clone_profiles', count(*),
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM customer WHERE c_custkey % 10 <> 3
        |  UNION ALL
        |  SELECT 'src_facts_latest', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_custkey % 10 <> 3 AND o_custkey % 10 <> 7
        |  UNION ALL
        |  SELECT 'src_profiles_latest', count(*),
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM customer WHERE c_custkey % 10 <> 3
        |) ORDER BY probe""".stripMargin,

    "q_gdpr_delete" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS cat_version, 'facts' AS tbl, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders
        |  UNION ALL
        |  SELECT 1, 'profiles', count(*),
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM customer
        |  UNION ALL
        |  SELECT 2, 'facts', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_custkey % 10 <> 3
        |  UNION ALL
        |  SELECT 2, 'profiles', count(*),
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM customer WHERE c_custkey % 10 <> 3
        |) ORDER BY cat_version, tbl""".stripMargin,
  )
}

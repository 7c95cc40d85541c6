package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}

import graft.lake.Layout
import graft.lake.Layout.TableRef
import graft.lake.SnapshotDiff
import graft.ml.Gender
import graft.sinks.{Elastic, Jdbc}
import graft.sources.Ingest

/** The reference's WHOLE hourly job as one composed, re-runnable function
  * (X40) — every stage already exists as an individually-oracled operator;
  * this proves they compose.
  *
  * Reference shape, per hourly run:
  *   1. per account: GET payload → land verbatim raw.json
  *      (`scripts/script_api_apify_to_spark.py:100-137`) → normalize to
  *      (username, full_name) (`:144-165`) → gender-enrich (`:174-178`) →
  *      write formatted (append, `:194`) + usage (`:208`) layers → snapshot
  *      diff vs the previous run of the SAME day (`:214-257`) → append the
  *      scored table to Postgres (`:282-294`).
  *   2. aggregate: union ALL of the day's usage snapshots per account
  *      (a glob over the date's time subdirs, `airflow/dags/apify_dag.py:132-148`) into
  *      `final_aggregated`, union the day's comparatif snapshots into
  *      `final_comparatif` (`:154-168`), write both (`:175-196`), then
  *      optionally diff the aggregate against an older global snapshot —
  *      tags `added_global`/`deleted_global` (`:198-213`) — and append
  *      both aggregates to Postgres (`:216-246`).
  *   3. index both aggregates to Elasticsearch keyed by username
  *      (`apify_dag.py:289-318`).
  *
  * Spark-native deltas (semantics kept, physics fixed):
  *   - every lake write goes through [[Layout.overwriteSnapshot]] (dynamic
  *     partition overwrite), so re-running a failed run — the DAG's retry
  *     mode, `apify_dag.py:38-39` — replaces exactly that run's partition
  *     instead of appending duplicates (PipelineSpec pins this);
  *   - the usage layer is a file copy of the run's `formatted` partition
  *     ([[Layout.copySnapshot]], same partition-overwrite semantics): the
  *     reference writes the same rows twice (`:194,208`), one Spark write
  *     does here;
  *   - the payload's shape is read off the payload string and the landed
  *     file is read with the declared [[contract]]
  *     ([[Ingest.readContract]]), and the gender dictionary is a lookup,
  *     not a join, so ingest and enrichment plan no inference or broadcast
  *     job;
  *   - the JDBC append is made retry-idempotent the same way: each run's
  *     rows carry (run_date, run_time) and a re-run deletes-then-appends
  *     its own stamp ([[Jdbc.deleteWhere]]) — the reference would
  *     double-insert;
  *   - the per-day glob loop becomes one partition-pruned scan
  *     (`run_date = d AND run_time <= t` over partition values), and
  *     previous-run discovery lists partition dirs instead of scanning;
  *   - the "older global snapshot" (a hardcoded path in the reference,
  *     `apify_dag.py:41,198`) generalizes to the latest `final_aggregated`
  *     snapshot strictly before the current run, ACROSS days
  *     ([[Layout.snapshotAsOf]]) — day one has none, so the global diff is
  *     skipped exactly like the reference's missing-path branch;
  *   - every table the pipeline writes declares its columns on its
  *     [[TableRef]], so no read infers a schema (one Spark job each), and a
  *     quiet account's empty diff still reads back as an empty table;
  *   - the aggregate's lake writes, JDBC appends and ES bulks start
  *     together in one [[FanOut]] instead of the DAG's aggregate-then-index
  *     sequence, so a sink may write before a sibling lake write fails; the
  *     fan-out waits for every branch before it throws, and the
  *     [[Scheduler]] retry then rewrites all of them idempotently.
  *
  * At 100 TB: per-account work is embarrassingly parallel (the
  * orchestrator fans out accounts); within one account every stage is a
  * partition-local scan, a dictionary lookup (gender), or a single
  * keyed shuffle (the diff) — no driver-side data moves except the raw
  * landing, which is the ingest adapter's contract (SURVEY §2 S1).
  */
object Pipeline {

  /** Lake root + optional sinks. `keys` is the diff identity — the
    * reference's `(username, full_name)` composite
    * (`script_api_apify_to_spark.py:242`).
    */
  case class Config(
      root: String,
      group: String = "apify",
      keys: Seq[String] = Seq("username", "full_name"),
      jdbc: Option[Jdbc.JdbcConfig] = None,
      es: Option[Elastic.EsConfig] = None)

  /** The explicit raw-layer contract (`script_api_apify_to_spark.py:161-164`). */
  val contract: StructType = StructType.fromDDL("username STRING, full_name STRING")

  /** The scored table: the contract plus the enrichment (the reference's
    * 4-column select, `:239-240`). Every pipeline table is this plus
    * string columns.
    */
  private val scored: StructType =
    contract.add("predicted_gender", StringType).add("confidence", DoubleType)

  /** The scored-table data columns. */
  val dataCols: Seq[String] = scored.fieldNames.toSeq

  /** A table's declared data schema: the scored columns, then `extra`
    * string columns in the order its writer appends them.
    */
  private def declared(extra: String*): Option[StructType] =
    Some(extra.foldLeft(scored)(_.add(_, StringType)))

  def formattedRef(cfg: Config, account: String): TableRef =
    TableRef(cfg.root, Layout.formattedLayer, cfg.group, account, declared())
  def usageRef(cfg: Config, account: String): TableRef =
    TableRef(cfg.root, Layout.usageLayer, cfg.group, account, declared())
  def comparatifRef(cfg: Config, account: String): TableRef =
    TableRef(cfg.root, Layout.usageLayer, cfg.group, s"${account}_comparatif",
      declared("change"))
  def aggregatedRef(cfg: Config): TableRef =
    TableRef(cfg.root, Layout.combinedLayer, cfg.group, "final_aggregated",
      declared("username_scraped"))
  def comparatifAggRef(cfg: Config): TableRef =
    TableRef(cfg.root, Layout.combinedLayer, cfg.group, "final_comparatif",
      declared("change", "username_scraped"))
  def globalCompRef(cfg: Config): TableRef =
    TableRef(cfg.root, Layout.combinedLayer, cfg.group, "final_global_comparatif",
      declared("username_scraped", "change"))

  private def exists(spark: SparkSession, ref: TableRef): Boolean = {
    val p = new org.apache.hadoop.fs.Path(ref.dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One hourly run over already-fetched payloads (account → verbatim JSON
    * body; the HTTP GET itself is [[Ingest.fetchJson]], exercised in
    * IngestSpec — separating fetch from processing is what makes the run
    * re-runnable at all). Idempotent: re-invoking with the same
    * (date, time, payloads) leaves every table byte-identical.
    */
  def runHourly(spark: SparkSession, cfg: Config, date: Int, time: Int,
      payloads: Seq[(String, String)]): Unit = {

    // ---- stage 1: per-account ingest → enrich → layers → diff → JDBC.
    // Accounts run CONCURRENTLY, mirroring the reference's Airflow dynamic
    // task mapping (one spark-submit per account in parallel,
    // `apify_dag.py:83-91,336`); every table below is account-scoped, so
    // the jobs share nothing but the SparkSession (which is thread-safe).
    FanOut.all(payloads.map { case (account, payload) =>
      () => runAccount(spark, cfg, date, time, account, payload)
    })
    runAggregate(spark, cfg, date, time, payloads.map(_._1))
  }

  /** Stage 1 for ONE account — the body of the reference's mapped
    * `run_single_script` task (`apify_dag.py:83-91`): land the verbatim
    * payload, normalize to the contract, gender-enrich, commit the
    * formatted + usage layers, diff against the same-day previous run,
    * and append to JDBC. Idempotent (overwrite snapshots +
    * delete-own-stamp JDBC), so a [[Scheduler]] retry re-running it after
    * a mid-task crash converges to the no-failure state.
    */
  def runAccount(spark: SparkSession, cfg: Config, date: Int, time: Int,
      account: String, payload: String): Unit = {
    val raw = Ingest.landRaw(payload, cfg.root, cfg.group, account, date)
    val contracted = Ingest.readContract(spark, raw, payload, contract)
    // cache: the scored table feeds the formatted write, the diff's current
    // side and JDBC; without it each action re-parses the raw payload
    val scored = Gender.withGender(spark, contracted)
      .select(dataCols.map(col): _*)
      .cache()
    try {
      Layout.overwriteSnapshot(scored, formattedRef(cfg, account), date, time)
      Layout.copySnapshot(spark, formattedRef(cfg, account), usageRef(cfg, account), date, time)

      // same-DAY previous run only — the reference's discovery loop lists
      // the current date's usage dir (`script_api_apify_to_spark.py:218-234`)
      Layout.previousRunTime(spark, usageRef(cfg, account), date, time).foreach { pt =>
        // current side = the rows just committed at (date, time) — the
        // cached df, not a read-back (identical by the overwrite contract)
        val prev = Layout.snapshotAt(spark, usageRef(cfg, account), date, pt)
          .select(dataCols.map(col): _*)
        val d = SnapshotDiff.diff(scored, prev, cfg.keys)
        Layout.overwriteSnapshot(d, comparatifRef(cfg, account), date, time)
      }

      cfg.jdbc.foreach { j =>
        appendRunIdempotent(scored, j, account, date, time)
      }
    } finally scored.unpersist()
  }

  /** Stages 2–3 — the reference's `aggregate_results` + ES indexing tasks
    * (`apify_dag.py:132-246,289-318`): union the day's snapshots across
    * accounts, global diff, and fan out to the lake, JDBC and ES at once.
    * Reads the lake (not payloads), so a retry after any partial stage-2
    * write or sink converges.
    */
  def runAggregate(spark: SparkSession, cfg: Config, date: Int, time: Int,
      accounts: Seq[String]): Unit = {
    // ---- stage 2: cross-account aggregation over the DAY's snapshots
    val agg = accounts.map { account =>
      Layout.snapshots(spark, usageRef(cfg, account))
        .where(col(Layout.runDateCol) === date && col(Layout.runTimeCol) <= time)
        .select(dataCols.map(col): _*)
        .withColumn("username_scraped", lit(account))
    }.reduce(_ unionByName _).cache() // feeds its write + global diff + sinks
    try {
      agg.count() // materialize once before the concurrent consumers below

      val compAgg = accounts.collect {
        case account if exists(spark, comparatifRef(cfg, account)) =>
          Layout.snapshots(spark, comparatifRef(cfg, account))
            .where(col(Layout.runDateCol) === date && col(Layout.runTimeCol) <= time)
            .select((dataCols :+ "change").map(col): _*)
            .withColumn("username_scraped", lit(account))
      }.reduceOption(_ unionByName _)

      // ---- stage 2b: global diff vs the latest aggregate before this run.
      // The lookup and the old side's listing run BEFORE the fan-out, so no
      // reader lists the table while this run's aggregate write is in
      // flight (on the first run ever the table has no dir, and no snapshot)
      val globalDiff =
        Layout.snapshotAsOf(spark, aggregatedRef(cfg), date, time - 1).map { case (pd, pt) =>
          val old = Layout.snapshotAt(spark, aggregatedRef(cfg), pd, pt)
            .select((dataCols :+ "username_scraped").map(col): _*)
          // current side = the aggregate being committed (cached above)
          SnapshotDiff.diff(agg, old, cfg.keys, "added_global", "deleted_global")
        }

      // ---- stage 2/2c/3: the three lake writes, which share no tables, and
      // the aggregates to Postgres-shaped JDBC and Elasticsearch, together
      val lake: Seq[() => Unit] = Seq(
        () => Layout.overwriteSnapshot(agg, aggregatedRef(cfg), date, time),
        () => compAgg.foreach(Layout.overwriteSnapshot(_, comparatifAggRef(cfg), date, time)),
        () => globalDiff.foreach(Layout.overwriteSnapshot(_, globalCompRef(cfg), date, time)))
      val jdbc = cfg.jdbc.toSeq.flatMap { j => Seq(
        () => appendRunIdempotent(agg, j, "final_aggregated_usage", date, time),
        () => compAgg.foreach(appendRunIdempotent(_, j, "final_comparatif_usage", date, time)))
      }
      val es = cfg.es.toSeq.flatMap { e => Seq(
        () => Elastic.bulkIndexKeyed(agg, e, Elastic.aggregatedIndex),
        () => compAgg.foreach(Elastic.bulkIndexKeyed(_, e, Elastic.comparatifIndex)))
      }
      FanOut.all(lake ++ jdbc ++ es)
    } finally agg.unpersist()
  }

  /** Retry-idempotent JDBC append: rows carry the run stamp, and a re-run
    * first deletes its own stamp's rows. The reference plain-appends, so
    * an Airflow retry (`apify_dag.py:38-39`) double-inserts — same
    * semantics on the happy path, fixed physics on the retry path.
    */
  private def appendRunIdempotent(df: DataFrame, j: Jdbc.JdbcConfig,
      table: String, date: Int, time: Int): Unit = {
    Jdbc.deleteWhere(j, table,
      s""""${Layout.runDateCol}" = $date AND "${Layout.runTimeCol}" = $time""")
    Jdbc.append(
      df.withColumn(Layout.runDateCol, lit(date))
        .withColumn(Layout.runTimeCol, lit(time)),
      j, table)
  }
}

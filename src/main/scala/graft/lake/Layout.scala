package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Medallion-lake path convention (SURVEY §1.1, §7; FIXTURES §4).
  *
  * The reference encodes table identity and snapshot time in directory
  * paths — `layer/group/table/<yyyymmdd>[/<hhmm>]` — built with
  * `os.path.join` + `os.makedirs` and discovered with `glob`/`listdir`
  * (`scripts/script_api_apify_to_spark.py:125-131,186-192,200-206,218-234`;
  * `airflow/dags/apify_dag.py:134-141,175-181`).
  *
  * Spark-native re-expression: the date/time path segments become REAL
  * partition columns (`run_date`, `run_time`) written with `partitionBy`,
  * so
  *  - "previous snapshot" discovery is a `max(run_time)` over partition
  *    values (no filesystem walking beyond the one listing). It is still a
  *    scan job: with `spark.sql.optimizer.metadataOnly` at its default
  *    (off) Spark plans the aggregate over the pruned files;
  *  - an equality filter on `run_time` prunes the scan to one partition —
  *    the pattern that holds at thousands of snapshots × 1000 executors;
  *  - cross-snapshot reads are ONE scan with partition discovery, not a
  *    Python loop of per-directory reads.
  *
  * A table whose [[TableRef]] declares its data schema is read with that
  * schema plus the two partition columns, so building a read runs no job.
  * An undeclared table infers its schema from Parquet footers, which costs
  * one extra job per read and fails on a table dir that holds no data file
  * (an empty snapshot write leaves exactly that).
  *
  * `run_date`/`run_time` are integers (`yyyymmdd`/`HHMM`, e.g. 20250301 /
  * 930): integer ordering coincides with the reference's lexicographic
  * dir-name sort for zero-padded stamps, and partition-value inference
  * round-trips ints losslessly (a "0930" string would re-infer as 930
  * anyway).
  */
object Layout {

  val rawLayer = "raw"
  val formattedLayer = "formatted"
  val usageLayer = "usage"
  val combinedLayer = "usage_to_combined"

  val runDateCol = "run_date"
  val runTimeCol = "run_time"

  /** Identity of one lake table: `root/layer/group/table`. `dataSchema`,
    * when declared, is the table's columns without `run_date`/`run_time`:
    * reads use it instead of inferring, and writes must match it.
    */
  case class TableRef(root: String, layer: String, group: String, table: String,
      dataSchema: Option[StructType] = None) {
    def dir: String = s"$root/$layer/$group/$table"
  }

  /** Raw-layer landing file for one run date — the only layer that keeps
    * the reference's literal path shape (verbatim JSON is not a partitioned
    * columnar table; `script_api_apify_to_spark.py:125-131`).
    */
  def rawDir(ref: TableRef, date: Int): String = s"${ref.dir}/$date"
  def rawFile(ref: TableRef, date: Int): String = s"${rawDir(ref, date)}/raw.json"

  /** Write one snapshot of a table (the per-run write of the formatted /
    * usage layers). Append mode accumulates history across runs — each
    * `(run_date, run_time)` pair is one immutable snapshot partition.
    */
  def writeSnapshot(df: DataFrame, ref: TableRef, date: Int, time: Int,
      mode: String = "append"): Unit =
    df.withColumn(runDateCol, lit(date))
      .withColumn(runTimeCol, lit(time))
      .write.mode(mode)
      .partitionBy(runDateCol, runTimeCol)
      .parquet(ref.dir)

  /** Idempotent snapshot (re-)write: DYNAMIC partition overwrite replaces
    * exactly the `(run_date, run_time)` partition being written and leaves
    * every other snapshot untouched — the write mode for re-running a
    * failed hourly job (the reference retries tasks, `apify_dag.py:38-39`;
    * a plain append would duplicate the snapshot's rows on retry).
    * Throws `IllegalArgumentException` when `ref` declares a data schema
    * and the frame's column names and types differ from it, in order.
    */
  def overwriteSnapshot(df: DataFrame, ref: TableRef, date: Int, time: Int): Unit = {
    ref.dataSchema.foreach { declared =>
      def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
      require(shape(df.schema) == shape(declared),
        s"${ref.dir}: frame columns ${df.schema.toDDL} differ from the declared " +
          declared.toDDL)
    }
    // dynamic mode as a PER-WRITE option, not a session-conf toggle: a
    // save/set/restore around the write would race concurrent snapshot
    // writers (pipeline.Pipeline commits account-scoped tables in
    // parallel) and a static-mode loser would truncate the whole table
    df.withColumn(runDateCol, lit(date))
      .withColumn(runTimeCol, lit(time))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(runDateCol, runTimeCol)
      .parquet(ref.dir)
  }

  /** All snapshots of a table as ONE DataFrame with `run_date`/`run_time`
    * partition columns (partition discovery replaces the reference's
    * glob-loop-union, `apify_dag.py:134-148`). A declared data schema is
    * read as given; an undeclared one is inferred from the footers.
    */
  def snapshots(spark: SparkSession, ref: TableRef): DataFrame =
    ref.dataSchema.fold(spark.read)(s => spark.read.schema(
      s.add(runDateCol, IntegerType).add(runTimeCol, IntegerType)))
      .parquet(ref.dir)

  /** Greatest run-time strictly before `currentTime` on `date` — the
    * reference's listdir+sort+filter discovery loop
    * (`script_api_apify_to_spark.py:218-234`), as an aggregate over
    * partition values: it reads no data column, but it is still a scan job
    * (see the object doc), plus a schema job when `ref` is undeclared.
    */
  def previousRunTime(spark: SparkSession, ref: TableRef, date: Int,
      currentTime: Int): Option[Int] = {
    val r = snapshots(spark, ref)
      .where(col(runDateCol) === date && col(runTimeCol) < currentTime)
      .agg(max(runTimeCol)).first()
    if (r.isNullAt(0)) None else Some(r.getInt(0))
  }

  /** Latest `(run_date, run_time)` at-or-before the given stamp, ACROSS
    * dates — the cross-day generalization of [[previousRunTime]] (VERDICT
    * r2 item 5; the reference's discovery loop handles same-day only,
    * `script_api_apify_to_spark.py:218-234` — a real lake's "as of T"
    * read must fall back to yesterday's last snapshot when today has
    * none). Still an aggregate over partition values only: the
    * lexicographic max of the `(run_date, run_time)` struct under a
    * partition-column-only filter reads no data column, though, like
    * [[previousRunTime]], it runs a scan job.
    */
  def snapshotAsOf(spark: SparkSession, ref: TableRef, date: Int,
      time: Int): Option[(Int, Int)] = {
    val r = snapshots(spark, ref)
      .where(col(runDateCol) < date ||
        (col(runDateCol) === date && col(runTimeCol) <= time))
      .agg(max(struct(col(runDateCol), col(runTimeCol)))).first()
    if (r.isNullAt(0)) None
    else {
      val s = r.getStruct(0)
      Some((s.getInt(0), s.getInt(1)))
    }
  }

  /** The as-of-T snapshot's rows as one partition-pruned scan, or None
    * when no snapshot exists at or before the stamp.
    */
  def readAsOf(spark: SparkSession, ref: TableRef, date: Int,
      time: Int): Option[DataFrame] =
    snapshotAsOf(spark, ref, date, time).map { case (d, t) =>
      snapshotAt(spark, ref, d, t)
    }

  /** One snapshot by exact `(date, time)` — the equality filter prunes to
    * a single partition directory.
    */
  def snapshotAt(spark: SparkSession, ref: TableRef, date: Int, time: Int): DataFrame =
    snapshots(spark, ref)
      .where(col(runDateCol) === date && col(runTimeCol) === time)

  /** Glob read across partition directories under one base (S11) — one
    * scan with `basePath` so partition columns survive, replacing the
    * reference's Python `glob.glob` + per-file read loop
    * (`apify_dag.py:134-141`).
    */
  def globRead(spark: SparkSession, base: String, pattern: String): DataFrame =
    spark.read.option("basePath", base).parquet(s"$base/$pattern")
}

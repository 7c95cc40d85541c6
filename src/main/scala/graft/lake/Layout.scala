package graft.lake

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
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
  *  - "previous snapshot" discovery answers from the `run_date=` /
  *    `run_time=` directory names alone: a few listings, no Spark job and
  *    no query planning. It sees what Spark's partition discovery sees:
  *    only partitions holding a data file, never `_`- or `.`-prefixed
  *    names;
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

  /** Copy the `(date, time)` snapshot of `from` into `to` with file-system
    * copies, replacing exactly that partition of `to` — what
    * [[overwriteSnapshot]] of the same rows would leave, without a Spark
    * job. The copy is staged under a hidden `.copy-<uuid>` dir of `to`
    * (partition discovery skips it) and renamed into place. A source
    * partition without a data file leaves `to`'s partition untouched, as a
    * dynamic overwrite of an empty frame does; either way `to`'s table dir
    * exists afterwards. Throws `IllegalArgumentException` when the two
    * refs declare different data schemas.
    */
  def copySnapshot(spark: SparkSession, from: TableRef, to: TableRef, date: Int,
      time: Int): Unit = {
    require(from.dataSchema == to.dataSchema,
      s"${from.dir} and ${to.dir} declare different data schemas")
    val conf = spark.sparkContext.hadoopConfiguration
    val part = s"$runDateCol=$date/$runTimeCol=$time"
    val src = new Path(s"${from.dir}/$part")
    val srcFs = src.getFileSystem(conf)
    val root = new Path(to.dir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val files = dataFiles(srcFs, src)
    if (files.nonEmpty) {
      val staged = new Path(root, s".copy-${java.util.UUID.randomUUID}")
      try {
        files.foreach(f => FileUtil.copy(srcFs, f, fs, new Path(staged, f.getName), false, conf))
        val dst = new Path(root, part)
        fs.delete(dst, true)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(staged, dst)) throw new IOException(s"could not rename $staged to $dst")
      } finally fs.delete(staged, true)
    }
  }

  /** The names Spark's partition discovery lists: it skips `.`-prefixed
    * names and `_`-prefixed ones without a `=` (`_SUCCESS`, `_temporary`,
    * checksum files, staging dirs).
    */
  private def visible(p: Path): Boolean = {
    val name = p.getName
    !name.startsWith(".") && !(name.startsWith("_") && !name.contains("="))
  }

  private def listed(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter(s => visible(s.getPath))
    catch { case _: FileNotFoundException => Nil }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    listed(fs, dir).filter(_.isFile).map(_.getPath)

  /** The `column=<int>` dirs directly under `dir`, greatest value first. */
  private def partitions(fs: FileSystem, dir: Path, column: String): Seq[(Int, Path)] =
    listed(fs, dir).filter(_.isDirectory).flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith(s"$column=")) name.drop(column.length + 1).toIntOption.map(_ -> s.getPath)
      else None
    }.sortBy(_._1)(Ordering[Int].reverse)

  /** The greatest `(run_date, run_time)` whose partition holds a data file,
    * among dates `onDate` keeps and stamps `keep` keeps, from directory
    * listings alone.
    */
  private def latestStamp(spark: SparkSession, ref: TableRef, onDate: Int => Boolean,
      keep: (Int, Int) => Boolean): Option[(Int, Int)] = {
    val root = new Path(ref.dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitions(fs, root, runDateCol).iterator.filter(d => onDate(d._1)).flatMap {
      case (d, dateDir) => partitions(fs, dateDir, runTimeCol).iterator.collect {
        case (t, timeDir) if keep(d, t) && dataFiles(fs, timeDir).nonEmpty => (d, t)
      }
    }.nextOption()
  }

  /** Greatest run-time strictly before `currentTime` on `date` — the
    * reference's listdir+sort+filter discovery loop
    * (`script_api_apify_to_spark.py:218-234`), over the partition dirs
    * (see the object doc): no Spark job.
    */
  def previousRunTime(spark: SparkSession, ref: TableRef, date: Int,
      currentTime: Int): Option[Int] =
    latestStamp(spark, ref, _ == date, (_, t) => t < currentTime).map(_._2)

  /** Latest `(run_date, run_time)` at-or-before the given stamp, ACROSS
    * dates — the cross-day generalization of [[previousRunTime]] (VERDICT
    * r2 item 5; the reference's discovery loop handles same-day only,
    * `script_api_apify_to_spark.py:218-234` — a real lake's "as of T"
    * read must fall back to yesterday's last snapshot when today has
    * none). Like [[previousRunTime]], it lists partition dirs and runs no
    * Spark job; a table with no dir has no snapshot.
    */
  def snapshotAsOf(spark: SparkSession, ref: TableRef, date: Int,
      time: Int): Option[(Int, Int)] =
    latestStamp(spark, ref, _ <= date, (d, t) => d < date || t <= time)

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

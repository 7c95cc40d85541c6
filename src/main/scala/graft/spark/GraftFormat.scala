package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{Branches, Catalog, ManifestTable, MetaTables, ZoneMap}
import graft.sources.Tables
import graft.util.{Exact, FixtureCache}

/** `spark.read.format("graft")` — the manifest table as a first-class
  * Spark datasource (extension X113). Registered via the standard
  * `DataSourceRegister` service file, so any Spark job can read a graft
  * table with nothing but the jar on the classpath:
  *
  * {{{
  *   spark.read.format("graft").load(dir)                       // latest
  *   spark.read.format("graft").option("versionAsOf", 3).load(dir)
  * }}}
  *
  * Architecture (Delta's read-path shape): the relation is a plain
  * `HadoopFsRelation` over the built-in `ParquetFileFormat` — vectorized
  * reader, whole-stage codegen, footer predicate pushdown, column
  * pruning all arrive for free — with the FILE LISTING swapped for
  * [[ManifestFileIndex]]:
  *
  *  - files come from the COMMITTED MANIFEST, never a directory listing
  *    (the X39 contract: readers can't see half-written versions, and an
  *    object-store table needs no recursive list);
  *  - `listFiles` receives the query's data filters and consults the
  *    version's X57 zone-map sidecar to SKIP whole files whose [lo, hi]
  *    ranges can't match — driver-side pruning before any task launches,
  *    composing with the footer-level pushdown that prunes row groups
  *    WITHIN surviving files. Translation is conservative: only
  *    comparisons against literals tighten bounds (inclusively), anything
  *    else keeps the file — pruning is an optimization, never a filter.
  *
  * Versions carrying X64 deletion vectors and X110 column-mapped tables
  * — states a bare file relation would serve WRONG (resurrected rows,
  * physical names) — route through [[GraftPlanRelation]] instead: the
  * tombstone anti-probe / logical projection wrapped around the same
  * vectorized parquet scan, so a plain Spark job can read EVERY table
  * state through this one format string.
  */
class GraftDataSource extends RelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  // X116: df.write.format("graft") — writer modes against the COMMITTED
  // LOG (a half-staged crash leftover is not "exists").
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' is required"))
    val (date, time) = GraftDataSource.stampOf(parameters)
    val exists = ManifestTable.latestVersion(spark, dir).nonEmpty
    // Append schema enforcement (Delta's contract): silently appending a
    // drifted schema poisons every future read — refuse unless the
    // caller opts into X60-style reconciliation downstream.
    if (exists && mode == SaveMode.Append &&
        !parameters.get("allowSchemaDrift").exists(_.toBoolean)) {
      val current = new ManifestFileIndex(spark, dir,
        ManifestTable.snapshots(spark, dir).last).dataSchema
      val incoming = data.schema
      require(incoming.fields.map(f => (f.name, f.dataType)).toSeq ==
          current.fields.map(f => (f.name, f.dataType)).toSeq,
        s"graft: append schema ${incoming.simpleString} does not match table " +
          s"schema ${current.simpleString}; set allowSchemaDrift=true to " +
          "append anyway and reconcile reads via Evolution.readHistory")
    }
    // X187: every batch write stages first and validates the staged bytes
    // against the table's CHECK constraints (zero Spark work when the
    // table has none — the common case). X188: option("optimizeWrite",
    // "true") rebalances the batch to option("targetFileBytes", n)
    // before staging — Delta's optimizeWrite writer option.
    def checkedCommit(append: Boolean): Int = {
      // X192: table properties are the DEFAULT, explicit writer options
      // win — Delta's delta.autoOptimize contract
      lazy val props =
        if (exists) graft.lake.Properties.active(spark, dir)
        else Map.empty[String, String]
      val target = parameters.get("targetFileBytes")
        .orElse(props.get("graft.targetFileBytes")).map(_.toLong)
        .getOrElse(graft.lake.OptimizedWrite.DefaultTargetBytes)
      val optimize = parameters.get("optimizeWrite")
        .orElse(props.get("graft.optimizeWrite")).exists(_.toBoolean)
      // X216: a declared write order wins — it range-clusters the batch
      // (shaping files for pruning) and records zone maps as it lands
      val order = graft.lake.WriteOrder.orderedCols(props)
      if (order.isDefined) {
        graft.lake.WriteOrder.write(data, dir, order.get, date, time, append,
          props.get("graft.writeOrder.partitions").map(_.toInt))
      } else if (optimize) {
        if (append) graft.lake.OptimizedWrite.append(data, dir, date, time, target)
        else graft.lake.OptimizedWrite.commit(data, dir, date, time, target)
      } else {
        val staged = ManifestTable.stageDataFiles(data, dir)
        graft.lake.Constraints.enforceStaged(spark, dir, staged)
        if (append) ManifestTable.appendStagedRetrying(spark, dir, date, time, staged)
        else ManifestTable.commitStagedRetrying(spark, dir, date, time, staged)
      }
    }
    mode match {
      case SaveMode.Overwrite => checkedCommit(append = false)
      case SaveMode.Append => checkedCommit(append = true)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft: table at $dir already has committed versions")
        else checkedCommit(append = false)
      case SaveMode.Ignore =>
        if (!exists) checkedCommit(append = false)
    }
    GraftDataSource.autoCompact(spark, dir, date, time)
    createRelation(sqlContext, parameters)
  }

  // X117: writeStream.format("graft") — exactly-once per checkpoint
  // lineage (see GraftSink).
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' is required"))
    def csv(key: String): Seq[String] = parameters.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val mergeKeys = csv("mergeKeys")
    // Validate the modes this sink can honor (Delta's sink does the
    // same): each micro-batch lands as an append (or keyed upsert)
    // version, so Complete mode — the full cumulative state re-emitted
    // every trigger — would silently multiply rows downstream, and
    // Update mode is only well-defined when mergeKeys pins which rows a
    // changed aggregate replaces.
    import org.apache.spark.sql.streaming.OutputMode
    require(outputMode == OutputMode.Append() ||
        (outputMode == OutputMode.Update() && mergeKeys.nonEmpty),
      s"graft sink: output mode $outputMode is not supported — use Append, " +
        "or Update with option(\"mergeKeys\", ...) so changed rows upsert " +
        "by key instead of appending duplicates")
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported — graft tables lay out " +
        "files by commit version (use hidden partitioning / Z-order " +
        "maintenance on the table instead)")
    val deleteCol = parameters.get("deleteCol")
    require(deleteCol.isEmpty || mergeKeys.nonEmpty,
      "graft sink: option 'deleteCol' needs 'mergeKeys' — a CDC delete " +
        "only means something against a keyed upsert")
    new GraftSink.StreamSink(sqlContext.sparkSession, dir,
      appId = parameters.getOrElse("checkpointLocation", dir),
      mergeKeys = mergeKeys, statsCols = csv("statsCols"),
      deleteCol = deleteCol)
  }

  // X114: the same format string serves readStream — versions as offsets
  // (see GraftStreamSource). X183: `readChangeFeed=true` (+ `keys`)
  // switches to the CDF shape — rows plus _change_type/_commit_version.
  private def streamParams(
      parameters: Map[String, String]): (String, Boolean, Option[Seq[String]]) = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' is required"))
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    val keys = parameters.get("keys").map(_.split(",").map(_.trim).toSeq)
    if (cdf) require(keys.exists(_.nonEmpty),
      "graft stream: readChangeFeed needs option 'keys' (comma-separated " +
        "row-identity columns) — replace commits surface through a keyed diff")
    (dir, parameters.get("skipChangeCommits").exists(_.toBoolean),
      if (cdf) keys else None)
  }

  /** X199 — `option("startingVersion", n | "latest")`: subscribe from a
    * version instead of backfilling the whole table ("latest" resolves
    * to the version committed NOW — changes-from-here-on). Validated
    * against the committed log: a version the log never reached is a
    * typo, not a wish.
    */
  private def startingOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, parameters: Map[String, String]): Option[Long] = {
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingDate")),
      "graft stream: startingVersion and startingDate are mutually exclusive")
    val byVersion = parameters.get("startingVersion").map { v =>
      val latest = graft.lake.ManifestTable.latestVersion(spark, dir)
        .getOrElse(throw new IllegalArgumentException(
          s"graft stream: no committed snapshot at $dir")).toLong
      if (v.equalsIgnoreCase("latest")) latest
      else {
        val n = v.toLong
        require(n >= 0 && n <= latest,
          s"graft stream: startingVersion $n outside the committed log " +
            s"[0, $latest] at $dir")
        n
      }
    }
    // X203 — Delta's startingTimestamp: deliver the commits stamped AT
    // or AFTER (startingDate, startingTime), i.e. the base is the newest
    // version stamped strictly before it. A stamp predating the log is a
    // full backfill (base 0); one after it is changes-from-now — both
    // ends are meaningful subscriptions, so neither refuses.
    byVersion.orElse(parameters.get("startingDate").map { d =>
      val date = d.toInt
      val time = parameters.get("startingTime").map(_.toInt).getOrElse(0)
      graft.lake.ManifestTable.snapshots(spark, dir)
        .filter(s => s.runDate < date || (s.runDate == date && s.runTime < time))
        .sortBy(s => (s.runDate, s.runTime, s.version))
        .lastOption.map(_.version.toLong).getOrElse(0L)
    })
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (dir, skip, cdf) = streamParams(parameters)
    (shortName(),
      schema.getOrElse(new GraftStreamSource(
        sqlContext.sparkSession, dir, skip, cdfKeys = cdf).schema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val (dir, skip, cdf) = streamParams(parameters)
    new GraftStreamSource(sqlContext.sparkSession, dir, skip,
      maxVersionsPerBatch = parameters.get("maxVersionsPerBatch").map(_.toInt),
      metadataPath = Some(metadataPath), cdfKeys = cdf,
      startingVersion = startingOf(sqlContext.sparkSession, dir, parameters),
      maxRowsPerTrigger = parameters.get("maxRowsPerTrigger").map(_.toLong))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: 'path' is required"))
    // metadata subtables: `OPTIONS (subtable 'history')` serves the X102
    // commit log as a relation — DESCRIBE HISTORY for SQL-only users,
    // zero data bytes read
    parameters.get("subtable").foreach {
      case "history" =>
        val h = ManifestTable.history(spark, dir)
        return new BaseRelation with org.apache.spark.sql.sources.TableScan {
          override val sqlContext: SQLContext = spark.sqlContext
          override def schema: StructType = h.schema
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = h.rdd
        }
      // X160: the per-file view (Iceberg `table.files` / DESCRIBE DETAIL)
      // from manifests + sidecars + DV deltas — no data files opened;
      // honors versionAsOf like the data relation
      case "files" =>
        val f = MetaTables.filesTable(spark, dir, parameters.get("versionAsOf").map(_.toInt))
        return new BaseRelation with org.apache.spark.sql.sources.TableScan {
          override val sqlContext: SQLContext = spark.sqlContext
          override def schema: StructType = f.schema
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = f.rdd
        }
      case other => throw new IllegalArgumentException(
        s"graft: unknown subtable '$other' (supported: history, files)")
    }
    // X95/X99 through SQL: `branch`/`tag` resolve a named ref to its head
    // version; `catalogTable` (+ optional `catalogVersion`) serves one
    // table of a CONSISTENT catalog cut — `path` is then the catalog
    // root. SQL-only users get refs and cross-table consistency with no
    // graft imports. Selectors are mutually exclusive: silently letting
    // one win would read a different table state than the user asked for.
    val refOpt = parameters.get("branch").orElse(parameters.get("tag"))
    require(parameters.get("branch").isEmpty || parameters.get("tag").isEmpty,
      "graft: 'branch' and 'tag' are mutually exclusive")
    require(Seq(refOpt, parameters.get("versionAsOf"),
        parameters.get("asOfDate")).count(_.nonEmpty) <= 1,
      "graft: branch/tag, versionAsOf, and asOfDate are mutually exclusive")
    val (dataDir, pinnedV): (String, Option[Int]) =
      parameters.get("catalogTable") match {
        case Some(t) =>
          require(refOpt.isEmpty && parameters.get("versionAsOf").isEmpty,
            "graft: catalogTable pins the table version through the catalog " +
              "cut; combine only with catalogVersion")
          val cuts = Catalog.snapshots(spark, dir)
          require(cuts.nonEmpty, s"graft: no committed catalog at $dir")
          val cut = parameters.get("catalogVersion") match {
            case Some(v) => cuts.find(_.version == v.toInt).getOrElse(
              throw new NoSuchElementException(
                s"graft: no catalog version $v at $dir"))
            case None => cuts.last
          }
          (s"$dir/$t", Some(cut.tables.getOrElse(t,
            throw new NoSuchElementException(
              s"graft: table '$t' not in catalog version ${cut.version}"))))
        case None => refOpt match {
          case Some(name) => (dir, Some(Branches.readRef(spark, dir, name).head))
          case None => (dir, None)
        }
      }
    val snaps = ManifestTable.snapshots(spark, dataDir)
    require(snaps.nonEmpty, s"graft: no committed snapshot at $dataDir")
    val snap = (pinnedV.map(_.toString).orElse(parameters.get("versionAsOf")),
        parameters.get("asOfDate")) match {
      case (Some(v), _) => snaps.find(_.version == v.toInt).getOrElse(
        throw new NoSuchElementException(
          s"graft: no version $v at $dataDir (have ${snaps.map(_.version).mkString(",")})"))
      case (None, Some(dateStr)) =>
        // timestamp time travel (Delta's timestampAsOf): newest version
        // committed at-or-before (asOfDate, asOfTime) in run-stamp order
        val date = dateStr.toInt
        val time = parameters.get("asOfTime").map(_.toInt).getOrElse(2359)
        snaps.filter(s => s.runDate < date ||
            (s.runDate == date && s.runTime <= time))
          .sortBy(s => (s.runDate, s.runTime, s.version))
          .lastOption.getOrElse(throw new NoSuchElementException(
            s"graft: no version at or before $date/$time at $dir"))
      case _ => snaps.last
    }
    // Versions carrying X64 deletion vectors or an X110 column mapping
    // cannot be served by a bare file relation (tombstones would
    // resurrect; physical names would undo renames). Those states route
    // through a plan-backed relation instead: the tombstone anti-probe /
    // logical projection wrapped around the same vectorized parquet scan,
    // with pushed filters and column pruning applied INSIDE the plan (see
    // GraftPlanRelation). Plain append-only tables — the overwhelmingly
    // common state — keep the zero-overhead HadoopFsRelation below.
    val hasColmap = new Path(s"$dataDir/_colmap").getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(new Path(s"$dataDir/_colmap"))
    // X173: SQL DML lands on the relation — `INSERT INTO view SELECT …`
    // routes through InsertableRelation (DataSourceAnalysis matches it
    // BEFORE the bare-HadoopFsRelation case, so Spark never writes raw
    // parquet into the layout) and becomes an X96 optimistic append;
    // `INSERT OVERWRITE` becomes a replace commit. A view pinned to a
    // version/branch/catalog cut refuses: the relation IS a snapshot,
    // and "insert into version 3" has no meaning on an immutable log.
    val pinned = refOpt.nonEmpty || parameters.contains("versionAsOf") ||
      parameters.contains("asOfDate") || parameters.contains("catalogTable")
    if (snap.deletes.nonEmpty || hasColmap) {
      val planDf =
        if (hasColmap) graft.lake.ColumnMap.read(spark, dataDir, Some(snap.version))
        else ManifestTable.readVersion(spark, dataDir, snap.version)
      return new GraftPlanRelation(spark, planDf)
          with org.apache.spark.sql.sources.InsertableRelation
          with GraftTableRef {
        override def insert(data: org.apache.spark.sql.DataFrame,
            overwrite: Boolean): Unit =
          GraftDataSource.insertInto(spark, dataDir, parameters, pinned,
            data, overwrite)
        override def graftDir: String = dataDir
        override def graftParams: Map[String, String] = parameters
        override def graftPinned: Boolean = pinned
      }
    }
    val index = new ManifestFileIndex(spark, dataDir, snap)
    new HadoopFsRelation(index, partitionSchema = StructType(Nil),
        dataSchema = index.dataSchema, bucketSpec = None,
        fileFormat = new ParquetFileFormat, options = parameters)(spark)
        with org.apache.spark.sql.sources.InsertableRelation
        with GraftTableRef {
      override def insert(data: org.apache.spark.sql.DataFrame,
          overwrite: Boolean): Unit =
        GraftDataSource.insertInto(spark, dataDir, parameters, pinned,
          data, overwrite)
      override def graftDir: String = dataDir
      override def graftParams: Map[String, String] = parameters
      override def graftPinned: Boolean = pinned
    }
  }
}

/** Marker carried by every relation [[GraftDataSource]] serves: lets
  * analyzer-level machinery (the X179 DML rule) recognize a graft table
  * inside an arbitrary plan and recover its layout root + read options
  * without re-parsing the view definition.
  */
trait GraftTableRef {
  def graftDir: String
  def graftParams: Map[String, String]
  def graftPinned: Boolean
}

object GraftDataSource {

  /** Commit stamp for writer paths: caller-pinned `runDate`/`runTime`
    * options, else the wall clock (UTC). Case-INSENSITIVE lookup: SQL
    * `OPTIONS (...)` keys reach the relation lowercased (Spark's
    * CaseInsensitiveMap normalization), so an exact-case get here made
    * view-driven DML commits silently fall back to the wall clock — a
    * caller-pinned stamp must win regardless of the route (X213 found
    * this when a stamp-bounded change feed over a fixed-stamp fixture
    * resolved an empty window).
    */
  private[spark] def stampOf(parameters: Map[String, String]): (Int, Int) = {
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
    (ci.get("rundate").map(_.toInt)
       .getOrElse(now.getYear * 10000 + now.getMonthValue * 100 + now.getDayOfMonth),
     ci.get("runtime").map(_.toInt)
       .getOrElse(now.getHour * 100 + now.getMinute))
  }

  /** X214 — `graft.autoCompact`: after a write lands, fold small-file
    * debt back to the target in ONE follow-up X129 bin-pack commit —
    * Delta's `delta.autoOptimize.autoCompact` table property. Fires only
    * when the latest version carries ≥ `graft.autoCompact.minFiles`
    * (default 8) files AND the fold would actually shrink the listing
    * (binPack's within-budget no-op), so steady-state writes pay one
    * property lookup and nothing else. Streaming sinks deliberately do
    * NOT auto-compact per micro-batch (churn); the X174 maintenance
    * executor is the streaming answer.
    */
  private[spark] def autoCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, date: Int, time: Int): Unit = {
    val props = graft.lake.Properties.active(spark, dir)
    if (props.get("graft.autoCompact").exists(_.toBoolean)) {
      val target = props.get("graft.targetFileBytes").map(_.toLong)
        .getOrElse(graft.lake.OptimizedWrite.DefaultTargetBytes)
      val minFiles = props.get("graft.autoCompact.minFiles").map(_.toInt)
        .getOrElse(8)
      graft.lake.ZOrder.binPack(spark, dir, target, date, time,
        onlyIfMoreThan = minFiles - 1)
    }
  }

  /** X173: the `InsertableRelation` body — SQL `INSERT INTO` as an X96
    * optimistic append, `INSERT OVERWRITE` as a replace commit, both
    * schema-enforced like the X116 writer (SQL INSERT is positional, and
    * Spark's insertion preprocessing has already cast the query output to
    * this relation's schema — a surviving type mismatch is real drift, and
    * names realign to the table's). The commit targets the table's CURRENT
    * log; the serving relation stays the snapshot it was created at
    * (snapshot isolation — re-create the view to read the new version).
    */
  private[spark] def insertInto(spark: SparkSession, dir: String,
      parameters: Map[String, String], pinned: Boolean,
      data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    require(!pinned,
      "graft: INSERT into a version/branch/catalog-pinned view is not " +
        "supported — the view is an immutable snapshot; create a view over " +
        "the current table to insert")
    val (date, time) = stampOf(parameters)
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"graft: no committed snapshot at $dir")
    // X215: a schema-first (empty) mapped table has no footers to align
    // against — the mapping IS the schema, and the first INSERT routes
    // through ColumnMap.append (logical→physical translation, generated-
    // column validation included)
    if (snaps.last.files.isEmpty && new Path(s"$dir/_colmap").getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(new Path(s"$dir/_colmap"))) {
      val fields = graft.lake.ColumnMap.mappingAt(spark, dir, snaps.last.version)
      require(data.schema.fields.length == fields.length,
        s"graft: INSERT carries ${data.schema.fields.length} columns, " +
          s"table declares ${fields.length}")
      graft.lake.ColumnMap.append(
        data.toDF(fields.map(_.logical): _*), dir, date, time)
      return
    }
    val current = new ManifestFileIndex(spark, dir, snaps.last).dataSchema
    require(data.schema.fields.length == current.fields.length &&
        data.schema.fields.zip(current.fields).forall {
          case (a, b) => a.dataType.sql == b.dataType.sql },
      s"graft: INSERT schema ${data.schema.simpleString} does not match " +
        s"table schema ${current.simpleString}")
    val aligned = data.toDF(current.fieldNames: _*)
    // X192: table properties bind the optimized-write default for SQL
    // INSERT exactly as for the batch writer
    val props = graft.lake.Properties.active(spark, dir)
    val order = graft.lake.WriteOrder.orderedCols(props)
    if (order.isDefined) {
      graft.lake.WriteOrder.write(aligned, dir, order.get, date, time,
        append = !overwrite,
        props.get("graft.writeOrder.partitions").map(_.toInt))
    } else if (props.get("graft.optimizeWrite").exists(_.toBoolean)) {
      val target = props.get("graft.targetFileBytes").map(_.toLong)
        .getOrElse(graft.lake.OptimizedWrite.DefaultTargetBytes)
      if (overwrite) graft.lake.OptimizedWrite.commit(aligned, dir, date, time, target)
      else graft.lake.OptimizedWrite.append(aligned, dir, date, time, target)
    } else {
      // X187: stage first, validate the staged bytes against the table's
      // CHECK constraints (no constraints → zero Spark work), then
      // publish exactly the validated bytes
      val staged = ManifestTable.stageDataFiles(aligned, dir)
      graft.lake.Constraints.enforceStaged(spark, dir, staged)
      if (overwrite)
        ManifestTable.commitStagedRetrying(spark, dir, date, time, staged)
      else ManifestTable.appendStagedRetrying(spark, dir, date, time, staged)
    }
    autoCompact(spark, dir, date, time) // X214: property-gated, no-op without debt
  }
}

/** A relation backed by a DataFrame PLAN rather than a file listing —
  * how the datasource serves table states a bare file relation cannot:
  * DV-carrying versions (scan → broadcast tombstone anti-join) and
  * column-mapped tables (scan → physical→logical projection). The read
  * stays Spark-shaped end to end:
  *
  *  - `buildScan` applies the engine's column pruning and (translated)
  *    pushed filters INSIDE the plan, so Catalyst drives them down into
  *    the underlying vectorized parquet scan — pruning and footer
  *    pushdown are not lost, they just travel through the plan;
  *  - untranslatable filters are simply not applied inside (and every
  *    filter is declared unhandled, so Spark re-evaluates all of them
  *    above — pushdown here is an optimization, never a correctness
  *    dependency);
  *  - `needConversion = false` with `queryExecution.toRdd` hands Spark
  *    the plan's InternalRows directly — the standard DSv1 bridge (no
  *    per-row Row boxing).
  *
  * The cost vs HadoopFsRelation is the lost zone-map file skip — for
  * DV/col-mapped states only, and X32/X106 materialization is the
  * documented way back to the fast path.
  */
class GraftPlanRelation(spark: SparkSession, plan: org.apache.spark.sql.DataFrame)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.{sources => sf}

  override val sqlContext: SQLContext = spark.sqlContext
  override def schema: StructType = plan.schema
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  private def translate(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case sf.EqualTo(a, v) => Some(col(a) === lit(v))
    case sf.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sf.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sf.LessThan(a, v) => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sf.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sf.IsNull(a) => Some(col(a).isNull)
    case sf.IsNotNull(a) => Some(col(a).isNotNull)
    case sf.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sf.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sf.StringContains(a, v) => Some(col(a).contains(v))
    case sf.And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case sf.Or(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case sf.Not(c) => translate(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val pruned =
      if (requiredColumns.isEmpty) plan // count(*): rows, no columns needed
      else plan.select(requiredColumns.map(col).toIndexedSeq: _*)
    val filtered = filters.flatMap(translate).foldLeft(pruned)(_ where _)
    val projected = // rows MUST match the requiredColumns schema exactly
      if (requiredColumns.isEmpty) filtered.select()
      else filtered
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** FileIndex over one committed snapshot: the manifest IS the listing,
  * and the version's zone-map sidecar (when present) skips files at plan
  * time.
  */
class ManifestFileIndex(spark: SparkSession, dir: String,
    snap: ManifestTable.Snapshot) extends FileIndex {

  private val fs =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // One driver-side getFileStatus per manifest entry — O(files of one
  // version), the same metadata the commit wrote; no directory walks.
  private val statuses = snap.files.map(f =>
    fs.getFileStatus(new Path(s"$dir/$f")))

  private lazy val stats = ZoneMap.fileStats(spark, dir, snap.version)

  lazy val dataSchema: StructType =
    ManifestTable.cachedSchema(spark, dir, snap.version, "merged") {
      new ParquetFileFormat()
        .inferSchema(spark, Map("mergeSchema" -> "true"), statuses)
        .getOrElse(throw new IllegalStateException(
          s"graft: cannot infer schema of version ${snap.version} at $dir"))
    }

  override def rootPaths: Seq[Path] = Seq(new Path(dir))

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  /** Inclusive per-column bounds a conjunct implies, or None when the
    * shape is not a literal comparison we can reason about.
    */
  private def boundOf(e: Expression): Option[(String, Option[Long], Option[Long], Option[String], Option[String])] = {
    def lng(l: Literal): Option[Long] = l.value match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    def str(l: Literal): Option[String] = l.value match {
      case s: UTF8String => Some(s.toString)
      case _ => None
    }
    e match {
      case EqualTo(a: Attribute, l: Literal) =>
        Some((a.name, lng(l), lng(l), str(l), str(l)))
      case EqualTo(l: Literal, a: Attribute) =>
        Some((a.name, lng(l), lng(l), str(l), str(l)))
      case GreaterThan(a: Attribute, l: Literal) => Some((a.name, lng(l), None, str(l), None))
      case GreaterThanOrEqual(a: Attribute, l: Literal) => Some((a.name, lng(l), None, str(l), None))
      case LessThan(a: Attribute, l: Literal) => Some((a.name, None, lng(l), None, str(l)))
      case LessThanOrEqual(a: Attribute, l: Literal) => Some((a.name, None, lng(l), None, str(l)))
      case GreaterThan(l: Literal, a: Attribute) => Some((a.name, None, lng(l), None, str(l)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => Some((a.name, None, lng(l), None, str(l)))
      case LessThan(l: Literal, a: Attribute) => Some((a.name, lng(l), None, str(l), None))
      case LessThanOrEqual(l: Literal, a: Attribute) => Some((a.name, lng(l), None, str(l), None))
      case _ => None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = stats match {
      case None => statuses
      case Some(st) =>
        val byFile = st.map(s => s.file -> s).toMap
        val bounds = dataFilters.flatMap(boundOf)
        statuses.filter { f =>
          // URI paths on both sides: FileStatus paths carry a scheme
          // ("file:/..."), the manifest's relative entries don't
          val rel = f.getPath.toUri.getPath.stripPrefix(
            new Path(dir).toUri.getPath).stripPrefix("/")
          byFile.get(rel) match {
            case None => true // unknown file: never prune without evidence
            case Some(s) =>
              bounds.forall { case (col, lo, hi, slo, shi) =>
                val longOk =
                  if (!s.lo.contains(col)) true
                  else lo.forall(s.hi(col) >= _) && hi.forall(s.lo(col) <= _)
                val strOk =
                  if (!s.slo.contains(col)) true
                  else slo.forall(s.shi(col) >= _) && shi.forall(s.slo(col) <= _)
                longOk && strOk
              }
          }
        }
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }
}

/** Query/oracle surface for X113. */
object GraftFormat extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    // v1 = full orders slice range-partitioned on o_orderkey with zone
    // maps (8 files, disjoint ranges); v2 = the even-key half (replace).
    // Read the LATEST through format("graft") with a key-range filter
    // (zone maps prune files; footer pushdown prunes within) beside a
    // versionAsOf=1 full read — time travel through the public format.
    "q_read_format" -> ((s, d) => {
      val dir = FixtureCache.dir("graft_fmt", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ZoneMap.commitWithStats(
          o.repartitionByRange(8, col("o_orderkey")),
          dir, 20250701, 900, statsCols = Seq("o_orderkey"))
        ZoneMap.commitWithStats(
          o.where(col("o_orderkey") % 2 === 0)
            .repartitionByRange(8, col("o_orderkey")),
          dir, 20250701, 1000, statsCols = Seq("o_orderkey"))
      }
      val maxKey = Tables.orders(s, d).agg(max("o_orderkey"))
        .head.getAs[Number](0).longValue()
      val (lo, hi) = (maxKey / 4, maxKey / 2)
      val ranged = s.read.format("graft").load(dir)
        .where(col("o_orderkey").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("probe", lit("latest_range"))
      val v1 = s.read.format("graft").option("versionAsOf", 1).load(dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("probe", lit("v1_full"))
      ranged.unionByName(v1).select("probe", "n_rows", "sum_total").orderBy("probe")
    }),

    // X132: the commit log as a SQL-queryable subtable — DESCRIBE
    // HISTORY through `USING graft OPTIONS (subtable 'history')`, no
    // graft imports, no data bytes read. Runs over the X64 fixture
    // timeline (write → delete → delete → materialize), pinning version,
    // derived kind, and tombstone presence per step.
    "q_format_history" -> ((s, d) => {
      // same FixtureCache key the X64 queries use — one shared timeline
      val dir = FixtureCache.dir("dv_fixture", d)(
        graft.lake.DeleteVectors.buildTimeline(s, d, _))
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_history
               |USING graft OPTIONS (path '$dir', subtable 'history')""".stripMargin)
      s.sql("""SELECT version, op, n_delete_files > 0 AS has_dv
              |FROM graft_history ORDER BY version""".stripMargin)
    }),

    // X160: the `files` metadata subtable — per-file stats + MOR debt
    // from manifests/sidecars/DV deltas alone. v1 = an 8-file
    // range-clustered commit with zone maps; v2 = a DV delete on top
    // (same files, tombstones accumulate). Aggregates over the subtable
    // must reproduce what the ORACLE computes from the raw data: the
    // sidecar row counts sum to the table count, the per-file key bounds
    // span exactly the data's, and the tombstone total equals the
    // delete predicate's row count — while the data relation stays
    // unopened (the subtable scan reads metadata + DV deltas only).
    "q_format_files" -> ((s, d) => {
      val dir = MetaTables.metaFilesFixture(s, d)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_files_v1
               |USING graft OPTIONS (path '$dir', subtable 'files', versionAsOf '1')"""
        .stripMargin)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_files_v2
               |USING graft OPTIONS (path '$dir', subtable 'files')""".stripMargin)
      s.sql("""SELECT * FROM (
              |  SELECT 'v1' AS state, count(*) AS n_files, sum(rows) AS stat_rows,
              |         min(lo['o_orderkey']) AS min_key, max(hi['o_orderkey']) AS max_key,
              |         sum(tombstones) AS n_tomb
              |  FROM graft_files_v1
              |  UNION ALL
              |  SELECT 'v2', count(*), sum(rows),
              |         min(lo['o_orderkey']), max(hi['o_orderkey']), sum(tombstones)
              |  FROM graft_files_v2
              |) ORDER BY state""".stripMargin)
    }),

    // X128: the SQL DDL surface the registered format buys for free —
    // `CREATE TEMPORARY VIEW ... USING graft` + plain spark.sql over it,
    // time travel included via OPTIONS. A SQL-only user never imports a
    // graft class.
    "q_sql_view" -> ((s, d) => {
      val dir = FixtureCache.dir("graft_fmt", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ZoneMap.commitWithStats(
          o.repartitionByRange(8, col("o_orderkey")),
          dir, 20250701, 900, statsCols = Seq("o_orderkey"))
        ZoneMap.commitWithStats(
          o.where(col("o_orderkey") % 2 === 0)
            .repartitionByRange(8, col("o_orderkey")),
          dir, 20250701, 1000, statsCols = Seq("o_orderkey"))
      }
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_orders
               |USING graft OPTIONS (path '$dir')""".stripMargin)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_orders_v1
               |USING graft OPTIONS (path '$dir', versionAsOf '1')""".stripMargin)
      s.sql(
        """SELECT * FROM (
          |  SELECT 'latest' AS probe, count(*) AS n_rows,
          |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          |  FROM graft_orders
          |  UNION ALL
          |  SELECT 'v1' AS probe, count(*) AS n_rows,
          |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          |  FROM graft_orders_v1
          |) ORDER BY probe""".stripMargin)
    }),

    // X173: SQL DML — a pure-`spark.sql` session INSERTs into a graft
    // table through a `USING graft` view and time-travels the result.
    // v1 = odd orderkeys; the SQL INSERT appends the even half (v2).
    // Latest reads all rows, versionAsOf=1 still reads the odd half —
    // the write landed as a real manifest commit, versions intact. The
    // view serves its creation-time snapshot (snapshot isolation), so
    // reads go through fresh views — the documented DSv1 contract.
    "q_sql_insert" -> ((s, d) => {
      val dir = FixtureCache.dir("sql_insert", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ManifestTable.commit(o.where(col("o_orderkey") % 2 === 1),
          dir, 20250701, 900)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sqlins_t
                 |USING graft OPTIONS (path '$dir', runDate '20250701',
                 |runTime '930')""".stripMargin)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sqlins_src
                 |USING parquet OPTIONS (path '$d/orders.parquet')""".stripMargin)
        s.sql("""INSERT INTO sqlins_t
                |SELECT o_orderkey, o_totalprice FROM sqlins_src
                |WHERE o_orderkey % 2 = 0""".stripMargin)
      }
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sqlins_read
               |USING graft OPTIONS (path '$dir')""".stripMargin)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sqlins_read_v1
               |USING graft OPTIONS (path '$dir', versionAsOf '1')""".stripMargin)
      s.sql(
        """SELECT * FROM (
          |  SELECT 'latest' AS probe, count(*) AS n_rows,
          |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          |  FROM sqlins_read
          |  UNION ALL
          |  SELECT 'v1_pre_insert' AS probe, count(*) AS n_rows,
          |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
          |  FROM sqlins_read_v1
          |) ORDER BY probe""".stripMargin)
    }),

    // Round-6 VERDICT item 3: DV-carrying and column-mapped states served
    // THROUGH the public format (plan-backed relation). Probes: the X64
    // timeline's two delete versions read via versionAsOf (one with a
    // pushed filter through the anti-probe), and the X110 renamed table's
    // latest read under its LOGICAL column names — all through plain
    // spark.read.format("graft"), zero graft imports.
    "q_read_format_dv" -> ((s, d) => {
      val dvDir = FixtureCache.dir("dv_fixture", d)(
        graft.lake.DeleteVectors.buildTimeline(s, d, _))
      val cmDir = graft.lake.ColumnMap.timelineFixture(s, d)
      def agg(tag: String, df: DataFrame, valueCol: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col(valueCol)).as("sum_val"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_val"))
      agg("dv_v2",
        s.read.format("graft").option("versionAsOf", 2).load(dvDir),
        "o_totalprice")
        .unionByName(agg("dv_v3_even",
          s.read.format("graft").option("versionAsOf", 3).load(dvDir)
            .where(col("o_orderkey") % 2 === 0),
          "o_totalprice"))
        .unionByName(agg("colmap_latest",
          s.read.format("graft").load(cmDir)
            .where(col("amount").isNotNull), "amount"))
        .orderBy("probe")
    }),

    // X95/X99 through SQL (round-6 VERDICT item 10): named refs and
    // consistent catalog cuts with `USING graft OPTIONS` only. Probes:
    // both branches and the tag of the X95 fixture, plus both tables of
    // the X99 tx fixture pinned through catalogVersion — each content is
    // predicate-defined, so the oracle rebuilds all six from the base
    // tables.
    "q_sql_refs" -> ((s, d) => {
      val bdir = s"${Branches.buildFixture(s, d)}/t"
      val croot = Catalog.txFixture(s, d)
      def view(name: String, opts: String): Unit =
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $name
                 |USING graft OPTIONS ($opts)""".stripMargin)
      view("refs_main", s"path '$bdir', branch 'main'")
      view("refs_exp", s"path '$bdir', branch 'exp'")
      view("refs_rel1", s"path '$bdir', tag 'rel1'")
      view("cat_ord_v1", s"path '$croot', catalogTable 'ord', catalogVersion '1'")
      view("cat_ord", s"path '$croot', catalogTable 'ord'")
      view("cat_li_v1", s"path '$croot', catalogTable 'li', catalogVersion '1'")
      def probe(tag: String, rel: String, valueCol: String): String =
        s"""SELECT '$tag' AS probe, count(*) AS n_rows,
           |CAST(SUM(CAST($valueCol AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
           |FROM $rel""".stripMargin
      s.sql(Seq(
        probe("branch_main", "refs_main", "o_totalprice"),
        probe("branch_exp", "refs_exp", "o_totalprice"),
        probe("tag_rel1", "refs_rel1", "o_totalprice"),
        probe("cat_ord_v1", "cat_ord_v1", "o_totalprice"),
        probe("cat_ord_latest", "cat_ord", "o_totalprice"),
        probe("cat_li_v1", "cat_li_v1", "l_quantity"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY probe"))
    }),

    // Round-6 VERDICT item 7: the registered expression library driven
    // from PURE SQL over a `USING graft` view — `url_canon` (X146's
    // codegen'd canonicalizer on the messy-URL fixture), `nfc_normalize`
    // (X43, decomposed sequences shorten), and `jaro_winkler` (X79,
    // DuckDB's own jaro_winkler_similarity is the oracle twin). A
    // SQL-only session calls all three with zero graft imports.
    "q_sql_functions" -> ((s, d) => {
      graft.functions.SqlFunctions.registerAll(s)
      val dir = FixtureCache.dir("sqlfn_docs", d) { dir =>
        val nameB = when(col("doc_id") % 3 === 0, lit("marhta"))
          .when(col("doc_id") % 3 === 1, lit("jonathan"))
          .otherwise(lit("martha"))
        val docs = Tables.documents(s, d).select("doc_id", "source")
          .withColumn("url", graft.ext.Url.messyUrl(col("doc_id")))
          .withColumn("txt", // e+combining-acute, e+combining-diaeresis
            concat(lit("Jose\u0301 Zoe\u0308 x"), col("doc_id").cast("string")))
          .withColumn("name_a", lit("martha"))
          .withColumn("name_b", nameB)
        ManifestTable.commit(docs, dir, 20250701, 900)
      }
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW sqlfn_docs
               |USING graft OPTIONS (path '$dir')""".stripMargin)
      s.sql(
        """SELECT source,
          |  count(DISTINCT url_canon(url)) AS n_canon,
          |  min(url_canon(url)) AS first_canon,
          |  CAST(sum(length(nfc_normalize(txt))) AS BIGINT) AS nfc_len,
          |  CAST(sum(CASE WHEN jaro_winkler(name_a, name_b) >= 0.9
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_close
          |FROM sqlfn_docs GROUP BY source ORDER BY source""".stripMargin)
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_sql_insert" ->
      """SELECT * FROM (
        |  SELECT 'latest' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders
        |  UNION ALL
        |  SELECT 'v1_pre_insert' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 2 = 1
        |) ORDER BY probe""".stripMargin,

    "q_read_format" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) // 4 AS BIGINT) AS lo,
        |                  CAST(max(o_orderkey) // 2 AS BIGINT) AS hi FROM orders)
        |SELECT * FROM (
        |  SELECT 'latest_range' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders, b
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey BETWEEN b.lo AND b.hi
        |  UNION ALL
        |  SELECT 'v1_full' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders
        |) ORDER BY probe""".stripMargin,

    "q_format_history" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'write' AS op, false AS has_dv
        |  UNION ALL SELECT 2, 'delete', true
        |  UNION ALL SELECT 3, 'delete', true
        |  UNION ALL SELECT 4, 'materialize', false
        |) ORDER BY version""".stripMargin,

    "q_format_files" ->
      """SELECT * FROM (
        |  SELECT 'v1' AS state, CAST(8 AS BIGINT) AS n_files, count(*) AS stat_rows,
        |         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |         CAST(0 AS BIGINT) AS n_tomb
        |  FROM orders
        |  UNION ALL
        |  SELECT 'v2', CAST(8 AS BIGINT), count(*), min(o_orderkey), max(o_orderkey),
        |         (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0)
        |  FROM orders
        |) ORDER BY state""".stripMargin,

    "q_read_format_dv" ->
      """SELECT * FROM (
        |  SELECT 'colmap_latest' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 3 = 2
        |  UNION ALL
        |  SELECT 'dv_v2', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |  UNION ALL
        |  SELECT 'dv_v3_even', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |    AND NOT (o_orderkey % 7 = 3) AND o_orderkey % 2 = 0
        |) ORDER BY probe""".stripMargin,

    "q_sql_refs" ->
      """SELECT * FROM (
        |  SELECT 'branch_main' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 3 IN (0, 2)
        |  UNION ALL
        |  SELECT 'branch_exp', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'tag_rel1', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'cat_ord_v1', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'cat_ord_latest', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 <= 1
        |  UNION ALL
        |  SELECT 'cat_li_v1', count(*),
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM lineitem WHERE l_orderkey % 3 = 0
        |) ORDER BY probe""".stripMargin,

    // canon_url rebuilt BY HAND (the q_url_dedup rules); txt rebuilt
    // decomposed with chr() so DuckDB's own nfc_normalize must shorten it
    // exactly like X43; jaro via DuckDB's jaro_winkler_similarity.
    "q_sql_functions" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN (doc_id%25)%2=0 THEN 'http' ELSE 'https' END
        |      || '://example' || CAST((doc_id%25)%3 AS VARCHAR) || '.com'
        |      || CASE WHEN (doc_id%25)%5=1 THEN ':8080' ELSE '' END
        |      || '/Docs/' || CAST(doc_id%25 AS VARCHAR)
        |      || CASE WHEN (doc_id%25)%4=0 THEN '?a=1&b=2'
        |              WHEN (doc_id%25)%4=1 THEN '?a=1'
        |              WHEN (doc_id%25)%4=2 THEN '' ELSE '?q=z' END) AS canon_url,
        |    'Jose' || chr(769) || ' Zoe' || chr(776) || ' x'
        |      || CAST(doc_id AS VARCHAR) AS txt,
        |    CASE WHEN doc_id%3=0 THEN 'marhta'
        |         WHEN doc_id%3=1 THEN 'jonathan' ELSE 'martha' END AS name_b
        |  FROM documents)
        |SELECT source,
        |  count(DISTINCT canon_url) AS n_canon,
        |  min(canon_url) AS first_canon,
        |  CAST(sum(length(nfc_normalize(txt))) AS BIGINT) AS nfc_len,
        |  CAST(sum(CASE WHEN jaro_winkler_similarity('martha', name_b) >= 0.9
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_close
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q_sql_view" ->
      """SELECT * FROM (
        |  SELECT 'latest' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'v1' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders
        |) ORDER BY probe""".stripMargin,
  )
}

package graft.spark

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType, DataType}

import graft.lake.{CopyInto, DeleteVectors, ManifestTable, Restore, Vacuum, ZOrder, ZoneMap}

/** X181 — the table-maintenance SQL surface: `VACUUM`, `OPTIMIZE` and
  * `DESCRIBE HISTORY` as real SQL statements, the statements Delta adds
  * through its own injected parser (the reference operates its lake from
  * an orchestrator — `airflow/dags/apify_dag.py` — and an operator on
  * call runs maintenance from a SQL prompt, not a Scala REPL).
  *
  * Architecture: `SparkSessionExtensions.injectParser` wraps the session
  * parser in a [[GraftSqlParser]] delegate. A statement whose LEADING
  * keyword is one of ours parses against a strict shape and becomes a
  * runnable command; everything else — including plain `DESCRIBE t` —
  * passes through to Spark's parser untouched, so the wrapped session
  * loses no SQL. A malformed graft statement refuses with its usage
  * line rather than delegating (Spark's parser would only produce a
  * baffling generic syntax error for a keyword it never owned).
  *
  * Statement shapes (paths are single-quoted, like the OPTIONS the DDL
  * surface already takes; `AT <yyyymmdd> <hhmm>` pins the commit stamp,
  * defaulting to wall clock like every other write surface):
  *
  *  - `VACUUM '<path>' [RETAIN <n> VERSIONS]` → X61/X105 ref-aware
  *    retention, returns the reclaimed versions (default keeps 7);
  *  - `OPTIMIZE '<path>' [ZORDER BY (c1, c2)] [TARGET <n> BYTES] [AT …]`
  *    → X129 bin-packing (or X106 z-order clustering) as one commit,
  *    returns the committed version — zero rows when the table is
  *    already within budget (the idempotent-maintenance contract);
  *  - `DESCRIBE HISTORY '<path>'` → the X102 commit log as rows.
  *
  * X182 widens the same surface to the remaining lake operations — the
  * statements an on-call operator needs when a bad load ships:
  *
  *  - `RESTORE '<path>' TO VERSION AS OF <n> [AT …]` → X118 rollback as
  *    a new commit (the bad version stays time-travelable);
  *  - `CLONE '<src>' TO '<dst>' [VERSION AS OF <n>] [AT …]` → X108 deep
  *    clone, an independent table sharing nothing with its source;
  *  - `COPY INTO '<path>' FROM '<landing>' [DEDUPE BY content] [AT …]`
  *    → X119 exactly-once file ingestion — zero rows when every landed
  *    file was already ingested (idempotent re-run, visible in SQL);
  *  - `DESCRIBE DETAIL '<path>'` → one metadata row (version, op, file
  *    counts, bytes, exact row count) from manifests + parquet FOOTERS
  *    alone — no Spark job, so a 100 TB table answers as fast as a
  *    100 MB one.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseGraft(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    GraftSqlParser.parseGraft(sqlText)
      .getOrElse(delegate.parsePlanWithParameters(sqlText, ctx))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** Default OPTIMIZE file-size budget: the 128 MiB Delta/parquet
    * convention (one comfortable task per file at scan time).
    */
  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** Default VACUUM retention in versions. */
  val DefaultKeepLast: Int = 7

  private val Id = """[A-Za-z_][A-Za-z_0-9]*"""
  private val VacuumRe =
    ("""(?is)\s*VACUUM\s+'([^']+)'""" +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*""").r
  // X217: time-based retention on the run-stamp clock
  private val VacuumBeforeRe =
    """(?is)\s*VACUUM\s+'([^']+)'\s+OLDER\s+THAN\s+(\d{8})\s+(\d{1,4})\s*;?\s*""".r
  // X219: Delta's REORG TABLE … APPLY (PURGE) — fold deletion vectors away
  private val ReorgRe =
    ("""(?is)\s*REORG\s+'([^']+)'\s+APPLY\s+\(?\s*PURGE\s*\)?""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  private val OptimizeRe =
    ("""(?is)\s*OPTIMIZE\s+'([^']+)'""" +
      s"""(?:\\s+ZORDER\\s+BY\\s*\\(\\s*($Id(?:\\s*,\\s*$Id)*)\\s*\\))?""" +
      s"""(?:\\s+WHERE\\s+($Id)\\s+BETWEEN\\s+""" +
      """(?:(\d+)\s+AND\s+(\d+)|'([^']*)'\s+AND\s+'([^']*)'))?""" +
      """(?:\s+TARGET\s+(\d+)\s+BYTES)?""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  private val HistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+'([^']+)'\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+'([^']+)'\s*;?\s*""".r
  private val RestoreRe =
    ("""(?is)\s*RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  // X206: stamp-addressed forms — resolve to the newest version committed
  // at-or-before the stamp (the X26 run-stamp rule), then the same command
  private val RestoreTsRe =
    ("""(?is)\s*RESTORE\s+'([^']+)'\s+TO\s+TIMESTAMP\s+AS\s+OF\s+(\d{8})\s+(\d{1,4})""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  private val CloneTsRe =
    ("""(?is)\s*CLONE\s+'([^']+)'\s+TO\s+'([^']+)'""" +
      """\s+TIMESTAMP\s+AS\s+OF\s+(\d{8})\s+(\d{1,4})""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  private val CloneRe =
    ("""(?is)\s*CLONE\s+'([^']+)'\s+TO\s+'([^']+)'""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  private val CopyIntoRe =
    ("""(?is)\s*COPY\s+INTO\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """(?:\s+DEDUPE\s+BY\s+(path|content))?""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r
  // X185: ALTER TABLE on a quoted graft path — an UNQUOTED table name
  // delegates to Spark's own ALTER TABLE (catalog tables are not ours)
  private val AlterRenameRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+RENAME\\s+COLUMN\\s+($Id)\\s+TO\\s+($Id)\\s*;?\\s*""").r
  private val AlterDropRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+DROP\\s+COLUMN\\s+($Id)\\s*;?\\s*""".r
  private val AlterAddRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+ADD\\s+COLUMN\\s+($Id)\\s+""" +
      """([A-Za-z][A-Za-z_0-9]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""" +
      """(?:\s+DEFAULT\s+('[^']*'|-?[0-9][0-9.]*))?\s*;?\s*""").r
  // X204: generated columns — expression text between the outer parens
  private val AlterAddGenRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+ADD\\s+COLUMN\\s+($Id)\\s+""" +
      """([A-Za-z][A-Za-z_0-9]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)""" +
      """\s+GENERATED\s+ALWAYS\s+AS\s+\((.+)\)\s*;?\s*""").r
  // X187: persistent CHECK constraints — ADD validates current contents,
  // both land as metadata-only commits ([[graft.lake.Constraints]])
  private val AddConstraintRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+ADD\\s+CONSTRAINT\\s+($Id)""" +
      """\s+CHECK\s*\((.+)\)\s*(?:AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  private val DropConstraintRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+DROP\\s+CONSTRAINT\\s+($Id)""" +
      """\s*(?:AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  private val ShowConstraintsRe =
    """(?is)\s*SHOW\s+CONSTRAINTS\s+'([^']+)'\s*;?\s*""".r
  // X192: table properties — quoted paths only, Spark's own TBLPROPERTIES
  // statements on catalog tables delegate untouched
  private val SetPropsRe =
    ("""(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+SET\s+TBLPROPERTIES\s*""" +
      """\(([^)]+)\)\s*(?:AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  // X216: Iceberg's write-order DDL — sugar over SET TBLPROPERTIES
  private val WriteOrderRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+WRITE\\s+ORDERED\\s+BY\\s*""" +
      s"""\\(\\s*($Id(?:\\s*,\\s*$Id)*)\\s*\\)""" +
      """\s*(?:AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  private val UnsetPropsRe =
    ("""(?is)\s*ALTER\s+TABLE\s+'([^']+)'\s+UNSET\s+TBLPROPERTIES\s*""" +
      """\(([^)]+)\)\s*(?:AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  private val ShowPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+'([^']+)'\s*;?\s*""".r
  // X225: DDL reconstruction from metadata alone
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+'([^']+)'\s*;?\s*""".r
  // X226: branch/tag DDL (Iceberg's ref statements)
  private val CreateRefRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+CREATE\\s+(BRANCH|TAG)\\s+($Id)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val DropRefRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+'([^']+)'\\s+DROP\\s+(BRANCH|TAG)\\s+($Id)\\s*;?\\s*""".r
  private val ShowRefsRe =
    """(?is)\s*SHOW\s+(?:BRANCHES|REFS)\s+'([^']+)'\s*;?\s*""".r
  // X195: physical partition listing of a hidden-partitioned layout
  private val ShowPartsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+'([^']+)'\s*;?\s*""".r
  // X193: in-place conversion of a plain parquet directory
  private val ConvertRe =
    ("""(?is)\s*CONVERT\s+TO\s+GRAFT\s+'([^']+)'""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  // X194: repair after external file loss
  private val FsckRe =
    ("""(?is)\s*FSCK\s+REPAIR\s+TABLE\s+'([^']+)'(\s+DRY\s+RUN)?""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4})\s*)?;?\s*""").r
  // one 'k' = 'v' pair (keys may be dotted: graft.optimizeWrite)
  private val PropPairRe = """\s*'([^']+)'\s*=\s*'([^']*)'\s*""".r
  // X189: stats (re)computation for tables committed without sidecars —
  // quoted paths only; Spark's own ANALYZE TABLE delegates untouched
  private val AnalyzeRe =
    (s"""(?is)\\s*ANALYZE\\s+TABLE\\s+'([^']+)'\\s+COMPUTE\\s+STATISTICS""" +
      s"""(?:\\s+FOR\\s+COLUMNS\\s+($Id(?:\\s*,\\s*$Id)*))?\\s*;?\\s*""").r
  // X186: CTAS on a quoted graft path — an unquoted name is Spark's own
  // CREATE TABLE and delegates untouched
  private val CtasRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+'([^']+)'""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s+AS\s+(.+)""").r
  // X215: schema-first CREATE — a declared column list, no query
  private val CreateEmptyRe =
    ("""(?is)\s*CREATE\s+TABLE\s+'([^']+)'\s*\(([^)]+)\)""" +
      """(?:\s+AT\s+(\d{8})\s+(\d{1,4}))?\s*;?\s*""").r

  private def stamp(d: String, t: String): (Int, Int) =
    if (d != null) (d.toInt, t.toInt)
    else {
      val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
      (now.getYear * 10000 + now.getMonthValue * 100 + now.getDayOfMonth,
        now.getHour * 100 + now.getMinute)
    }

  /** X206 — resolve a `VERSION AS OF n` / `TIMESTAMP AS OF d t` target
    * to a committed version: stamps resolve to the newest version
    * committed at-or-before them (the X26 run-stamp rule); a stamp
    * predating the whole log refuses — there is nothing to address.
    */
  private[spark] def resolveStamp(spark: SparkSession, dir: String,
      to: Either[Int, (Int, Int)]): Int = to match {
    case Left(v) => v
    case Right((d, t)) =>
      graft.lake.ManifestTable.snapshots(spark, dir)
        .filter(s => s.runDate < d || (s.runDate == d && s.runTime <= t))
        .sortBy(s => (s.runDate, s.runTime, s.version))
        .lastOption.map(_.version).getOrElse(
          throw new NoSuchElementException(
            s"graft: no version at or before $d/$t at $dir"))
  }

  /** Some(plan) when the statement is ours; None delegates. A leading
    * graft keyword with a malformed tail refuses with the usage shape.
    */
  private[spark] def parseGraft(sql: String): Option[LogicalPlan] = {
    val lead = sql.trim.split("\\s+").take(2).map(_.toUpperCase)
    sql match {
      case VacuumBeforeRe(path, d, t) =>
        Some(GraftVacuumBeforeCommand(path, d.toInt, t.toInt))
      case ReorgRe(path, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftReorgCommand(path, date, time))
      case VacuumRe(path, keep, dry) =>
        val keepLast = Option(keep).map(_.toInt).getOrElse(DefaultKeepLast)
        if (dry != null) Some(GraftVacuumDryRunCommand(path, keepLast))
        else Some(GraftVacuumCommand(path, keepLast))
      case OptimizeRe(path, zcols, bcol, blo, bhi, bslo, bshi, target, d, t) =>
        val (date, time) = stamp(d, t)
        require(zcols == null || bcol == null,
          "graft OPTIMIZE: ZORDER BY and WHERE cannot combine — z-order " +
            "the whole table, or bin-pack the band")
        // X220: the band is numeric (X57 bounds) or quoted-string (X78)
        val band = Option(bcol).map { c =>
          if (blo != null) (c, Left((blo.toLong, bhi.toLong)))
          else (c, Right((bslo, bshi)))
        }
        Some(GraftOptimizeCommand(path,
          Option(zcols).map(_.split(",").map(_.trim).toSeq),
          band,
          Option(target).map(_.toLong).getOrElse(DefaultTargetBytes),
          date, time))
      case HistoryRe(path) => Some(GraftHistoryCommand(path))
      case DetailRe(path) => Some(GraftDetailCommand(path))
      case RestoreRe(path, v, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftRestoreCommand(path, Left(v.toInt), date, time))
      case RestoreTsRe(path, sd, st, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftRestoreCommand(path, Right((sd.toInt, st.toInt)), date, time))
      case CloneTsRe(src, dst, sd, st, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftCloneCommand(src, dst,
          Some(Right((sd.toInt, st.toInt))), date, time))
      case CloneRe(src, dst, v, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftCloneCommand(src, dst,
          Option(v).map(x => Left(x.toInt)), date, time))
      case CopyIntoRe(path, landing, dedupe, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftCopyIntoCommand(path, landing,
          Option(dedupe).map(_.toLowerCase).getOrElse("path"), date, time))
      case AddConstraintRe(path, name, predicate, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftConstraintCommand(path, "add", name, predicate.trim,
          date, time))
      case DropConstraintRe(path, name, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftConstraintCommand(path, "drop", name, "", date, time))
      case ShowConstraintsRe(path) => Some(GraftShowConstraintsCommand(path))
      case SetPropsRe(path, pairs, d, t) =>
        val (date, time) = stamp(d, t)
        val kvs = pairs.split(",").map {
          case PropPairRe(k, v) => k -> v
          case bad => throw new IllegalArgumentException(
            s"graft SET TBLPROPERTIES: malformed pair $bad — expected " +
              "('k' = 'v', …)")
        }.toMap
        Some(GraftPropertiesCommand(path, "set", kvs, Nil, date, time))
      case WriteOrderRe(path, cols, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftPropertiesCommand(path, "set",
          Map("graft.writeOrder" ->
            cols.split(",").map(_.trim).mkString(",")), Nil, date, time))
      case UnsetPropsRe(path, keys, d, t) =>
        val (date, time) = stamp(d, t)
        val ks = keys.split(",").map(_.trim).map { k =>
          require(k.startsWith("'") && k.endsWith("'") && k.length > 2,
            s"graft UNSET TBLPROPERTIES: malformed key $k — expected ('k', …)")
          k.substring(1, k.length - 1)
        }.toSeq
        Some(GraftPropertiesCommand(path, "unset", Map.empty, ks, date, time))
      case ShowPropsRe(path) => Some(GraftShowPropertiesCommand(path))
      case ShowCreateRe(path) => Some(GraftShowCreateCommand(path))
      case ShowPartsRe(path) => Some(GraftShowPartitionsCommand(path))
      case ConvertRe(path, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftConvertCommand(path, date, time))
      case FsckRe(path, dry, d, t) =>
        val (date, time) = stamp(d, t)
        Some(GraftFsckCommand(path, dry != null, date, time))
      case AnalyzeRe(path, cols) =>
        Some(GraftAnalyzeCommand(path,
          Option(cols).map(_.split(",").map(_.trim).toSeq)))
      case CreateEmptyRe(path, colList, d, t) =>
        val (date, time) = stamp(d, t)
        val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .map { c =>
            val parts = c.split("\\s+", 2)
            require(parts.length == 2,
              s"graft CREATE TABLE: expected '<name> <type>', got '$c'")
            (parts(0), parts(1))
          }
        Some(GraftCreateEmptyCommand(path, cols, date, time))
      case CtasRe(orReplace, path, d, t, query) =>
        val (date, time) = stamp(d, t)
        Some(GraftCtasCommand(path, orReplace != null,
          query.trim.stripSuffix(";").trim, date, time))
      case CreateRefRe(path, kind, name, v) =>
        Some(GraftRefCommand(path, "create", kind.toLowerCase, name,
          Option(v).map(_.toInt)))
      case DropRefRe(path, kind, name) =>
        Some(GraftRefCommand(path, "drop", kind.toLowerCase, name, None))
      case ShowRefsRe(path) => Some(GraftShowRefsCommand(path))
      case AlterRenameRe(path, from, to) =>
        Some(GraftAlterColumnCommand(path, "rename", from, to))
      case AlterDropRe(path, name) =>
        Some(GraftAlterColumnCommand(path, "drop", name, ""))
      case AlterAddGenRe(path, name, dtype, genSql) =>
        val dt = try org.apache.spark.sql.types.DataType.fromDDL(dtype)
          catch { case _: Exception => throw new IllegalArgumentException(
            s"graft ALTER TABLE: unknown column type '$dtype'") }
        Some(GraftAlterColumnCommand(path, "addgen", name, dt.catalogString,
          Some(genSql.trim)))
      case AlterAddRe(path, name, dtype, dflt) =>
        val dt = try org.apache.spark.sql.types.DataType.fromDDL(dtype)
          catch { case _: Exception => throw new IllegalArgumentException(
            s"graft ALTER TABLE: unknown column type '$dtype'") }
        // X198: DEFAULT literal — quoted string or bare number
        val d = Option(dflt).map(v =>
          if (v.startsWith("'")) v.substring(1, v.length - 1) else v)
        Some(GraftAlterColumnCommand(path, "add", name, dt.catalogString, d))
      case _ if lead.length == 2 && lead(0) == "ALTER" && lead(1) == "TABLE" &&
          sql.trim.split("\\s+").lift(2).exists(_.startsWith("'")) =>
        throw new IllegalArgumentException(
          "graft ALTER TABLE: expected ALTER TABLE '<path>' " +
            "RENAME COLUMN <a> TO <b> | DROP COLUMN <c> | " +
            "ADD COLUMN <c> <type> | ADD CONSTRAINT <name> CHECK (<expr>) | " +
            "DROP CONSTRAINT <name> | SET TBLPROPERTIES ('k' = 'v', …) | " +
            "UNSET TBLPROPERTIES ('k', …)")
      case _ if lead.length == 2 && lead(0) == "SHOW" &&
          lead(1) == "PARTITIONS" &&
          sql.trim.split("\\s+").lift(2).exists(_.startsWith("'")) =>
        throw new IllegalArgumentException(
          "graft SHOW PARTITIONS: expected SHOW PARTITIONS '<path>'")
      case _ if lead.length == 2 && lead(0) == "SHOW" &&
          lead(1) == "TBLPROPERTIES" &&
          sql.trim.split("\\s+").lift(2).exists(_.startsWith("'")) =>
        throw new IllegalArgumentException(
          "graft SHOW TBLPROPERTIES: expected SHOW TBLPROPERTIES '<path>'")
      case _ if lead.length == 2 && lead(0) == "ANALYZE" &&
          lead(1) == "TABLE" &&
          sql.trim.split("\\s+").lift(2).exists(_.startsWith("'")) =>
        throw new IllegalArgumentException(
          "graft ANALYZE TABLE: expected ANALYZE TABLE '<path>' COMPUTE " +
            "STATISTICS [FOR COLUMNS c1, c2]")
      case _ if lead.length == 2 && lead(0) == "SHOW" &&
          lead(1) == "CONSTRAINTS" =>
        throw new IllegalArgumentException(
          "graft SHOW CONSTRAINTS: expected SHOW CONSTRAINTS '<path>'")
      case _ if lead.length >= 1 && lead(0) == "CREATE" &&
          sql.toUpperCase.matches(
            "(?s)\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+'.*") =>
        throw new IllegalArgumentException(
          "graft CREATE TABLE: expected CREATE [OR REPLACE] TABLE '<path>' " +
            "[AT <yyyymmdd> <hhmm>] AS <select>")
      case _ if lead.headOption.contains("FSCK") =>
        throw new IllegalArgumentException(
          "graft FSCK: expected FSCK REPAIR TABLE '<path>' [DRY RUN] " +
            "[AT <yyyymmdd> <hhmm>]")
      case _ if lead.length == 2 && lead(0) == "CONVERT" && lead(1) == "TO" =>
        throw new IllegalArgumentException(
          "graft CONVERT: expected CONVERT TO GRAFT '<path>' " +
            "[AT <yyyymmdd> <hhmm>]")
      case _ if lead.headOption.contains("RESTORE") =>
        throw new IllegalArgumentException(
          "graft RESTORE: expected RESTORE '<path>' TO VERSION AS OF <n> " +
            "[AT <yyyymmdd> <hhmm>]")
      case _ if lead.headOption.contains("CLONE") =>
        throw new IllegalArgumentException(
          "graft CLONE: expected CLONE '<src>' TO '<dst>' " +
            "[VERSION AS OF <n>] [AT <yyyymmdd> <hhmm>]")
      case _ if lead.length == 2 && lead(0) == "COPY" && lead(1) == "INTO" =>
        throw new IllegalArgumentException(
          "graft COPY INTO: expected COPY INTO '<path>' FROM '<landing>' " +
            "[DEDUPE BY content] [AT <yyyymmdd> <hhmm>]")
      case _ if lead.length == 2 && lead(0).startsWith("DESC") &&
          lead(1) == "DETAIL" =>
        throw new IllegalArgumentException(
          "graft DESCRIBE DETAIL: expected DESCRIBE DETAIL '<path>'")
      case _ if lead.headOption.contains("VACUUM") =>
        throw new IllegalArgumentException(
          "graft VACUUM: expected VACUUM '<path>' [RETAIN <n> VERSIONS]")
      case _ if lead.headOption.contains("OPTIMIZE") =>
        throw new IllegalArgumentException(
          "graft OPTIMIZE: expected OPTIMIZE '<path>' [ZORDER BY (c1, c2)] " +
            "[WHERE <col> BETWEEN <lo> AND <hi>] " +
            "[TARGET <n> BYTES] [AT <yyyymmdd> <hhmm>]")
      case _ if lead.length == 2 && lead(0).startsWith("DESC") &&
          lead(1) == "HISTORY" =>
        throw new IllegalArgumentException(
          "graft DESCRIBE HISTORY: expected DESCRIBE HISTORY '<path>'")
      case _ => None
    }
  }
}

/** `VACUUM '<path>' [RETAIN n VERSIONS]` → X61/X105: ref-aware version
  * retention + reference-counted file sweep, one row per reclaimed
  * version (none when nothing expired — retention is idempotent).
  */
case class GraftVacuumCommand(dir: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("reclaimed_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Vacuum.vacuum(spark, dir, keepLast).map(v => Row(v.toLong))
}

/** `VACUUM '<path>' [RETAIN n VERSIONS] DRY RUN` (X202) — the exact
  * files the real pass would reclaim, one row each with its size;
  * NOTHING is deleted (spec-pinned: log and bytes identical after).
  */
/** `ALTER TABLE '<path>' CREATE BRANCH|TAG <name> [AS OF VERSION n]` /
  * `DROP BRANCH|TAG <name>` (X226) — the X95 refs as SQL DDL. CREATE
  * defaults to the latest version; DROP is kind-checked (a tag dropped
  * through DROP BRANCH refuses — the two make different retention
  * promises). Reads compose through the existing
  * `option("branch", name)` on the datasource.
  */
case class GraftRefCommand(dir: String, op: String, kind: String,
    name: String, version: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("head_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = op match {
    case "create" =>
      val v = version.orElse(ManifestTable.latestVersion(spark, dir))
        .getOrElse(throw new NoSuchElementException(
          s"no committed snapshot at $dir"))
      val ref =
        if (kind == "branch") graft.lake.Branches.createBranch(spark, dir, name, v)
        else graft.lake.Branches.createTag(spark, dir, name, v)
      Seq(Row(ref.name, ref.kind, ref.head.toLong))
    case "drop" =>
      graft.lake.Branches.dropRef(spark, dir, name, kind)
      Seq.empty
  }
}

/** `SHOW BRANCHES '<path>'` (X226) — every ref with its kind and head. */
case class GraftShowRefsCommand(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("head_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.lake.Branches.listRefs(spark, dir)
      .map(r => Row(r.name, r.kind, r.head.toLong))
}

/** `SHOW CREATE TABLE '<path>'` (X225) — the table's DDL reconstructed
  * from METADATA alone: columns in mapping order with their X198
  * DEFAULT and X204 GENERATED clauses (era-correct — this is the
  * CURRENT schema), active TBLPROPERTIES sorted by key; unmapped tables
  * serve their footer schema. Zero data bytes at any table size.
  */
case class GraftShowCreateCommand(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("ddl", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"graft: no committed snapshot at $dir")
    val cols = graft.lake.ColumnMap.mappingOf(snaps.last) match {
      case Some(fields) => fields.map { f =>
        s"${f.logical} ${f.dtype}" +
          f.default.map(v => s" DEFAULT '$v'").getOrElse("") +
          f.gen.map(g => s" GENERATED ALWAYS AS ($g)").getOrElse("")
      }
      case None => new ManifestFileIndex(spark, dir, snaps.last).dataSchema
        .fields.toSeq.map(f => s"${f.name} ${f.dataType.catalogString}")
    }
    val props = graft.lake.Properties.of(snaps.last)
    val ddl = s"CREATE TABLE '$dir' (${cols.mkString(", ")})" +
      (if (props.isEmpty) ""
       else props.toSeq.sortBy(_._1)
         .map { case (k, v) => s"'$k' = '$v'" }
         .mkString(" TBLPROPERTIES (", ", ", ")"))
    Seq(Row(ddl))
  }
}

/** `REORG '<path>' APPLY (PURGE)` (X219 — Delta's `REORG TABLE … APPLY
  * (PURGE)`): rewrite ONLY the files that carry deletion-vector debt,
  * folding the tombstones away (the X64 MOR→CoW materialization as a
  * SQL statement); content is unchanged by contract (`op =
  * "materialize"` tells X75 consumers to skip it), and a table with no
  * tombstones commits nothing.
  */
case class GraftReorgCommand(dir: String, date: Int, time: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    if (snap.deletes.isEmpty) Seq.empty // nothing to purge: no commit
    else Seq(Row(DeleteVectors.materialize(spark, dir, date, time).toLong))
  }
}

/** `VACUUM '<path>' OLDER THAN <date> <time>` (X217) — time-based
  * retention: versions stamped strictly before the cutoff expire (the
  * head and ref-pinned versions always survive).
  */
case class GraftVacuumBeforeCommand(dir: String, date: Int, time: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("reclaimed_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Vacuum.vacuumBefore(spark, dir, date, time).map(v => Row(v.toLong))
}

case class GraftVacuumDryRunCommand(dir: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Vacuum.dryRun(spark, dir, keepLast).map { case (f, b) => Row(f, b) }
}

/** `OPTIMIZE '<path>' [ZORDER BY (c1, c2)] [TARGET n BYTES]` → one
  * maintenance commit (X129 bin-pack, or X106 z-order when a clustering
  * dimension is given), sized from the manifest's own listed footprint.
  * Returns the committed version; zero rows = already within budget,
  * nothing committed.
  */
case class GraftOptimizeCommand(dir: String, zorder: Option[Seq[String]],
    band: Option[(String, Either[(Long, Long), (String, String)])],
    targetBytes: Long, date: Int,
    time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = zorder match {
    case None =>
      // X196/X220: a band compacts only the zone-map-intersecting files
      // — numeric bounds via X57 stats, string bounds via X78
      band.map {
        case (c, Left((lo, hi))) =>
          ZOrder.binPackWhere(spark, dir, c, lo, hi, targetBytes, date, time)
            .map(v => Row(v.toLong)).toSeq
        case (c, Right((lo, hi))) =>
          ZOrder.binPackWhereStr(spark, dir, c, lo, hi, targetBytes, date, time)
            .map(v => Row(v.toLong)).toSeq
      }.getOrElse(
        ZOrder.binPack(spark, dir, targetBytes, date, time)
          .map(v => Row(v.toLong)).toSeq)
    case Some(cs) => // X197: any number of clustering columns
      val latest = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
        throw new NoSuchElementException(s"no committed snapshot at $dir"))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = latest.files.map(f => fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen).sum
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      Seq(Row(ZOrder.optimizeN(spark, dir, cs, n, date, time).toLong))
  }
}

/** `DESCRIBE HISTORY '<path>'` → the X102 commit log (driver-side
  * manifest metadata only, zero data bytes read).
  */
case class GraftHistoryCommand(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("run_date", IntegerType, nullable = false)(),
    AttributeReference("run_time", IntegerType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_delete_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    ManifestTable.history(spark, dir).collect().toSeq
}

/** `RESTORE '<path>' TO VERSION AS OF n` → X118: commit the target
  * version's exact content as the new latest (files re-referenced, zero
  * bytes copied; the rolled-back-over versions stay time-travelable).
  * Returns `(restored_to_version, version)` — the target and the commit
  * that now serves it.
  */
case class GraftRestoreCommand(dir: String, to: Either[Int, (Int, Int)],
    date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val toVersion = GraftSqlParser.resolveStamp(spark, dir, to)
    val v = Restore.restore(spark, dir, toVersion, date, time)
    Seq(Row(toVersion.toLong, v.toLong))
  }
}

/** `CLONE '<src>' TO '<dst>' [VERSION AS OF n]` → X108 deep clone: an
  * independent table whose version 1 carries the source version's exact
  * content (tombstones remapped with their files) and shares no file
  * lifetime with the source afterwards.
  */
case class GraftCloneCommand(src: String, dst: String,
    version: Option[Either[Int, (Int, Int)]],
    date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("src_version", LongType, nullable = false)(),
    AttributeReference("dst_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = version.map(GraftSqlParser.resolveStamp(spark, src, _))
      .orElse(ManifestTable.latestVersion(spark, src)).getOrElse(
        throw new NoSuchElementException(s"no committed snapshot at $src"))
    val dv = ManifestTable.cloneVersion(spark, src, dst, date, time, Some(v))
    Seq(Row(v.toLong, dv.toLong))
  }
}

/** `COPY INTO '<path>' FROM '<landing>'` → X119: exactly-once ingestion
  * of the landing dir's parquet drops — one row with the committed
  * version when new files landed, ZERO rows when every file was already
  * ingested (the idempotent re-run, now visible from SQL).
  */
case class GraftCopyIntoCommand(dir: String, landing: String,
    dedupeBy: String, date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    CopyInto.copyInto(spark, dir, landing, date, time, dedupeBy = dedupeBy)
      .map(v => Row(v.toLong)).toSeq
}

/** `DESCRIBE DETAIL '<path>'` → one table-level metadata row, Delta's
  * DESCRIBE DETAIL shape: latest version, its op kind, file counts,
  * total data bytes and the EXACT row count — all from the manifest and
  * parquet footers on the driver (X69 discipline: zero Spark jobs, so
  * the answer costs the same at 100 TB as at 100 MB).
  */
case class GraftDetailCommand(dir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("num_delete_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (snap, kind) = ManifestTable.historyRows(spark, dir).lastOption
      .getOrElse(throw new NoSuchElementException(
        s"no committed snapshot at $dir"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = snap.files.map(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen).sum
    Seq(Row(snap.version.toLong, kind, snap.files.size.toLong,
      snap.deletes.size.toLong, bytes,
      ManifestTable.footerCount(spark, dir, snap)))
  }
}

/** X185 — `ALTER TABLE '<path>' RENAME COLUMN a TO b | DROP COLUMN c |
  * ADD COLUMN c <type>`: the everyday schema-evolution statements as
  * X110 column-mapping commits. Rename is METADATA-ONLY (same file
  * list, the new mapping in the manifest — zero data bytes on a 100 TB
  * table); drop removes the field id (X61 vacuum reclaims the bytes with
  * their versions); re-adding a dropped name mints a FRESH field id and
  * physical name, so old bytes never resurrect (Delta's no-resurrection
  * rule, already pinned by ColumnMapSpec). An unmapped graft table is
  * upgraded in the same commit as its first schema change (ids derived
  * from the current footer schema), so ALTER works on any graft table,
  * not just ColumnMap-born ones, and a refused ALTER writes nothing.
  * Time travel serves each version under the LOGICAL names it had then
  * — versions before the upgrade under their stored ones.
  */
case class GraftAlterColumnCommand(dir: String, op: String, a: String,
    b: String, dflt: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = op match {
      case "rename" => graft.lake.ColumnMap.renameColumn(spark, dir, a, b)
      case "drop" => graft.lake.ColumnMap.dropColumn(spark, dir, a)
      case "add" => graft.lake.ColumnMap.addColumn(spark, dir, a, b, dflt)
      case "addgen" => graft.lake.ColumnMap.addGenerated(spark, dir, a, b, dflt.get)
    }
    Seq(Row(op, v.toLong))
  }
}

/** X187 — `ALTER TABLE '<path>' ADD CONSTRAINT <name> CHECK (<expr>) |
  * DROP CONSTRAINT <name>`: persistent table CHECK constraints
  * ([[graft.lake.Constraints]]). ADD validates EXISTING rows in one
  * combinable aggregate (a constraint the table already violates is a
  * lie and refuses with the count), then lands as a METADATA-ONLY
  * commit — same file list, the new set in the manifest, zero data
  * bytes at 100 TB.
  * From then on every commit that adds rows checks them against the
  * set it publishes, whatever surface wrote them. Era-correct like column mapping:
  * time travel reads serve the constraint set the version had.
  */
case class GraftConstraintCommand(dir: String, op: String, name: String,
    predicate: String, date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = op match {
      case "add" =>
        graft.lake.Constraints.add(spark, dir, name, predicate, date, time)
      case "drop" =>
        graft.lake.Constraints.drop(spark, dir, name, date, time)
    }
    Seq(Row(s"${op}_constraint", v.toLong))
  }
}

/** `SHOW CONSTRAINTS '<path>'` — the active set at the latest version,
  * name-ordered; metadata-only (read from the log, no Spark job).
  */
case class GraftShowConstraintsCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("predicate", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.lake.Constraints.active(spark, dir).sortBy(_.name)
      .map(c => Row(c.name, c.predicate))
}

/** X193 — `CONVERT TO GRAFT '<path>'`: in-place import of a plain
  * parquet directory ([[graft.lake.Convert]]) — one manifest referencing
  * the files where they already are, zero data bytes moved; the
  * directory is a full graft table from this commit on.
  */
case class GraftConvertCommand(dir: String, date: Int, time: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = graft.lake.Convert.convert(spark, dir, date, time)
    Seq(Row(v.toLong,
      ManifestTable.snapshots(spark, dir).last.files.size.toLong))
  }
}

/** X195 — `SHOW PARTITIONS '<path>'`: the physical partition
  * directories of an X100/X103 hidden-partitioned layout, one
  * driver-side listing per transform level — no Spark job
  * ([[graft.lake.HiddenPartition.showPartitions]]).
  */
case class GraftShowPartitionsCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("generation", LongType, nullable = false)(),
    AttributeReference("part_spec", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.lake.HiddenPartition.showPartitions(spark, dir).sorted
      .map { case (g, p) => Row(g.toLong, p) }
}

/** X194 — `FSCK REPAIR TABLE '<path>' [DRY RUN]`: drop dangling file
  * references after external loss ([[graft.lake.Fsck]]) — DRY RUN
  * reports and commits nothing; repair is one `op = "fsck"` metadata
  * commit. One existence probe per referenced file, no Spark job.
  */
case class GraftFsckCommand(dir: String, dryRun: Boolean, date: Int,
    time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("file", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val bad =
      if (dryRun) graft.lake.Fsck.missing(spark, dir)
      else graft.lake.Fsck.repair(spark, dir, date, time)
    bad.sorted.map { case (k, f) => Row(k, f) }
  }
}

/** X192 — `ALTER TABLE '<path>' SET TBLPROPERTIES ('k'='v', …) |
  * UNSET TBLPROPERTIES ('k', …)`: table properties as era-tracked
  * metadata commits ([[graft.lake.Properties]]); `graft.optimizeWrite`
  * / `graft.targetFileBytes` bind the X188 optimized-write default for
  * every later batch write to the table (explicit writer options win).
  */
case class GraftPropertiesCommand(dir: String, op: String,
    props: Map[String, String], keys: Seq[String], date: Int, time: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = op match {
      case "set" => graft.lake.Properties.set(spark, dir, props, date, time)
      case "unset" => graft.lake.Properties.unset(spark, dir, keys, date, time)
    }
    Seq(Row(s"${op}_tblproperties", v.toLong))
  }
}

/** `SHOW TBLPROPERTIES '<path>'` — the active map, key-ordered;
  * metadata-only (read from the log, no Spark job).
  */
case class GraftShowPropertiesCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.lake.Properties.active(spark, dir).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
}

/** X189 — `ANALYZE TABLE '<path>' COMPUTE STATISTICS [FOR COLUMNS …]`:
  * (re)build the X57/X78 zone-map sidecar for the LATEST version of a
  * table that was committed without one — after ANALYZE, file skipping
  * (X57), string-band retention (X78/X172) and stats-only counts (X69)
  * all light up with no data rewrite. Column selection defaults to
  * every integral column (long bounds) plus every string column
  * (lexicographic bounds); doubles/arrays/structs are skipped — X57
  * bounds are integral by design. Sound under deletion vectors: bounds
  * computed over the raw files are bounds over any tombstoned subset.
  * Output: one row per (file, column) with the recorded bounds — the
  * evidence an operator reads before trusting a pruning plan.
  */
case class GraftAnalyzeCommand(dir: String, cols: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("file", StringType, nullable = false)(),
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("lo", StringType, nullable = false)(),
    AttributeReference("hi", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val stats = graft.lake.ZoneMap.analyze(spark, dir, cols)
    stats.flatMap { s =>
      s.lo.toSeq.sortBy(_._1).map { case (c, lo) =>
        Row(s.file, c, lo.toString, s.hi(c).toString) } ++
        s.slo.toSeq.sortBy(_._1).map { case (c, lo) =>
          Row(s.file, c, lo, s.shi(c)) }
    }.sortBy(r => (r.getString(0), r.getString(1)))
  }
}

/** `CREATE TABLE '<path>' (c1 t1, c2 t2, …)` (X215) — schema-first
  * empty table: version 1 is an empty commit whose schema lives in the
  * X110 mapping, so DESCRIBE/INSERT/ALTER work before any row exists
  * (the INSERT-later workflow every warehouse supports). Refuses on an
  * existing table, unknown types, and duplicate names — with nothing
  * committed.
  */
case class GraftCreateEmptyCommand(dir: String, cols: Seq[(String, String)],
    date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(graft.lake.ColumnMap.createEmpty(spark, dir, cols, date, time).toLong))
}

/** X186 — `CREATE [OR REPLACE] TABLE '<path>' [AT d t] AS <select>`:
  * CTAS as ONE staged replace commit on the X39 log (Delta's CTAS
  * shape), through the batch writer's landing path
  * ([[GraftDataSource.land]]), so a declared write order, optimized-write
  * and auto-compaction properties apply as for every batch write. Plain
  * CREATE refuses when the table already has committed versions
  * (accidentally clobbering a lakehouse table must be loud); OR REPLACE
  * commits the next version with the previous one still time-travelable
  * — "replace" here is a commit, never a delete. The inner query runs
  * through the SESSION'S OWN parser/analyzer, so every registered graft
  * function (X171) and view is available inside it.
  */
case class GraftCtasCommand(dir: String, orReplace: Boolean, query: String,
    date: Int, time: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mode = if (orReplace) SaveMode.Overwrite else SaveMode.ErrorIfExists
    GraftDataSource.land(spark, dir, mode, date, time, Map.empty)(_ => spark.sql(query))
      .map(v => Row(v.toLong)).toSeq
  }
}

/** X181 query surface: one fixture drives the whole maintenance loop
  * from pure SQL — fragment a table across three commits, `OPTIMIZE` it
  * into one commit, `VACUUM` the expired parents — then one query checks
  * the surviving content (maintenance must be invisible) and one checks
  * the `DESCRIBE HISTORY` ledger (deterministic because the statements
  * pin their commit stamps with `AT`).
  */
object GraftSqlQueries extends graft.QueryModule {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.sources.Tables
  import graft.util.{Exact, FixtureCache}

  private def fixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_maint", d) { dir =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .repartition(16)
      ManifestTable.commit(o.where(col("k") % 3 === 0), dir, 20250901, 900)
      ManifestTable.appendRetrying(o.where(col("k") % 3 === 1), dir, 20250901, 910)
      ManifestTable.appendRetrying(o.where(col("k") % 3 === 2), dir, 20250901, 920)
      val ext = GraftDml.extSession(s)
      ext.sql(s"OPTIMIZE '$dir' AT 20250901 1000")
      ext.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS")
    }

  /** X182 fixture: one root drives all four lake-op statements from a
    * pure-SQL session — a bad replace RESTOREd away, the bad version
    * CLONEd out for forensics, and a landing dir COPY INTOed twice (the
    * second a visible no-op).
    */
  private def lakeopsFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_lakeops", d) { root =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      ManifestTable.commit(o.repartition(8), s"$root/t", 20250901, 900)
      ManifestTable.commit(o.where(col("k") % 3 === 0), s"$root/t", 20250901, 910)
      val ext = GraftDml.extSession(s)
      ext.sql(s"RESTORE '$root/t' TO VERSION AS OF 1 AT 20250901 1000")
      ext.sql(s"CLONE '$root/t' TO '$root/c' VERSION AS OF 2 AT 20250901 1010")
      o.where(col("k") % 7 === 0).coalesce(1).write.parquet(s"$root/land")
      ext.sql(s"COPY INTO '$root/cp' FROM '$root/land' AT 20250901 1020")
      // idempotent re-run: already-ingested drops commit nothing
      ext.sql(s"COPY INTO '$root/cp' FROM '$root/land' AT 20250901 1030")
    }

  /** X206 fixture: three commits across two run days, then both
    * stamp-addressed forms — RESTORE to a stamp BETWEEN v2 and v3 (must
    * resolve to v2) and CLONE at a stamp between v1 and v2 (must carry
    * v1's content).
    */
  private def stampOpsFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_stampops", d) { root =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      ManifestTable.commit(o.where(col("k") % 2 === 0), s"$root/t", 20250901, 900)
      ManifestTable.commit(o.where(col("k") % 3 === 0), s"$root/t", 20250901, 1000)
      ManifestTable.commit(o.where(col("k") % 5 === 0), s"$root/t", 20250902, 900)
      val ext = GraftDml.extSession(s)
      ext.sql(s"RESTORE '$root/t' TO TIMESTAMP AS OF 20250901 1200 AT 20250902 1000")
      ext.sql(s"CLONE '$root/t' TO '$root/c' TIMESTAMP AS OF 20250901 930 AT 20250902 1010")
    }

  /** X186 fixture: CTAS creates the table from pure SQL (v1 = the even
    * keys), then CREATE OR REPLACE reloads it (v2 = the %3 keys) with v1
    * still time-travelable — "replace" is a commit, never a delete.
    */
  private def ctasFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_ctas", d) { root =>
      val ext = GraftDml.extSession(s)
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ctasq_src
                 |USING parquet OPTIONS (path '$d/orders.parquet')""".stripMargin)
      ext.sql(s"""CREATE TABLE '$root/t' AT 20250901 900 AS
                 |SELECT o_orderkey AS k, o_totalprice AS p
                 |FROM ctasq_src WHERE o_orderkey % 2 = 0""".stripMargin)
      ext.sql(s"""CREATE OR REPLACE TABLE '$root/t' AT 20250901 910 AS
                 |SELECT o_orderkey AS k, o_totalprice AS p
                 |FROM ctasq_src WHERE o_orderkey % 3 = 0""".stripMargin)
    }

  /** X187 fixture: constraints added from SQL (two metadata-only
    * commits), a violating INSERT refused with nothing committed, a
    * passing INSERT landed, one constraint dropped, and a row the
    * dropped constraint would have refused landed after the drop.
    */
  private def constraintFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_constraints", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"), col("o_orderpriority").as("pri"))
      ManifestTable.commit(o, dir, 20250901, 900) // v1
      val ext = GraftDml.extSession(s)
      ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT positive_price " +
        "CHECK (p > 0) AT 20250901 910") // v2, validates existing rows
      ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT known_key " +
        "CHECK (k IS NOT NULL) AT 20250901 920") // v3
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW conq_t
                 |USING graft OPTIONS (path '$dir', runDate '20250901',
                 |runTime '930')""".stripMargin)
      // violating insert: refused by its commit, commits nothing
      try {
        ext.sql("INSERT INTO conq_t SELECT CAST(-1 AS BIGINT), " +
          "CAST(-5.0 AS DOUBLE), 'manual'").collect()
        throw new IllegalStateException("violating INSERT was not refused")
      } catch { case e: Exception if e.getMessage != null &&
          e.getMessage.contains("CHECK constraint violation") => () }
      ext.sql("INSERT INTO conq_t SELECT CAST(9000000001 AS BIGINT), " +
        "CAST(1.5 AS DOUBLE), 'manual'") // v4
      ext.sql(s"ALTER TABLE '$dir' DROP CONSTRAINT positive_price " +
        "AT 20250901 940") // v5
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW conq_t2
                 |USING graft OPTIONS (path '$dir', runDate '20250901',
                 |runTime '950')""".stripMargin)
      ext.sql("INSERT INTO conq_t2 SELECT CAST(9000000002 AS BIGINT), " +
        "CAST(0.0 AS DOUBLE), 'manual'") // v6 — legal once dropped
    }

  /** X193 fixture: a PLAIN parquet directory (written by a stock
    * `df.write.parquet`) converted in place, then grown by an INSERT —
    * proving the converted directory is a live graft table whose v1 is
    * the pre-conversion bytes, untouched.
    */
  private def convertFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_convert", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      o.where(col("k") % 2 === 0).coalesce(4).write.mode("overwrite")
        .parquet(dir) // a plain parquet dir, nothing graft about it
      val ext = GraftDml.extSession(s)
      ext.sql(s"CONVERT TO GRAFT '$dir' AT 20250901 900") // v1, in place
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW convq_t
                 |USING graft OPTIONS (path '$dir', runDate '20250901',
                 |runTime '910')""".stripMargin)
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW convq_src
                 |USING parquet OPTIONS (path '$d/orders.parquet')""".stripMargin)
      ext.sql("""INSERT INTO convq_t
                |SELECT CAST(o_orderkey AS BIGINT), CAST(o_totalprice AS DOUBLE)
                |FROM convq_src WHERE o_orderkey % 2 = 1""".stripMargin) // v2
    }

  /** X196 fixture: four disjoint key-quartile files (stats-carrying);
    * a banded OPTIMIZE covering quartiles 2-3 packs THOSE two files
    * into one and retains the outer quartiles byte-identically.
    */
  private def optimizeWhereFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_optwhere", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      val maxK = o.agg(max(col("k"))).head.getLong(0)
      val q = (maxK + 4) / 4
      ZoneMap.commitWithStats(o.where(col("k") < q).coalesce(1),
        dir, 20250901, 900, statsCols = Seq("k")) // v1: quartile 1
      (1 to 3).foreach(i => ZoneMap.appendWithStats(
        o.where(col("k") >= q * i && col("k") < q * (i + 1)).coalesce(1),
        dir, 20250901, 900 + i * 10, statsCols = Seq("k")))
      GraftDml.extSession(s).sql(
        s"OPTIMIZE '$dir' WHERE k BETWEEN $q AND ${q * 3 - 1} " +
          s"AT 20250901 1000") // v5: packs quartiles 2+3 only
    }

  /** X220 fixture: four one-day string-keyed files; the quoted band
    * packs days d1-d2 only, outer days retained byte-identically.
    */
  private def optimizeStrFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_optstr", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
        .withColumn("day", concat(lit("d"), (col("k") % 4).cast("string")))
      ZoneMap.commitWithStats(o.where(col("day") === "d0").coalesce(1),
        dir, 20250901, 900, statsCols = Seq("k"), strCols = Seq("day"))
      (1 to 3).foreach(i => ZoneMap.appendWithStats(
        o.where(col("day") === s"d$i").coalesce(1),
        dir, 20250901, 900 + i * 10, statsCols = Seq("k"), strCols = Seq("day")))
      GraftDml.extSession(s).sql(
        s"OPTIMIZE '$dir' WHERE day BETWEEN 'd1' AND 'd2' AT 20250901 1000")
    }

  /** X194 fixture: four known key-slices appended as one file each, one
    * file deleted OUT OF BAND (the storage incident), DRY RUN reports
    * without committing, repair drops the dangling reference — the
    * surviving slices serve and the loss is a ledgered commit.
    */
  private def fsckFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_fsck", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      ManifestTable.commit(o.where(col("k") % 4 === 0).coalesce(1),
        dir, 20250901, 900) // v1
      (1 to 3).foreach(i => ManifestTable.appendRetrying(
        o.where(col("k") % 4 === i).coalesce(1), dir, 20250901, 900 + i * 10))
      val snaps = ManifestTable.snapshots(s, dir)
      val victim = // the file holding the k % 4 == 2 slice (v3's append)
        (snaps(2).files.toSet -- snaps(1).files.toSet).head
      require(new java.io.File(s"$dir/$victim").delete(),
        "fixture could not simulate the loss")
      val ext = GraftDml.extSession(s)
      val dry = ext.sql(s"FSCK REPAIR TABLE '$dir' DRY RUN").collect()
      require(dry.length == 1 && dry.head.getString(1) == victim,
        "DRY RUN must report exactly the lost file")
      require(ManifestTable.snapshots(s, dir).size == 4,
        "DRY RUN must commit nothing")
      ext.sql(s"FSCK REPAIR TABLE '$dir' AT 20250901 940") // v5
    }

  /** X192 fixture: properties set from SQL bind the optimized-write
    * default — a 48-partition append lands right-sized with NO caller
    * option — then one property unsets, leaving the other visible.
    */
  private def propsFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_props", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      ManifestTable.commit(o.repartition(4), dir, 20250901, 900) // v1
      val ext = GraftDml.extSession(s)
      ext.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES " +
        "('graft.optimizeWrite' = 'true', " +
        "'graft.targetFileBytes' = '1048576') AT 20250901 910") // v2
      o.where(col("k") % 2 === 0).repartition(48)
        .write.format("graft")
        .mode(org.apache.spark.sql.SaveMode.Append).save(dir) // v3, rebalanced
      ext.sql(s"ALTER TABLE '$dir' UNSET TBLPROPERTIES " +
        "('graft.optimizeWrite') AT 20250901 930") // v4
    }

  /** X189 fixture: a stats-less table ANALYZEd from SQL — the sidecar
    * appears for the CURRENT version with no new commit and no data
    * rewrite.
    */
  private def analyzeFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_analyze", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"), col("o_orderpriority").as("pri"))
      ManifestTable.commit(o.repartition(6), dir, 20250901, 900) // no stats
      GraftDml.extSession(s).sql(
        s"ANALYZE TABLE '$dir' COMPUTE STATISTICS FOR COLUMNS k, pri").collect()
    }

  /** X198 fixture: `ADD COLUMN … DEFAULT` on a table with existing rows
    * — the old file serves the existence default, rows appended after
    * the column existed serve their stored values INCLUDING an explicit
    * NULL (per-file presence, never a value coalesce).
    */
  private def defaultFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_default", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      ManifestTable.commit(o.where(col("k") % 2 === 0), dir, 20250901, 900)
      GraftDml.extSession(s).sql(s"ALTER TABLE '$dir' ADD COLUMN tag " +
        "string DEFAULT 'legacy'") // v2: upgrade-in-place + default
      graft.lake.ColumnMap.append(
        o.where(col("k") % 2 === 1).withColumn("tag",
          when(col("k") % 4 === 1, lit("fresh"))
            .otherwise(lit(null).cast("string"))),
        dir, 20250901, 920) // v3: explicit values + explicit NULLs
    }

  /** X204 fixture: GENERATED ALWAYS AS on a table with existing rows —
    * the legacy file computes the expression at read time, the
    * post-ADD append omits the column and gets it computed at write
    * time; both populations must agree with the oracle's recomputation.
    */
  private def generatedFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_gen", d) { dir =>
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      ManifestTable.commit(o.where(col("k") % 2 === 0), dir, 20250901, 900)
      GraftDml.extSession(s).sql(s"ALTER TABLE '$dir' ADD COLUMN bucket " +
        "bigint GENERATED ALWAYS AS (k % 5)") // v2: metadata-only
      graft.lake.ColumnMap.append(
        o.where(col("k") % 2 === 1), dir, 20250901, 920) // v3: computed
    }

  /** X185 fixture: a plain (unmapped) graft table taken through the SQL
    * schema-evolution statements — the first ALTER upgrades it to column
    * mapping in place; the drop + re-add of `note` pins no-resurrection.
    */
  private def alterFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("sql_alter", d) { dir =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      ManifestTable.commit(o, dir, 20250901, 900) // v1, no mapping yet
      val ext = GraftDml.extSession(s)
      ext.sql(s"ALTER TABLE '$dir' RENAME COLUMN p TO amount") // v2
      ext.sql(s"ALTER TABLE '$dir' ADD COLUMN note string") // v3
      ext.sql(s"ALTER TABLE '$dir' DROP COLUMN note") // v4
      ext.sql(s"ALTER TABLE '$dir' ADD COLUMN note string") // v5, fresh id
    }

  val queries: Map[String, Q] = Map(
    // X186: latest serves the CTAS-replace content (%3 keys); version 1
    // time-travels to the original CTAS content (%2 keys)
    "q_sql_ctas" -> ((s, d) => {
      val dir = s"${ctasFixture(s, d)}/t"
      val snaps = ManifestTable.snapshots(s, dir)
      val v1 = ManifestTable.readVersion(s, dir, 1)
        .agg(count(lit(1)).as("n_v1"), Exact.dsum(col("p")).as("sum_p_v1"))
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .crossJoin(v1)
        .withColumn("n_versions", lit(snaps.size))
    }),
    // X187: the refused INSERT is invisible (content = orders + the two
    // legal inserts); the surviving constraint set and ledger ride as
    // metadata-derived facts
    "q_sql_constraints" -> ((s, d) => {
      val dir = constraintFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val remaining = GraftDml.extSession(s)
        .sql(s"SHOW CONSTRAINTS '$dir'").collect()
        .map(r => r.getString(0)).toSeq.sorted
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"),
          sum(when(col("pri") === "manual", 1L).otherwise(0L)).as("n_manual"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("constraints_left", lit(remaining.mkString(",")))
    }),
    // X196: the banded pack rewrites only quartiles 2-3 (4 files -> 3,
    // outer quartiles retained byte-identically — file-identity
    // booleans); content invisible (the full-orders oracle)
    "q_sql_optimize_where" -> ((s, d) => {
      val dir = optimizeWhereFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val v4 = snaps.find(_.version == 4).get
      val v5 = snaps.last
      val q1File = v4.files.head // the quartile-1 file (v1's commit)
      val q4File = (snaps.find(_.version == 4).get.files.toSet --
        snaps.find(_.version == 3).get.files.toSet).head
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("n_files", lit(v5.files.size))
        .withColumn("outer_retained",
          lit(v5.files.contains(q1File) && v5.files.contains(q4File)))
        .withColumn("last_op", lit(v5.op))
    }),
    // X220: the STRING band packs days d1-d2 only; outer day files
    // retained byte-identically, content invisible (whole-orders oracle)
    "q_sql_optimize_str" -> ((s, d) => {
      val dir = optimizeStrFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val v4 = snaps.find(_.version == 4).get
      val v5 = snaps.last
      val d0File = v4.files.head // v1's single d0 file
      val d3File = (v4.files.toSet --
        snaps.find(_.version == 3).get.files.toSet).head
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"),
          countDistinct("day").as("n_days"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("n_files", lit(v5.files.size))
        .withColumn("outer_retained",
          lit(v5.files.contains(d0File) && v5.files.contains(d3File)))
        .withColumn("last_op", lit(v5.op))
    }),
    // X195: the day-layout's physical directories, listed from metadata
    // alone — the oracle re-derives every partition value from raw
    // events (a missing or phantom directory hash-fails)
    "q_sql_partitions" -> ((s, d) => {
      val root = graft.lake.HiddenPartition.fixtureDir(s, d)
      import s.implicits._
      GraftDml.extSession(s)
        .sql(s"SHOW PARTITIONS '$root/bytime'").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("generation", "part_spec")
        .orderBy("part_spec")
    }),
    // X194: post-repair, the surviving slices serve (the lost k%4==2
    // slice is gone — that's the honest outcome) and the repair is a
    // ledgered 'fsck' commit; an idempotent re-run reports nothing
    "q_sql_fsck" -> ((s, d) => {
      val dir = fsckFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val rerun = GraftDml.extSession(s)
        .sql(s"FSCK REPAIR TABLE '$dir'").collect().length
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("rerun_reports", lit(rerun))
    }),
    // X193: the converted directory serves its pre-conversion bytes as
    // v1 (zero data moved) and lives on as a normal table (the INSERT
    // landed as v2); provenance rides as the history's first op
    "q_sql_convert" -> ((s, d) => {
      val dir = convertFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val v1 = ManifestTable.readVersion(s, dir, 1)
        .agg(count(lit(1)).as("n_v1"), Exact.dsum(col("p")).as("sum_p_v1"))
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .crossJoin(v1)
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("first_op", lit(snaps.head.op))
    }),
    // X192: the property-bound rebalance kept the 48-partition append
    // at few files (geometry boolean); content + surviving property
    // from metadata
    "q_sql_tblproperties" -> ((s, d) => {
      val dir = propsFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val appended = snaps.find(_.version == 3).get.files.size -
        snaps.find(_.version == 1).get.files.size
      val left = GraftDml.extSession(s)
        .sql(s"SHOW TBLPROPERTIES '$dir'").collect()
        .map(r => r.getString(0)).sorted.mkString(",")
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("appended_few_files", lit(appended <= 16))
        .withColumn("props_left", lit(left))
    }),
    // X189: post-ANALYZE, the sidecar's own global bounds (metadata
    // facts, zero data reads) agree with the content the oracle scans;
    // version is UNCHANGED — analyze is sidecar-only
    "q_sql_analyze" -> ((s, d) => {
      val dir = analyzeFixture(s, d)
      val stats = ZoneMap.fileStats(s, dir, 1).getOrElse(Seq.empty)
      val kLo = stats.map(_.lo("k")).min
      val kHi = stats.map(_.hi("k")).max
      val pLo = stats.map(_.slo("pri")).min
      val pHi = stats.map(_.shi("pri")).max
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("k_min", lit(kLo)).withColumn("k_max", lit(kHi))
        .withColumn("pri_min", lit(pLo)).withColumn("pri_max", lit(pHi))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, dir).size))
    }),
    // X226: branch/tag DDL — create two pinned refs and a latest-head
    // branch, drop the latter; SHOW lists the survivors and the branch
    // read serves its pinned version's content
    "q_sql_branches" -> ((s, d) => {
      val dir = FixtureCache.dir("sql_branches", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        ManifestTable.commit(o.where(col("k") % 2 === 0), dir, 20250901, 900)
        ManifestTable.commit(o, dir, 20250901, 1000)
        val ext = GraftDml.extSession(s)
        ext.sql(s"ALTER TABLE '$dir' CREATE BRANCH exp AS OF VERSION 1")
        ext.sql(s"ALTER TABLE '$dir' CREATE TAG rel AS OF VERSION 1")
        ext.sql(s"ALTER TABLE '$dir' CREATE BRANCH dev") // head = latest
        ext.sql(s"ALTER TABLE '$dir' DROP BRANCH dev")
      }
      val expContent = s.read.format("graft").option("branch", "exp").load(dir)
        .agg(count(lit(1)).as("n_exp_rows"),
          Exact.dsum(col("p")).as("sum_exp_p"))
      GraftDml.extSession(s).sql(s"SHOW BRANCHES '$dir'")
        .crossJoin(expContent)
        .orderBy("name")
    }),
    // X225: the DDL reconstructed from metadata alone (path normalized
    // out so the oracle can pin the exact string)
    "q_sql_show_create" -> ((s, d) => {
      val dir = FixtureCache.dir("sql_showcreate", d) { dir =>
        val ext = GraftDml.extSession(s)
        ext.sql(s"CREATE TABLE '$dir' (k bigint, p double) AT 20250901 900")
        ext.sql(s"ALTER TABLE '$dir' ADD COLUMN tag string DEFAULT 'none'")
        ext.sql(s"ALTER TABLE '$dir' ADD COLUMN b bigint " +
          "GENERATED ALWAYS AS (k % 5)")
        ext.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES " +
          "('graft.autoCompact' = 'true') AT 20250901 930")
      }
      GraftDml.extSession(s).sql(s"SHOW CREATE TABLE '$dir'")
        .select(regexp_replace(col("ddl"),
          java.util.regex.Pattern.quote(dir), "<path>").as("ddl"))
    }),
    // X219: REORG folds deletion-vector debt away — content invariant
    // (the oracle is the post-delete table), tombstones gone, op
    // ledgered; a second REORG commits nothing (idempotent maintenance)
    "q_sql_reorg" -> ((s, d) => {
      val dir = FixtureCache.dir("sql_reorg", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        ManifestTable.commit(o.repartition(4), dir, 20250901, 900)
        graft.lake.DeleteVectors.deleteWhere(s, dir,
          col("k") % 7 === 0, 20250901, 1000)
        val ext = GraftDml.extSession(s)
        ext.sql(s"REORG '$dir' APPLY (PURGE) AT 20250901 1100")
        ext.sql(s"REORG '$dir' APPLY (PURGE) AT 20250901 1200") // no-op
      }
      val snaps = ManifestTable.snapshots(s, dir)
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("n_delete_files", lit(snaps.last.deletes.size))
    }),
    // X217: stamp-clock retention — both 0901-stamped versions expire,
    // the 0902 head survives with its content intact
    "q_sql_vacuum_time" -> ((s, d) => {
      val dir = FixtureCache.dir("sql_vactime", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        ManifestTable.commit(o.where(col("k") % 2 === 0), dir, 20250901, 900)
        ManifestTable.commit(o.where(col("k") % 3 === 0), dir, 20250901, 1000)
        ManifestTable.commit(o.where(col("k") % 5 === 0), dir, 20250902, 900)
        GraftDml.extSession(s).sql(s"VACUUM '$dir' OLDER THAN 20250902 0")
      }
      val snaps = ManifestTable.snapshots(s, dir)
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("surviving_version", lit(snaps.head.version))
    }),
    // X215: schema-first CREATE — v1 is empty but fully typed; the first
    // INSERT lands through the mapping; both eras read back era-correct
    "q_sql_create_empty" -> ((s, d) => {
      val root = FixtureCache.dir("sql_createmt", d) { root =>
        val ext = GraftDml.extSession(s)
        ext.sql(s"CREATE TABLE '$root/t' (k bigint, p double) AT 20250901 900")
        ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW cemt_src
                   |USING parquet OPTIONS (path '$d/orders.parquet')""".stripMargin)
        ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW cemt_t
                   |USING graft OPTIONS (path '$root/t', runDate '20250901',
                   |runTime '1000')""".stripMargin)
        ext.sql("INSERT INTO cemt_t SELECT o_orderkey, o_totalprice " +
          "FROM cemt_src WHERE o_orderkey % 2 = 0")
      }
      val dir = s"$root/t"
      val v1 = graft.lake.ColumnMap.read(s, dir, Some(1))
      graft.lake.ColumnMap.read(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("v1_rows", lit(v1.count()))
        .withColumn("v1_cols", lit(v1.columns.mkString(",")))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, dir).size))
    }),
    // X204: legacy files compute the generated column at read time,
    // post-ADD appends at write time — both must equal the oracle's
    // recomputation from raw orders, per bucket
    "q_sql_generated" -> ((s, d) => {
      val dir = generatedFixture(s, d)
      graft.lake.ColumnMap.read(s, dir)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, dir).size))
        .orderBy("bucket")
    }),
    // X198: pre-existing rows serve the existence default, appended rows
    // their stored values, explicit NULLs stay NULL — the three-way
    // split the oracle rebuilds from key parity
    "q_sql_default" -> ((s, d) => {
      val dir = defaultFixture(s, d)
      graft.lake.ColumnMap.read(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"),
          sum(when(col("tag") === "legacy", 1L).otherwise(0L)).as("n_legacy"),
          sum(when(col("tag") === "fresh", 1L).otherwise(0L)).as("n_fresh"),
          sum(when(col("tag").isNull, 1L).otherwise(0L)).as("n_null"))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, dir).size))
    }),
    // X185: latest serves (k, amount, note=NULL); version 1 time-travels
    // under its ERA-CORRECT pre-rename name `p`; ledger facts as literals
    "q_sql_alter" -> ((s, d) => {
      val dir = alterFixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      val v1 = graft.lake.ColumnMap.read(s, dir, Some(1))
        .agg(Exact.dsum(col("p")).as("sum_p_v1"))
      graft.lake.ColumnMap.read(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("amount")).as("sum_amount"),
          count(col("note")).as("n_notes"))
        .crossJoin(v1)
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("last_op", lit(snaps.last.op))
    }),
    // X182: RESTORE rolled the bad replace back — latest content equals
    // v1 again, and DESCRIBE DETAIL's driver-side row count / version /
    // op kind ride as literals against the content-derived oracle
    "q_sql_restore" -> ((s, d) => {
      val root = lakeopsFixture(s, d)
      val det = GraftDml.extSession(s)
        .sql(s"DESCRIBE DETAIL '$root/t'").collect()(0)
      ManifestTable.readLatest(s, s"$root/t")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("version", lit(det.getLong(0)))
        .withColumn("last_op", lit(det.getString(1)))
        .withColumn("detail_rows", lit(det.getLong(5)))
    }),
    // X206: stamp-addressed RESTORE resolves between-commit stamps to
    // the version at-or-before; stamp-addressed CLONE carries that
    // version's exact content — both rebuilt by the oracle from raw
    "q_sql_restore_ts" -> ((s, d) => {
      val root = stampOpsFixture(s, d)
      def agg(tag: String, dir: String): org.apache.spark.sql.DataFrame =
        ManifestTable.readLatest(s, dir)
          .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_p"),
            lit(ManifestTable.snapshots(s, dir).size).as("n_versions"))
      agg("clone_at_v1_stamp", s"$root/c")
        .unionByName(agg("restored_to_v2_stamp", s"$root/t"))
        .orderBy("probe")
    }),
    // X182: the clone carries exactly the bad v2 content as ITS v1
    "q_sql_clone" -> ((s, d) => {
      val root = lakeopsFixture(s, d)
      val det = GraftDml.extSession(s)
        .sql(s"DESCRIBE DETAIL '$root/c'").collect()(0)
      ManifestTable.readLatest(s, s"$root/c")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("version", lit(det.getLong(0)))
    }),
    // X182: COPY INTO landed the drop exactly once across two runs
    "q_sql_copy_into" -> ((s, d) => {
      val root = lakeopsFixture(s, d)
      val snaps = ManifestTable.snapshots(s, s"$root/cp")
      ManifestTable.readLatest(s, s"$root/cp")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
    }),
    // content invisible under OPTIMIZE + VACUUM; the ledger facts ride
    // as literals so a wrong op kind / version count / file count fails
    "q_sql_maintenance" -> ((s, d) => {
      val dir = fixture(s, d)
      val snaps = ManifestTable.snapshots(s, dir)
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions", lit(snaps.size))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("n_files", lit(snaps.last.files.size))
    }),
    // the post-vacuum commit log, straight from DESCRIBE HISTORY
    "q_sql_history" -> ((s, d) => {
      val dir = fixture(s, d)
      GraftDml.extSession(s).sql(s"DESCRIBE HISTORY '$dir'").orderBy("version")
    }),
    // X202: DRY RUN names exactly the files the real pass reclaims and
    // deletes NOTHING — the fixture probes file existence before/after
    // and persists the booleans; content + version count are oracled
    "q_sql_vacuum_dry" -> ((s, d) => {
      val root = FixtureCache.dir("sql_vacdry", d) { root =>
        val tbl = s"$root/tbl"
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        ManifestTable.commit(o.where(col("k") % 3 === 0), tbl, 20250901, 900)
        ManifestTable.commit(o.where(col("k") % 3 <= 1), tbl, 20250901, 1000)
        ManifestTable.commit(o, tbl, 20250901, 1100)
        val ext = GraftDml.extSession(s)
        val dry = ext.sql(s"VACUUM '$tbl' RETAIN 2 VERSIONS DRY RUN")
          .collect().map(_.getString(0)).toSeq
        val fs = new org.apache.hadoop.fs.Path(tbl)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def exists(f: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/$f"))
        val versionsAfterDry = ManifestTable.snapshots(s, tbl).size
        val presentBefore = dry.nonEmpty && dry.forall(exists)
        ext.sql(s"VACUUM '$tbl' RETAIN 2 VERSIONS")
        val exact = presentBefore && dry.forall(f => !exists(f))
        val retainedIntact = ManifestTable.snapshots(s, tbl)
          .flatMap(v => v.files ++ v.deletes).forall(exists)
        s.createDataFrame(Seq((versionsAfterDry, exact, retainedIntact)))
          .toDF("versions_after_dry", "dry_exact", "retained_intact")
          .write.mode("overwrite").parquet(s"$root/probe")
      }
      val probe = s.read.parquet(s"$root/probe")
      ManifestTable.readLatest(s, s"$root/tbl")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("n_versions",
          lit(ManifestTable.snapshots(s, s"$root/tbl").size))
        .crossJoin(probe)
    }))

  val oracles: Map[String, String] = Map(
    "q_sql_optimize_str" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(4 AS BIGINT) AS n_days,
        |       CAST(5 AS INT) AS n_versions, CAST(3 AS INT) AS n_files,
        |       true AS outer_retained, 'optimize' AS last_op
        |FROM orders""".stripMargin,
    "q_sql_branches" ->
      """SELECT name, kind, head_version, n_exp_rows, sum_exp_p FROM
        |  (VALUES ('exp', 'branch', CAST(1 AS BIGINT)),
        |          ('rel', 'tag', CAST(1 AS BIGINT))) AS t(name, kind, head_version)
        |CROSS JOIN (SELECT count(*) AS n_exp_rows,
        |                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_exp_p
        |            FROM orders WHERE o_orderkey % 2 = 0)
        |ORDER BY name""".stripMargin,
    "q_sql_show_create" ->
      ("""SELECT 'CREATE TABLE ''<path>'' (k bigint, p double, """ +
        """tag string DEFAULT ''none'', b bigint GENERATED ALWAYS AS (k % 5)) """ +
        """TBLPROPERTIES (''graft.autoCompact'' = ''true'')' AS ddl"""),
    "q_sql_reorg" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(3 AS INT) AS n_versions,
        |       'materialize' AS last_op,
        |       CAST(0 AS INT) AS n_delete_files
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,
    "q_sql_vacuum_time" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(1 AS INT) AS n_versions,
        |       CAST(3 AS INT) AS surviving_version
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin,
    "q_sql_create_empty" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(0 AS BIGINT) AS v1_rows,
        |       'k,p' AS v1_cols,
        |       CAST(2 AS INT) AS n_versions
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin,
    "q_sql_generated" ->
      """SELECT o_orderkey % 5 AS bucket, count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(3 AS INT) AS n_versions
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sql_default" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_legacy,
        |       count(*) FILTER (WHERE o_orderkey % 4 = 1) AS n_fresh,
        |       count(*) FILTER (WHERE o_orderkey % 4 = 3) AS n_null,
        |       CAST(3 AS INT) AS n_versions
        |FROM orders""".stripMargin,
    "q_sql_optimize_where" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(5 AS INT) AS n_versions, CAST(3 AS INT) AS n_files,
        |       true AS outer_retained, 'optimize' AS last_op
        |FROM orders""".stripMargin,
    "q_sql_restore_ts" ->
      """SELECT * FROM (
        |  SELECT 'clone_at_v1_stamp' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |         CAST(1 AS INT) AS n_versions
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'restored_to_v2_stamp', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |         CAST(4 AS INT)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |) ORDER BY probe""".stripMargin,
    "q_sql_vacuum_dry" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(2 AS INT) AS n_versions,
        |       CAST(3 AS INT) AS versions_after_dry,
        |       true AS dry_exact, true AS retained_intact
        |FROM orders""".stripMargin,
    "q_sql_partitions" ->
      """SELECT CAST(0 AS BIGINT) AS generation,
        |       'p_ts_day=' || CAST(CAST(ts AS DATE) AS VARCHAR) AS part_spec
        |FROM events GROUP BY 2 ORDER BY part_spec""".stripMargin,
    "q_sql_fsck" ->
      """SELECT count(*) FILTER (WHERE o_orderkey % 4 <> 2) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            FILTER (WHERE o_orderkey % 4 <> 2) AS DOUBLE) AS sum_p,
        |       CAST(5 AS INT) AS n_versions, 'fsck' AS last_op,
        |       CAST(0 AS INT) AS rerun_reports
        |FROM orders""".stripMargin,
    "q_sql_convert" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_v1,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            FILTER (WHERE o_orderkey % 2 = 0) AS DOUBLE) AS sum_p_v1,
        |       CAST(2 AS INT) AS n_versions, 'convert' AS first_op
        |FROM orders""".stripMargin,
    "q_sql_tblproperties" ->
      """SELECT count(*) + count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            + SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |              FILTER (WHERE o_orderkey % 2 = 0) AS DOUBLE) AS sum_p,
        |       CAST(4 AS INT) AS n_versions,
        |       true AS appended_few_files,
        |       'graft.targetFileBytes' AS props_left
        |FROM orders""".stripMargin,
    "q_sql_analyze" ->
      """SELECT count(*) AS n_rows,
        |       min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
        |       min(o_orderpriority) AS pri_min,
        |       max(o_orderpriority) AS pri_max,
        |       CAST(1 AS INT) AS n_versions
        |FROM orders""".stripMargin,
    "q_sql_ctas" ->
      """SELECT count(*) FILTER (WHERE o_orderkey % 3 = 0) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            FILTER (WHERE o_orderkey % 3 = 0) AS DOUBLE) AS sum_p,
        |       count(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_v1,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            FILTER (WHERE o_orderkey % 2 = 0) AS DOUBLE) AS sum_p_v1,
        |       CAST(2 AS INT) AS n_versions
        |FROM orders""".stripMargin,
    "q_sql_constraints" ->
      """SELECT count(*) + 2 AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            + CAST(1.5 AS DECIMAL(18,2)) AS DOUBLE) AS sum_p,
        |       CAST(2 AS BIGINT) AS n_manual,
        |       CAST(6 AS INT) AS n_versions,
        |       'known_key' AS constraints_left
        |FROM orders""".stripMargin,
    "q_sql_alter" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount,
        |       CAST(0 AS BIGINT) AS n_notes,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p_v1,
        |       CAST(5 AS INT) AS n_versions, 'add' AS last_op
        |FROM orders""".stripMargin,
    "q_sql_restore" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(3 AS BIGINT) AS version, 'restore' AS last_op,
        |       count(*) AS detail_rows
        |FROM orders""".stripMargin,
    "q_sql_clone" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(1 AS BIGINT) AS version
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    "q_sql_copy_into" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(1 AS INT) AS n_versions
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin,
    "q_sql_maintenance" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       CAST(1 AS INT) AS n_versions, 'optimize' AS last_op,
        |       CAST(1 AS INT) AS n_files
        |FROM orders""".stripMargin,
    "q_sql_history" ->
      """SELECT CAST(4 AS BIGINT) AS version, 20250901 AS run_date,
        |       1000 AS run_time, 'optimize' AS op,
        |       CAST(1 AS BIGINT) AS n_files,
        |       CAST(0 AS BIGINT) AS n_delete_files""".stripMargin)
}

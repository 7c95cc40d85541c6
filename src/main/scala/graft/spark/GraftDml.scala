package graft.spark

import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

import graft.lake.{DeleteVectors, ManifestTable, ZoneMap}
import graft.sources.Tables

/** X179 — SQL row-level DML on graft tables: `DELETE FROM`, `UPDATE`,
  * `MERGE INTO` over any `USING graft` view or table, the write surface
  * X173's `INSERT` left open.
  *
  * Spark parses these statements into Catalyst's own DML nodes
  * ([[DeleteFromTable]], [[UpdateTable]], [[MergeIntoTable]]) and its
  * analyzer RESOLVES them — references, star expansion, assignment
  * alignment — but only DataSource-V2 tables get an execution rewrite;
  * a V1 relation reaches `checkAnalysis` unconverted and dies with
  * "only supported with v2 tables". Delta closes the same gap with a
  * post-hoc resolution rule that swaps the resolved DML node for its own
  * command before the check runs; [[GraftDmlRule]] is that architecture:
  * injected via [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`), it matches
  * DML whose target is a [[GraftTableRef]] relation and replaces it with
  * a runnable command against the manifest layout.
  *
  * Execution shapes (the 100 TB story, mirroring Delta's):
  *
  *  - DELETE → X64 deletion vectors ([[DeleteVectors.deleteWhereRetrying]]):
  *    merge-on-read tombstones, ZERO data files rewritten — cost ∝
  *    matched rows, reclaimed later by X174 maintenance;
  *  - UPDATE → copy-on-write over TOUCHED FILES only: one pruned scan
  *    finds the files with matching rows (`_metadata.file_path`,
  *    Delta's findTouchedFiles), only those rewrite (tombstones applied,
  *    assignments as `CASE WHEN` — no shuffle, a map-only rewrite),
  *    every other file is retained by reference with its X57 stats entry
  *    carried verbatim;
  *  - MERGE → the same CoW: touched files = a semi-join of the target
  *    scan against the source (files whose rows CAN match), rewritten by
  *    one left-outer join applying matched/not-matched-by-source clauses
  *    in declared order; `WHEN NOT MATCHED INSERT` rows come from one
  *    anti-join of the source against the full target; a target row
  *    matching multiple source rows REFUSES (Delta's cardinality
  *    contract — the update would be non-deterministic).
  *
  * Expressions are carried NAME-BASED: the rule rewrites every resolved
  * attribute to `UnresolvedAttribute` (source columns under a `__src_`
  * prefix) so the command can re-resolve them against its own fresh scan
  * of the table's LATEST version — the statement's view may be serving
  * an older snapshot, but DML always targets the current table state
  * (committing against a pinned view refuses, same as X173). Subqueries
  * in conditions refuse loudly rather than mis-execute.
  */
object GraftDmlRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(t, cond) if d.resolved =>
      graftRef(t) match {
        case Some(rel) =>
          refusePinned(rel, "DELETE")
          val names = outNames(t)
          GraftDeleteCommand(rel.graftDir, rel.graftParams,
            DmlExpr(byName(cond, names, "DELETE")))
        case None => d
      }
    case u @ UpdateTable(t, assignments, cond) if u.resolved =>
      graftRef(t) match {
        case Some(rel) =>
          refusePinned(rel, "UPDATE")
          val names = outNames(t)
          GraftUpdateCommand(rel.graftDir, rel.graftParams,
            assignments.map(a => assignName(a.key, names, "UPDATE") ->
              DmlExpr(byName(a.value, names, "UPDATE"))),
            DmlExpr(byName(
              cond.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral),
              names, "UPDATE")))
        case None => u
      }
    case m @ MergeIntoTable(t, src, cond, matched, notMatched, nmbs, evolve)
        if m.resolved =>
      graftRef(t) match {
        case Some(rel) =>
          require(!evolve,
            "graft MERGE: WITH SCHEMA EVOLUTION is not supported — evolve " +
              "the table first (X60 Evolution) and re-run the merge")
          val tgtFields = t.output.map(_.name)
          val srcFields = src.output.map(_.name)
          require(srcFields.distinct.size == srcFields.size,
            s"graft MERGE: source has duplicate column names " +
              s"(${srcFields.mkString(", ")}) — alias them apart")
          val names = outNames(t) ++
            src.output.map(a => a.exprId -> s"__src_${a.name}").toMap
          def acts(as: Seq[MergeAction], insert: Boolean): Seq[DmlAct] =
            as.map(translateAction(_, names, tgtFields, srcFields, insert))
          refusePinned(rel, "MERGE")
          GraftMergeCommand(rel.graftDir, rel.graftParams, src,
            DmlExpr(byName(cond, names, "MERGE")),
            acts(matched, insert = false), acts(notMatched, insert = true),
            acts(nmbs, insert = false))
        case None => m
      }
  }

  /** The graft relation under a DML target, through view/alias wrappers. */
  private def graftRef(p: LogicalPlan): Option[GraftTableRef] = p match {
    case SubqueryAlias(_, child) => graftRef(child)
    case v: View => graftRef(v.child)
    case l: LogicalRelation => l.relation match {
      case r: GraftTableRef => Some(r)
      case _ => None
    }
    case _ => None
  }

  private def refusePinned(rel: GraftTableRef, op: String): Unit =
    require(!rel.graftPinned,
      s"graft $op: a version/branch/catalog-pinned view is an immutable " +
        "snapshot — run DML through a view over the current table")

  private def outNames(t: LogicalPlan): Map[ExprId, String] =
    t.output.map(a => a.exprId -> a.name).toMap

  /** Resolved expression → name-based (re-resolvable on a fresh scan). */
  private[spark] def byName(e: Expression, names: Map[ExprId, String],
      op: String): Expression = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft $op: subqueries in DML conditions are not supported — " +
        "materialize the subquery and MERGE against it")
    e.transform {
      case a: AttributeReference => names.get(a.exprId) match {
        case Some(n) => UnresolvedAttribute.quoted(n)
        case None => throw new IllegalArgumentException(
          s"graft $op: expression references unknown column '${a.name}'")
      }
    }
  }

  private def assignName(key: Expression, names: Map[ExprId, String],
      op: String): String = key match {
    case a: AttributeReference => names.getOrElse(a.exprId, a.name)
    case u: UnresolvedAttribute => u.name
    case other => throw new IllegalArgumentException(
      s"graft $op: only top-level columns can be assigned, got $other")
  }

  /** One WHEN clause, name-translated. Star forms expand here: matched
    * `UPDATE SET *` / not-matched `INSERT *` assign every target column
    * from the same-named source column (refusing a source that lacks one
    * — Spark's own star contract).
    */
  private def translateAction(a: MergeAction, names: Map[ExprId, String],
      tgtFields: Seq[String], srcFields: Seq[String],
      insert: Boolean): DmlAct = {
    def cond(c: Option[Expression]): Option[Expression] =
      c.map(byName(_, names, "MERGE"))
    def starSets: Seq[(String, Expression)] = tgtFields.map { n =>
      require(srcFields.contains(n),
        s"graft MERGE: star assignment needs source column '$n'")
      n -> (UnresolvedAttribute.quoted(s"__src_$n"): Expression)
    }
    a match {
      case UpdateAction(c, assigns, _) => DmlAct(cond(c), isDelete = false,
        assigns.map(x => assignName(x.key, names, "MERGE") ->
          byName(x.value, names, "MERGE")))
      case InsertAction(c, assigns) => DmlAct(cond(c), isDelete = false,
        assigns.map(x => assignName(x.key, names, "MERGE") ->
          byName(x.value, names, "MERGE")))
      case DeleteAction(c) =>
        require(!insert, "graft MERGE: DELETE is not a NOT MATCHED action")
        DmlAct(cond(c), isDelete = true, Nil)
      case UpdateStarAction(c) => DmlAct(cond(c), isDelete = false, starSets)
      case InsertStarAction(c) => DmlAct(cond(c), isDelete = false, starSets)
      case other => throw new IllegalArgumentException(
        s"graft MERGE: unsupported clause $other")
    }
  }
}

/** One translated WHEN clause: fire condition (None = always), DELETE
  * flag, or the (column → name-based expression) assignments.
  */
case class DmlAct(cond: Option[Expression], isDelete: Boolean,
    sets: Seq[(String, Expression)])

/** Opaque carrier for a command's name-based expression: DELIBERATELY
  * unresolved (`UnresolvedAttribute`s re-resolve against the command's
  * own fresh scan at run time), so it must stay OUT of the command
  * node's expression product — checkAnalysis fails any unresolved
  * expression it can see on an analyzed plan.
  */
case class DmlExpr(e: Expression)

private object GraftDmlExec {
  /** Relative `data/…/file.parquet` of each scanned row — the manifest's
    * file key (same extraction as the X64 sidecar writer).
    */
  // table-root-relative file path (delegates to the dir-aware X64
  // extractor — the layout-shaped regex broke on X193-converted tables
  // whose files sit at the root)
  def relFileIn(dir: String): Column = DeleteVectors.relFileIn(dir)

  def colOf(e: Expression): Column = GraftShim.column(e)

  /** CoW commit tail shared by UPDATE and MERGE — see
    * [[graft.lake.Cow.commit]] (factored there so the X180 streaming
    * CoW upsert publishes through the identical stats-carrying tail).
    */
  def commitCow(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, retained: Seq[String],
      staged: Seq[String], date: Int, time: Int, op: String): Int =
    graft.lake.Cow.commit(spark, dir, snap, retained, staged, date, time, op)
}

/** `DELETE FROM t WHERE cond` → one X64 deletion-vector commit: no data
  * file rewrites, tombstones ∝ matched rows (reclaimed by X174
  * maintenance). NULL-condition rows never match (three-valued logic —
  * the predicate column wraps in the same coalesce the X64 path uses).
  */
case class GraftDeleteCommand(dir: String, params: Map[String, String],
    cond: DmlExpr) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (date, time) = GraftDataSource.stampOf(params)
    DeleteVectors.deleteWhereRetrying(spark, dir,
      GraftDmlExec.colOf(cond.e), date, time)
    Seq.empty
  }
}

/** `UPDATE t SET … WHERE cond` → copy-on-write over touched files only. */
case class GraftUpdateCommand(dir: String, params: Map[String, String],
    sets: Seq[(String, DmlExpr)],
    cond: DmlExpr) extends LeafRunnableCommand {
  import GraftDmlExec._

  override def run(spark: SparkSession): Seq[Row] = {
    val (date, time) = GraftDataSource.stampOf(params)
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed version at $dir"))
    val pred = coalesce(colOf(cond.e), lit(false))
    // findTouchedFiles: one scan, filter pushed to parquet, only file
    // paths come back. Conservative on tombstoned rows (a file whose
    // only matches are already deleted still rewrites — harmlessly).
    val touched = Tables.cachedScan(spark, snap.files.map(f => s"$dir/$f"))
      .where(pred).select(relFileIn(dir).as("f")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return Seq.empty // nothing matched: no commit
    val retained = snap.files.filterNot(touched.toSet)
    val base = DeleteVectors.applyTo(spark, dir, snap,
      Tables.cachedScan(spark, touched.map(f => s"$dir/$f")))
    val setMap = sets.toMap
    val out = base.schema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(v) =>
          when(pred, colOf(v.e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    val staged = ManifestTable.stageDataFiles(base.select(out.toSeq: _*), dir)
    // X187: the rewritten rows must still satisfy the table's CHECK
    // constraints — validated from the staged bytes (stage-first)
    graft.lake.Constraints.enforceStaged(spark, dir, staged)
    commitCow(spark, dir, snap, retained, staged, date, time, "update")
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON cond WHEN …` → CoW over touched files +
  * one anti-join for inserts. Clauses fire in declared order (first
  * whose condition holds); a target row with no firing clause survives
  * unchanged; a target row matching >1 source rows refuses (Delta's
  * cardinality contract).
  */
case class GraftMergeCommand(dir: String, params: Map[String, String],
    source: LogicalPlan, cond: DmlExpr,
    matched: Seq[DmlAct], notMatched: Seq[DmlAct],
    notMatchedBySource: Seq[DmlAct]) extends LeafRunnableCommand {
  import GraftDmlExec._

  override def run(spark: SparkSession): Seq[Row] = {
    val (date, time) = GraftDataSource.stampOf(params)
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed version at $dir"))
    val srcPlan = GraftShim.ofRows(spark, source)
    val src = srcPlan.toDF(srcPlan.columns.map("__src_" + _).toSeq: _*)
      .withColumn("__src_present", lit(true))
    val on = colOf(cond.e)

    // First clause whose condition holds, else -1 (row survives as-is /
    // source row not inserted). Conditions are NULL-safe (no-fire).
    def idx(acts: Seq[DmlAct]): Column =
      acts.zipWithIndex.foldRight(lit(-1): Column) { case ((a, i), els) =>
        when(a.cond.map(c => coalesce(colOf(c), lit(false)))
          .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    def deleteIdxs(acts: Seq[DmlAct]): Seq[Int] =
      acts.zipWithIndex.collect { case (a, i) if a.isDelete => i }

    val allPaths = snap.files.map(f => s"$dir/$f")
    // WHEN NOT MATCHED BY SOURCE touches rows source can't name — every
    // file is in scope; otherwise one semi-join names the touched files.
    val touched: Seq[String] =
      if (notMatchedBySource.nonEmpty) snap.files
      else Tables.cachedScan(spark, allPaths)
        .select(col("*"), relFileIn(dir).as("__file"))
        .join(src, on, "left_semi")
        .select("__file").distinct().collect().map(_.getString(0)).toSeq.sorted

    val fullTarget = DeleteVectors.applyTo(spark, dir, snap,
      Tables.cachedScan(spark, allPaths))
    val tgtFields: Array[StructField] = fullTarget.schema.fields

    val staged = new scala.collection.mutable.ArrayBuffer[String]
    if (touched.nonEmpty) {
      val tscan = DeleteVectors.applyTo(spark, dir, snap,
        Tables.cachedScan(spark, touched.map(f => s"$dir/$f")))
      // Cardinality contract: >1 source rows hitting one target row make
      // the update non-deterministic — refuse, like Delta.
      val multi = tscan.withColumn("__tgt_id", monotonically_increasing_id())
        .join(src, on, "inner").groupBy("__tgt_id").count()
        .where(col("count") > 1).limit(1).count()
      require(multi == 0L,
        "graft MERGE: a target row matched multiple source rows — " +
          "deduplicate the source on the merge keys first")
      val joined = tscan.join(src, on, "left_outer")
        .withColumn("__m", when(coalesce(col("__src_present"), lit(false)),
          idx(matched)).otherwise(lit(-1)))
        .withColumn("__s", when(coalesce(col("__src_present"), lit(false)),
          lit(-1)).otherwise(idx(notMatchedBySource)))
      val dropped = (deleteIdxs(matched).map(col("__m") === _) ++
        deleteIdxs(notMatchedBySource).map(col("__s") === _))
        .foldLeft(lit(false): Column)(_ || _)
      val out = tgtFields.map { f =>
        var c: Column = col(f.name)
        matched.zipWithIndex.foreach { case (a, i) =>
          a.sets.toMap.get(f.name).foreach { v =>
            c = when(col("__m") === i, colOf(v).cast(f.dataType)).otherwise(c) }
        }
        notMatchedBySource.zipWithIndex.foreach { case (a, i) =>
          a.sets.toMap.get(f.name).foreach { v =>
            c = when(col("__s") === i, colOf(v).cast(f.dataType)).otherwise(c) }
        }
        c.as(f.name)
      }
      staged ++= ManifestTable.stageDataFiles(
        joined.where(!dropped).select(out.toSeq: _*), dir)
    }
    if (notMatched.nonEmpty) {
      // inserts: source rows matching NOTHING in the whole target
      val srcOnly = src.join(fullTarget, on, "left_anti")
        .withColumn("__i", idx(notMatched)).where(col("__i") =!= -1)
      val insOut = tgtFields.map { f =>
        var c: Column = lit(null).cast(f.dataType)
        notMatched.zipWithIndex.foreach { case (a, i) =>
          a.sets.toMap.get(f.name).foreach { v =>
            c = when(col("__i") === i, colOf(v).cast(f.dataType)).otherwise(c) }
        }
        c.as(f.name)
      }
      staged ++= ManifestTable.stageDataFiles(srcOnly.select(insOut.toSeq: _*), dir)
    }
    val retained = snap.files.filterNot(touched.toSet)
    // X187: rewritten + inserted rows validated from their staged bytes
    graft.lake.Constraints.enforceStaged(spark, dir, staged.toSeq)
    if (staged.nonEmpty || touched.nonEmpty)
      commitCow(spark, dir, snap, retained, staged.toSeq, date, time, "merge")
    Seq.empty
  }
}

/** X179 query surface: one fixture drives all three statements through a
  * PURE-SQL session (built with the graft extensions — the documented
  * `spark.sql.extensions` deployment), and each statement's post-state is
  * read back via version time travel, so the oracle can rebuild every
  * intermediate state from raw orders.
  */
object GraftDml extends graft.QueryModule {
  /** The extensions-built sibling session, one per JVM/SparkContext —
    * DML rides the analyzer rule, so a plain session cannot run it (the
    * spec pins that refusal).
    */
  @volatile private var extCache: SparkSession = _
  def extSession(s: SparkSession): SparkSession = {
    if (extCache == null || extCache.sparkContext != s.sparkContext)
      synchronized {
        if (extCache == null || extCache.sparkContext != s.sparkContext)
          extCache = org.apache.spark.sql.GraftShim.sessionWithExtensions(s,
            new graft.functions.GraftExtensions()(_))
      }
    extCache
  }

  /** v1 = orders keyed table (range-clustered, zone-mapped); v2 = SQL
    * DELETE (a DV commit); v3 = SQL UPDATE (CoW on touched files); v4 =
    * SQL MERGE (update ∪ insert — the insert half re-adds keys the DELETE
    * tombstoned, pinning that MERGE sees through deletion vectors).
    */
  private[spark] def dmlFixture(s: SparkSession, d: String): String =
    fixture(s, d)

  private def fixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.durableDir("sql_dml", d,
        "v1-orders-kcp-delete-update-merge") { dir =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
      ZoneMap.commitWithStats(o.repartitionByRange(8, col("k")),
        dir, 20250701, 900, statsCols = Seq("k"))
      val ext = extSession(s)
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW dmlq_t
                 |USING graft OPTIONS (path '$dir', runDate '20250701',
                 |runTime '1000')""".stripMargin)
      ext.sql("DELETE FROM dmlq_t WHERE k % 10 = 0")
      ext.sql("UPDATE dmlq_t SET p = p + 1 WHERE c % 100 = 0")
      ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW dmlq_src
                 |USING parquet OPTIONS (path '$d/orders.parquet')""".stripMargin)
      ext.sql(
        """MERGE INTO dmlq_t t
          |USING (SELECT o_orderkey AS sk, o_custkey AS sc,
          |              CAST(0.5 AS DOUBLE) AS sp
          |       FROM dmlq_src WHERE o_orderkey % 3 = 0) s
          |ON t.k = s.sk
          |WHEN MATCHED THEN UPDATE SET p = s.sp
          |WHEN NOT MATCHED THEN INSERT (k, c, p) VALUES (s.sk, s.sc, s.sp)""".stripMargin)
    }

  private def stateAgg(s: SparkSession, dir: String, version: Int): DataFrame =
    ManifestTable.readVersion(s, dir, version)
      .groupBy((col("k") % 5).as("bucket"))
      .agg(count("*").as("n_rows"),
        sum(col("p").cast("decimal(18,2)")).cast("double").as("sum_p"))
      .orderBy("bucket")

  val queries: Map[String, Q] = Map(
    "q_sql_delete" -> ((s, d) => stateAgg(s, fixture(s, d), 2)),
    "q_sql_update" -> ((s, d) => stateAgg(s, fixture(s, d), 3)),
    "q_sql_merge" -> ((s, d) => stateAgg(s, fixture(s, d), 4)))

  /** DuckDB rebuilds each post-statement state from raw orders. */
  val oracles: Map[String, String] = {
    val t1 = "SELECT o_orderkey k, o_custkey c, o_totalprice p FROM orders"
    val t2 = s"SELECT * FROM ($t1) WHERE k % 10 <> 0"
    val t3 = s"SELECT k, c, CASE WHEN c % 100 = 0 THEN p + 1 ELSE p END p FROM ($t2)"
    val src = "SELECT o_orderkey sk, o_custkey sc, CAST(0.5 AS DOUBLE) sp " +
      "FROM orders WHERE o_orderkey % 3 = 0"
    val t4 =
      s"""SELECT t.k, t.c, CASE WHEN s.sk IS NOT NULL THEN s.sp ELSE t.p END p
         |FROM ($t3) t LEFT JOIN ($src) s ON t.k = s.sk
         |UNION ALL
         |SELECT s.sk, s.sc, s.sp FROM ($src) s
         |WHERE s.sk NOT IN (SELECT k FROM ($t3))""".stripMargin
    def agg(state: String) =
      s"""SELECT k % 5 AS bucket, count(*) AS n_rows,
         |CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
         |FROM ($state) GROUP BY 1 ORDER BY bucket""".stripMargin
    Map("q_sql_delete" -> agg(t2), "q_sql_update" -> agg(t3),
      "q_sql_merge" -> agg(t4))
  }
}

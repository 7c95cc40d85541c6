package graft.spark

import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.lake.ChangeFeed

/** X184 — `table_changes('<path>', from, to [, 'k1,k2'])`: Delta's SQL
  * face for the change data feed as a real TABLE-VALUED FUNCTION, so a
  * pure-SQL consumer joins, filters and aggregates a table's change
  * history like any relation:
  *
  * {{{
  *   SELECT change, to_version, count(*) FROM
  *     table_changes('/lake/orders', 1, 4, 'k') GROUP BY 1, 2
  * }}}
  *
  * Registered through `SparkSessionExtensions.injectTableFunction` (the
  * same GraftExtensions deployment as the X171 scalar registry and the
  * X179 DML rule). The builder runs at ANALYSIS time, so arguments must
  * be literals — a column-dependent path has no meaning for a catalog
  * lookup, and the refusal says so instead of producing an unresolved
  * mystery. The plan it returns is the X75 feed in its UPDATE-AWARE form
  * (a replaced key surfaces as its delete+insert pair — the
  * [[graft.lake.SnapshotDiff.diffCdc]] semantics the streaming CDF
  * source ships): metadata routing keeps each step's cost ∝ its own
  * change — append steps scan only appended files, DV steps only the
  * tombstone delta, optimize/materialize steps contribute zero rows
  * without reading the version. The trailing keys argument is only
  * NEEDED when the range contains a replace commit (the one step that
  * pays a keyed diff); omitting it over an append/delete-only range
  * works, and a replace step without keys refuses with the contract.
  */
object GraftTableFunctions extends graft.QueryModule {

  private val usage =
    "table_changes('<path>', <from_version>, <to_version> [, '<k1,k2>'])"
  private val usageTs =
    "table_changes('<path>', <from_date>, <from_time>, <to_date>, <to_time> [, '<k1,k2>'])"

  private def lit(e: Expression, what: String): Any = e match {
    case Literal(v, _) if v != null => v
    case _ => throw new IllegalArgumentException(
      s"table_changes: $what must be a non-null literal — $usage")
  }

  private def intArg(e: Expression, what: String): Int = lit(e, what) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"table_changes: $what must be an integer literal, got $other — $usage")
  }

  private def strArg(e: Expression, what: String): String =
    lit(e, what).toString

  private[spark] def buildTableChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 3 && args.size <= 6,
      s"table_changes: expected 3-6 arguments — $usage or $usageTs")
    val spark = SparkSession.active
    val dir = strArg(args(0), "path")
    // X213: 5/6 args = stamp bounds (from_date, from_time, to_date,
    // to_time [, keys]) — changes stamped at-or-after the from stamp
    // through at-or-before the to stamp, i.e. the EXCLUSIVE base is the
    // newest version stamped strictly before `from` (the X203 rule) and
    // the inclusive end resolves via the X206 rule; 3/4 args keep the
    // X184 version form.
    val (fromV, toV, keys) =
      if (args.size >= 5) {
        val (fd, ft) = (intArg(args(1), "from_date"), intArg(args(2), "from_time"))
        val (td, tt) = (intArg(args(3), "to_date"), intArg(args(4), "to_time"))
        val snaps = graft.lake.ManifestTable.snapshots(spark, dir)
        val base = snaps
          .filter(s => s.runDate < fd || (s.runDate == fd && s.runTime < ft))
          .sortBy(s => (s.runDate, s.runTime, s.version))
          .lastOption.map(_.version).getOrElse(
            // Delta parity: table_changes refuses timestamps at or
            // before the earliest version — the feed diffs versions, so
            // there is no base to diff the first commit against (the
            // version form from 1 starts after it by the same rule)
            throw new NoSuchElementException(
              s"table_changes: from stamp $fd/$ft is at or before the " +
                s"first commit at $dir — no base version to diff against"))
        val end = snaps
          .filter(s => s.runDate < td || (s.runDate == td && s.runTime <= tt))
          .sortBy(s => (s.runDate, s.runTime, s.version))
          .lastOption.map(_.version).getOrElse(
            throw new NoSuchElementException(
              s"table_changes: no version at or before $td/$tt at $dir"))
        (base, end,
          if (args.size == 6)
            strArg(args(5), "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          else Nil)
      } else (intArg(args(1), "from_version"), intArg(args(2), "to_version"),
        if (args.size == 4)
          strArg(args(3), "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        else Nil)
    ChangeFeed.changeFeed(spark, dir, fromV, toV, keys,
      updateAware = true).queryExecution.logical
  }

  /** The injectTableFunction registration triple. */
  val tableChanges: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo(GraftTableFunctions.getClass.getCanonicalName,
      "table_changes"),
    (args: Seq[Expression]) => buildTableChanges(args))

  val queries: Map[String, Q] = Map(
    // X184: the whole DML timeline (DV delete, CoW update, merge) read
    // back as one SQL table_changes aggregation — per-(change, version)
    // counts and sums the oracle rebuilds from raw orders, so a missed
    // tombstone, an un-surfaced update pair or a wrong version stamp all
    // hash-fail.
    "q_table_changes" -> ((s, d) => {
      val dir = GraftDml.dmlFixture(s, d)
      GraftDml.extSession(s).sql(
        s"""SELECT change, to_version, count(*) AS n_rows,
           |       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
           |FROM table_changes('$dir', 1, 4, 'k')
           |GROUP BY change, to_version
           |ORDER BY to_version, change""".stripMargin)
    }),
    // X213: the stamp-bounded form over the same DML timeline — the
    // window (after v1's 900 stamp, through the DML stamp) must resolve
    // to exactly the version window the X184 query names explicitly, so
    // both forms share one oracle
    "q_table_changes_ts" -> ((s, d) => {
      val dir = GraftDml.dmlFixture(s, d)
      GraftDml.extSession(s).sql(
        s"""SELECT change, to_version, count(*) AS n_rows,
           |       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
           |FROM table_changes('$dir', 20250701, 950, 20250701, 1000, 'k')
           |GROUP BY change, to_version
           |ORDER BY to_version, change""".stripMargin)
    }))

  val oracles: Map[String, String] = {
    // the dml fixture's timeline, re-derived change-by-change:
    //   v1→v2  DELETE k%10=0            → deleted rows at v1 values
    //   v2→v3  UPDATE p=p+1 (c%100=0)   → delete+insert pair per key
    //   v3→v4  MERGE k%3=0: matched update to 0.5, unmatched insert 0.5
    val t1 = "SELECT o_orderkey k, o_custkey c, o_totalprice p FROM orders"
    val t2 = s"SELECT * FROM ($t1) WHERE k % 10 <> 0"
    val t3 = s"SELECT k, c, CASE WHEN c % 100 = 0 THEN p + 1 ELSE p END p FROM ($t2)"
    Map("q_table_changes" ->
      s"""SELECT * FROM (
         |  SELECT 'deleted' AS change, CAST(2 AS INT) AS to_version,
         |         count(*) AS n_rows,
         |         CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p
         |  FROM ($t1) WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT 'deleted', 3, count(*),
         |         CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
         |  FROM ($t2) WHERE c % 100 = 0
         |  UNION ALL
         |  SELECT 'added', 3, count(*),
         |         CAST(SUM(CAST(p + 1 AS DECIMAL(18,2))) AS DOUBLE)
         |  FROM ($t2) WHERE c % 100 = 0
         |  UNION ALL
         |  SELECT 'deleted', 4, count(*),
         |         CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
         |  FROM ($t3) WHERE k % 3 = 0
         |  UNION ALL
         |  SELECT 'added', 4, count(*),
         |         CAST(SUM(CAST(0.5 AS DECIMAL(18,2))) AS DOUBLE)
         |  FROM ($t1) WHERE k % 3 = 0
         |) ORDER BY to_version, change""".stripMargin)
      .pipe(m => m + ("q_table_changes_ts" -> m("q_table_changes")))
  }
}

package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** X172 — predicate-scoped replacement (`replaceWhere` / dynamic partition
  * overwrite) as ONE manifest commit.
  *
  * The idempotent daily-reload primitive every lakehouse ships (Delta's
  * `option("replaceWhere", …)`, Spark's dynamic partition overwrite,
  * Iceberg's overwrite-by-filter): atomically replace EXACTLY the rows
  * matching a predicate with a new batch, leaving every other row — and,
  * at scale, every other FILE — untouched. Re-running a failed daily load
  * converges instead of duplicating, which is why orchestrators retry it
  * blindly (reference behavior: the hourly Airflow DAG re-runs whole task
  * instances on failure, `airflow/dags/apify_dag.py:70-90`).
  *
  * Mechanics on top of the existing primitives — nothing new to trust:
  *
  *   - the replaced scope is a [[ReplaceWhere.Scope]]: a numeric band
  *     (pruning on X57 long bounds), a LEXICOGRAPHIC band on a string
  *     column (pruning on X78 string bounds — the `yyyy-MM-dd` daily
  *     reload, the operator's headline use), or an arbitrary predicate
  *     (no disjointness evidence — every file rewrites, correct but
  *     table-cost; the bands are the scale path);
  *   - per file, the stats sidecar decides whether its bounds can
  *     intersect the scope: provably-disjoint files are RETAINED BY
  *     REFERENCE (their paths and their stats entries carry over verbatim
  *     — zero bytes rewritten, reload cost ∝ the replaced band);
  *   - boundary files that straddle the scope rewrite only their SURVIVING
  *     rows (predicate-false and predicate-NULL rows — SQL three-valued
  *     logic: a NULL never "matches", so it must never be deleted);
  *   - the new batch is STAGED FIRST and validated from its staged bytes:
  *     a single out-of-band row deletes the staged files and refuses the
  *     whole commit (Delta's replaceWhere contract). Staging before
  *     validating closes the round-7 ADVICE double-evaluation hole — a
  *     non-deterministic batch (rand(), a mutating source) could pass a
  *     plan-level check yet stage different rows; the bytes that are
  *     checked are exactly the bytes that commit;
  *   - one `commitManifest` (op = "replace_where") publishes retained ++
  *     rewritten ++ new together with a merged stats sidecar, so the next
  *     band read prunes just as well as before; X64 tombstones survive on
  *     retained files (rewritten files bake their subtraction in at read).
  *
  * Files WITHOUT a stats entry on the scope column are rewritten, never
  * retained — the X57 absence-degrades rule: no evidence of disjointness
  * means the file must be read, or a stale sidecar could resurrect
  * replaced rows.
  *
  * Single-shot optimistic commit (version = latest+1, the manifest rename
  * refuses a lost race) — the daily-reload writer is one job by contract;
  * concurrent appends should retry around it like X96 writers.
  */
object ReplaceWhere extends graft.QueryModule {

  /** The replaced scope: what the new batch claims and what may prune. */
  sealed trait Scope {
    /** true iff a row is IN the replaced scope (NULL handled by caller). */
    def pred: Column
    /** file provably disjoint from the scope, judged by its stats entry. */
    def disjoint(s: ZoneMap.FileStats): Boolean
    def describe: String
  }

  /** Numeric `[lo, hi]` band; prunes on X57 long bounds. */
  final case class LongBand(column: String, lo: Long, hi: Long) extends Scope {
    def pred: Column = col(column) >= lo && col(column) <= hi
    def disjoint(s: ZoneMap.FileStats): Boolean =
      s.lo.contains(column) && s.hi.contains(column) &&
        (s.hi(column) < lo || s.lo(column) > hi)
    def describe = s"$column in [$lo, $hi]"
  }

  /** Lexicographic `[lo, hi]` band on a STRING column (date strings,
    * ULIDs); prunes on X78 string bounds. All-null files carry null
    * bounds — treated as no evidence, so they rewrite.
    */
  final case class StringBand(column: String, lo: String, hi: String) extends Scope {
    def pred: Column = col(column) >= lo && col(column) <= hi
    def disjoint(s: ZoneMap.FileStats): Boolean = {
      val flo = s.slo.getOrElse(column, null)
      val fhi = s.shi.getOrElse(column, null)
      flo != null && fhi != null && (fhi < lo || flo > hi)
    }
    def describe = s"$column in ['$lo', '$hi']"
  }

  /** Arbitrary predicate: correct, but with NO disjointness evidence every
    * file rewrites — use a band scope when the layout clusters on the
    * reload column.
    */
  final case class Predicate(predicate: Column) extends Scope {
    def pred: Column = predicate
    def disjoint(s: ZoneMap.FileStats): Boolean = false
    def describe = s"predicate ($predicate)"
  }

  /** Explicit VALUE-SET scope — dynamic-partition-overwrite semantics
    * (Spark's `partitionOverwriteMode=dynamic`, Hive's insert-overwrite-
    * partitions): replace exactly the rows whose `column` equals one of
    * `values`. Disjointness evidence, best first:
    *   - an X168 categorical value-set entry with empty intersection
    *     (exhaustive when recorded — absence degrades, never lies);
    *   - else bounds (X57 long / X78 string) proving EVERY replaced value
    *     lies outside the file's `[lo, hi]`.
    * Values compare as strings against X168 entries (they are recorded as
    * casts to string), so long and string columns both work; other types
    * degrade to the bounds check or a rewrite.
    */
  final case class ValueSet(column: String, values: Seq[Any]) extends Scope {
    require(values.nonEmpty, "replace scope needs at least one value")
    def pred: Column = col(column).isin(values: _*)
    private val asStrings = values.map(String.valueOf).toSet
    private val asLongs: Option[Seq[Long]] = scala.util.Try(values.map {
      case n: Number => n.longValue()
      case s: String => s.toLong
      case other => throw new IllegalArgumentException(other.toString)
    }).toOption
    def disjoint(s: ZoneMap.FileStats): Boolean =
      s.vals.get(column) match {
        case Some(recorded) => recorded.toSet.intersect(asStrings).isEmpty
        case None =>
          val byLong = for {
            ls <- asLongs; flo <- s.lo.get(column); fhi <- s.hi.get(column)
          } yield ls.forall(v => v < flo || v > fhi)
          val byStr = for {
            flo <- s.slo.get(column); fhi <- s.shi.get(column)
            if flo != null && fhi != null
          } yield values.forall { v =>
            val sv = String.valueOf(v); sv < flo || sv > fhi }
          byLong.orElse(byStr).getOrElse(false)
      }
    def describe = s"$column in {${values.mkString(", ")}}"
  }

  /** Replace rows of `dir` inside `scope` by `newData`, committed
    * atomically as the next version. `statsCols`/`strCols` are the zone-map
    * columns for the rewritten+new files' sidecar entries (retained files
    * keep their old entries). Returns the committed version.
    */
  def replaceWhere(spark: SparkSession, dir: String, scope: Scope,
      newData: DataFrame, date: Int, time: Int,
      statsCols: Seq[String], strCols: Seq[String] = Nil,
      setCols: Seq[String] = Nil): Int = {
    val matches: Column = coalesce(scope.pred, lit(false)) // NULL never matches

    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed version at $dir"))

    // Stage FIRST, then validate the STAGED bytes — one evaluation of
    // `newData`, and the rows that are checked are the rows that commit.
    val stagedNew = ManifestTable.stageDataFiles(newData, dir)
    val bad =
      if (stagedNew.isEmpty) 0L
      else spark.read.parquet(stagedNew.map(f => s"$dir/$f"): _*)
        .where(!matches).limit(1).count()
    if (bad != 0L) {
      dropStaged(spark, dir, stagedNew)
      throw new IllegalArgumentException(
        s"replaceWhere: new data contains rows outside ${scope.describe} — " +
          "refusing the whole commit (predicate-scoped writes must stay in band)")
    }
    commitReplace(spark, dir, scope, stagedNew, snap, date, time,
      statsCols, strCols, setCols)
  }

  /** Dynamic-partition-overwrite form: the replaced VALUE SET is inferred
    * from the batch itself — `column`'s distinct values in the staged
    * data (Spark's `partitionOverwriteMode=dynamic`, the idempotent
    * "reload whatever days this batch carries" primitive). No out-of-band
    * validation exists by construction (the batch DEFINES the scope);
    * `maxValues` bounds the driver-side value list and the isin predicate
    * — a reload claiming more distinct values than that is a full
    * replace in disguise and belongs in an overwrite commit. An empty
    * batch refuses loudly: "replace nothing" is almost certainly an
    * upstream bug, not a no-op to silently commit.
    */
  def replaceValues(spark: SparkSession, dir: String, column: String,
      newData: DataFrame, date: Int, time: Int,
      statsCols: Seq[String] = Nil, strCols: Seq[String] = Nil,
      setCols: Seq[String] = Nil, maxValues: Int = 10000): Int = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed version at $dir"))
    val stagedNew = ManifestTable.stageDataFiles(newData, dir)
    def refuse(msg: String): Nothing = {
      dropStaged(spark, dir, stagedNew)
      throw new IllegalArgumentException(msg)
    }
    val values =
      if (stagedNew.isEmpty) Seq.empty[Any]
      else spark.read.parquet(stagedNew.map(f => s"$dir/$f"): _*)
        .select(col(column)).where(col(column).isNotNull).distinct()
        .limit(maxValues + 1).collect().map(_.get(0)).toSeq
    if (values.isEmpty)
      refuse(s"replaceValues: the batch carries no non-null '$column' values " +
        "— an empty reload replaces nothing and is refused (use an " +
        "overwrite commit for a deliberate truncate)")
    if (values.size > maxValues)
      refuse(s"replaceValues: over $maxValues distinct '$column' values — " +
        "a reload this wide is a replace in disguise; use an overwrite commit")
    commitReplace(spark, dir, ValueSet(column, values), stagedNew, snap,
      date, time, statsCols, strCols,
      if (setCols.contains(column)) setCols else column +: setCols)
  }

  private def dropStaged(spark: SparkSession, dir: String,
      staged: Seq[String]): Unit =
    ManifestTable.dropStaged(spark, dir, staged)

  /** The shared commit tail: retain-by-evidence, rewrite survivors of
    * straddling files, publish one manifest commit with a merged sidecar.
    */
  private def commitReplace(spark: SparkSession, dir: String, scope: Scope,
      stagedNew: Seq[String], snap: ManifestTable.Snapshot, date: Int,
      time: Int, statsCols: Seq[String], strCols: Seq[String],
      setCols: Seq[String]): Int = {
    val matches: Column = coalesce(scope.pred, lit(false))
    val stats = ZoneMap.fileStats(spark, dir, snap.version).getOrElse(Nil)
    val byFile = stats.map(s => s.file -> s).toMap
    val (retained, rewrite) = snap.files.partition(f =>
      byFile.get(f).exists(scope.disjoint))

    // Surviving rows of the straddling files: tombstones applied, then
    // everything the predicate does NOT claim (false or NULL).
    val stagedResidual =
      if (rewrite.isEmpty) Nil
      else ManifestTable.stageDataFiles(
        DeleteVectors.applyTo(spark, dir, snap,
          Tables.cachedScan(spark, rewrite.map(f => s"$dir/$f"))).where(!matches),
        dir)

    val version = snap.version + 1
    val staged = stagedResidual ++ stagedNew
    val newStats =
      if (staged.isEmpty) Nil
      else ZoneMap.statsFor(spark, dir, staged, statsCols, strCols, setCols)

    ZoneMap.writeStatsSidecar(spark, dir, version,
      retained.flatMap(byFile.get) ++ newStats)
    ManifestTable.commitManifest(spark, dir, version, date, time,
      retained ++ staged, deletes = snap.deletes, op = "replace_where")
    version
  }

  /** Numeric-band convenience form (the original X172 signature). */
  def replaceWhere(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long, newData: DataFrame, date: Int, time: Int,
      statsCols: Seq[String]): Int =
    replaceWhere(spark, dir, LongBand(column, lo, hi), newData, date, time,
      statsCols)

  /** Orders range-clustered on o_custkey; the middle custkey band is
    * reloaded with a recomputed batch (statuses force-closed, totals
    * re-priced) — the daily-partition-reload shape. The oracle rebuilds
    * the same final state from the raw table: out-of-band rows verbatim,
    * in-band rows re-derived.
    *
    * `q_replace_where_str` is the STRING-band twin (the round-7 verdict
    * ask): the table clusters on a `yyyy-MM-dd` day string and one month
    * is reloaded — retention prunes on X78 lexicographic bounds, so the
    * other months' files carry by reference (spec-pinned byte-identity).
    */
  val queries: Map[String, Q] = Map(
    "q_replace_where" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("replace_where", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        val hiKey = o.agg(max("o_custkey")).head.getAs[Number](0).longValue()
        val (lo, hi) = (hiKey / 4, hiKey / 2)
        ZoneMap.commitWithStats(
          o.repartitionByRange(8, col("o_custkey")), dir, 20250801, 900,
          Seq("o_custkey"))
        val reload = o
          .where(col("o_custkey").between(lo, hi))
          // ×2 is a power-of-two multiply — bit-exact on BOTH engines
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderstatus", lit("F"))
        replaceWhere(s, dir, "o_custkey", lo, hi, reload, 20250802, 900,
          statsCols = Seq("o_custkey"))
      }
      ManifestTable.readLatest(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"),
          min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"))
        .orderBy("o_orderstatus")
    }),

    // Dynamic-partition-overwrite twin: the reload carries two of the five
    // order priorities; replaceValues INFERS that set from the staged
    // batch and replaces exactly those partitions — the other priorities'
    // files retain by X168 value-set evidence (spec pins byte-identity).
    "q_replace_values" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("replace_values", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        ZoneMap.commitWithStats(
          o.repartitionByRange(5, col("o_orderpriority")), dir, 20250801, 900,
          Nil, setCols = Seq("o_orderpriority"))
        val reload = o
          .where(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        replaceValues(s, dir, "o_orderpriority", reload, 20250802, 900)
      }
      ManifestTable.readLatest(s, dir)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("o_orderpriority")
    }),

    "q_replace_where_str" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("replace_where_str", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
            col("o_totalprice"), col("o_orderstatus"))
        ZoneMap.commitWithStats(
          o.repartitionByRange(8, col("day")), dir, 20250801, 900,
          Nil, strCols = Seq("day"))
        val reload = o
          .where(col("day").between("1995-03-01", "1995-03-31"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderstatus", lit("F"))
        replaceWhere(s, dir, StringBand("day", "1995-03-01", "1995-03-31"),
          reload, 20250802, 900, Nil, strCols = Seq("day"))
      }
      ManifestTable.readLatest(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"),
          min("day").as("min_day"), max("day").as("max_day"))
        .orderBy("o_orderstatus")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_replace_where" ->
      """WITH b AS (SELECT CAST(max(o_custkey) // 4 AS BIGINT) AS lo,
        |                  CAST(max(o_custkey) // 2 AS BIGINT) AS hi FROM orders),
        |final AS (
        |  SELECT o_custkey, o_totalprice, o_orderstatus FROM orders, b
        |  WHERE o_custkey < b.lo OR o_custkey > b.hi
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice * 2 AS o_totalprice,
        |         'F' AS o_orderstatus
        |  FROM orders, b WHERE o_custkey BETWEEN b.lo AND b.hi)
        |SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_replace_values" ->
      """WITH final AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '3-MEDIUM')
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM'))
        |SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_replace_where_str" ->
      """WITH src AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         o_totalprice, o_orderstatus FROM orders),
        |final AS (
        |  SELECT day, o_totalprice, o_orderstatus FROM src
        |  WHERE day < '1995-03-01' OR day > '1995-03-31'
        |  UNION ALL
        |  SELECT day, o_totalprice * 2 AS o_totalprice, 'F' AS o_orderstatus
        |  FROM src WHERE day BETWEEN '1995-03-01' AND '1995-03-31')
        |SELECT o_orderstatus, count(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  min(day) AS min_day, max(day) AS max_day
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )
}

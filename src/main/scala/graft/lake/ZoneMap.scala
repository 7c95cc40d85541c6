package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** File-level zone maps on manifest commits (X57): per-file min/max column
  * statistics captured at write time into the X39 manifest itself
  * ([[ManifestTable.Snapshot]]'s `stats`), so a reader can prune data
  * files from the MANIFEST alone —
  * no directory listing (X39 already removed that) and no parquet-footer
  * round-trips, which at 100 TB / object-store latency is the difference
  * between planning in milliseconds and planning in minutes. This is the
  * stats half of what Iceberg manifests / Delta add-file entries carry;
  * X48 Z-ordering exists precisely to make these ranges tight on multiple
  * columns at once.
  *
  * Commit order: data files → stats → manifest put, the stats riding the
  * put itself, so a committed-with-stats version always has them and a
  * crashed or lost attempt leaves none behind. An entry describes an
  * immutable file, so every later commit that keeps the file keeps its
  * entry (DELETE, metadata commits, restore, appends, MERGE) with no code
  * of its own. ANALYZE TABLE is the one writer of a `v<N>.stats.json`
  * sidecar: it recomputes a committed version's stats without a new
  * commit ([[analyze]]).
  *
  * Stats collection is ONE combinable aggregate over the staged files
  * grouped by `_metadata.file_path` — a map-side-combined pass over data
  * the writer just produced (usually still in page cache), not a second
  * full scan of the table's history.
  *
  * Pruning is driver-side over the (tiny) entries, then a scan of ONLY the
  * surviving files with the predicate still applied — the zone map is an
  * optimization, never a semantics change, which is exactly what
  * `q_stats_prune`'s plain-table oracle pins.
  */
object ZoneMap extends graft.QueryModule {

  /** Per-file `[lo, hi]` ranges for the stat columns, plus the file's row
    * count (X69 stats-only aggregates), string-typed bounds (X78 —
    * date strings, ULIDs; lexicographic pruning) and the file holding
    * each column's [[BloomIndex]] filter. A column whose values in the
    * file are all null has no bounds. `rows = -1` and the empty maps mark
    * older entries — readers then degrade to scanning, never to a wrong
    * answer (json4s fills the defaults when fields are absent, pinned in
    * ZoneMapSpec).
    */
  case class FileStats(file: String, lo: Map[String, Long], hi: Map[String, Long],
      rows: Long = -1L,
      slo: Map[String, String] = Map.empty, shi: Map[String, String] = Map.empty,
      vals: Map[String, Seq[String]] = Map.empty,
      blooms: Map[String, String] = Map.empty)

  /** X168: distinct-value sets larger than this per (file, column) are
    * NOT recorded — the file then simply never equality-prunes, the same
    * absence-degrades rule as every other stat (a genuinely categorical
    * column stays far under the cap; a mistaken high-cardinality column
    * costs nothing but its one collect_set pass).
    */
  val MaxValsPerFile: Int = 64

  /** One combinable aggregate pass over already-staged files → their
    * FileStats, rel-resolved against `files`.
    */
  private[graft] def statsFor(spark: SparkSession, dir: String, files: Seq[String],
      statsCols: Seq[String], strCols: Seq[String],
      setCols: Seq[String] = Nil): Seq[FileStats] = {
    val staged = spark.read.parquet(files.map(f => s"$dir/$f"): _*)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).cast("long").as(s"lo_$c"), max(col(c)).cast("long").as(s"hi_$c"))) ++
      strCols.flatMap(c =>
        Seq(min(col(c)).cast("string").as(s"slo_$c"), max(col(c)).cast("string").as(s"shi_$c"))) ++
      setCols.map(c =>
        collect_set(col(c).cast("string")).as(s"vals_$c")) :+
      count(lit(1)).as("n_rows")
    val rows = staged
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged file — driver-sized by construction
    rows.map { r =>
      val name = r.getAs[String]("file_path").split('/').last
      val rel = files.find(_.endsWith(name)).getOrElse(
        throw new IllegalStateException(s"staged file $name missing from listing"))
      // an all-null column's bound aggregates are null: no bound, never 0
      def bounds[T](cs: Seq[String], prefix: String): Map[String, T] =
        cs.flatMap(c => Option(r.getAs[T](s"$prefix$c")).map(c -> _)).toMap
      FileStats(rel, bounds[Long](statsCols, "lo_"), bounds[Long](statsCols, "hi_"),
        r.getAs[Long]("n_rows"),
        bounds[String](strCols, "slo_"), bounds[String](strCols, "shi_"),
        setCols.flatMap { c =>
          val vs = r.getAs[scala.collection.Seq[String]](s"vals_$c")
          if (vs.size > MaxValsPerFile) None // over cap: absent, never wrong
          else Some(c -> vs.toSeq.sorted)
        }.toMap)
    }.toSeq.sortBy(_.file)
  }

  /** X189 — (re)build the zone maps of the LATEST version in place
    * (`ANALYZE TABLE … COMPUTE STATISTICS`): a table committed without
    * stats gains X57/X78/X69 pruning with zero data rewrites and no new
    * commit, through the one stats sidecar ([[ManifestTable.writeStatsSidecar]]);
    * the next commit carries the entries into the log. Default
    * column pick: every integral column (long bounds) + every string
    * column (lexicographic bounds); others skipped — X57 bounds are
    * integral by design. Sound under tombstones (bounds over the raw
    * files bound every subset). Returns the recorded stats.
    */
  def analyze(spark: SparkSession, dir: String,
      cols: Option[Seq[String]] = None): Seq[FileStats] = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    require(snap.files.nonEmpty, s"cannot analyze an empty table at $dir")
    val schema = spark.read.parquet(snap.files.map(f => s"$dir/$f"): _*).schema
    val pick = cols.getOrElse(schema.fields.map(_.name).toSeq)
    pick.foreach(c => require(schema.fieldNames.contains(c), s"no column '$c'"))
    val (numeric, strs) = boundable(schema, pick)
    require(numeric.nonEmpty || strs.nonEmpty,
      s"no integral or string columns among ${pick.mkString(",")}")
    // the sidecar replaces the version's entries: keep their Bloom filters
    val stats = statsFor(spark, dir, snap.files, numeric, strs).map(e =>
      e.copy(blooms = snap.stats.get(e.file).fold(Map.empty[String, String])(_.blooms)))
    ManifestTable.writeStatsSidecar(spark, dir, snap.version, stats)
    stats
  }

  /** `cols` of `schema` that zone maps bound: the integral ones (long
    * bounds) and the string ones (lexicographic bounds); others skipped.
    */
  private[lake] def boundable(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    (cols.filter(c => schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType => true
      case _ => false
    }), cols.filter(c => schema(c).dataType == StringType))
  }

  /** Retrying REPLACE from already-staged files with stats recorded. */
  def commitStagedWithStats(spark: SparkSession, dir: String, date: Int,
      time: Int, staged: Seq[String], statsCols: Seq[String],
      strCols: Seq[String] = Nil, op: String = "write",
      setCols: Seq[String] = Nil): Int =
    ManifestTable.commitStaged(spark, dir, date, time, staged,
      stats = statsFor(spark, dir, staged, statsCols, strCols, setCols), op = op)

  /** Commit `df` as the next version with zone-map stats on `statsCols`
    * (long-comparable columns) and `strCols` (string columns, X78 —
    * lexicographic bounds): stage, then [[commitStagedWithStats]].
    * Returns the committed version.
    */
  def commitWithStats(df: DataFrame, dir: String, date: Int, time: Int,
      statsCols: Seq[String], strCols: Seq[String] = Nil,
      op: String = "write", setCols: Seq[String] = Nil): Int =
    commitStagedWithStats(df.sparkSession, dir, date, time,
      ManifestTable.stageDataFiles(df, dir), statsCols, strCols, op, setCols)

  /** APPEND with zone maps on the appended files: one combinable pass
    * over ONLY the appended files; the carried files keep their entries
    * (verbatim — they are immutable). A parent WITHOUT stats degrades
    * gracefully: its files simply stay un-stats'd, and the
    * never-prune-without-evidence rule keeps them in scope while the new
    * files still skip. Bounded optimistic retry re-carries against the
    * new parent on a lost race.
    */
  def appendWithStats(df: DataFrame, dir: String, date: Int, time: Int,
      statsCols: Seq[String], strCols: Seq[String] = Nil): Int = {
    val staged = ManifestTable.stageDataFiles(df, dir)
    ManifestTable.appendStagedRetrying(df.sparkSession, dir, date, time, staged,
      stats = statsFor(df.sparkSession, dir, staged, statsCols, strCols))
  }

  /** The zone-map entries of `version`, sorted by file; None when it has
    * none.
    */
  def fileStats(spark: SparkSession, dir: String, version: Int): Option[Seq[FileStats]] =
    ManifestTable.snapshots(spark, dir).find(_.version == version)
      .map(_.stats.values.toSeq.sortBy(_.file)).filter(_.nonEmpty)

  /** Files of `version` whose `[lo, hi]` range on `column` intersects
    * `[lo, hi]` — the driver-side prune. A file without bounds on
    * `column` stays in scope (stats are an optimization, never required).
    */
  def candidateFiles(spark: SparkSession, dir: String, version: Int,
      column: String, lo: Long, hi: Long): Seq[String] =
    rangeCandidates(ManifestTable.snapshot(spark, dir, version), column, lo, hi)

  private def rangeCandidates(snap: ManifestTable.Snapshot, column: String,
      lo: Long, hi: Long): Seq[String] =
    snap.files.filter(f => snap.stats.get(f).forall(s =>
      !s.lo.contains(column) || (s.hi(column) >= lo && s.lo(column) <= hi)))

  /** `cand` of `snap` with tombstones applied and `pred` on top; an empty
    * `cand` reads the full version, for the right schema of an empty result.
    */
  private def scanPruned(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, cand: Seq[String], pred: Column): DataFrame =
    if (cand.isEmpty) ManifestTable.readVersion(spark, dir, snap.version).where(pred)
    // X64 tombstones still subtract on the pruned scan — zone maps narrow
    // the file list, never the delete semantics
    else DeleteVectors.applyTo(spark, dir, snap,
      graft.sources.Tables.cachedScan(spark, cand.map(f => s"$dir/$f"))).where(pred)

  /** Read `version` with `column BETWEEN lo AND hi`, scanning only the
    * files the zone map cannot rule out. The predicate is STILL applied —
    * pruning must be invisible.
    */
  def readRange(spark: SparkSession, dir: String, version: Int,
      column: String, lo: Long, hi: Long): DataFrame = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    scanPruned(spark, dir, snap, rangeCandidates(snap, column, lo, hi),
      col(column) >= lo && col(column) <= hi)
  }

  /** X78: read `version` with `column BETWEEN lo AND hi` on a STRING
    * column, scanning only files whose lexicographic bounds intersect —
    * the date-string/ULID pruning path. Same safety rules as [[readRange]]:
    * missing bounds keep a file in scope, and the predicate still applies.
    */
  def readRangeStr(spark: SparkSession, dir: String, version: Int,
      column: String, lo: String, hi: String): DataFrame = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    scanPruned(spark, dir, snap, snap.files.filter(f => snap.stats.get(f).forall(s =>
        !s.slo.contains(column) || (s.shi(column) >= lo && s.slo(column) <= hi))),
      col(column) >= lo && col(column) <= hi)
  }

  /** X168: files that can hold `column ∈ values`, judged by the per-file
    * DISTINCT-VALUE sets — the categorical skipping tier for equality/IN
    * probes where [lo, hi] ranges are structurally useless (a file
    * holding {'F','P'} has range [F, P] ⊇ 'O', so range pruning keeps it
    * for a status='O' probe the value set rules out). Files without a
    * recorded set for the column stay in scope — absence never prunes.
    */
  def candidateFilesEq(spark: SparkSession, dir: String, version: Int,
      column: String, values: Seq[String]): Seq[String] =
    eqCandidates(ManifestTable.snapshot(spark, dir, version), column, values)

  private def eqCandidates(snap: ManifestTable.Snapshot, column: String,
      values: Seq[String]): Seq[String] =
    snap.files.filter(f => snap.stats.get(f).flatMap(_.vals.get(column))
      .forall(_.exists(values.contains)))

  /** Read `version` with `column IN (values)`, scanning only files whose
    * value sets intersect. Same safety rules as [[readRange]]: the
    * predicate still applies, DV tombstones still subtract.
    */
  def readEq(spark: SparkSession, dir: String, version: Int,
      column: String, values: Seq[String]): DataFrame = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    scanPruned(spark, dir, snap, eqCandidates(snap, column, values),
      col(column).isin(values: _*))
  }

  /** X69 stats-only aggregates — the Iceberg/Delta "metadata query" trick:
    * `count(*)` (and range counts) answered from the entries' row counts,
    * scanning at most the files that STRADDLE the predicate boundary.
    * Row counts and bounds describe a file's raw rows, so on a version
    * with tombstones (X64) they answer nothing: `metaCount`/`metaMinMax`
    * return None and every unskipped file straddles.
    */

  /** Full-table `count(*)` from stats alone — zero data files opened.
    * None when any file lacks a row count (pre-X69 entries or no stats)
    * or the version has tombstones: degrade to scanning, never guess.
    */
  def metaCount(spark: SparkSession, dir: String, version: Int): Option[Long] = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    val counts = snap.files.map(f => snap.stats.get(f).fold(-1L)(_.rows))
    if (snap.deletes.nonEmpty || counts.exists(_ < 0)) None else Some(counts.sum)
  }

  /** Stats-only `(min, max)` of `column` — exact because zone-map bounds
    * are attained values (per-file min/max), unlike row counts they need
    * no boundary scan ever. None when any file lacks bounds for the
    * column, or a tombstone may have deleted the attaining row.
    */
  def metaMinMax(spark: SparkSession, dir: String, version: Int,
      column: String): Option[(Long, Long)] = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    val bounded = snap.files.flatMap(snap.stats.get).filter(_.lo.contains(column))
    if (snap.deletes.nonEmpty || snap.files.isEmpty ||
        bounded.size < snap.files.size) None
    else Some((bounded.map(_.lo(column)).min, bounded.map(_.hi(column)).max))
  }

  /** `(skip, inside, straddle)` classification of `version`'s files for
    * `column BETWEEN lo AND hi`. Files without usable stats classify as
    * straddling (scan — absence of evidence never prunes, X57 rule), and
    * so does every unskipped file of a version with tombstones.
    */
  def classifyRange(spark: SparkSession, dir: String, version: Int,
      column: String, lo: Long, hi: Long): (Seq[String], Seq[FileStats], Seq[String]) = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    val (skip, inside, straddle) = snap.files.foldLeft(
      (Vector.empty[String], Vector.empty[FileStats], Vector.empty[String])) {
      case ((sk, in, st), f) => snap.stats.get(f).filter(_.lo.contains(column)) match {
        case Some(s) if s.hi(column) < lo || s.lo(column) > hi => (sk :+ f, in, st)
        case Some(s) if s.rows >= 0 && snap.deletes.isEmpty &&
            lo <= s.lo(column) && s.hi(column) <= hi => (sk, in :+ s, st)
        case _ => (sk, in, st :+ f)
      }
    }
    (skip, inside, straddle)
  }

  /** `count(*) WHERE column BETWEEN lo AND hi`: fully-inside files answer
    * from their stats row counts; only straddling files are scanned, with
    * the version's tombstones applied.
    * Returns `(count, files scanned)`.
    */
  def countRange(spark: SparkSession, dir: String, version: Int,
      column: String, lo: Long, hi: Long): (Long, Int) = {
    val (_, inside, straddle) = classifyRange(spark, dir, version, column, lo, hi)
    val boundary =
      if (straddle.isEmpty) 0L
      else scanPruned(spark, dir, ManifestTable.snapshot(spark, dir, version), straddle,
        col(column) >= lo && col(column) <= hi).count()
    (inside.map(_.rows).sum + boundary, straddle.size)
  }

  /** Fixture predicate: the middle fifth of the orderkey space. */
  private[lake] def keyBounds(s: SparkSession, d: String): (Long, Long) = {
    val mx = Tables.orders(s, d).agg(max("o_orderkey")).head.getLong(0)
    (2 * mx / 5, 3 * mx / 5)
  }

  /** Range-clustered stats commit shared by `q_stats_prune`/`q_meta_count`. */
  private def prunedCommitDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("zonemap_prune", d) { dir =>
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
      commitWithStats(o, dir, 20250401, 900, Seq("o_orderkey"))
    }

  val queries: Map[String, Q] = Map(
    // X134: stats maintained ACROSS APPENDS — low half committed with
    // zone maps, high half appended with them; a band read over the
    // appended range through format("graft") still prunes (pinned in
    // ZoneMapSpec), and pruning stays invisible vs the plain-SQL band.
    "q_append_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit, max}
      val dir = graft.util.FixtureCache.dir("zappend", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice")
        val mid = o.agg(max("o_orderkey")).head.getAs[Number](0).longValue() / 2
        commitWithStats(o.where(col("o_orderkey") <= mid)
          .repartitionByRange(4, col("o_orderkey")), dir, 20250901, 900,
          statsCols = Seq("o_orderkey"))
        appendWithStats(o.where(col("o_orderkey") > mid)
          .repartitionByRange(4, col("o_orderkey")), dir, 20250901, 1000,
          statsCols = Seq("o_orderkey"))
      }
      val maxKey = graft.sources.Tables.orders(s, d).agg(max("o_orderkey"))
        .head.getAs[Number](0).longValue()
      s.read.format("graft").load(dir)
        .where(col("o_orderkey").between(maxKey * 5 / 8, maxKey * 3 / 4))
        .agg(count(lit(1)).as("n_rows"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"))
    }),

    // Range-clustered commit + zone-map-pruned range read; the oracle is
    // the plain table with the same BETWEEN — pruning must be invisible.
    "q_stats_prune" -> ((s, d) => {
      val dir = prunedCommitDir(s, d)
      val (lo, hi) = keyBounds(s, d)
      readRange(s, dir, 1, "o_orderkey", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_total"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
    }),

    // X78: string zone maps — orders clustered by a yyyy-MM-dd date
    // string, pruned BETWEEN two data-derived date strings (middle
    // quarter-to-half of the span, exact integer epoch arithmetic both
    // engines). The oracle is the plain table with the same predicate —
    // lexicographic pruning must be invisible.
    // X168: categorical value-set skipping — orders clustered on is-'O',
    // so the non-O files hold the NON-CONTIGUOUS status set {F, P} whose
    // lexicographic range [F, P] spans the 'O' they lack: the X78 string
    // bounds cannot prune the status='O' probe but the per-file
    // distinct-value sets can (the beats-ranges comparison ZoneMapSpec
    // pins). Pruning must stay invisible: the oracle is the plain table
    // with the same IN predicates.
    "q_cat_prune" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("zonemap_cat", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .withColumn("__m", when(col("o_orderstatus") === "O", 1).otherwise(0))
          .repartitionByRange(8, col("__m"), col("o_custkey"))
          .drop("__m")
        commitWithStats(o, dir, 20250401, 900, Seq("o_orderkey"),
          strCols = Seq("o_orderstatus"), setCols = Seq("o_orderstatus"))
      }
      Seq("O" -> Seq("O"), "FP" -> Seq("F", "P")).map { case (tag, vals) =>
        readEq(s, dir, 1, "o_orderstatus", vals)
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .withColumn("probe", lit(tag))
      }.reduce(_ unionByName _).select("probe", "n", "sum_price").orderBy("probe")
    }),

    "q_str_prune" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("zonemap_str", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"))
          .repartitionByRange(8, col("d_str"))
        commitWithStats(o, dir, 20250401, 900, Nil, strCols = Seq("d_str"))
      }
      // o_orderdate is TIMESTAMP_NTZ; the UTC session timezone makes the
      // cast a pure reinterpretation, matching DuckDB's naive epoch_us
      val mm = Tables.orders(s, d)
        .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("mn"),
          max(unix_micros(col("o_orderdate").cast("timestamp"))).as("mx")).head()
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      def dstr(us: Long) =
        java.time.Instant.ofEpochSecond(us / 1000000).atZone(java.time.ZoneOffset.UTC)
          .toLocalDate.toString
      val (lo, hi) = (dstr(mn + (mx - mn) / 4), dstr(mn + (mx - mn) / 2))
      readRangeStr(s, dir, 1, "d_str", lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_total"),
          min("d_str").as("first_day"),
          max("d_str").as("last_day"))
    }),

    // X69: the full count comes from stats alone (zero files opened) and
    // the range count scans only boundary-straddling files — both must
    // equal the plain scans the oracle runs (ZoneMapSpec pins the actual
    // file-open counts; here only the answers are observable).
    "q_meta_count" -> ((s, d) => {
      import s.implicits._
      val dir = prunedCommitDir(s, d)
      val (lo, hi) = keyBounds(s, d)
      val full = metaCount(s, dir, 1).getOrElse(
        sys.error(s"zone-map stats missing at $dir"))
      val (rangeCnt, _) = countRange(s, dir, 1, "o_orderkey", lo, hi)
      Seq(("full", full), ("range", rangeCnt)).toDF("scope", "n_rows")
        .orderBy("scope")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_append_stats" ->
      """WITH b AS (SELECT CAST(max(o_orderkey) * 5 // 8 AS BIGINT) AS lo,
        |                  CAST(max(o_orderkey) * 3 // 4 AS BIGINT) AS hi FROM orders)
        |SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders, b WHERE o_orderkey BETWEEN b.lo AND b.hi""".stripMargin,

    "q_stats_prune" ->
      """SELECT count(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey >= (SELECT 2 * max(o_orderkey) // 5 FROM orders)
        |  AND o_orderkey <= (SELECT 3 * max(o_orderkey) // 5 FROM orders)""".stripMargin,
    "q_cat_prune" ->
      """SELECT * FROM (
        |  SELECT 'FP' AS probe, count(*) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderstatus IN ('F', 'P')
        |  UNION ALL
        |  SELECT 'O', count(*),
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderstatus = 'O'
        |) ORDER BY probe""".stripMargin,

    "q_str_prune" ->
      """WITH mm AS (
        |  SELECT epoch_us(min(o_orderdate)) AS mn, epoch_us(max(o_orderdate)) AS mx
        |  FROM orders),
        |b AS (
        |  SELECT strftime(make_timestamp(mn + (mx - mn) // 4), '%Y-%m-%d') AS lo,
        |         strftime(make_timestamp(mn + (mx - mn) // 2), '%Y-%m-%d') AS hi
        |  FROM mm)
        |SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
        |       max(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
        |FROM orders, b
        |WHERE strftime(o_orderdate, '%Y-%m-%d') BETWEEN b.lo AND b.hi""".stripMargin,
    "q_meta_count" ->
      """SELECT * FROM (
        |  SELECT 'full' AS scope, count(*) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT 'range', count(*) FROM orders
        |  WHERE o_orderkey >= (SELECT 2 * max(o_orderkey) // 5 FROM orders)
        |    AND o_orderkey <= (SELECT 3 * max(o_orderkey) // 5 FROM orders)
        |) ORDER BY scope""".stripMargin,
  )
}

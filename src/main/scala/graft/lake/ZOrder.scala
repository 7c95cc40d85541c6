package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Z-order (Morton) clustering for multi-dimensional data skipping (X48)
  * — the other half of lake maintenance beside compaction (X32): rewrite
  * a table so per-file min/max statistics are selective on SEVERAL
  * columns at once. A linear sort makes skipping perfect on its leading
  * column and useless on every other; interleaving the bits of the
  * columns' normalized ranks bounds every file to a small hyper-rectangle
  * of the value space, so a predicate on ANY clustered column prunes most
  * files (the standard warehouse OPTIMIZE ZORDER BY).
  *
  * Spark-native shape: the z-value is a pure column expression (bit
  * interleave of two 16-bit normalized buckets — shifts/masks, fully
  * codegen'd), the layout is `repartitionByRange(zv)` +
  * `sortWithinPartitions(zv)` — one range shuffle, the same cost class as
  * the linear sort it replaces. Normalization bounds come from one
  * min/max aggregate (driver-side scalars; at production scale, catalog
  * stats).
  */
object ZOrder extends graft.QueryModule {
  val bits = 16

  /** Bucket a numeric column to [0, 2^b) given its min/max. */
  private def bucket(c: Column, lo: Double, hi: Double,
      b: Int = bits): Column = {
    val span = if (hi > lo) hi - lo else 1.0
    least(lit((1L << b) - 1),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(1L << b)).cast("long"))
  }

  /** Morton interleave of two bucketed columns: x in even bit positions,
    * y in odd — a fold of shifts and masks, all inside codegen.
    */
  def zValue(x: Column, y: Column): Column = zValueN(Seq(x, y))

  /** Bits per dimension for a d-column interleave: the composite must
    * stay inside a long's 63 value bits; 16 matches the historical
    * 2-column constant exactly (bit-compatible — X106's committed
    * layouts and specs are unchanged).
    */
  def bitsPerDim(d: Int): Int = math.min(bits, 62 / d)

  /** X197 — Morton interleave of d bucketed columns (column j at bit
    * positions `d·i + j`): the n-dimensional generalization, still one
    * codegen'd shift/mask fold. Locality degrades gracefully with d
    * (each dimension keeps 62/d bits of resolution once d > 3) — the
    * standard multi-column ZORDER trade, same as Delta's.
    */
  def zValueN(cols: Seq[Column]): Column = {
    val d = cols.size
    require(d >= 1, "zValueN needs at least one column")
    val bpd = bitsPerDim(d)
    (0 until bpd).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), d * i + j))
      }
    }
  }

  /** Rewrite `df` z-ordered on two numeric columns into `nFiles` files at
    * `dir`. Returns the (lo, hi) bounds used per column.
    */
  def writeZOrdered(df: DataFrame, dir: String, c1: String, c2: String,
      nFiles: Int): ((Double, Double), (Double, Double)) = {
    val r = df.agg(
      min(col(c1).cast("double")), max(col(c1).cast("double")),
      min(col(c2).cast("double")), max(col(c2).cast("double"))).first()
    val (lo1, hi1, lo2, hi2) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val zv = zValue(bucket(col(c1), lo1, hi1), bucket(col(c2), lo2, hi2))
    df.withColumn("__zv", zv)
      .repartitionByRange(nFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(dir)
    ((lo1, hi1), (lo2, hi2))
  }

  /** OPTIMIZE ZORDER BY as a manifest commit (X106): fold the latest
    * version — tombstones applied — into `nFiles` z-clustered files,
    * committed atomically with fresh X57 zone-map entries and
    * `op = "optimize"`, the same content-preservation contract as X64's
    * materialize (X75 feed consumers skip the step without reading either
    * version; time travel to the fragmented parent still works; X61 can
    * later reclaim the old files). This is the warehouse maintenance
    * loop: ingest fragments + deletes accumulate → one background
    * OPTIMIZE restores multi-dimensional skipping, readers never notice.
    */
  def optimize(spark: SparkSession, dir: String, c1: String, c2: String,
      nFiles: Int, date: Int, time: Int): Int =
    optimizeN(spark, dir, Seq(c1, c2), nFiles, date, time)

  /** X197 — multi-column `OPTIMIZE ZORDER BY (c1, …, cn)`: the X106
    * commit with the n-dimensional interleave. One bounds aggregate
    * (2n combinable min/max), one range-partitioned rewrite, fresh X57
    * stats on every clustered dimension.
    */
  def optimizeN(spark: SparkSession, dir: String, cs: Seq[String],
      nFiles: Int, date: Int, time: Int): Int = {
    require(cs.nonEmpty, "ZORDER BY needs at least one column")
    val v = ManifestTable.latestVersion(spark, dir).getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    val cur = ManifestTable.readVersion(spark, dir, v)
    val aggs = cs.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = cur.agg(aggs.head, aggs.tail: _*).first()
    val bpd = bitsPerDim(cs.size)
    val zv = zValueN(cs.zipWithIndex.map { case (c, j) =>
      bucket(col(c), r.getDouble(2 * j), r.getDouble(2 * j + 1), bpd) })
    val clustered = cur.withColumn("__zv", zv)
      .repartitionByRange(nFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
    ZoneMap.commitWithStats(clustered, dir, date, time,
      statsCols = cs, op = "optimize")
  }

  /** Plain bin-packing OPTIMIZE (extension X129) — compaction as an
    * atomic table commit, no clustering dimension needed: fold the
    * latest version (tombstones applied) into `ceil(bytes / targetBytes)`
    * files sized from the version's OWN manifest-listed footprint, with
    * `op = "optimize"` and the X64 materialize content contract (X75
    * feed consumers skip it from metadata, time travel to the fragmented
    * parent still works, X61 reclaims the old files later). The everyday
    * maintenance loop for streaming sinks and micro-appends, which
    * produce one small file per batch; X106 is the same commit WITH
    * z-clustering when there is a filter dimension worth serving.
    * `onlyIfMoreThan` makes it a cheap idempotent policy: a table
    * already at-or-under the file budget commits nothing. The rewrite is
    * derived from the version it read, so it makes one attempt: a
    * concurrent commit fails it with [[LostRace]].
    */
  def binPack(spark: SparkSession, dir: String, targetBytes: Long,
      date: Int, time: Int, onlyIfMoreThan: Int = 0): Option[Int] = {
    val snaps = ManifestTable.snapshots(spark, dir)
    val latest = snaps.lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    if (latest.files.size <= onlyIfMoreThan) return None
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = latest.files.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (latest.files.size <= n) return None // already packed to budget
    val folded = ManifestTable.readVersion(spark, dir, latest.version)
      .repartition(n)
    val files = ManifestTable.stageDataFiles(folded, dir)
    Some(ManifestTable.commitOnce(spark, dir, Some(latest), date, time, files, "optimize"))
  }

  /** X196 — banded bin-packing (`OPTIMIZE … WHERE col BETWEEN lo AND
    * hi`, Delta's partition-predicate OPTIMIZE): compact ONLY the files
    * whose X57 zone-map range intersects the band — on a 100 TB table
    * where today's ingest fragmented one day, maintenance touches that
    * day's files and nothing else. Out-of-band files are RETAINED BY
    * REFERENCE with their stats entries carried verbatim (the X172/Cow
    * tail); a file without stats evidence is conservatively IN scope
    * (absence degrades, never lies). Tombstones on rewritten files fold
    * in (their sidecar entries become dangling-but-harmless — the X194
    * invariant); retained files keep theirs live. Returns None (no
    * commit) when the band holds ≤ 1 file or is already within budget —
    * idempotent maintenance, like [[binPack]].
    */
  def binPackWhere(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long, targetBytes: Long, date: Int,
      time: Int): Option[Int] =
    binPackBand(spark, dir, targetBytes, date, time) { st =>
      if (st.lo.contains(column)) !(st.hi(column) < lo || st.lo(column) > hi)
      else true // no evidence -> in scope
    }

  /** X220 — the STRING form of the banded pack: the band intersects via
    * the X78 lexicographic bounds instead of the X57 numeric ones (the
    * `q_replace_where_str` precedent applied to maintenance) — a 100 TB
    * table clustered by a date STRING compacts one day's fragmentation
    * by `WHERE day BETWEEN '2025-09-01' AND '2025-09-01'`.
    */
  def binPackWhereStr(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, targetBytes: Long, date: Int,
      time: Int): Option[Int] =
    binPackBand(spark, dir, targetBytes, date, time) { st =>
      if (st.slo.contains(column)) !(st.shi(column) < lo || st.slo(column) > hi)
      else true // no evidence -> in scope
    }

  private def binPackBand(spark: SparkSession, dir: String,
      targetBytes: Long, date: Int, time: Int)(
      inScope: ZoneMap.FileStats => Boolean): Option[Int] = {
    val latest = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    val (in, out) = latest.files.partition { f =>
      latest.stats.get(f).forall(inScope) // no stats -> in scope
    }
    if (in.size <= 1) return None
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = in.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (in.size <= n) return None // the band is already within budget
    val folded = DeleteVectors.applyTo(spark, dir, latest,
        graft.sources.Tables.cachedScan(spark, in.map(f => s"$dir/$f")))
      .repartition(n)
    val staged = ManifestTable.stageDataFiles(folded, dir)
    Some(Cow.commit(spark, dir, latest, out, staged, date, time, "optimize"))
  }

  /** Per-file fraction of each dimension's span covered — the skipping
    * quality metric ZOrderSpec compares against a linear sort (smaller
    * product = tighter hyper-rectangle = more files pruned per filter).
    */
  def fileLocality(spark: SparkSession, dir: String, c1: String,
      c2: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(
        min(col(c1)).as("min1"), max(col(c1)).as("max1"),
        min(col(c2)).as("min2"), max(col(c2)).as("max2"))

  val queries: Map[String, Q] = Map(
    // X129: fragment orders into 32 files, tombstone a seventh, bin-pack
    // to one file — content identical to the tombstoned parent (folded,
    // no DV left), maintenance invisible to readers, idempotent re-run
    // commits nothing (n_versions pins 3).
    "q_binpack" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = graft.util.FixtureCache.dir("binpack_tl", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice").repartition(32)
        ManifestTable.commit(o, dir, 20250901, 900)
        DeleteVectors.deleteWhere(s, dir, col("o_orderkey") % 7 === 3,
          20250901, 1000)
        binPack(s, dir, targetBytes = Long.MaxValue / 4, 20250901, 1100)
        binPack(s, dir, targetBytes = Long.MaxValue / 4, 20250901, 1200) // no-op
      }
      val snaps = ManifestTable.snapshots(s, dir)
      ManifestTable.readLatest(s, dir)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_files", lit(snaps.last.files.size))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("n_versions", lit(snaps.size))
    }),

    // Clustering must be invisible to readers: the z-ordered rewrite of
    // orders returns exactly the table (plain-scan oracle, like X32's
    // compaction). The skipping benefit itself is pinned in ZOrderSpec,
    // where layouts are compared file-by-file.
    "q_zorder_roundtrip" -> ((s, d) => {
      val dir = graft.util.Scratch.dir("zorder")
      writeZOrdered(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        dir, "o_custkey", "o_totalprice", 16)
      s.read.parquet(dir).orderBy("o_orderkey")
    }),
    // OPTIMIZE as a commit (X106): fragmented ingest + a delete, then one
    // optimize; the latest content and a zone-pruned band read must both
    // equal the predicate-rebuilt oracle — maintenance is invisible to
    // readers (the skipping gain + feed skip are pinned in ZOrderSpec).
    "q_optimize" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = graft.util.FixtureCache.dir("optimize_fx", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice").repartition(16)
        ManifestTable.commit(o, dir, 20250701, 900)
        DeleteVectors.deleteWhere(s, dir, col("o_orderkey") % 9 === 4, 20250701, 1000)
        optimize(s, dir, "o_custkey", "o_orderkey", 16, 20250701, 1100)
      }
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_total"))
      agg("all", ManifestTable.readLatest(s, dir))
        .unionByName(agg("band",
          ZoneMap.readRange(s, dir, 3, "o_custkey", 400L, 600L)))
        .orderBy("probe")
    }),

    // X197: three-dimension ZORDER from pure SQL — content invisible
    // (the whole-orders oracle), every clustered dimension band-readable
    // through its fresh stats, maintenance ledgered
    "q_zorder_nd" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = graft.util.FixtureCache.dir("zorder_nd", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
          .repartition(16)
        ManifestTable.commit(o, dir, 20250701, 900)
        graft.spark.GraftDml.extSession(s).sql(
          s"OPTIMIZE '$dir' ZORDER BY (o_custkey, o_orderkey, o_totalprice) " +
            "TARGET 1000000 BYTES AT 20250701 1000")
      }
      val snaps = ManifestTable.snapshots(s, dir)
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_total"))
      agg("all", ManifestTable.readLatest(s, dir))
        .unionByName(agg("band",
          ZoneMap.readRange(s, dir, 2, "o_custkey", 400L, 600L)))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("n_versions", lit(snaps.size))
        .orderBy("probe")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_zorder_nd" ->
      """SELECT * FROM (
        |  SELECT 'all' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |         'optimize' AS last_op, CAST(2 AS INT) AS n_versions
        |  FROM orders
        |  UNION ALL
        |  SELECT 'band', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |         'optimize', CAST(2 AS INT)
        |  FROM orders WHERE o_custkey BETWEEN 400 AND 600
        |) ORDER BY probe""".stripMargin,
    "q_binpack" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(1 AS INT) AS n_files, 'optimize' AS last_op,
        |       CAST(3 AS INT) AS n_versions
        |FROM orders WHERE o_orderkey % 7 <> 3""".stripMargin,

    "q_zorder_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_optimize" ->
      """SELECT * FROM (
        |  SELECT 'all' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderkey % 9 <> 4
        |  UNION ALL
        |  SELECT 'band', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 9 <> 4 AND o_custkey BETWEEN 400 AND 600
        |) ORDER BY probe""".stripMargin,
  )
}

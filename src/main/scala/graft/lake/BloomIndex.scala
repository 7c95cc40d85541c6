package graft.lake

import java.io.ByteArrayInputStream
import java.util.Base64

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods

import graft.sources.Tables

/** Per-file Bloom index on manifest commits (X81) — the point-lookup
  * complement to X57's zone maps. Zone maps prune RANGE predicates and
  * only when the file layout is clustered on the predicate column; a
  * primary-key lookup against a table clustered by time (the layout
  * every event/orders table actually has) finds every file's [min, max]
  * straddling the key and scans the world. A few-KB Bloom filter per
  * file answers "might this file contain key x?" regardless of layout —
  * Parquet added exactly this as its column bloom filters. A commit's
  * filters go into ONE `_blooms.json` (file name → base64) in its
  * writer-unique staging dir, named by each file's manifest entry
  * ([[ZoneMap.FileStats]]' `blooms`): no footer round-trips, one small
  * GET per filtered commit, and the filters share their files' lifetime
  * while the manifest every later commit rewrites carries only a path.
  *
  * Build shape: ONE distributed aggregate over the staged files,
  * `groupBy(_metadata.file_path).agg(bloom_filter_agg(xxhash64(key)))` —
  * Spark's own `BloomFilterAggregate` (combinable, map-side partials),
  * the same native machinery X36 uses for the runtime semi-join filter.
  * Driver traffic is one serialized filter per file, sized from the
  * staged row counts and capped, same class of payload as the zone-map
  * entries themselves.
  *
  * Read shape: decode the version's filters, test each lookup key
  * against each file's filter driver-side, scan only files some key
  * might live in — with the predicate STILL applied, so a Bloom false
  * positive costs a wasted scan, never a wrong row, and pruning is
  * invisible (`q_bloom_prune`'s plain-table oracle). A file without a
  * filter stays in scope — absence of evidence never prunes (X57 rule).
  * False NEGATIVES cannot happen: the filter is built from the staged
  * data itself with the same type-normalized xxhash64 on both paths
  * (the X36 lesson: hash-normalize integrals to long before hashing).
  */
object BloomIndex extends graft.QueryModule {

  /** Hash seed shared by build and probe (and by X36). */
  private val Seed = 42L

  /** Cap per-file filter size (1 MiB of bits) — an overestimated row
    * count degrades to a bounded entry, never an unbounded allocation.
    */
  val MaxBitsPerFile: Long = 8388608L

  private def hashCol(c: Column): Column =
    GraftShim.column(XxHash64(Seq(GraftShim.expression(c)), Seed))

  /** Driver-side twin of [[hashCol]] for probing. */
  private def hashValue(v: Long): Long =
    XxHash64(Seq(Literal(v)), Seed).eval(InternalRow.empty).asInstanceOf[Long]

  /** Commit `df` as the next version with a per-file Bloom index on
    * `bloomCol` (an integral key column, hashed as long): stage, build
    * one filter per staged file into the staging dir's `_blooms.json`,
    * and publish through the retrying replace with each file's entry
    * naming it. Returns the version.
    */
  def commitWithBloom(df: DataFrame, dir: String, date: Int, time: Int,
      bloomCol: String, fpp: Double = 0.01): Int = {
    val spark = df.sparkSession
    val files = ManifestTable.stageDataFiles(df, dir)
    val staged = spark.read.parquet(files.map(f => s"$dir/$f"): _*)
    // Size filters from the staged data itself: rows per file upper-bounds
    // the file's distinct keys. One cheap count over just-written files.
    val perFile = math.max(staged.count() / math.max(files.size, 1), 1L)
    val numBits = math.min(MaxBitsPerFile,
      BloomFilter.optimalNumOfBits(perFile, fpp))
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(
        GraftShim.expression(hashCol(col(bloomCol).cast("long"))),
        Literal(perFile), Literal(numBits)).toAggregateExpression())

    val filters = staged
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(bloomAgg.as("bloom"))
      .collect() // one filter per staged file — driver-sized by construction
      .map(r => name(r.getAs[String]("file_path")) ->
        Base64.getEncoder.encodeToString(r.getAs[Array[Byte]]("bloom")))
      .toMap
    val rel = s"${files.head.split('/').dropRight(1).mkString("/")}/_blooms.json"
    val out = ManifestTable.fsFor(spark, dir).create(new Path(s"$dir/$rel"), false)
    try out.write(JsonMethods.compact(JsonMethods.render(
      Extraction.decompose(filters)(DefaultFormats))).getBytes("UTF-8"))
    finally out.close()
    ManifestTable.commitStaged(spark, dir, date, time, files, stats = files
      .filter(f => filters.contains(name(f)))
      .map(ZoneMap.FileStats(_, Map.empty, Map.empty, blooms = Map(bloomCol -> rel))))
  }

  private def name(file: String): String = file.split('/').last

  /** The base64 Bloom filters on `column` of `snap`'s files, keyed by
    * file (a file without one is absent), reading each named filters
    * file once.
    */
  def fileBlooms(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, column: String): Map[String, String] = {
    val named = snap.files.flatMap(f =>
      snap.stats.get(f).flatMap(_.blooms.get(column)).map(f -> _))
    implicit val fmts: Formats = DefaultFormats
    val fs = ManifestTable.fsFor(spark, dir)
    val read = named.map(_._2).distinct.map(rel => rel -> JsonMethods.parse(
      ManifestTable.readText(fs, new Path(s"$dir/$rel"))).extract[Map[String, String]]).toMap
    named.flatMap { case (f, rel) => read(rel).get(name(f)).map(f -> _) }.toMap
  }

  /** Files of `snap` that might contain ANY of `keys` in `column` per
    * their Bloom filters; a file without a filter on `column` stays in
    * scope.
    */
  private def candidates(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, column: String,
      keys: Seq[Long]): Seq[String] = {
    val hashes = keys.map(hashValue)
    val filters = fileBlooms(spark, dir, snap, column)
    snap.files.filter(f => filters.get(f).forall { b64 =>
      val filter = BloomFilter.readFrom(
        new ByteArrayInputStream(Base64.getDecoder.decode(b64)))
      hashes.exists(filter.mightContainLong)
    })
  }

  /** Files of `version` that might contain ANY of `keys` in `column`. */
  def candidateFilesIn(spark: SparkSession, dir: String, version: Int,
      column: String, keys: Seq[Long]): Seq[String] =
    candidates(spark, dir, ManifestTable.snapshot(spark, dir, version), column, keys)

  /** Read `version` with `column IN keys`, scanning only files the Bloom
    * index cannot rule out. The predicate is STILL applied — pruning must
    * be invisible — and X64 tombstones still subtract on the pruned scan.
    */
  def readIn(spark: SparkSession, dir: String, version: Int,
      column: String, keys: Seq[Long]): DataFrame = {
    val snap = ManifestTable.snapshot(spark, dir, version)
    val cand = candidates(spark, dir, snap, column, keys)
    val pred: Column = col(column).cast("long").isin(keys: _*)
    if (cand.isEmpty) ManifestTable.readVersion(spark, dir, version).where(pred)
    else DeleteVectors.applyTo(spark, dir, snap,
      graft.sources.Tables.cachedScan(spark, cand.map(f => s"$dir/$f"))).where(pred)
  }

  /** Time-clustered commit with a Bloom index on the primary key — the
    * layout/lookup mismatch zone maps can't prune.
    */
  private def bloomCommitDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("bloomindex_prune", d) { dir =>
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
      commitWithBloom(o, dir, 20250501, 900, "o_orderkey")
    }

  /** Data-derived lookup keys present at every sf (orderkeys are dense
    * from 0): `i·max/7` for i = 1..5.
    */
  private[lake] def lookupKeys(s: SparkSession, d: String): Seq[Long] = {
    val mx = Tables.orders(s, d).agg(max("o_orderkey")).head.getLong(0)
    (1 to 5).map(i => i * mx / 7)
  }

  val queries: Map[String, Q] = Map(
    // Point lookups by primary key against a date-clustered commit; the
    // oracle is the plain table with the same IN — Bloom pruning must be
    // invisible. BloomIndexSpec pins that files were actually skipped.
    "q_bloom_prune" -> ((s, d) => {
      val dir = bloomCommitDir(s, d)
      readIn(s, dir, 1, "o_orderkey", lookupKeys(s, d))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_bloom_prune" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT i * (SELECT max(o_orderkey) FROM orders) // 7
        |  FROM (SELECT unnest(range(1, 6)) AS i))
        |ORDER BY o_orderkey""".stripMargin,
  )
}

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
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Tables

/** Per-file Bloom index on manifest commits (X81) — the point-lookup
  * complement to X57's zone maps. Zone maps prune RANGE predicates and
  * only when the file layout is clustered on the predicate column; a
  * primary-key lookup against a table clustered by time (the layout
  * every event/orders table actually has) finds every file's [min, max]
  * straddling the key and scans the world. A few-KB Bloom filter per
  * file answers "might this file contain key x?" regardless of layout —
  * Parquet added exactly this as its column bloom filters; keeping them
  * in the MANIFEST sidecar (like Iceberg puts them in puffin files)
  * means planning stays metadata-only: no footer round-trips, no file
  * opens, at object-store latency the difference between one GET of a
  * small sidecar and one GET per file.
  *
  * Build shape: ONE distributed aggregate over the staged files,
  * `groupBy(_metadata.file_path).agg(bloom_filter_agg(xxhash64(key)))` —
  * Spark's own `BloomFilterAggregate` (combinable, map-side partials),
  * the same native machinery X36 uses for the runtime semi-join filter.
  * Driver traffic is one serialized filter per file, sized from the
  * staged row counts and capped, same class of payload as the zone-map
  * sidecar itself.
  *
  * Read shape: deserialize the (tiny) sidecar, test each lookup key
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

  /** One file's serialized Bloom filter for `column` (base64 in the
    * sidecar JSON; the bytes are `BloomFilter.writeTo` format, readable
    * by `BloomFilter.readFrom`).
    */
  case class FileBloom(file: String, column: String, b64: String)

  private def bloomName(version: Int) = f"v$version%08d.bloom.json"
  private def bloomPath(dir: String, version: Int) =
    new Path(s"$dir/_manifests", bloomName(version))

  /** Hash seed shared by build and probe (and by X36). */
  private val Seed = 42L

  /** Cap per-file filter size (1 MiB of bits) — an overestimated row
    * count degrades to a bounded sidecar, never an unbounded allocation.
    */
  val MaxBitsPerFile: Long = 8388608L

  private def hashCol(c: Column): Column =
    GraftShim.column(XxHash64(Seq(GraftShim.expression(c)), Seed))

  /** Driver-side twin of [[hashCol]] for probing. */
  private def hashValue(v: Long): Long =
    XxHash64(Seq(Literal(v)), Seed).eval(InternalRow.empty).asInstanceOf[Long]

  /** Commit `df` as the next version with a per-file Bloom index on
    * `bloomCol` (an integral key column, hashed as long). Commit order:
    * data files → bloom sidecar → manifest rename (the rename stays the
    * single commit point, ManifestSpec semantics). Returns the version.
    */
  def commitWithBloom(df: DataFrame, dir: String, date: Int, time: Int,
      bloomCol: String, fpp: Double = 0.01): Int = {
    val spark = df.sparkSession
    val version = ManifestTable.latestVersion(spark, dir).getOrElse(0) + 1
    val files = ManifestTable.writeDataFiles(df, dir, version)

    val staged = spark.read.parquet(f"$dir/data/v$version%08d")
    // Size filters from the staged data itself: rows per file upper-bounds
    // the file's distinct keys. One cheap count over just-written files.
    val perFile = math.max(staged.count() / math.max(files.size, 1), 1L)
    val numBits = math.min(MaxBitsPerFile,
      BloomFilter.optimalNumOfBits(perFile, fpp))
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(
        GraftShim.expression(hashCol(col(bloomCol).cast("long"))),
        Literal(perFile), Literal(numBits)).toAggregateExpression())

    val rows = staged
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(bloomAgg.as("bloom"))
      .collect() // one filter per staged file — driver-sized by construction

    val blooms = rows.map { r =>
      val name = r.getAs[String]("file_path").split('/').last
      val rel = files.find(_.endsWith(name)).getOrElse(
        throw new IllegalStateException(s"staged file $name missing from listing"))
      FileBloom(rel, bloomCol,
        Base64.getEncoder.encodeToString(r.getAs[Array[Byte]]("bloom")))
    }.toSeq.sortBy(_.file)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val json = blooms.map(b =>
      s"""{"file": "${b.file}", "column": "${b.column}", "b64": "${b.b64}"}""")
      .mkString("[", ",\n ", "]")
    val out = fs.create(bloomPath(dir, version), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()

    ManifestTable.commitManifest(spark, dir, version, date, time, files)
    version
  }

  /** The bloom sidecar for `version`, if one was written. */
  def fileBlooms(spark: SparkSession, dir: String, version: Int): Option[Seq[FileBloom]] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = bloomPath(dir, version)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    implicit val fmts: Formats = DefaultFormats
    Some(JsonMethods.parse(text).extract[Seq[FileBloom]])
  }

  /** Files of `version` that might contain ANY of `keys` in `column`
    * per the Bloom sidecar. Files without a filter for `column` stay in
    * scope; no sidecar → all files.
    */
  def candidateFilesIn(spark: SparkSession, dir: String, version: Int,
      column: String, keys: Seq[Long]): Seq[String] = {
    val all = ManifestTable.snapshots(spark, dir).find(_.version == version)
      .getOrElse(throw new NoSuchElementException(s"no version $version at $dir"))
      .files
    fileBlooms(spark, dir, version) match {
      case None => all
      case Some(blooms) =>
        val hashes = keys.map(hashValue)
        val indexed = blooms.filter(_.column == column)
        val hit = indexed.filter { fb =>
          val filter = BloomFilter.readFrom(
            new ByteArrayInputStream(Base64.getDecoder.decode(fb.b64)))
          hashes.exists(filter.mightContainLong)
        }.map(_.file)
        val known = indexed.map(_.file).toSet
        hit ++ all.filterNot(known.contains)
    }
  }

  /** Read `version` with `column IN keys`, scanning only files the Bloom
    * index cannot rule out. The predicate is STILL applied — pruning must
    * be invisible — and X64 tombstones still subtract on the pruned scan.
    */
  def readIn(spark: SparkSession, dir: String, version: Int,
      column: String, keys: Seq[Long]): DataFrame = {
    val cand = candidateFilesIn(spark, dir, version, column, keys)
    val pred: Column = col(column).cast("long").isin(keys: _*)
    if (cand.isEmpty) {
      ManifestTable.readVersion(spark, dir, version).where(pred)
    } else {
      val snap = ManifestTable.snapshots(spark, dir).find(_.version == version).get
      DeleteVectors.applyTo(spark, dir, snap,
        graft.sources.Tables.cachedScan(spark, cand.map(f => s"$dir/$f"))).where(pred)
    }
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

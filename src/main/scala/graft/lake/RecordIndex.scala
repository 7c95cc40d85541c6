package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** X166: Record-level index — Hudi's record index / HBase-index shape: a
  * secondary structure mapping KEY → (file, row position), maintained at
  * commit time, answering the two questions file-level pruning (X57 zone
  * maps, X81 Blooms) cannot:
  *
  *  - POINT LOOKUP with zero false positives: exactly the files and
  *    positions holding the requested keys, whatever column the layout
  *    is clustered on;
  *  - UPSERT ROUTING: for an incoming batch, WHICH files must a
  *    copy-on-write rewrite touch (the X31 merge accelerator — without
  *    it every upsert is a full-table join; with it, cost ∝ touched
  *    files).
  *
  * The index is itself a parquet table under `_index/v%08d` (written
  * BEFORE the manifest rename, so the commit point stays the single
  * atomic rename and a crashed index write leaves no visible version).
  * It stores `(key, file, pos)` from the writer's own
  * `_metadata.file_path/row_index`; at 100 TB the index is just another
  * keyed table — bucketed by key with its own zone maps, probed with an
  * equi-join, never collected. Here lookups collect the lookup-sized
  * match list to the driver to open only the touched files — the same
  * driver-sized discipline as X81's probe.
  *
  * Scope: the index answers for the version it was built on; on keyed
  * tables the key is unique per version (enforced at build — duplicate
  * keys refuse, they would make "the" position ambiguous).
  */
object RecordIndex extends graft.QueryModule {
  private def indexRel(version: Int) = f"_index/v$version%08d"

  /** Commit `df` as the next version with a record index on `keyCol`.
    * Order: data files → index table → manifest rename (the commit
    * point). Returns the version.
    */
  def commitWithIndex(df: DataFrame, dir: String, date: Int, time: Int,
      keyCol: String): Int = {
    val spark = df.sparkSession
    val version = ManifestTable.latestVersion(spark, dir).getOrElse(0) + 1
    val files = ManifestTable.writeDataFiles(df, dir, version)
    val staged = spark.read.parquet(f"$dir/data/v$version%08d")
    val dup = staged.groupBy(col(keyCol)).count().where(col("count") > 1).count()
    require(dup == 0L,
      s"record index: $dup duplicate key(s) in '$keyCol' — positions would be ambiguous")
    staged
      .select(col(keyCol).cast("long").as("key"),
        // store the rel path the manifest lists, not the absolute URI
        regexp_extract(col("_metadata.file_path"), "(data/v\\d{8}/[^/]+)$", 1).as("file"),
        col("_metadata.row_index").as("pos"))
      .write.mode("overwrite").parquet(s"$dir/${indexRel(version)}")
    ManifestTable.commitManifest(spark, dir, version, date, time, files)
    version
  }

  /** The index table of `version` (immutable once its version is
    * committed — schema cached like any fixture relation).
    */
  def index(spark: SparkSession, dir: String, version: Int): DataFrame =
    Tables.cachedParquet(spark, s"$dir/${indexRel(version)}")

  /** Point lookup: exactly the rows whose `keyCol` is in `keys`, opening
    * only the files the index names. Returns the data rows.
    */
  def pointLookup(spark: SparkSession, dir: String, version: Int,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    val hits = index(spark, dir, version)
      .where(col("key").isin(keys: _*))
      .collect() // lookup-sized by construction
    val touched = hits.map(_.getAs[String]("file")).distinct.sorted
    if (touched.isEmpty)
      return ManifestTable.readVersion(spark, dir, version).where(lit(false))
    val posFilter = hits.groupBy(_.getAs[String]("file")).map { case (f, hs) =>
      col("_metadata.file_path").endsWith(f.split('/').last) &&
        col("_metadata.row_index").isin(hs.map(_.getAs[Long]("pos")).toSeq: _*)
    }.reduce(_ || _)
    graft.sources.Tables.cachedScan(spark, touched.map(f => s"$dir/$f"))
      .where(posFilter)
  }

  /** Upsert routing: which committed files does `batch` touch, and how
    * many incoming records are updates vs inserts — the planning input a
    * copy-on-write merge needs BEFORE rewriting anything. One equi-join
    * of the batch against the index; no data files read.
    */
  def routeUpserts(spark: SparkSession, dir: String, version: Int,
      batch: DataFrame, keyCol: String): DataFrame = {
    val idx = index(spark, dir, version)
    batch.select(col(keyCol).cast("long").as("key"))
      .join(idx, Seq("key"), "left")
      .groupBy(coalesce(col("file"), lit("__insert__")).as("target"))
      .agg(count(lit(1)).as("n_records"))
  }

  val queries: Map[String, Q] = Map(
    // Orders committed DATE-clustered (zone maps on the key column are
    // useless — every file spans the whole key range), then a
    // deterministic key set point-looked-up through the index, plus the
    // routing profile of a synthetic upsert batch. The oracle recomputes
    // both from the raw table; IndexSpec pins that only the index-named
    // files open.
    "q_record_index" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("record_index", d) { dir =>
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
          .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
        commitWithIndex(o, dir, 20250601, 900, "o_orderkey")
      }
      val probes = (1 to 40).map(_ * 97L)
      val looked = pointLookup(s, dir, 1, "o_orderkey", probes)
        .agg(count(lit(1)).as("n"),
          sum("o_orderkey").cast("long").as("key_sum"),
          graft.util.Exact.dsum(col("o_totalprice")).as("price_sum"))
        .withColumn("probe", lit("lookup"))
      // upsert batch: every 97th key (updates) + keys past the domain (inserts)
      val batch = s.range(1, 41).select((col("id") * 97L).as("o_orderkey"))
        .unionByName(s.range(1, 6).select((col("id") + 900000000L).as("o_orderkey")))
      val routed = routeUpserts(s, dir, 1, batch, "o_orderkey")
        .withColumn("probe",
          when(col("target") === "__insert__", "route_ins").otherwise("route_upd"))
        .groupBy("probe")
        .agg(sum("n_records").cast("long").as("n"),
          lit(null).cast("long").as("key_sum"),
          lit(null).cast("double").as("price_sum"))
      looked.unionByName(routed)
        .select("probe", "n", "key_sum", "price_sum")
        .orderBy("probe")
    }))

  val oracles: Map[String, String] = Map(
    // lookup row: hits among keys 97,194,…,3880 with their key/price
    // sums. Routing rows are layout-independent record counts: updates =
    // probe keys present in the table, inserts = batch keys ABSENT from
    // it — the 5 out-of-domain keys plus any probe key the SF's sparse
    // orderkey domain lacks (45 − hits; a literal 5 was only right where
    // every probe key exists, which sf0.001 falsified — round-13 find).
    "q_record_index" ->
      """WITH probes AS (SELECT (x * 97)::BIGINT AS k FROM generate_series(1, 40) t(x)),
        |hits AS (SELECT o.* FROM orders o JOIN probes p ON o.o_orderkey = p.k)
        |SELECT * FROM (
        |  SELECT 'lookup' AS probe, count(*) AS n,
        |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |  FROM hits
        |  UNION ALL
        |  SELECT 'route_ins', 45 - (SELECT count(*) FROM hits),
        |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT 'route_upd', (SELECT count(*) FROM hits),
        |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |) ORDER BY probe""".stripMargin)
}

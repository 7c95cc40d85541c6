package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Merge-on-read row-level deletes — deletion vectors (X64).
  *
  * The reference's model rewrites a whole snapshot per run
  * (`scripts/script_api_apify_to_spark.py:194,208`); deleting a handful of
  * rows from a 100 TB table that way costs a full rewrite. The lakehouse
  * answer (Delta deletion vectors, Iceberg position deletes) is
  * merge-on-read: a delete commit keeps every data file untouched and
  * publishes only a sidecar of `(file, row position)` tombstones; readers
  * subtract the tombstones at scan time. Compaction (here
  * [[materialize]]) folds the tombstones back into fresh data files when
  * their read-side cost outweighs the write-side saving.
  *
  * Representation: one parquet sidecar per delete commit, staged under a
  * writer-unique `deletes/w<8 hex>/` like any data file, rows
  * `(file: String, pos: Long)` where `file` is the manifest-relative data
  * path and `pos` the parquet row index
  * (`_metadata.row_index`). Each delete commit writes the version's FULL
  * cumulative vector (prior tombstones unioned in), so a read touches
  * exactly one sidecar — version N's — never a chain.
  *
  * Commit protocol is X39's unchanged: stage the sidecar, then publish a
  * manifest referencing the SAME data files plus the sidecar in one put.
  * A crash or lost race before the put leaves the delete invisible; time
  * travel to any pre-delete version still sees every row.
  *
  * Scale shape: the delete build scans only the predicate's column
  * footprint (+ file/position metadata); the sidecar is bounded by rows
  * ever deleted, not table size, and the read-side subtraction is a
  * BROADCAST left-anti hash probe inside whole-stage codegen — zero
  * shuffle of the data side. A tombstone set too big to broadcast is the
  * signal to [[materialize]] (exactly the heuristic Delta applies).
  */
object DeleteVectors extends graft.QueryModule {

  /** The manifest-relative path of each scanned row's file: everything
    * after the TABLE ROOT in the `_metadata.file_path` URI. Computed by
    * stripping the root prefix — NOT by pattern-matching the
    * `data/w<hex>` layout — because a manifest may legitimately
    * reference files anywhere under the root: X193 `CONVERT TO GRAFT`
    * imports a plain parquet directory whose files sit at the root
    * itself (the layout-shaped regex silently extracted "" there,
    * collapsing every file to one key — tombstones then struck the same
    * POSITIONS in every file).
    */
  private[graft] def relFileIn(dir: String): Column = {
    val norm = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      .stripSuffix("/")
    regexp_extract(col("_metadata.file_path"),
      java.util.regex.Pattern.quote(norm) + "/(.+)$", 1)
  }

  /** Apply `snap`'s deletion vector to `df`, which must be a parquet scan
    * over (a subset of) `snap`'s data files. No-deletes versions return
    * `df` unchanged — the bare-scan plan, pinned in DeleteVectorSpec.
    */
  def applyTo(spark: SparkSession, dir: String, snap: ManifestTable.Snapshot,
      df: DataFrame): DataFrame = {
    if (snap.deletes.isEmpty) df
    else {
      // sidecar schema is fixed by stageTombstones — explicit schema skips
      // the footer-inference job on every read
      val dv = spark.read
        .schema("file STRING, pos BIGINT")
        .parquet(snap.deletes.map(f => s"$dir/$f"): _*)
        .withColumnRenamed("file", "__dv_file")
        .withColumnRenamed("pos", "__dv_pos")
      df.select(col("*"), relFileIn(dir).as("__dv_file"),
          col("_metadata.row_index").as("__dv_pos"))
        .join(broadcast(dv), Seq("__dv_file", "__dv_pos"), "left_anti")
        .drop("__dv_file", "__dv_pos")
    }
  }

  /** Delete the current version's rows matching `predicate` without
    * touching any data file: commits a new version with the same file list
    * and a cumulative deletion-vector sidecar. Rows already deleted stay
    * deleted (the new vector unions the old); a predicate matching nothing
    * still commits (an auditable no-op version). Returns the new version.
    *
    * Optimistic concurrency (X96): losing the commit race RECOMPUTES the
    * tombstones against the new latest version rather than rebasing the
    * old sidecar — the concurrent commit may have appended or rewritten
    * rows the predicate must see, so re-evaluation is the only rebase rule
    * that keeps the delete serializable as "predicate applied to my parent
    * version". Each attempt stages its own sidecar.
    *
    * `base`: when set, the tombstones are computed against THAT committed
    * version and ITS file list carries into the new commit — the same
    * replay-idempotence hook as `appendRetrying`'s `base` (round-7 ADVICE):
    * a two-phase caller (X99 catalog cuts) must tombstone/rebase on the
    * version the last CATALOG cut references, or a crashed-but-committed
    * orphan at log-latest would have its files silently re-referenced by
    * the delete commit. The target version number still races past
    * log-latest, so the orphan is never overwritten either.
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: Column,
      date: Int, time: Int, maxRetries: Int = 5,
      base: Option[Int] = None): Int =
    ManifestTable.retrying("delete commit", dir, maxRetries) {
      val snaps = ManifestTable.snapshots(spark, dir)
      require(snaps.nonEmpty, s"no committed snapshot at $dir")
      val latest = snaps.last
      // `parent` is the version the delete is semantically applied to: the
      // caller-declared base (catalog-referenced, for two-phase commits) or
      // log-latest. Its files — not log-latest's — carry into the commit.
      val parent = base.map(bv => snaps.find(_.version == bv).getOrElse(
        throw new NoSuchElementException(s"no committed version $bv at $dir")))
        .getOrElse(latest)
      ManifestTable.commitManifest(spark, dir, Some(latest), date, time,
        parent.files, deletes = stageTombstones(spark, dir, parent, predicate))
    }

  /** Stage `parent`'s cumulative deletion vector with the rows matching
    * `hit` added: the raw scan (tombstones NOT applied) finds their
    * positions — re-deleting an already-deleted position writes the same
    * `(file, pos)` row, and the union dedups it. Returns the sidecar's
    * table-relative files.
    */
  private[lake] def stageTombstones(spark: SparkSession, dir: String,
      parent: ManifestTable.Snapshot, hit: Column): Seq[String] = {
    val newDel = ManifestTable.rawVersionScan(spark, dir, parent).where(hit)
      .select(relFileIn(dir).as("file"), col("_metadata.row_index").as("pos"))
    val oldDel =
      if (parent.deletes.isEmpty) newDel.limit(0)
      else spark.read.schema("file STRING, pos BIGINT")
        .parquet(parent.deletes.map(f => s"$dir/$f"): _*)
    ManifestTable.stageDataFiles(
      oldDel.unionByName(newDel).dropDuplicates("file", "pos"), dir, "deletes")
  }

  /** Fold the latest version's tombstones into fresh data files — the
    * merge-on-read → copy-on-write compaction. The new version carries no
    * deletion vector, so [[Vacuum]] can later reclaim both the old data
    * files and the sidecars. One attempt: a concurrent commit fails it
    * with [[LostRace]]. Returns the new version.
    */
  def materialize(spark: SparkSession, dir: String, date: Int, time: Int): Int = {
    val latest = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no committed snapshot at $dir"))
    val files = ManifestTable.stageDataFiles(
      ManifestTable.readVersion(spark, dir, latest.version), dir)
    // op = "materialize" records the commit's content-preservation
    // contract in the manifest (pinned below and in DeleteVectorSpec), so
    // X75 feed consumers skip the step without reading either version.
    // The rewrite is derived from `latest`, so a lost race fails it.
    ManifestTable.commitOnce(spark, dir, Some(latest), date, time, files, "materialize")
  }

  /** Shared X64/X75 fixture timeline (built once per JVM): v1 full commit
    * of orders across 8 files, v2/v3 cumulative delete commits, v4
    * materialize.
    */
  private[lake] def fixtureDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("dv_fixture", d)(buildTimeline(s, d, _))

  /** The X64 timeline body — also run FRESH by `Probe lake-live` to
    * publish the live commit/delete/materialize cost the memoized bench
    * excludes.
    */
  def buildTimeline(s: SparkSession, d: String, dir: String): Unit = {
    val o = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(8)
    ManifestTable.commit(o, dir, 20250801, 900)
    deleteWhere(s, dir,
      col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0,
      20250801, 1000)
    deleteWhere(s, dir, col("o_orderkey") % 7 === 3, 20250801, 1100)
    materialize(s, dir, 20250801, 1200)
  }

  val queries: Map[String, Q] = Map(
    // v1 commits orders whole (8 files); v2 and v3 are delete commits
    // (composing cumulatively); v4 materializes. Latest, v4, v2 and the
    // untouched v1 are each aggregated; the oracle recomputes all four
    // states from the plain orders table with the inverse predicates.
    "q_delete_vectors" -> ((s, d) => {
      val dir = fixtureDir(s, d)
      def summarize(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
          .select(lit(tag).as("version"), col("n_rows"), col("sum_total"))
      summarize("v1", ManifestTable.readVersion(s, dir, 1))
        .unionByName(summarize("v2", ManifestTable.readVersion(s, dir, 2)))
        .unionByName(summarize("v3", ManifestTable.readVersion(s, dir, 3)))
        .unionByName(summarize("v4_compacted", ManifestTable.readLatest(s, dir)))
        .orderBy("version")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_delete_vectors" ->
      """SELECT * FROM (
        |  SELECT 'v1' AS version, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders
        |  UNION ALL
        |  SELECT 'v2', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |  UNION ALL
        |  SELECT 'v3', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |    AND NOT (o_orderkey % 7 = 3)
        |  UNION ALL
        |  SELECT 'v4_compacted', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |    AND NOT (o_orderkey % 7 = 3)
        |) ORDER BY version""".stripMargin,
  )
}

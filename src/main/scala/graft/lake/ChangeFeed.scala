package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Exact.dsum

/** Change feed across manifest versions (X75) — the Delta CDF / Iceberg
  * incremental-read shape: expose WHAT CHANGED between committed versions
  * as consumable rows, so a downstream copy syncs by reading the feed
  * instead of re-diffing full snapshots (the reference's consumers get
  * this only for the one hand-diffed table pair,
  * `scripts/script_api_apify_to_spark.py:238-257`; here every X39 table
  * has it for free).
  *
  * Each step `v → v+1` is one [[SnapshotDiff.diff]] (a single full-outer
  * join), tagged with its version bounds. Because [[ManifestTable
  * .readVersion]] applies X64 deletion vectors, a DELETE COMMIT surfaces
  * its tombstoned rows as `deleted` feed rows with no data file rewritten
  * — and an X64 [[DeleteVectors.materialize]] commit, which changes bytes
  * but not content, produces NO feed rows: compaction is invisible to
  * consumers, exactly the contract.
  *
  * Scale shape: an incremental consumer reads ONE step per sync; the
  * multi-step union is the backfill path and unions independent steps.
  * The manifest itself routes each step to the cheapest sound plan: a
  * step whose two versions share the SAME data file list can only be a
  * delete commit (or a no-op), so its feed rows are EXACTLY the
  * tombstones the step added — read from the tombstone-touched files
  * alone, no full-outer join and no scan of untouched files (this is how
  * Delta CDF answers delete commits from metadata). Only steps that
  * rewrite files (appends, X64 materialize, compaction) fall back to the
  * content diff — and the materialize step still produces NO rows there:
  * compaction stays invisible to consumers.
  */
object ChangeFeed extends graft.QueryModule {

  /** `added`/`deleted` rows for every step in `(fromV, toV]`, tagged
    * `(from_version, to_version)`.
    *
    * CONTRACT: `keys` must uniquely identify rows in every version of the
    * range (the same requirement [[IncrJoinView]] states). The metadata-
    * routed plans (tombstone-position reads for delete commits, appended-
    * file reads for append commits) and the fallback SnapshotDiff
    * key-presence join agree EXACTLY when keys are unique; under
    * duplicate keys they would surface different rows for the same step
    * — position-level vs key-level changes — so which plan fires would
    * silently change the feed's semantics. Uniqueness is the caller's
    * promise, as in Delta CDF's merge-key requirement.
    */
  def changeFeed(spark: SparkSession, dir: String, fromV: Int, toV: Int,
      keys: Seq[String], updateAware: Boolean = false): DataFrame = {
    require(fromV < toV, s"empty feed range [$fromV, $toV]")
    val snaps = ManifestTable.snapshots(spark, dir)
    def snap(v: Int) = snaps.find(_.version == v)
      .getOrElse(throw new NoSuchElementException(s"no version $v at $dir"))
    (fromV until toV).map { v =>
      val (sOld, sNew) = (snap(v), snap(v + 1))
      val step =
        if (sNew.op == "materialize" || sNew.op == "optimize")
          // content-preserving by the commit's own recorded contract
          // (X64 materialize / X106 optimize): zero feed rows, no
          // version read at all
          emptyStep(spark, dir, sNew)
        else if (sNew.files == sOld.files) dvOnlyStep(spark, dir, sOld, sNew)
        else if (sNew.op == "append" && sNew.deletes == sOld.deletes &&
            sOld.files.forall(sNew.files.toSet))
          appendStep(spark, dir, sOld, sNew)
        else if (keys.nonEmpty && sNew.deletes == sOld.deletes &&
            sOld.files.exists(sNew.files.toSet)) {
          // CoW routing (X179 UPDATE/MERGE, X180 stream upsert): files
          // RETAINED BY REFERENCE are byte-identical on both sides and
          // cancel in any keyed diff (unique keys — a key living in a
          // retained file in one version and elsewhere in the other
          // would be a duplicate), so the step's diff runs over the
          // TOUCHED files only — feed cost ∝ the commit's own change,
          // never the table. Guarded on an unchanged tombstone set
          // (sidecar-list equality): a commit that also moved
          // tombstones on retained files falls through to the full
          // diff (absence of evidence degrades, never lies).
          val newSet = sNew.files.toSet
          val oldSet = sOld.files.toSet
          def slice(snap: ManifestTable.Snapshot, own: Seq[String],
              other: Set[String]) = {
            val touched = own.filterNot(other)
            val scan = graft.sources.Tables.cachedScan(spark,
              snap.files.map(f => s"$dir/$f"))
            if (touched.isEmpty) scan.where(lit(false))
            else DeleteVectors.applyTo(spark, dir, snap,
              graft.sources.Tables.cachedScan(spark,
                touched.map(f => s"$dir/$f")))
          }
          val newSlice = slice(sNew, sNew.files, oldSet)
          val oldSlice = slice(sOld, sOld.files, newSet)
          if (updateAware) SnapshotDiff.diffCdc(newSlice, oldSlice, keys)
          else SnapshotDiff.diff(newSlice, oldSlice, keys)
        }
        else if (updateAware) {
          // X183's CDC contract: a replace step surfaces a changed key as
          // its delete+insert pair, not as "matched, nothing to report"
          require(keys.nonEmpty,
            s"change feed: version ${v + 1} at $dir is a replace commit — " +
              "surfacing it needs the row-identity `keys`")
          SnapshotDiff.diffCdc(
            ManifestTable.readVersion(spark, dir, v + 1),
            ManifestTable.readVersion(spark, dir, v), keys)
        } else SnapshotDiff.diff(
          ManifestTable.readVersion(spark, dir, v + 1),
          ManifestTable.readVersion(spark, dir, v), keys)
      step.withColumn("from_version", lit(v))
        .withColumn("to_version", lit(v + 1))
    }.reduce(_ unionByName _)
  }

  /** Feed rows for an X96 append commit that kept the predecessor's files
    * and tombstones: the step's changes are EXACTLY the rows of the
    * appended files (minus any tombstones landing inside them), so only
    * those files are scanned — the Delta CDF metadata-routed answer for
    * append commits; untouched files never enter the plan.
    */
  private def appendStep(spark: SparkSession, dir: String,
      sOld: ManifestTable.Snapshot, sNew: ManifestTable.Snapshot): DataFrame = {
    val appended = sNew.files.filterNot(sOld.files.toSet)
    if (appended.isEmpty) emptyStep(spark, dir, sNew)
    else DeleteVectors.applyTo(spark, dir, sNew,
        graft.sources.Tables.cachedScan(spark, appended.map(f => s"$dir/$f")))
      .withColumn("change", lit("added"))
  }

  /** Zero rows with the diff-shaped schema of `snap`'s table. */
  private def emptyStep(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot): DataFrame =
    graft.sources.Tables.cachedScan(spark, snap.files.map(f => s"$dir/$f"))
      .limit(0).withColumn("change", lit("deleted"))

  /** Feed rows for a step that changed ONLY the deletion vector: the
    * tombstones added in the step surface as `deleted` (and, defensively,
    * tombstones removed as `added` — not constructible through the X64
    * API, but soundness shouldn't rest on that). Scans only the files
    * the tombstone delta touches.
    */
  private def dvOnlyStep(spark: SparkSession, dir: String,
      sOld: ManifestTable.Snapshot, sNew: ManifestTable.Snapshot): DataFrame = {
    import spark.implicits._
    def dv(files: Seq[String]): DataFrame =
      if (files.isEmpty) Seq.empty[(String, Long)].toDF("file", "pos")
      else spark.read.schema("file STRING, pos BIGINT")
        .parquet(files.map(f => s"$dir/$f"): _*)
    val dNew = dv(sNew.deletes)
    val dOld = dv(sOld.deletes)
    val delTomb = dNew.join(dOld, Seq("file", "pos"), "left_anti")
    val addTomb = dOld.join(dNew, Seq("file", "pos"), "left_anti")

    // ONE driver job resolves both directions' touched-file lists (the
    // sidecars are tombstone-sized); the semi-joins themselves then ride
    // the caller's single action instead of costing a job each. The
    // lists are MANIFEST METADATA of two immutable committed versions, so
    // they cache per JVM (the Delta SnapshotManagement move): a feed
    // re-read of the same step pays zero resolution jobs.
    val fileTags = graft.util.FixtureCache.value("cf_step_files",
        s"$dir|${sOld.version}|${sNew.version}") {
      delTomb.select(col("file"), lit("deleted").as("side"))
        .unionByName(addTomb.select(col("file"), lit("added").as("side")))
        .distinct().as[(String, String)].collect()
    }

    /** Rows of `sNew`'s data files sitting at `tomb`'s (file, pos). */
    def rowsAt(files: Seq[String], tomb: DataFrame, tag: String): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(graft.sources.Tables.cachedScan(spark, files.map(f => s"$dir/$f").toIndexedSeq)
        .select(col("*"), DeleteVectors.relFileIn(dir).as("__cf_file"),
          col("_metadata.row_index").as("__cf_pos"))
        .join(broadcast(tomb.select(col("file").as("__cf_file"),
          col("pos").as("__cf_pos"))), Seq("__cf_file", "__cf_pos"), "left_semi")
        .drop("__cf_file", "__cf_pos")
        .withColumn("change", lit(tag)))

    def filesOf(side: String): Seq[String] =
      fileTags.collect { case (f, s) if s == side => f }.sorted.toIndexedSeq

    val parts =
      rowsAt(filesOf("deleted"), delTomb, "deleted").toSeq ++
        rowsAt(filesOf("added"), addTomb, "added").toSeq
    if (parts.isEmpty) emptyStep(spark, dir, sNew) // no-op delete commit
    else parts.reduce(_ unionByName _)
  }

  val queries: Map[String, Q] = Map(
    // Over the X64 fixture timeline (v1 full commit, v2/v3 delete commits,
    // v4 materialize): the feed must show each delete commit's rows as
    // `deleted`, nothing as `added`, and NO rows at all for the
    // materialize step — the oracle recomputes every step from the
    // predicates.
    "q_change_feed" -> ((s, d) => {
      val dir = DeleteVectors.fixtureDir(s, d) // shared X64 timeline
      changeFeed(s, dir, 1, 4, Seq("o_orderkey"))
        .groupBy("from_version", "to_version", "change")
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("from_version", "change")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_change_feed" ->
      """SELECT * FROM (
        |  SELECT 1 AS from_version, 2 AS to_version, 'deleted' AS change,
        |         count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |  FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT 2, 3, 'deleted', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 7 = 3
        |    AND NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
        |) ORDER BY from_version, change""".stripMargin,
  )
}

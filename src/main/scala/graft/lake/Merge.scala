package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** MERGE INTO-style keyed upsert (extension X31) — the lake-side
  * equivalent of the reference's Elasticsearch doc-id upsert
  * (`es.mapping.id = username`, `airflow/dags/apify_dag.py:289-318`): the
  * reference gets idempotent re-runs only at the ES sink; a lake user
  * needs the same "updates win, everything else survives" semantics on
  * the parquet tables themselves.
  *
  * Semantics: rows of `updates` REPLACE same-key rows of `base` whole-row
  * (a NULL in an update column overwrites — this is MERGE, not
  * per-column coalesce); unmatched base rows survive; unmatched updates
  * insert; updates flagged in `deleteCol` remove the key (a no-op when
  * the key is absent).
  *
  * Scale notes (100 TB): one full-outer join on the key — each side
  * shuffles once, same plan shape as [[SnapshotDiff.diff]]; with base
  * written bucketed by the key the merge is shuffle-free on the big side,
  * and the usual deployment writes the result as a new snapshot partition
  * ([[Layout.overwriteSnapshot]]) so re-runs stay idempotent.
  */
object Merge extends graft.QueryModule {
  private val uMark = "__merge_upd_marker"

  /** Apply `updates` to `base` by `keys`. `updates` must carry every
    * column of `base`; extra update-side columns (e.g. the delete flag)
    * are dropped from the output.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None): DataFrame = {
    require(base.columns.forall(updates.columns.contains),
      "updates must carry every base column")
    require(!base.columns.contains(uMark), "base collides with internal marker")
    // MERGE INTO raises when the source matches a target row more than
    // once; a duplicate-keyed update here would silently fan the base row
    // out into several output rows, corrupting the key invariant (the
    // double-delivered-feed case). One aggregate over the (small) update
    // side is the price of failing loudly instead.
    val dupKeys = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
    require(dupKeys == 0,
      s"updates contain multiple rows for one (${keys.mkString(", ")}) key — " +
        "MERGE requires unique source keys; dedupe the updates first")
    val u = updates.withColumn(uMark, lit(1))
    val joined = base.join(u, keys, "full_outer")
    val undeleted = deleteCol match {
      case Some(dc) => joined.where(col(uMark).isNull || !coalesce(u(dc), lit(false)))
      case None => joined
    }
    val outCols = base.columns.map { n =>
      if (keys.contains(n)) col(n) // using-join emits the coalesced key
      else when(col(uMark).isNotNull, u(n)).otherwise(base(n)).as(n)
    }
    undeleted.select(outCols.toIndexedSeq: _*)
  }

  /** Distinct-value probe cap for [[candidateFiles]]: a batch with more
    * distinct key values than this skips the X168 value-set evidence and
    * falls back to range bounds alone — the probe list is driver-side.
    */
  private[graft] val MaxProbeVals = 4096

  /** X180 — keyed upsert committed COPY-ON-WRITE over touched files only:
    * the streaming-CDC shape of [[upsert]]. [[upsert]] computes the
    * table's next FULL state — correct, but O(table) per call, which at
    * 100 TB makes a micro-batch of a thousand updates rewrite every
    * byte. This path makes the commit cost track the BATCH:
    *
    *  1. candidate files — the batch's key bounds (and, when the X168
    *     entries carry value sets, its distinct key values) prune the
    *     manifest's file list driver-side, zero data bytes read: a
    *     key-clustered table (the X48/X106 layout) drops to the few
    *     files whose ranges the batch straddles;
    *  2. touched files — one scan of the candidates (tombstones
    *     applied), semi-joined against the batch's keys (broadcast: the
    *     batch is micro-batch-sized), names the files that actually
    *     hold a matching row;
    *  3. rewrite — [[upsert]] over ONLY the touched rows ∪ the batch:
    *     updated rows replace, surviving touched rows carry, new keys
    *     insert (pruning soundness makes "not in any touched file" =
    *     "not in the table"), `deleteCol`-flagged keys drop;
    *  4. commit — [[Cow.commit]]: untouched files retained BY REFERENCE
    *     with their stats entries verbatim, staged files get fresh
    *     stats on the same columns, one manifest rename.
    *
    * A batch matching nothing and inserting nothing commits nothing
    * (returns the current version). A lost rename race throws
    * [[LostRace]] — callers retry by re-invoking inside
    * [[ManifestTable.retrying]] (the rewrite must recompute against the
    * new latest or a concurrent writer's rows would be lost; the
    * streaming sink's loop does this).
    * `state` sets the commit's own state entries (see [[Cow.commit]]).
    * Small per-batch insert files accumulate by design;
    * X174 maintenance bin-packs them.
    */
  def upsertCow(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String], date: Int, time: Int,
      deleteCol: Option[String] = None,
      state: Option[ManifestTable.Snapshot] => ManifestTable.State = _ => Map.empty): Int = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(
        s"no committed version at $dir — commit the initial state first"))
    // Stage the micro-batch ONCE, then derive the bounds probe, the
    // touched-file semi-join AND the merge from the STAGED bytes — the
    // X172 containment discipline ([[ReplaceWhere.replaceWhere]]): a
    // non-deterministic batch (rand(), now()) evaluated per-use could
    // pass pruning with one row set yet merge another, leaking keys past
    // the touched-file proof. The staging dir is scratch (the commit
    // stages the MERGED rows separately) and is dropped on every exit.
    val stagedBatch = ManifestTable.stageDataFiles(updates, dir)
    val batch: DataFrame =
      if (stagedBatch.isEmpty) updates.limit(0)
      else spark.read.parquet(stagedBatch.map(f => s"$dir/$f"): _*)
    try {
      val cands = candidateFiles(spark, dir, snap, batch, keys)
      val touched: Seq[String] =
        if (cands.isEmpty) Nil
        else {
          val scan = DeleteVectors.applyTo(spark, dir, snap,
            Tables.cachedScan(spark, cands.map(f => s"$dir/$f"))
              .select(col("*"), DeleteVectors.relFileIn(dir).as("__cow_file")))
          scan.join(batch.select(keys.map(col): _*).distinct(), keys, "left_semi")
            .select("__cow_file").distinct()
            .collect().map(_.getString(0)).toSeq.sorted
        }
      val base: DataFrame =
        if (touched.nonEmpty)
          DeleteVectors.applyTo(spark, dir, snap,
            Tables.cachedScan(spark, touched.map(f => s"$dir/$f")))
        else if (snap.files.nonEmpty)
          // schema-only: limit(0) folds to an empty relation, no data read
          Tables.cachedScan(spark, snap.files.map(f => s"$dir/$f")).limit(0)
        else deleteCol.foldLeft(batch)(_ drop _).limit(0)
      val merged = upsert(base, batch, keys, deleteCol)
      // true no-op (nothing matched, nothing survives to insert): no
      // commit. The isEmpty probe only runs on the cheap path — base is
      // empty, so it costs one pass over the staged micro-batch.
      if (touched.isEmpty && merged.isEmpty) snap.version
      else Cow.commit(spark, dir, snap,
        retained = snap.files.filterNot(touched.toSet),
        staged = ManifestTable.stageDataFiles(merged, dir),
        date, time, op = "merge", state = state)
    } finally ManifestTable.dropStaged(spark, dir, stagedBatch)
  }

  /** Files of `snap` that CAN hold a key of `updates` — judged entirely
    * from the version's zone-map entries (X57 long bounds, X78 string
    * bounds, X168 value sets) against one small aggregate over the
    * batch. Soundness rule everywhere: absence of evidence keeps a file
    * in scope; only a PROVEN-disjoint key column excludes one (any key
    * column disjoint suffices — an equi-join row must match on all).
    * A batch with no non-null values for a tracked key matches nothing
    * and prunes to the empty list.
    */
  private[graft] def candidateFiles(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, updates: DataFrame,
      keys: Seq[String]): Seq[String] = {
    if (snap.files.isEmpty) return Nil
    val stats = snap.stats.values.toSeq
    import org.apache.spark.sql.types._
    val sch = updates.schema
    val longKeys = keys.filter(k => sch(k).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    val strKeys = keys.filter(k => sch(k).dataType == StringType)
    // evidence only exists for key columns the entries actually track
    val trackedLong = longKeys.filter(k => stats.exists(_.lo.contains(k)))
    val trackedStr = strKeys.filter(k => stats.exists(_.slo.contains(k)))
    val trackedVals = (longKeys ++ strKeys)
      .filter(k => stats.exists(_.vals.contains(k)))
    if (trackedLong.isEmpty && trackedStr.isEmpty && trackedVals.isEmpty)
      return snap.files
    val aggs = trackedLong.flatMap(k => Seq(
        min(col(k).cast("long")).as(s"lo_$k"),
        max(col(k).cast("long")).as(s"hi_$k"))) ++
      trackedStr.flatMap(k => Seq(
        min(col(k).cast("string")).as(s"slo_$k"),
        max(col(k).cast("string")).as(s"shi_$k")))
    val bounds = if (aggs.isEmpty) None
      else Some(updates.agg(aggs.head, aggs.tail: _*).collect()(0))
    // an entirely-null (or empty) batch key can match no row at all
    val dead = bounds.exists(r =>
      trackedLong.exists(k => r.isNullAt(r.fieldIndex(s"lo_$k"))) ||
      trackedStr.exists(k => r.isNullAt(r.fieldIndex(s"slo_$k"))))
    if (dead) return Nil
    val batchVals: Map[String, Set[String]] = trackedVals.flatMap { k =>
      val vs = updates.select(col(k).cast("string")).na.drop()
        .distinct().limit(MaxProbeVals + 1)
        .collect().map(_.getString(0))
      if (vs.length > MaxProbeVals) None else Some(k -> vs.toSet)
    }.toMap
    def longDisjoint(s: ZoneMap.FileStats, k: String): Boolean =
      (for { r <- bounds; flo <- s.lo.get(k); fhi <- s.hi.get(k) } yield
        r.getLong(r.fieldIndex(s"hi_$k")) < flo ||
          r.getLong(r.fieldIndex(s"lo_$k")) > fhi).getOrElse(false)
    def strDisjoint(s: ZoneMap.FileStats, k: String): Boolean =
      (for { r <- bounds; flo <- s.slo.get(k); fhi <- s.shi.get(k) } yield
        r.getString(r.fieldIndex(s"shi_$k")) < flo ||
          r.getString(r.fieldIndex(s"slo_$k")) > fhi).getOrElse(false)
    def valsDisjoint(s: ZoneMap.FileStats, k: String): Boolean =
      (for { bv <- batchVals.get(k); fv <- s.vals.get(k) } yield
        !fv.exists(bv.contains)).getOrElse(false)
    snap.files.filter { f =>
      snap.stats.get(f).forall { s =>
        !(trackedLong.exists(longDisjoint(s, _)) ||
          trackedStr.exists(strDisjoint(s, _)) ||
          trackedVals.exists(valsDisjoint(s, _)))
      }
    }
  }

  val queries: Map[String, Q] = Map(
    // All four paths load-bearing: base drops %10 keys, updates touch %3
    // keys — so %3∧%10 keys INSERT, other %3 keys UPDATE (name/balance
    // rewritten), %13-flagged updates DELETE (or no-op when absent), and
    // everything else passes through untouched.
    "q_merge_upsert" -> ((s, d) => {
      val base = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        .where(col("c_custkey") % 10 =!= 0)
      val updates = Tables.customer(s, d)
        .where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("_v2")).as("c_name"),
          (col("c_acctbal") + 100).as("c_acctbal"),
          (col("c_custkey") % 13 === 0).as("is_deleted"))
      upsert(base, updates, Seq("c_custkey"), deleteCol = Some("is_deleted"))
        .orderBy("c_custkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 <> 0),
        |upd AS (
        |  SELECT c_custkey, c_name || '_v2' AS c_name, c_acctbal + 100 AS c_acctbal,
        |         c_custkey % 13 = 0 AS is_deleted
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT coalesce(b.c_custkey, u.c_custkey) AS c_custkey,
        |       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE b.c_name END AS c_name,
        |       CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE b.c_acctbal END AS c_acctbal
        |FROM base b FULL JOIN upd u ON b.c_custkey = u.c_custkey
        |WHERE u.c_custkey IS NULL OR NOT u.is_deleted
        |ORDER BY c_custkey""".stripMargin,
  )
}

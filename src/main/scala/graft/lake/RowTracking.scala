package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DenseId
import graft.sources.Tables
import graft.util.{Exact, FixtureCache}

/** Row tracking (extension X207) — Delta row tracking / Iceberg row
  * lineage: every row carries a STABLE `_row_id` that survives the
  * rewrites a lakehouse performs on its behalf. The three promises:
  *
  *  1. ingest mints unique, gapless, DETERMINISTIC ids (the X121
  *     identity machinery — high water carried in the commit's manifest,
  *     in-batch order by the caller's key, so the whole assignment is
  *     SQL-reconstructible and the oracle can replay it);
  *  2. maintenance (OPTIMIZE / ZORDER / compaction) preserves ids BY
  *     CONSTRUCTION — those commits rewrite stored rows, and `_row_id`
  *     is a stored column like any other (the fixture pins the id set
  *     across a full range-shuffle re-cluster);
  *  3. upserts keep identity: a matched key's new values ride its OLD
  *     `_row_id` (an update is the same row, changed), only genuinely
  *     new keys mint fresh ids above the watermark.
  *
  * Why it matters at 100 TB: change consumers can correlate a row across
  * arbitrary rewrites without trusting business keys to be stable, and
  * incremental downstream materializations can key their state by
  * `_row_id` instead of re-deriving composite keys. Delta ships exactly
  * this under `delta.enableRowTracking`.
  *
  * Scale shape: [[trackedUpsert]] stages the batch once (X172/X180
  * containment), inherits ids through ONE key-join against the current
  * table (at production scale that lookup routes through the X166
  * record index — a point-lookup, not a scan), then rides X180's
  * touched-files CoW — per-batch cost tracks the batch, and the id
  * high water rides the merge commit's own manifest, so a crashed or
  * lost merge leaves it where it was.
  */
object RowTracking extends graft.QueryModule {

  val RowId = "_row_id"

  /** Initial load / append with fresh tracked ids: `highWater+1 ..` in
    * `orderCol` order within the batch. Returns (version, high water).
    */
  def trackedAppend(df: DataFrame, dir: String, orderCol: String,
      date: Int, time: Int): (Int, Long) =
    Identity.appendWithIds(df, dir, RowId, orderCol, date, time)

  /** Keyed CoW upsert preserving row identity. `batch` carries the key +
    * new values WITHOUT `_row_id`; matched keys inherit their current
    * id, new keys mint `highWater+1 ..` in `orderCol` order. Single-
    * writer surface like X121 (a raced identity append refuses rather
    * than risking duplicate ids).
    */
  def trackedUpsert(spark: SparkSession, dir: String, batch0: DataFrame,
      key: String, orderCol: String, date: Int, time: Int): Int = {
    val seen = ManifestTable.latestState(spark, dir, "identity")
    val base = Identity.highWaterOf(seen)
    // stage the caller's batch once; every derivation below reads these
    // bytes, so a non-deterministic batch cannot mint ids for one row
    // set and merge another (the X172 discipline)
    val stagedB = ManifestTable.stageDataFiles(batch0, dir)
    try {
      val batch =
        if (stagedB.isEmpty) batch0.limit(0)
        else spark.read.parquet(stagedB.map(f => s"$dir/$f"): _*)
      val cur = ManifestTable.readLatest(spark, dir).select(col(key), col(RowId))
      val matched = batch.join(cur, Seq(key), "inner")
      val fresh = DenseId.assign(
        batch.join(cur.select(key), Seq(key), "left_anti"), orderCol, 8)
        .withColumn(RowId, col("rid") + base).drop("rid")
      val nNew = fresh.count()
      Merge.upsertCow(spark, dir, matched.unionByName(fresh), Seq(key),
        date, time, state = Identity.issue(seen, nNew, dir))
    } finally ManifestTable.dropStaged(spark, dir, stagedB)
  }

  val queries: Map[String, Q] = Map(
    // Tracked init (ids 1..N over the even keys), a full ZORDER
    // re-cluster (every row rewritten through a range shuffle — ids must
    // ride), then an upsert updating the %6 keys and inserting the odd
    // %3 keys. The oracle replays the ENTIRE id history: init ids by key
    // rank, inherited ids for updates, watermark-offset ranks for
    // inserts — any id lost, reminted, or swapped anywhere hash-fails.
    "q_row_tracking" -> ((s, d) => {
      val dir = FixtureCache.dir("row_tracking", d) { dir =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        trackedAppend(o.where(col("k") % 2 === 0), dir, "k", 20250901, 900)
        graft.spark.GraftDml.extSession(s)
          .sql(s"OPTIMIZE '$dir' ZORDER BY (k) AT 20250901 930")
        val batch = o.where(col("k") % 6 === 0).withColumn("p", col("p") + 1)
          .unionByName(o.where(col("k") % 2 === 1 && col("k") % 3 === 0))
        trackedUpsert(s, dir, batch, "k", "k", 20250901, 1000)
      }
      ManifestTable.readLatest(s, dir)
        .select(col("k"), col("p"), col(RowId).as("row_id"))
        .orderBy("k")
    }))

  val oracles: Map[String, String] = Map(
    "q_row_tracking" ->
      """WITH init AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p,
        |         row_number() OVER (ORDER BY o_orderkey) AS row_id
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), fresh AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p,
        |         (SELECT count(*) FROM init)
        |           + row_number() OVER (ORDER BY o_orderkey) AS row_id
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
        |)
        |SELECT k, CASE WHEN k % 6 = 0 THEN p + 1 ELSE p END AS p,
        |       row_id FROM init
        |UNION ALL
        |SELECT k, p, row_id FROM fresh
        |ORDER BY k""".stripMargin)
}

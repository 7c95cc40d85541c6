package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.ops.DenseId
import graft.sources.Tables
import graft.util.FixtureCache

/** Identity columns — exactly-once monotonic surrogate ids across appends
  * (extension X121; Delta `GENERATED ALWAYS AS IDENTITY`, done strictly).
  *
  * Each append assigns `highWater + 1 .. highWater + n` to its rows and
  * advances the high-water mark ATOMICALLY with the commit: the mark is
  * the manifest's `identity` state entry (`{"high_water"}`), published
  * in the same put as the file list, so a crashed or lost attempt leaves
  * ids unclaimed-and-invisible, and a re-run reissues the SAME range.
  * Delta's identity promises uniqueness but not density (cache blocks
  * burn gaps on crash); with the mark fused into the commit, ids here
  * are unique AND gapless AND deterministic.
  *
  * Within a batch, ids follow `orderCol` order via X77's bucket-parallel
  * dense-rank (quantile split points + per-bucket offsets — no
  * SinglePartition window, unbounded parallelism), which is also what
  * makes the assignment REPLAYABLE: same batch, same ids, so the whole
  * history is SQL-reconstructible (the oracle's row_number twin).
  * `orderCol` must be unique per batch (X77's contract).
  */
object Identity extends graft.QueryModule {

  /** The high water a state entry records (0 when there is none). */
  private[lake] def highWaterOf(entry: Option[JValue]): Long = {
    implicit val fmts: Formats = DefaultFormats
    entry.map(j => (j \ "high_water").extract[Long]).getOrElse(0L)
  }

  /** The committed high-water mark (0 for a fresh table). */
  def highWater(spark: SparkSession, dir: String): Long =
    highWaterOf(ManifestTable.latestState(spark, dir, "identity"))

  /** The state hook of a commit that issues `n` ids above the high water
    * of `seen`, the entry read before the ids were assigned: it refuses
    * when the parent's mark moved, since the staged ids may then collide
    * with ones a concurrent identity commit issued (identity commits are
    * a single-writer surface, like X112).
    */
  private[lake] def issue(seen: Option[JValue], n: Long,
      dir: String): Option[ManifestTable.Snapshot] => ManifestTable.State =
    ManifestTable.claim("identity", seen,
      JObject("high_water" -> JInt(highWaterOf(seen) + n)), dir)

  /** Append `df` with `idCol` = highWater+1..highWater+n (ordered by
    * `orderCol` within the batch), advancing the mark atomically with
    * the commit. Returns (version, new high water). A lost race to a
    * commit that issued no ids lands on the next attempt; one to an
    * identity commit that moved the mark refuses ([[issue]]).
    */
  def appendWithIds(df: DataFrame, dir: String, idCol: String,
      orderCol: String, date: Int, time: Int, parts: Int = 8): (Int, Long) = {
    val spark = df.sparkSession
    val seen = ManifestTable.latestState(spark, dir, "identity")
    val base = highWaterOf(seen)
    val withIds = DenseId.assign(df, orderCol, parts)
      .withColumn(idCol, col("rid") + base).drop("rid")
    val staged = ManifestTable.stageDataFiles(withIds, dir)
    val n = spark.read.parquet(staged.map(f => s"$dir/$f"): _*).count()
    val v = ManifestTable.appendStagedRetrying(spark, dir, date, time, staged,
      state = issue(seen, n, dir))
    (v, base + n)
  }

  val queries: Map[String, Q] = Map(
    // Three appends in slice order: ids must come out globally
    // contiguous, 1..N, in (slice, o_orderkey) order — exactly SQL's
    // row_number over that composite order, which is the oracle.
    "q_identity" -> ((s, d) => {
      val dir = FixtureCache.dir("identity_tl", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey")
        (0 to 2).foreach { k =>
          appendWithIds(o.where(col("o_orderkey") % 3 === k), dir, "row_id",
            "o_orderkey", 20250901, 900 + k * 100)
        }
      }
      ManifestTable.readLatest(s, dir)
        .groupBy((col("o_orderkey") % 3).cast("long").as("slice"))
        .agg(count(lit(1)).as("n_rows"),
          min("row_id").cast("long").as("min_id"),
          max("row_id").cast("long").as("max_id"),
          sum("row_id").cast("long").as("sum_ids"))
        .orderBy("slice")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_identity" ->
      """WITH ids AS (
        |  SELECT o_orderkey % 3 AS slice,
        |         row_number() OVER (ORDER BY o_orderkey % 3, o_orderkey) AS row_id
        |  FROM orders)
        |SELECT CAST(slice AS BIGINT) AS slice, count(*) AS n_rows,
        |       CAST(min(row_id) AS BIGINT) AS min_id,
        |       CAST(max(row_id) AS BIGINT) AS max_id,
        |       CAST(sum(row_id) AS BIGINT) AS sum_ids
        |FROM ids GROUP BY slice ORDER BY slice""".stripMargin,
  )
}

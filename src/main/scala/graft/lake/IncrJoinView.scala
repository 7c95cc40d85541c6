package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Incremental join-view maintenance (X88): a materialized inner equi-join
  * view of a manifest fact table (X39) with a static dimension, refreshed
  * from the fact table's change feed (X75) instead of recomputed — the
  * delta-view identity `Δ(F ⋈ D) = ΔF ⋈ D` for a static D. The view is
  * ITSELF a manifest table whose version numbers mirror the fact table's,
  * so view history gets time travel, atomic commits, and crash safety for
  * free, and a reader can pin view v while v+1 refreshes.
  *
  * Per step `v→v+1`: feed deletes anti-join the current view on the fact
  * projection, feed adds join the dim once, the union commits as view
  * v+1. Refresh cost is |Δ| · (dim lookup), NOT |fact| — at 100 TB a
  * nightly refresh touches only the day's changed rows, and the feed
  * itself answers delete commits from tombstone metadata (X75's fast
  * path), so a pure delete day never scans the fact table either. The dim
  * join broadcasts when small; both the anti-join and the dim join key on
  * columns, no driver state.
  *
  * The feed is keyed on the FULL fact projection (a key-presence diff
  * surfaces payload updates only if payload is part of the key), so an
  * upstream update arrives as an (add, delete) pair at the same primary
  * key and the anti-join/union pair applies it exactly — this requires
  * fact rows unique on the projection, the usual MV key contract.
  */
object IncrJoinView extends graft.QueryModule {

  /** Bring the view at `viewDir` up to the fact table's latest version,
    * initializing it (one full join of fact v1) if absent. Returns the
    * fact version the view now reflects. `dim` must share the join key
    * column name with the fact projection.
    */
  def refresh(spark: SparkSession, factDir: String, viewDir: String,
      dim: DataFrame, factCols: Seq[String], joinKey: String,
      date: Int, time: Int): Int = {
    val factV = ManifestTable.latestVersion(spark, factDir).getOrElse(
      throw new NoSuchElementException(s"no committed fact table at $factDir"))
    val cols = factCols.map(col)
    def project(df: DataFrame) = df.select(cols: _*)
    val start = ManifestTable.latestVersion(spark, viewDir).getOrElse {
      ManifestTable.commit(
        project(ManifestTable.readVersion(spark, factDir, 1)).join(dim, joinKey),
        viewDir, date, time)
      1
    }
    for (v <- start until factV) {
      val feed = ChangeFeed.changeFeed(spark, factDir, v, v + 1, factCols)
      val dels = project(feed.where(col("change") === "deleted"))
      val adds = project(feed.where(col("change") === "added")).join(dim, joinKey)
      val next = ManifestTable.readVersion(spark, viewDir, v)
        .join(dels, factCols, "left_anti")
        .unionByName(adds)
      ManifestTable.commit(next, viewDir, date, time)
    }
    factV
  }

  private val factCols =
    Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

  /** Timeline: base commit → DV delete → recommit carrying a payload
    * update plus appended rows → DV delete. Exercises both feed paths
    * (tombstone fast path and content diff) and the update-as-pair
    * semantics; the final view must equal a from-scratch recompute, which
    * is exactly what the oracle does.
    */
  def buildFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("incr_join_view", d) { root =>
      val factDir = s"$root/fact"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select(factCols.map(col): _*)
      ManifestTable.commit(ord.where(k % 4 =!= 3), factDir, 20250801, 900)
      DeleteVectors.deleteWhere(s, factDir, k % 10 === 1, 20250801, 1000)
      val updated = ManifestTable.readVersion(s, factDir, 2)
        .withColumn("o_totalprice",
          when(k % 7 === 2, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
      ManifestTable.commit(
        updated.unionByName(ord.where(k % 4 === 3 && k % 3 === 0)),
        factDir, 20250801, 1100)
      DeleteVectors.deleteWhere(s, factDir, col("o_orderstatus") === "F",
        20250801, 1200)
      refresh(s, factDir, s"$root/view", dimFor(s, d), factCols,
        "o_custkey", 20250801, 1300)
    }

  def dimFor(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
      col("c_name"), col("c_mktsegment"))

  val queries: Map[String, Q] = Map(
    "q_incr_join_view" -> ((s, d) => {
      val root = buildFixture(s, d)
      ManifestTable.readLatest(s, s"$root/view").orderBy("o_orderkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    // from-scratch replay of the fact timeline, joined once at the end
    "q_incr_join_view" ->
      """WITH f0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
        |v1 AS (SELECT * FROM f0 WHERE o_orderkey % 4 <> 3),
        |v2 AS (SELECT * FROM v1 WHERE NOT (o_orderkey % 10 = 1)),
        |v3 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 1
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderstatus
        |  FROM v2
        |  UNION ALL
        |  SELECT * FROM f0 WHERE o_orderkey % 4 = 3 AND o_orderkey % 3 = 0),
        |v4 AS (SELECT * FROM v3 WHERE NOT (o_orderstatus = 'F'))
        |SELECT v4.o_custkey AS o_custkey, o_orderkey, o_totalprice,
        |       o_orderstatus, c_name, c_mktsegment
        |FROM v4 JOIN customer c ON c.c_custkey = v4.o_custkey
        |ORDER BY o_orderkey
        |""".stripMargin,
  )
}

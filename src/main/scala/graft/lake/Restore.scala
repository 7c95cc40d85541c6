package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.{Exact, FixtureCache}

/** RESTORE to an earlier version (extension X118 — Delta `RESTORE TABLE`).
  *
  * Rollback the lake way: not by deleting history, but by ROLLING FORWARD
  * a new version whose file list (and deletion-vector set) is exactly the
  * target version's. Pure metadata — zero data bytes move on a 100 TB
  * table — and nothing is lost: the bad versions stay time-travelable for
  * the post-mortem, the X75 change feed sees an honest transition (a
  * restore IS a content change going forward), and X61 vacuum keeps the
  * restored files alive because the new head references them. A restore
  * of a tombstone-carrying version carries its deletion vectors verbatim:
  * the sidecar files are immutable and version-addressed, so the revived
  * manifest points at them exactly as the original did. Zone-map entries
  * come back with the files: the target version's own.
  *
  * `op = "restore"` marks the commit in the X102 log — audit surfaces
  * show WHEN the table was rolled back and to what content, rather than
  * the rollback masquerading as a fresh write.
  */
object Restore extends graft.QueryModule {

  /** Commit `toVersion`'s exact content as the NEW latest version.
    * Returns the committed version number.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int,
      date: Int, time: Int): Int = {
    val snaps = ManifestTable.snapshots(spark, dir)
    val target = snaps.find(_.version == toVersion).getOrElse(
      throw new NoSuchElementException(
        s"no version $toVersion at $dir (have ${snaps.map(_.version).mkString(",")})"))
    ManifestTable.retrying("restore", dir) {
      val latest = ManifestTable.snapshots(spark, dir).last
      if (latest.version == toVersion) toVersion // already there
      else ManifestTable.commitManifest(spark, dir, Some(latest), date, time,
        target.files, deletes = target.deletes, op = "restore",
        stats = target.stats.values.toSeq)
    }
  }

  val queries: Map[String, Q] = Map(
    // v1 = whole slice, v2 = a "bad" replace with only a third of it,
    // v3 = RESTORE to v1. The latest read equals v1's content again, the
    // bad v2 stays time-travelable, and the restore is visible in the
    // log as its own operation kind.
    "q_restore" -> ((s, d) => {
      val dir = FixtureCache.dir("restore_tl", d) { dir =>
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        ManifestTable.commit(o, dir, 20250901, 900)
        ManifestTable.commit(o.where(col("o_orderkey") % 3 === 0), dir, 20250901, 1000)
        restore(s, dir, 1, 20250901, 1100)
      }
      val snaps = ManifestTable.snapshots(s, dir)
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_total"))
          .withColumn("probe", lit(tag))
      agg("latest", ManifestTable.readLatest(s, dir))
        .unionByName(agg("v2_bad", ManifestTable.readVersion(s, dir, 2)))
        .withColumn("last_op", lit(snaps.last.op))
        .withColumn("n_versions", lit(snaps.size))
        .select("probe", "n_rows", "sum_total", "last_op", "n_versions")
        .orderBy("probe")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_restore" ->
      """SELECT * FROM (
        |  SELECT 'latest' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |         'restore' AS last_op, CAST(3 AS INT) AS n_versions
        |  FROM orders
        |  UNION ALL
        |  SELECT 'v2_bad', count(*),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |         'restore', CAST(3 AS INT)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |) ORDER BY probe""".stripMargin,
  )
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.lake.ManifestTable
import graft.sinks.Jdbc
import graft.sinks.Jdbc.JdbcConfig
import graft.util.{Exact, FixtureCache}

/** Incremental high-watermark JDBC ingest (extension X112) — the scale
  * path for the reference's hourly full-table pulls. The reference reads
  * the WHOLE source table every run and rewrites its snapshot
  * (`airflow/dags/apify_dag.py:216-246`, single-partition JDBC read):
  * correct, but each run costs O(table), so at 100 TB the hourly job can
  * never finish inside its hour. Incremental ingest pulls only rows whose
  * monotonically-increasing watermark column advanced past the last
  * committed watermark and APPENDS them to the lake table — each run
  * costs O(new rows).
  *
  * Exactly-once the lake way (same machinery as X58/X109, one level
  * simpler): the committed WATERMARK is the manifest's `ingest` state
  * entry (`{"watermark"}`), published in the same put as the version's
  * file list — so
  *  - a crash or a lost race before the commit leaves no watermark
  *    behind (X39's staged-data story), and the re-run re-pulls the
  *    same increment;
  *  - a re-run after success pulls `wm > committed watermark` = 0 rows
  *    and commits NOTHING (a version-less no-op);
  *  - the watermark is computed FROM THE STAGED BATCH (one parquet agg),
  *    never from a second racing source query, so it is exactly the max
  *    of what the commit made visible;
  *  - pulls are single-writer: a pull whose parent's watermark moved
  *    since it read it refuses rather than append the same rows twice.
  *
  * Contract (the standard high-watermark caveat, stated rather than
  * hidden): `wmCol` must be monotonic at the SOURCE — a row landing with
  * a watermark at-or-below an already-committed pull is never seen. Use a
  * sequence / commit-ordered id, not a wall-clock the source back-dates.
  *
  * The JDBC predicate `wm > W` pushes down into the remote query
  * (Spark's JDBC source ships filters), so the source does an index range
  * scan, not a full scan shipped over the wire.
  */
object JdbcIncr extends graft.QueryModule {

  private def watermarkOf(entry: Option[JValue]): Option[Long] = {
    implicit val fmts: Formats = DefaultFormats
    entry.map(j => (j \ "watermark").extract[Long])
  }

  /** The watermark of the latest committed version, if any pull landed. */
  def committedWatermark(spark: SparkSession, dir: String): Option[Long] =
    watermarkOf(ManifestTable.latestState(spark, dir, "ingest"))

  /** One incremental pull: append source rows with `wmCol` past the
    * committed watermark, advancing it atomically with the commit.
    * Returns the committed version, or None when the source had nothing
    * new (no version is created).
    */
  def pull(spark: SparkSession, cfg: JdbcConfig, table: String, wmCol: String,
      dir: String, date: Int, time: Int): Option[Int] = {
    val seen = ManifestTable.latestState(spark, dir, "ingest")
    val lastWm = watermarkOf(seen)
    val src = lastWm.foldLeft(Jdbc.read(spark, cfg, table))(
      (df, w) => df.where(col(wmCol) > lit(w)))
    val staged = ManifestTable.stageDataFiles(src, dir)
    val stagedDf =
      if (staged.isEmpty) null
      else spark.read.parquet(staged.map(f => s"$dir/$f"): _*)
    val mx = if (staged.isEmpty) null else stagedDf.agg(max(col(wmCol))).head.get(0)
    if (mx == null) return None // empty increment: no commit, no version
    // the commit makes both the rows and their watermark visible in one put
    Some(ManifestTable.appendStagedRetrying(spark, dir, date, time, staged,
      state = ManifestTable.claim("ingest", seen,
        JObject("watermark" -> JInt(mx.asInstanceOf[Number].longValue)), dir)))
  }

  val queries: Map[String, Q] = Map(
    // Seed a Derby source with the low half of orders, pull (full load),
    // append the high half at the source, pull (incremental), pull again
    // (no-op — pinned by n_versions staying 2). Final lake content is
    // exactly the whole orders table, whatever the split.
    "q_jdbc_incr" -> ((s, d) => {
      val cfg = Jdbc.fixtureEndpoint("jincr", d)
      val tbl = cfg.fixtureTable("src_orders") // sf-keyed on server endpoints
      val dir = FixtureCache.dir("jdbc_incr", d) { dir =>
        Jdbc.dropIfExists(cfg, tbl) // server-endpoint rerun hygiene
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val lim = o.agg(max("o_orderkey")).head.getAs[Number](0).longValue() / 2
        Jdbc.append(o.where(col("o_orderkey") <= lim), cfg, tbl)
        pull(s, cfg, tbl, "o_orderkey", dir, 20250601, 900)
        Jdbc.append(o.where(col("o_orderkey") > lim), cfg, tbl)
        pull(s, cfg, tbl, "o_orderkey", dir, 20250601, 1000)
        pull(s, cfg, tbl, "o_orderkey", dir, 20250601, 1100) // no-op
      }
      val nVersions = ManifestTable.snapshots(s, dir).size
      ManifestTable.readLatest(s, dir)
        .groupBy((col("o_orderkey") % 7).cast("long").as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("n_versions", lit(nVersions))
        .orderBy("grp")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_jdbc_incr" ->
      """SELECT CAST(o_orderkey % 7 AS BIGINT) AS grp,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(2 AS INT) AS n_versions
        |FROM orders GROUP BY 1 ORDER BY grp""".stripMargin,
  )
}

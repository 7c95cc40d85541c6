package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

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
  * simpler): the committed WATERMARK rides a tiny sidecar
  * (`_ingest/v<N>.json`) written BEFORE the version's manifest commit and
  * resolved newest-at-or-below the committed latest — so
  *  - a crash before the commit leaves an orphan sidecar no reader
  *    resolves (X39's staged-data story), and the re-run re-pulls the
  *    same increment;
  *  - a re-run after success pulls `wm > committed watermark` = 0 rows
  *    and commits NOTHING (a version-less no-op);
  *  - the watermark is computed FROM THE STAGED BATCH (one parquet agg),
  *    never from a second racing source query, so it is exactly the max
  *    of what the commit made visible.
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

  private def ingestDir(dir: String) = s"$dir/_ingest"
  private def sideName(version: Int) = f"v$version%08d.json"
  private val SideRe = """v(\d{8})\.json""".r

  private def writeSidecar(spark: SparkSession, dir: String, version: Int,
      wm: Long): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(ingestDir(dir)))
    val out = fs.create(new Path(ingestDir(dir), sideName(version)), true)
    try out.write(s"""{"version": $version, "watermark": $wm}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** The committed watermark: newest sidecar at-or-below the committed
    * latest version. Orphan sidecars above it (crash leftovers) are
    * invisible by construction.
    */
  def committedWatermark(spark: SparkSession, dir: String): Option[Long] = {
    val latest = ManifestTable.latestVersion(spark, dir).getOrElse(return None)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idir = new Path(ingestDir(dir))
    if (!fs.exists(idir)) return None
    val vs = fs.listStatus(idir).toSeq.flatMap(_.getPath.getName match {
      case SideRe(n) => Some(n.toInt)
      case _ => None
    }).filter(_ <= latest)
    if (vs.isEmpty) return None
    val in = fs.open(new Path(idir, sideName(vs.max)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: Formats = DefaultFormats
    Some((JsonMethods.parse(text) \ "watermark").extract[Long])
  }

  /** One incremental pull: append source rows with `wmCol` past the
    * committed watermark, advancing it atomically with the commit.
    * Returns the committed version, or None when the source had nothing
    * new (no version is created).
    */
  def pull(spark: SparkSession, cfg: JdbcConfig, table: String, wmCol: String,
      dir: String, date: Int, time: Int, maxRetries: Int = 5): Option[Int] = {
    val lastWm = committedWatermark(spark, dir)
    val src = lastWm.foldLeft(Jdbc.read(spark, cfg, table))(
      (df, w) => df.where(col(wmCol) > lit(w)))
    val staged = ManifestTable.stageDataFiles(src, dir)
    val stagedDf =
      if (staged.isEmpty) null
      else spark.read.parquet(staged.map(f => s"$dir/$f"): _*)
    val mx = if (staged.isEmpty) null else stagedDf.agg(max(col(wmCol))).head.get(0)
    if (mx == null) return None // empty increment: no commit, no version
    val newWm = mx.asInstanceOf[Number].longValue
    var tries = 0
    while (true) {
      val latest = ManifestTable.snapshots(spark, dir).lastOption
      val v = latest.map(_.version).getOrElse(0) + 1
      // sidecar first, then the manifest rename — the commit makes both
      // the rows and their watermark visible in one atomic step
      writeSidecar(spark, dir, v, newWm)
      try {
        ManifestTable.commitManifest(spark, dir, v, date, time,
          latest.map(_.files).getOrElse(Nil) ++ staged,
          deletes = latest.map(_.deletes).getOrElse(Nil), op = "append")
        return Some(v)
      } catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.startsWith("concurrent commit") =>
          tries += 1
          if (tries > maxRetries) throw new IllegalStateException(
            s"ingest at $dir lost $tries consecutive races; giving up", e)
      }
    }
    None // unreachable
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

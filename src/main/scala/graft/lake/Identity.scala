package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ops.DenseId
import graft.sources.Tables
import graft.util.FixtureCache

/** Identity columns — exactly-once monotonic surrogate ids across appends
  * (extension X121; Delta `GENERATED ALWAYS AS IDENTITY`, done strictly).
  *
  * Each append assigns `highWater + 1 .. highWater + n` to its rows and
  * advances the high-water mark ATOMICALLY with the commit: the mark
  * rides an `_identity/v<N>.json` sidecar written before the manifest
  * rename and resolved newest-at-or-below the committed latest (the
  * X112/X117 pattern), so a crashed attempt leaves ids unclaimed-and-
  * invisible, and a re-run reissues the SAME range. Delta's identity
  * promises uniqueness but not density (cache blocks burn gaps on
  * crash); with the mark fused into the commit, ids here are unique AND
  * gapless AND deterministic.
  *
  * Within a batch, ids follow `orderCol` order via X77's bucket-parallel
  * dense-rank (quantile split points + per-bucket offsets — no
  * SinglePartition window, unbounded parallelism), which is also what
  * makes the assignment REPLAYABLE: same batch, same ids, so the whole
  * history is SQL-reconstructible (the oracle's row_number twin).
  * `orderCol` must be unique per batch (X77's contract).
  */
object Identity extends graft.QueryModule {

  private def idDir(dir: String) = s"$dir/_identity"
  private def sideName(version: Int) = f"v$version%08d.json"
  private val SideRe = """v(\d{8})\.json""".r

  private[lake] def writeSidecar(spark: SparkSession, dir: String, version: Int,
      highWater: Long): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(idDir(dir)))
    val out = fs.create(new Path(idDir(dir), sideName(version)), true)
    try out.write(s"""{"version": $version, "high_water": $highWater}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** The committed high-water mark (0 for a fresh table). */
  def highWater(spark: SparkSession, dir: String): Long = {
    val latest = ManifestTable.latestVersion(spark, dir).getOrElse(return 0L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = new Path(idDir(dir))
    if (!fs.exists(d)) return 0L
    val vs = fs.listStatus(d).toSeq.flatMap(_.getPath.getName match {
      case SideRe(n) if n.toInt <= latest => Some(n.toInt)
      case _ => None
    })
    if (vs.isEmpty) return 0L
    val in = fs.open(new Path(d, sideName(vs.max)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parse(text) \ "high_water").extract[Long]
  }

  /** Append `df` with `idCol` = highWater+1..highWater+n (ordered by
    * `orderCol` within the batch), advancing the mark atomically with
    * the commit. Returns (version, new high water).
    */
  def appendWithIds(df: DataFrame, dir: String, idCol: String,
      orderCol: String, date: Int, time: Int, parts: Int = 8,
      maxRetries: Int = 5): (Int, Long) = {
    val spark = df.sparkSession
    val base = highWater(spark, dir)
    val withIds = DenseId.assign(df, orderCol, parts)
      .withColumn(idCol, col("rid") + base).drop("rid")
    val staged = ManifestTable.stageDataFiles(withIds, dir)
    val n = spark.read.parquet(staged.map(f => s"$dir/$f"): _*).count()
    var tries = 0
    while (true) {
      val latest = ManifestTable.snapshots(spark, dir).lastOption
      val v = latest.map(_.version).getOrElse(0) + 1
      writeSidecar(spark, dir, v, base + n)
      try {
        ManifestTable.commitManifest(spark, dir, v, date, time,
          latest.map(_.files).getOrElse(Nil) ++ staged,
          deletes = latest.map(_.deletes).getOrElse(Nil), op = "append")
        return (v, base + n)
      } catch {
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.startsWith("concurrent commit") =>
          // a concurrent writer may have claimed ids: the staged frame's
          // ids are now suspect — refuse rather than risk duplicates
          // (identity appends are a single-writer surface, like X112)
          tries += 1
          if (tries > maxRetries) throw new IllegalStateException(
            s"identity append at $dir lost $tries consecutive races; giving up", e)
          val nowBase = highWater(spark, dir)
          if (nowBase != base) throw new IllegalStateException(
            s"identity append at $dir raced a concurrent identity append " +
              s"(high water moved $base -> $nowBase); re-run to reassign ids", e)
      }
    }
    (-1, -1L) // unreachable
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

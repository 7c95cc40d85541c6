package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.sources.Tables
import graft.util.{Exact, FixtureCache, Scratch}

/** COPY INTO — idempotent file ingest from a landing area (extension
  * X119; the Databricks `COPY INTO` / Snowflake `COPY` shape).
  *
  * The third leg of the ingest family: X112 pulls from a DATABASE by
  * watermark, X114 tails a graft LOG by version — this one ingests
  * whatever FILES showed up in a landing directory (upstream dumps,
  * vendor drops), exactly once per file, no matter how often the job
  * runs or crashes. Each committed manifest carries the cumulative
  * ingested set as its `copy` state entry (`{"files", "digests"}`),
  * published in the same put as the file list, so a crashed or lost
  * attempt records nothing and a re-run re-ingests the same increment;
  * a run ingests `listed − ingested`, appending nothing and committing
  * no version when that set is empty. Runs are single-writer: a run
  * whose parent's ingested set moved since it listed refuses rather
  * than append the same files twice.
  *
  * Idempotence key is the landing file PATH (COPY INTO's own default):
  * re-listing, re-running, and upstream re-dumping the same path are all
  * no-ops; a genuinely new file — even one with identical content — is
  * new data. The ingested set grows with every landing file ingested,
  * the same order as the manifest's own file list; the landing listing
  * is the only O(landing) step — the ingest reads only the new files.
  */
object CopyInto extends graft.QueryModule {

  /** md5 of a landing file's bytes — the content identity for
    * `dedupeBy = "content"`. Driver-side stream over ONE new file at a
    * time; landing files are increment-sized by definition.
    */
  private def digestOf(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** One field of a `copy` state entry. */
  private def field(entry: Option[JValue], name: String): Seq[String] = {
    implicit val fmts: Formats = DefaultFormats
    entry.flatMap(j => (j \ name).extractOpt[Seq[String]]).getOrElse(Nil)
  }

  /** Content digests already ingested by committed versions. */
  def ingestedDigests(spark: SparkSession, dir: String): Set[String] =
    field(ManifestTable.latestState(spark, dir, "copy"), "digests").toSet

  /** Landing files already ingested by committed versions. */
  def ingestedFiles(spark: SparkSession, dir: String): Set[String] =
    field(ManifestTable.latestState(spark, dir, "copy"), "files").toSet

  /** Ingest new parquet files under `landingDir` (non-recursive), exactly
    * once per path. Returns the committed version, or None when nothing
    * new landed.
    */
  def copyInto(spark: SparkSession, dir: String, landingDir: String,
      date: Int, time: Int, dedupeBy: String = "path"): Option[Int] = {
    require(dedupeBy == "path" || dedupeBy == "content",
      s"dedupeBy must be 'path' or 'content', got '$dedupeBy'")
    val fs = new Path(landingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new Path(landingDir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath).sorted
    val seen = ManifestTable.latestState(spark, dir, "copy")
    val (files, digests) = (field(seen, "files"), field(seen, "digests"))
    val newPaths = listed.filterNot(files.toSet)
    // content mode: a re-dropped file under a NEW NAME is still the same
    // increment — digest only the path-fresh files (O(new bytes)) and
    // drop any whose bytes a committed version already ingested
    val (fresh, freshDigests) =
      if (dedupeBy == "path") (newPaths, Nil: Seq[String])
      else {
        val done = digests.toSet
        val withDig = newPaths.map(p => p -> digestOf(fs, new Path(p)))
          .filterNot { case (_, dg) => done(dg) }
        // two identical drops in ONE batch: keep the first path
        val firstPer = withDig.groupBy(_._2).map(_._2.head).toSeq.sortBy(_._1)
        (firstPer.map(_._1), firstPer.map(_._2))
      }
    if (fresh.isEmpty) return None
    val staged = ManifestTable.stageDataFiles(spark.read.parquet(fresh: _*), dir)
    val next = {
      import org.json4s.JsonDSL._
      ("files" -> (files ++ fresh)) ~ ("digests" -> (digests ++ freshDigests))
    }
    Some(ManifestTable.appendStagedRetrying(spark, dir, date, time, staged,
      state = ManifestTable.claim("copy", seen, next, dir)))
  }

  val queries: Map[String, Q] = Map(
    // Landing batch 1 (2 files), copy; batch 2 lands BESIDE the already-
    // ingested files (1 more file), copy — only the new file ingests; a
    // third run is a version-less no-op. Content = the whole slice,
    // n_versions pins the no-op.
    "q_copy_into" -> ((s, d) => {
      val dir = FixtureCache.dir("copy_into", d) { dir =>
        val landing = Scratch.dir("copy_landing")
        val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        o.where(col("o_orderkey") % 3 === 0).coalesce(1)
          .write.parquet(s"$landing/b0")
        o.where(col("o_orderkey") % 3 === 1).coalesce(1)
          .write.parquet(s"$landing/b1")
        val fs = new Path(landing).getFileSystem(s.sparkContext.hadoopConfiguration)
        def promote(sub: String, name: String): Unit = {
          val f = fs.listStatus(new Path(s"$landing/$sub")).toSeq
            .find(_.getPath.getName.endsWith(".parquet")).get.getPath
          fs.rename(f, new Path(s"$landing/$name.parquet"))
        }
        promote("b0", "drop_a"); promote("b1", "drop_b")
        copyInto(s, dir, landing, 20250901, 900)
        o.where(col("o_orderkey") % 3 === 2).coalesce(1)
          .write.parquet(s"$landing/b2")
        promote("b2", "drop_c")
        copyInto(s, dir, landing, 20250901, 1000)
        copyInto(s, dir, landing, 20250901, 1100) // no-op
      }
      val nVersions = ManifestTable.snapshots(s, dir).size
      ManifestTable.readLatest(s, dir)
        .groupBy((col("o_orderkey") % 3).cast("long").as("slice"))
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("n_versions", lit(nVersions))
        .orderBy("slice")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_copy_into" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       CAST(2 AS INT) AS n_versions
        |FROM orders GROUP BY 1 ORDER BY slice""".stripMargin,
  )
}

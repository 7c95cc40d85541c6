package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** X161: Skyline / Pareto frontier — the rows no other row beats in BOTH
  * dimensions (dominated iff ∃ row' with x' > x AND y' > y; strict
  * two-sided dominance, so ties survive on either axis). The classic
  * multi-criteria selection operator (Börzsönyi et al., ICDE 2001) Spark
  * has no native form of: best price-per-quality documents, cost/latency
  * trade-off curves, quality-vs-length corpus cuts.
  *
  * The naive plans both fail at scale: the NOT-EXISTS self-join is
  * O(n²), and the textbook window rewrite — `max(y) OVER (ORDER BY x
  * DESC RANGE ... 1 PRECEDING)` — collapses the table into ONE partition
  * (the X77/X92 trap, Spark warns and then dies at 100 TB). A row is
  * dominated iff the max y over STRICTLY-GREATER x exceeds its y, and
  * that prefix-max decomposes exactly like X77's dense ids:
  *
  *  1. explicit range buckets on x from a quantile sketch (deterministic
  *     split points; strict-`>` bucketing keeps equal x in one bucket, so
  *     every higher bucket holds strictly greater x);
  *  2. per-bucket `max(y)` — a #buckets-row aggregate, driver-cumulated
  *     from the top into EXCLUSIVE suffix maxes, broadcast back;
  *  3. a bucket-LOCAL window (partitionBy bucket — no collapse) computes
  *     the within-bucket prefix max over x' > x via a RANGE frame
  *     (integer x, `1 PRECEDING` under DESC order ⇔ x' ≥ x+1);
  *  4. dominated ⟺ greatest(suffix max, local prefix max) > y.
  *
  * Two passes over the data, every stage bucket-parallel, shuffle keyed
  * on the range bucket. Output is the unique skyline set — fully
  * deterministic, no tie-break needed.
  */
object Skyline extends graft.QueryModule {
  /** Skyline of `df` maximizing integer column `xCol` and numeric
    * `yCol`, bucket-parallel (no SinglePartition anywhere in the plan).
    * `parts <= 0` derives the bucket count from the cluster (floor 32, so
    * the decomposition never degrades below its historical width on a
    * small driver, and scales with cores on a big one — the bucketing
    * only changes the decomposition, never the result set).
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String, parts0: Int = -1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts =
      if (parts0 > 0) parts0
      else math.max(32, spark.sparkContext.defaultParallelism)
    // deterministic splits (the X77 discipline: repartitionByRange would
    // re-sample per execution and let the passes disagree)
    val splits =
      if (parts <= 1) Array.empty[Double]
      else df.stat
        .approxQuantile(xCol, (1 until parts).map(_.toDouble / parts).toArray, 0.001)
        .distinct.sorted
    val pidExpr = splits.foldLeft(lit(0)) { (acc, sp) =>
      acc + when(col(xCol) > lit(sp), 1).otherwise(0)
    }
    val withPid = df.withColumn("__pid", pidExpr)
    // per-bucket max y (driver-sized), folded from the top into the
    // EXCLUSIVE suffix max each bucket sees from strictly-greater x
    val maxes = withPid.groupBy("__pid").agg(max(col(yCol).cast("double")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val nBuckets = splits.length + 1
    val suffix = new Array[Double](nBuckets)
    var run = Double.NegativeInfinity
    for (p <- nBuckets - 1 to 0 by -1) {
      suffix(p) = run // exclusive: maxes of buckets ABOVE p only
      run = math.max(run, maxes.getOrElse(p, Double.NegativeInfinity))
    }
    val sufDf = suffix.zipWithIndex.map { case (m, p) => (p, m) }.toSeq
      .toDF("__pid", "__suf")
    // bucket-local prefix max over strictly-greater x (integer RANGE frame)
    val w = Window.partitionBy("__pid").orderBy(col(xCol).desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    withPid
      .join(broadcast(sufDf), Seq("__pid"))
      .withColumn("__pre",
        coalesce(max(col(yCol).cast("double")).over(w), lit(Double.NegativeInfinity)))
      .where(!(greatest(col("__suf"), col("__pre")) > col(yCol).cast("double")))
      .drop("__pid", "__suf", "__pre")
  }

  val queries: Map[String, Q] = Map(
    // Pareto frontier of parts over (p_size, p_retailprice) — "for every
    // size, what prices does nothing bigger-and-pricier beat": the
    // corpus-curation shape is identical (quality vs length). Oracle is
    // the obviously-correct quadratic NOT-EXISTS — the decomposed
    // bucket-parallel plan must reproduce it exactly.
    "q_skyline" -> ((s, d) => {
      skyline2D(Tables.part(s, d), "p_size", "p_retailprice")
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_size", "p_partkey")
    }))

  val oracles: Map[String, String] = Map(
    "q_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_size > a.p_size AND b.p_retailprice > a.p_retailprice)
        |ORDER BY p_size, p_partkey""".stripMargin)
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._
import graft.util.Exact.dsum

/** Salted equi-join for skewed keys (north-star scale toolkit).
  *
  * When one join key dominates (a hot user, a default value), a plain
  * shuffle join lands the whole key on ONE reducer — the task that never
  * finishes at 100 TB. Mitigations in preference order:
  *
  *  1. AQE skew-join (`spark.sql.adaptive.skewJoin.enabled`, on by
  *     default): splits oversized partitions at runtime. Use it first.
  *  2. Broadcast the small side: no shuffle at all, skew irrelevant.
  *  3. THIS operator, when both sides are large AND the skew is in the
  *     probe side: salt the probe rows into `salts` sub-keys
  *     deterministically, replicate the build side once per salt, join on
  *     (key, salt). The hot key now spreads over `salts` reducers at the
  *     cost of a `salts`× replication of the build side — bounded and
  *     chosen by the caller.
  */
object SkewJoin extends graft.QueryModule {

  /** @param salts sub-partitions per key; probe-side salt is a
    * deterministic hash of the whole row (no rand(), so retries and
    * oracle compares are stable)
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salts: Int): DataFrame = {
    val p = probe.withColumn("_salt",
      pmod(xxhash64(probe.columns.map(col).toIndexedSeq: _*), lit(salts)).cast("int"))
    val b = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    p.join(b.hint("merge"), Seq(key, "_salt")).drop("_salt")
  }

  val queries: Map[String, Q] = Map(
    // lineitem ⋈ supplier on suppkey: ~600 lineitems per supplier at
    // sf0.01 — the fan shape where a hot key would pile up. The salted
    // join must aggregate to exactly the plain join's answer (DuckDB
    // oracle computes the plain join).
    "q_skew_join" -> ((s, d) =>
      saltedJoin(
        lineitem(s, d).select("l_suppkey", "l_quantity", "l_extendedprice"),
        supplier(s, d).select(col("s_suppkey").as("l_suppkey"), col("s_name")),
        key = "l_suppkey", salts = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("s_name")),
  )

  val oracles: Map[String, String] = Map(
    "q_skew_join" ->
      """SELECT s_name, COUNT(*) AS n_items,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
  )
}

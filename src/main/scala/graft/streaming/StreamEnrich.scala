package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.util.Exact.dsum

/** Stream–static broadcast enrichment (X63): a streaming fact feed joined
  * per micro-batch against a batch dimension table — the lookup-join every
  * streaming pipeline runs (events → user/account attributes) and the
  * streaming twin of the reference's gender enrichment join
  * (`ml/GenderQueries` F1: dictionary broadcast onto the scored table).
  *
  * Semantics: stream–static joins are STATELESS — each micro-batch joins
  * against the dimension as of that batch, no watermark, no state store.
  * That is exactly right for slowly-changing reference data and is why
  * this costs nothing to keep exactly-once: the append sink emits each
  * enriched row once per arriving fact.
  *
  * Scale shape: the dimension is BROADCAST (pinned in StreamEnrichSpec),
  * so the stream side never shuffles — per batch the only work is a hash
  * probe inside whole-stage codegen, and a combinable per-batch aggregate
  * keyed on the dimension attribute. A dimension too big to broadcast
  * flips to a pre-bucketed co-located join (X12's layout) — same API,
  * different physical plan.
  */
object StreamEnrich extends graft.QueryModule {

  /** Enriched per-nation revenue: stream of orders joined to the
    * customer→nation dimension per micro-batch, aggregated per batch and
    * appended; the total across batches is the batch-join answer.
    */
  def run(s: SparkSession, watchDir: String, chkDir: String, outDir: String,
      schema: org.apache.spark.sql.types.StructType, dim: DataFrame): Unit = {
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watchDir)
        .join(broadcast(dim), Seq("o_custkey")) // stateless lookup join
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.groupBy("n_name")
            .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
            .withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val queries: Map[String, Q] = Map(
    // Three order micro-batches enriched against customer⋈nation; the
    // re-aggregated append log must equal the plain batch join.
    "q_stream_enrich" -> ((s, d) => {
      val orders = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val outDir = graft.util.FixtureCache.dir("senrich_out", d) { outDir =>
        val in = graft.util.Scratch.dir("senrich_in")
        val t0 = System.currentTimeMillis() - 120000
        (0 until 3).foreach { k =>
          StreamDiff.writeSnapshotFile(
            orders.where(pmod(col("o_orderkey"), lit(3)) === k),
            s"$in/part_$k.parquet", t0 + k * 60000)
        }
        val dim = Tables.customer(s, d).join(Tables.nation(s, d),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey").as("o_custkey"), col("n_name"))
        run(s, in, graft.util.Scratch.dir("senrich_chk"), outDir,
          orders.schema, dim)
      }
      graft.sources.Tables.cachedParquet(s, outDir)
        .groupBy("n_name")
        .agg(sum("n_orders").cast("long").as("n_orders"),
          sum(col("revenue").cast("decimal(18,2)")).cast("double").as("revenue"),
          countDistinct("batch_id").cast("long").as("n_batches"))
        .orderBy("n_name")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_enrich" ->
      """SELECT n_name,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(count(DISTINCT o_orderkey % 3) AS BIGINT) AS n_batches
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
  )
}

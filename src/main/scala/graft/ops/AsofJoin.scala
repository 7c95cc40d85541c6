package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** As-of (backward) join — the canonical time-series operator Spark's
  * built-in joins can't express directly: for every left row, attach the
  * most recent right row of the same key whose time is ≤ the left row's
  * time.
  *
  * Spark-native shape (preference order (a) of the custom-operator ladder:
  * composition of existing operators): UNION the two sides with a side
  * tag, then one `last(value, ignoreNulls)` running window per carried
  * column over `(key) ORDER BY (time, side)`. Right rows sort before left
  * rows at equal times, so a same-timestamp match counts (`<=`, matching
  * DuckDB's `ASOF JOIN ... ON r.t <= l.t`, which is also the oracle).
  *
  * Scale notes (100 TB): ONE shuffle of the unioned input by key — same
  * cost as a single sort-merge join and strictly cheaper than the
  * range-join-then-rank formulation (whose candidate set is |matches
  * within range|, quadratic in dense keys). No state beyond the window's
  * running `last`, so heavy keys stream. A broadcast variant is pointless
  * here: the operator is already a single narrow-dependency pass after
  * the shuffle.
  *
  * Ties inside the RIGHT side at one (key, time) make "the" match
  * ambiguous; pre-aggregate the right side to one row per (key, time)
  * (as `q_asof_join` does) — the same contract DuckDB's ASOF leaves
  * implementation-defined.
  */
object AsofJoin extends graft.QueryModule {

  /** @param rightValues right-side columns to carry onto matched left rows
    * @param matchedTimeAlias output column holding the matched right time
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightValues: Seq[String],
      matchedTimeAlias: String = "asof_time"): DataFrame = {
    val leftExtra = left.columns.toSeq.filterNot(c => keys.contains(c) || c == leftTime)
    // the matched right row travels as ONE struct (time + values): a
    // single last(ignoreNulls) can then never mix the value of one right
    // row with the time of another when a value column is genuinely NULL
    val rightStruct = struct(
      col(rightTime).as("_rt") +: rightValues.map(col): _*)
    val l = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_side")) ++
        leftExtra.map(col) :+
        lit(null).cast(right.select(rightStruct.as("_r")).schema("_r").dataType).as("_r"): _*)
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_side")) ++
        leftExtra.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        rightStruct.as("_r"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(
        keys.map(col) ++
          Seq(col("_t").as(leftTime)) ++
          leftExtra.map(col) :+
          col("_m._rt").as(matchedTimeAlias) :++
          rightValues.map(c => col(s"_m.$c").as(c)): _*)
  }

  val queries: Map[String, Q] = Map(
    // trades/quotes split of the orders table: every 3rd order is a
    // "trade"; the rest, aggregated to one row per (customer, date), are
    // "quotes". Each trade picks up the customer's latest quote at-or-
    // before its date.
    "q_asof_join" -> ((s, d) => {
      val o = orders(s, d)
      val quotes = o.where(col("o_orderkey") % 3 =!= 0)
        .groupBy(col("o_custkey"), col("o_orderdate").as("quote_date"))
        .agg(max("o_totalprice").as("quote_price"))
      val trades = o.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").as("trade_date"))
      asofJoin(trades, quotes,
        keys = Seq("o_custkey"),
        leftTime = "trade_date", rightTime = "quote_date",
        rightValues = Seq("quote_price"),
        matchedTimeAlias = "quote_date")
        .select("o_orderkey", "o_custkey", "trade_date", "quote_date", "quote_price")
        .orderBy("o_orderkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_asof_join" ->
      """WITH quotes AS (
        |  SELECT o_custkey, o_orderdate AS quote_date, max(o_totalprice) AS quote_price
        |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1, 2),
        |trades AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate AS trade_date
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT t.o_orderkey, t.o_custkey, t.trade_date, q.quote_date, q.quote_price
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.o_custkey = q.o_custkey AND q.quote_date <= t.trade_date
        |ORDER BY o_orderkey""".stripMargin,
  )
}

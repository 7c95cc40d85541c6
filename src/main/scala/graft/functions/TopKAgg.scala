package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tables

/** Exact per-group top-k most frequent values as a custom
  * `TypedImperativeAggregate` (X80) — the "top 3 priorities per nation" /
  * "top sources per domain" shape every corpus report needs.
  *
  * The declarative plan for this is two shuffles: `GROUP BY (g, v)` to
  * count, then a `row_number() OVER (PARTITION BY g ORDER BY cnt)` window
  * whose sort shuffles the whole counted table a second time. This
  * aggregate does it in ONE pass with map-side partial aggregation: each
  * task accumulates a value→count map per group, partials merge
  * associatively on the reduce side, and `eval` keeps only the k (count
  * desc, value asc) winners — so what crosses the wire per (task, group)
  * is the partial map, bounded by the group's distinct-value cardinality,
  * and what leaves the aggregate is k rows. On a 100 TB events table with
  * low-cardinality categorical values (statuses, priorities, languages,
  * event types) the second shuffle and its sort simply disappear.
  *
  * Exactness requires the full per-group count map (any candidate can
  * climb into the top k at merge time), so buffer memory is
  * O(distinct values per group) — the right tool for categorical
  * domains; for unbounded domains use the X25 heavy-hitters sketch and
  * accept approximation. The oracle is the two-shuffle window plan in
  * DuckDB — the single-pass rewrite must be invisible.
  */
case class TopKByCount(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, s"k must be positive (got $k)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_by_count"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long], input: InternalRow):
      mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    // NULLs don't count (same as the window plan's GROUP BY dropping the
    // row only if grouped on it — we mirror count(col)'s null-skip).
    if (v != null) {
      // UTF8String may point into a reused row buffer — copy via toString.
      val s = v.asInstanceOf[UTF8String].toString
      buf.update(s, buf.getOrElse(s, 0L) + 1L)
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (s, n) => buf.update(s, buf.getOrElse(s, 0L) + n) }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = buf.toSeq.sortBy { case (s, n) => (-n, s) }.take(k)
    new GenericArrayData(top.map { case (s, n) =>
      InternalRow(UTF8String.fromString(s), n)
    }.toArray[Any])
  }

  // length-prefixed UTF-8, NOT DataOutputStream.writeUTF: modified-UTF-8
  // hard-fails at 64 KiB per value, which would surface as an opaque
  // UTFDataFormatException at SHUFFLE time for a long string column —
  // nothing in this aggregate enforces a short-categorical domain, so the
  // wire format must not either.
  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (s, n) =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(n)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.update(new String(b, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByCount =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByCount =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** DataFrame entry point + the SURVEY §2 query for [[TopKByCount]]. */
object TopKAgg extends graft.QueryModule {

  /** `topk_by_count(values, k)` aggregate column: `array<struct<item,
    * cnt>>` of the k most frequent values, count desc then value asc.
    */
  def topKByCount(values: Column, k: Int): Column =
    GraftShim.column(
      TopKByCount(GraftShim.expression(values), k).toAggregateExpression())

  val queries: Map[String, Q] = Map(
    // Top-3 order priorities per customer nation, one aggregation pass;
    // the oracle is DuckDB's count-then-window two-shuffle plan.
    "q_group_topk" -> ((s, d) => {
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(s, d).select("o_custkey", "o_orderpriority")
      ord.join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(topKByCount(col("o_orderpriority"), 3).as("topk"))
        .select(col("nation"), posexplode(col("topk")))
        .select(col("nation"), col("col.item").as("priority"),
          col("col.cnt").as("cnt"), (col("pos") + 1).cast("long").as("rank"))
        .orderBy("nation", "rank")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_group_topk" ->
      """SELECT nation, priority, cnt, rank FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |         o_orderpriority AS priority,
        |         count(*) AS cnt,
        |         CAST(row_number() OVER (
        |           PARTITION BY c_nationkey
        |           ORDER BY count(*) DESC, o_orderpriority) AS BIGINT) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, o_orderpriority)
        |WHERE rank <= 3
        |ORDER BY nation, rank""".stripMargin,
  )
}

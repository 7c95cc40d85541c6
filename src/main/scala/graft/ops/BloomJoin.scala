package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Bloom-filter runtime pre-join filter (extension X36) — the semi-join
  * reduction technique Spark's own runtime row-level filtering uses
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), surfaced as an
  * explicit operator: build a bloom filter over the dim side's join keys
  * with Spark's native `BloomFilterAggregate` (distributed, combinable),
  * pre-filter the fact side with the codegen'd `BloomFilterMightContain`
  * predicate, then run the exact join on the survivors.
  *
  * Why it matters at 100 TB: the fact side's shuffle is the job's cost;
  * a few-MB bloom filter dropped onto the scan eliminates most
  * non-matching rows BEFORE the exchange (false positives are caught by
  * the exact join, so semantics are unchanged — the oracle is the plain
  * semi join). Driver traffic is the serialized filter only, same class
  * of payload as a broadcast hash table but orders of magnitude smaller.
  */
object BloomJoin extends graft.QueryModule {
  /** Native distributed bloom build: one aggregate over the dim keys.
    * Returns the serialized filter (driver-held, like a broadcast var).
    * The caller must hash-normalize `key` to the same type the probe side
    * will use — XxHash64 is type-sensitive ([[bloomSemiJoin]] does this).
    */
  /** Cap on filter size (Spark's own `runtime.bloomFilter.maxNumBits`
    * default, 8 MB): an overestimated item count degrades gracefully to a
    * bounded driver/broadcast payload instead of an unbounded allocation.
    */
  val MaxNumBits: Long = 67108864L

  def buildBloom(dim: DataFrame, key: Column, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val numBits = math.min(MaxNumBits, org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(math.max(expectedItems, 1L), fpp)) // arithmetic only, no filter alloc
    val child = XxHash64(Seq(GraftShim.expression(key)), 42L)
    val agg = GraftShim.column(
      new BloomFilterAggregate(child, Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    dim.agg(agg.as("bloom")).head.getAs[Array[Byte]]("bloom")
  }

  /** Codegen'd `might_contain(bloom, xxhash64(key))` predicate column. */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    GraftShim.column(new BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(GraftShim.expression(key)), 42L)))

  /** Dim-side row count as the bloom capacity: an upper bound on distinct
    * keys, computed distributed. The dim is the small side by contract, so
    * this one extra aggregate is cheap relative to the fact scan it prunes
    * (on a real cluster, catalog/AQE statistics could stand in for it).
    */
  def autoExpectedItems(dim: DataFrame): Long = math.max(dim.count(), 1L)

  /** Semi join `fact` to `dim` on the given keys with a bloom pre-filter
    * on the fact side; exact join semantics (false positives are removed
    * by the real join).
    *
    * `expectedItems = None` (the default) sizes the filter from a dim-side
    * count — a stale caller estimate silently blows up the false-positive
    * rate (an undersized filter saturates and every fact row survives to
    * the exact join), so auto-sizing is the safe default and an explicit
    * value is an opt-in for callers with trusted statistics.
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, expectedItems: Option[Long] = None): DataFrame = {
    // XxHash64 is TYPE-sensitive: int 5 and long 5 hash differently, so a
    // mixed-type key pair would produce bloom false NEGATIVES — silently
    // dropped matches the exact join can't recover. Hash both sides on a
    // common type: integrals normalize to long, otherwise require equality
    // (mirrors the analyzer coercion Spark's own runtime filter relies on).
    val ft = fact.schema(factKey).dataType
    val dt = dim.schema(dimKey).dataType
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    require(ft == dt || (integral(ft) && integral(dt)),
      s"bloomSemiJoin key types must hash identically: $ft vs $dt")
    val (fk, dk) =
      if (ft == dt) (fact(factKey), dim(dimKey))
      else (fact(factKey).cast("long"), dim(dimKey).cast("long"))
    val bloom = buildBloom(dim, dk, expectedItems.getOrElse(autoExpectedItems(dim)))
    fact.where(mightContain(bloom, fk))
      .join(dim, fact(factKey) === dim(dimKey), "left_semi")
  }

  val queries: Map[String, Q] = Map(
    // Orders of high-balance customers: dim = filtered customer keys (a
    // small fraction), fact = orders. The bloom must be invisible in the
    // result — the oracle is the plain semi join.
    "q_bloom_join" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .where(col("c_acctbal") > 9000).select("c_custkey")
      val fact = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      bloomSemiJoin(fact, dim, "o_custkey", "c_custkey") // auto-sized from dim
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("o_orderstatus")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )
}

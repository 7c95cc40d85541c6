package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scalable dense surrogate ids (X77): assign `1..n` in key order without
  * the plan every naive implementation writes —
  * `row_number() OVER (ORDER BY key)` — whose empty PARTITION BY collapses
  * the whole table into ONE partition (Spark even warns); at 100 TB that
  * executor simply dies. The same trap hides in global NTILE bucketing and
  * "add an index column" requests.
  *
  * The scale shape: EXPLICIT range buckets from approximate quantiles of
  * the key (a sketch pass; `repartitionByRange` would re-SAMPLE split
  * points on every execution of the plan, so the count pass and the
  * numbering pass could disagree about who lives where), a RANGE-LOCAL
  * row_number (each window partition = one bucket, no collapse), plus
  * per-bucket row counts — a driver-sized `#buckets`-row aggregate —
  * cumulated into offsets and broadcast back.
  * `id = bucket offset + local index`. Two passes over the data buy
  * unbounded parallelism; the RDD `zipWithIndex` does the same dance one
  * level lower.
  *
  * Requires the composite `(orderCol, tieCols…)` to be a unique key
  * with `orderCol` numeric. `orderCol` ties are safe for BUCKETING
  * (equal values satisfy identical split predicates, so they share a
  * bucket deterministically) — they only threatened the window order,
  * which the tie-break columns now pin. Callers whose natural order is
  * lexicographic over several columns (e.g. (hash, id)) thus need no
  * injective bit-packing into one long — the historical packing
  * truncated wide hashes and silently diverged from full-key order once
  * the id domain grew.
  */
object DenseId extends graft.QueryModule {

  def assign(df: DataFrame, orderCol: String, parts: Int,
      tieCols: Seq[String] = Nil): DataFrame =
    assignWithCount(df, orderCol, parts, tieCols)._1

  /** [[assign]] plus the total row count — free from the per-bucket
    * counts pass, so callers needing `n` (percent_rank denominators,
    * NTILE arithmetic) don't pay a second full scan for it.
    */
  def assignWithCount(df: DataFrame, orderCol: String, parts: Int,
      tieCols: Seq[String] = Nil): (DataFrame, Long) = {
    require(parts > 0)
    // deterministic split points: a quantile sketch of the key (values
    // land verbatim from the data, so bucket predicates compare exactly);
    // parts=1 means one bucket — no sketch (Spark NPEs on an empty
    // probability array)
    val splits = sketchSplits(df, orderCol, parts)
    val pidExpr = splits.foldLeft(lit(0)) { (acc, sp) =>
      acc + when(col(orderCol) > lit(sp), 1).otherwise(0)
    }
    val withPid = df.withColumn("__pid", pidExpr)
    // per-bucket counts: #buckets rows, driver-sized by construction
    val counts = withPid.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to splits.length).scanLeft(0L)((acc, p) =>
      acc + counts.getOrElse(p, 0L)).init
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = offsets.zipWithIndex
      .map { case (off, pid) => (pid, off) }.toDF("__pid", "__offset")
    val w = Window.partitionBy("__pid") // bucket-local
      .orderBy((orderCol +: tieCols).map(col): _*)
    val out = withPid
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("rid", col("__offset") + row_number().over(w))
      .drop("__pid", "__offset")
    (out, counts.values.sum)
  }

  /** Distributed EXCLUSIVE prefix sum of `valCol` (long) in `orderCol`
    * order — the X240 machinery, and [[assign]]'s shape generalized from
    * counts to sums: explicit range buckets from a quantile sketch of the
    * key, a bucket-LOCAL running-sum window, and per-bucket totals (a
    * driver-sized `#buckets`-row aggregate) cumulated into offsets and
    * broadcast back. `cum_before = bucket offset + local running sum`.
    * The naive `sum() OVER (ORDER BY key)` collapses the table into one
    * window partition exactly like row_number does (the X77 trap); this
    * keeps every pass bucket-parallel. Returns the annotated frame plus
    * the grand total (free from the offsets pass).
    *
    * Same unique-numeric-key contract as [[assign]]; correctness does not
    * depend on WHERE the sketch places the splits — only bucket locality
    * does — so the approximate quantiles never leak into the result.
    */
  def prefixSumWithTotal(df: DataFrame, orderCol: String, valCol: String,
      parts: Int): (DataFrame, Long) = {
    val st = prefixStructure(df, orderCol, valCol, parts)
    (applyPrefix(df, orderCol, valCol, st), st.total)
  }

  /** The driver-side half of the prefix sum: split points (a quantile
    * sketch pass) plus cumulated per-bucket offsets and the grand total
    * (a bucket-sums pass). A pure function of the input frame, so
    * callers over IMMUTABLE inputs may cache it per corpus and pay the
    * two sketch/offset jobs once per JVM — the X7 quantizer-cache
    * discipline (at scale the structure persists with the index/table,
    * not per query).
    */
  case class PrefixStructure(splits: Array[Double], offsets: Seq[Long], total: Long)

  /** Deterministic split points for `parts` range buckets (empty for a
    * single bucket — Spark's approxQuantile NPEs on an empty probability
    * array).
    */
  private def sketchSplits(df: DataFrame, orderCol: String, parts: Int): Array[Double] =
    if (parts == 1) Array.empty
    else df.stat
      .approxQuantile(orderCol, (1 until parts).map(_.toDouble / parts).toArray, 0.001)
      .distinct.sorted

  def prefixStructure(df: DataFrame, orderCol: String, valCol: String,
      parts: Int): PrefixStructure = {
    require(parts > 0)
    val splits = sketchSplits(df, orderCol, parts)
    // per-bucket sums: #buckets rows, driver-sized by construction
    val sums = df.withColumn("__pid", pidExpr(splits, orderCol))
      .groupBy("__pid")
      .agg(sum(col(valCol)).cast("long").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to splits.length).scanLeft(0L)((acc, p) =>
      acc + sums.getOrElse(p, 0L)).init
    PrefixStructure(splits, offsets, sums.values.sum)
  }

  private def pidExpr(splits: Array[Double], orderCol: String) =
    splits.foldLeft(lit(0)) { (acc, sp) =>
      acc + when(col(orderCol) > lit(sp), 1).otherwise(0)
    }

  /** The distributed half: annotate `df` with the exclusive running
    * total `cum_before` under a previously computed [[PrefixStructure]].
    * One bucket-local window pass — no driver jobs.
    */
  def applyPrefix(df: DataFrame, orderCol: String, valCol: String,
      st: PrefixStructure): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = st.offsets.zipWithIndex
      .map { case (off, pid) => (pid, off) }.toDF("__pid", "__offset")
    val w = Window.partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1) // bucket-local, exclusive
    df.withColumn("__pid", pidExpr(st.splits, orderCol))
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("cum_before",
        col("__offset") + coalesce(sum(col(valCol)).over(w), lit(0L)))
      .drop("__pid", "__offset")
  }

  /** Equi-depth bucketing (global NTILE without its single-partition
    * plan): SQL NTILE gives the first `n mod k` buckets `⌈n/k⌉` rows and
    * the rest `⌊n/k⌋` — reproduced exactly from the dense id with integer
    * arithmetic, so the whole histogram still runs bucket-parallel.
    */
  def equiDepth(df: DataFrame, orderCol: String, k: Int, parts: Int): DataFrame = {
    val (withId, n) = assignWithCount(df, orderCol, parts)
    val q = n / k
    val rem = n % k
    withId.withColumn("bucket",
      when(col("rid") <= (q + 1) * rem,
        expr(s"(rid - 1) DIV ${q + 1}")) // integer division, no FP detour
        .otherwise(lit(rem) + expr(s"(rid - 1 - ${(q + 1) * rem}) DIV $q"))
        .cast("long") + 1)
  }

  /** Customer with a COLLISION-FREE composite sort key: cents-scaled
    * balance times a stride derived from `max(c_custkey) + 1`, plus the
    * key. A fixed stride (the old 1e6) silently collides once custkey
    * outgrows it, breaking assign()'s unique-key contract and diverging
    * tie handling from the oracle at large base scale; deriving it from
    * the actual key range keeps `a·stride + b` order-preserving and
    * injective at ANY scale (one tiny max() job; overflow needs
    * |cents| · stride ≥ 2^63, i.e. ~9e12 customers at TPC-H balances).
    * The oracle derives the same stride with a scalar subquery.
    */
  private def keyedCustomer(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val stride = cust.agg(max("c_custkey")).head.getAs[Number](0).longValue() + 1
    cust.select(col("c_custkey"),
      (round(col("c_acctbal") * 100).cast("long") * stride +
        col("c_custkey")).as("sort_key"))
  }

  private val strideSql = "(SELECT max(c_custkey) + 1 FROM customer)"

  val queries: Map[String, Q] = Map(
    // Dense ids over customer by key: the answer IS row_number's — but the
    // plan is the parallel one (no single-partition exchange, pinned in
    // DenseIdSpec).
    "q_dense_ids" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      assign(c, "c_custkey", 8)
        .select(col("c_custkey"), col("rid").cast("long").as("rid"))
        .orderBy("c_custkey")
    }),

    // Equi-depth histogram of account balances in 7 buckets (7 ∤ n, so
    // the uneven-bucket arm of the NTILE formula is load-bearing):
    // per-bucket count/min/max vs the NTILE window oracle. c_acctbal has
    // duplicates at sf≥0.1, so order (and bucket membership at bucket
    // edges) is made unique by the composite sort key — mirrored in the
    // oracle's ORDER BY.
    "q_equidepth" -> ((s, d) => {
      val c = keyedCustomer(s, d)
      equiDepth(c, "sort_key", 7, 8)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("c_custkey").cast("long").as("first_key"),
          max("c_custkey").cast("long").as("last_key"))
        .orderBy("bucket")
    }),

    // Global percent_rank/cume_dist WITHOUT the single-partition window:
    // with a unique sort key, rank ≡ dense id, so
    // percent_rank = (rid−1)/(n−1) and cume_dist = rid/n — one exact
    // integer division each (operands < 2^53, correctly-rounded IEEE ⇒
    // bit-equal to the oracle's native window functions), computed on the
    // bucket-parallel X77 path. The naive percent_rank().over(orderBy)
    // plan is pinned in DenseIdSpec to HAVE the SinglePartition this
    // avoids.
    "q_percent_rank" -> ((s, d) => {
      val c = keyedCustomer(s, d)
      val (withId, n) = assignWithCount(c, "sort_key", 8)
      withId
        .select(col("c_custkey"),
          ((col("rid") - 1).cast("double") / lit((n - 1).toDouble)).as("pr"),
          (col("rid").cast("double") / lit(n.toDouble)).as("cd"))
        .orderBy("c_custkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_percent_rank" ->
      s"""WITH keyed AS (
        |  SELECT c_custkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) * $strideSql + c_custkey AS sort_key
        |  FROM customer)
        |SELECT c_custkey,
        |       percent_rank() OVER (ORDER BY sort_key) AS pr,
        |       cume_dist() OVER (ORDER BY sort_key) AS cd
        |FROM keyed
        |ORDER BY c_custkey""".stripMargin,
    "q_dense_ids" ->
      """SELECT c_custkey,
        |       row_number() OVER (ORDER BY c_custkey) AS rid
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_equidepth" ->
      s"""WITH keyed AS (
        |  SELECT c_custkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) * $strideSql + c_custkey AS sort_key
        |  FROM customer),
        |nt AS (
        |  SELECT c_custkey, ntile(7) OVER (ORDER BY sort_key) AS bucket FROM keyed)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
        |       min(c_custkey) AS first_key, max(c_custkey) AS last_key
        |FROM nt
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Mergeable HLL sketch partials (X84) — incremental distinct counting,
  * the Iceberg/Delta "theta/HLL in the manifest" trick: materialize a
  * KB-sized Apache DataSketches HLL per partition/snapshot/day at write
  * time, and answer `COUNT(DISTINCT …)` over ANY window of them by
  * merging sketches — no rescan of the data, ever.
  *
  * Why this matters at 100 TB: exact distinct over a sliding 30-day
  * window re-shuffles 30 days of keys every day; sketch partials make it
  * a union of 30 KB-sized blobs — the same partial-aggregate shape as
  * X44's incremental counts/sums, extended to the one aggregate that is
  * NOT naively combinable. Spark 4 ships the DataSketches HLL natively
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`, all
  * codegen-adjacent imperative aggregates with map-side partials), so
  * the operator is pure built-ins — no UDAF.
  *
  * Correctness contract (the E5/X7 pattern for sketch operators):
  *  - MERGEABILITY is exact and hash-pinned: the estimate from unioned
  *    per-split partials must EQUAL the single-pass whole-data sketch
  *    estimate (`merge_lossless` — DataSketches HLL union of same-lgK
  *    sketches is deterministic), asserted as a real boolean on the
  *    Spark side and a literal TRUE in the oracle, so a regression
  *    breaks the hash.
  *  - ACCURACY is bounded per engine: each engine checks its own sketch
  *    against its own exact count (±10%, generous vs the ~1.6% HLL
  *    standard error at default lgK=12), like E5.
  *  - The EXACT count rides along for the value-level hash compare.
  */
object Sketches extends graft.QueryModule {
  /** Count-min sketch (X90) parameters: d independent md5-derived hash
    * rows × w buckets. Every hash is a pure deterministic function of
    * (row index, key), so unlike most sketches the WHOLE structure — and
    * every point estimate — is bit-reproducible in any engine: the oracle
    * rebuilds the identical sketch in SQL and must agree exactly, not
    * just within error bounds.
    */
  val cmsDepth = 4
  val cmsWidth = 512

  /** Bucket of `key` (string column) for hash row `j`. */
  def cmsBucket(j: Column, key: Column): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"), key)), 1, 8), 16, 10)
      .cast("long") % cmsWidth

  /** The (j, bucket, cnt) counter table for a column of keys. One
    * combinable aggregate over a d-way explode: partials collapse to at
    * most d·w rows per map partition before the shuffle, the mergeable-
    * sketch shape (X84) — counters of separate splits ADD, pinned in the
    * spec by building per-half sketches and summing.
    */
  def cmsBuild(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(col(keyCol).cast("string").as("k"),
        explode(sequence(lit(0), lit(cmsDepth - 1))).as("j"))
      .groupBy(col("j"), cmsBucket(col("j"), col("k")).as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates: min over the d counters each probe key hashes to.
    * Missing counters read as 0 (an empty bucket row is simply absent).
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String): DataFrame =
    probes.select(col(keyCol),
        col(keyCol).cast("string").as("__k"),
        explode(sequence(lit(0), lit(cmsDepth - 1))).as("j"))
      .withColumn("b", cmsBucket(col("j"), col("__k")))
      .join(sketch, Seq("j", "b"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  val queries: Map[String, Q] = Map(
    // Distinct users per event type, computed three ways: exact, one
    // whole-pass sketch, and a union of per-half sketch partials (the
    // "per-snapshot sketches merged at query time" path). The halves
    // split on event_id parity — an adversarial split where every user
    // appears in both halves, so a broken union double-counts nothing
    // only if merging is genuinely lossless.
    "q_hll_partials" -> ((s, d) => {
      val e = events(s, d).select("event_type", "user_id", "event_id")
      val partials = e
        .withColumn("half", (col("event_id") % 2).cast("int"))
        .groupBy("event_type", "half")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = partials
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      // the witness is a SECOND, different partitioning of the same
      // stream (a user-keyed hash split — disjoint halves, vs event
      // parity — every user in both halves), merged the same way.
      // xxhash64 rather than raw id parity: the witness only exercises a
      // genuine multi-sketch union if BOTH halves are non-empty, and a
      // fixture whose user ids happened to share one parity within a
      // group would silently collapse the union to one sketch (whose HIP
      // estimate no real merge carries — the round-12 find, inverted).
      // The hash split makes single-parity groups impossible in practice
      // (P ≈ 2^-(n-1) for n distinct users), and SketchesSpec pins both
      // halves non-empty for every group of the fixture.
      // Partition-invariance
      // is the real mergeability contract: registers are a pure function
      // of the distinct-user set, so any two partitionings must merge to
      // the identical estimate; a double-count or dropped half flips the
      // boolean. Comparing against a STREAM-BUILT sketch instead goes
      // false past sparse mode (the sf1 gate's catch): a direct sketch
      // estimates via Datasketches' HIP accumulator, which no genuine
      // union can carry — and a union of ONE sketch copies HIP verbatim,
      // so even a whole-through-union witness stays on the HIP side.
      val whole = e
        .withColumn("half", pmod(xxhash64(col("user_id")), lit(2)).cast("int"))
        .groupBy("event_type", "half")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_whole"))
        .join(e.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact")), Seq("event_type"))
      merged.join(whole, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (col("est_merged") === col("est_whole")).as("merge_lossless"),
          (abs(col("est_merged") - col("n_exact")) <= col("n_exact") * 0.1)
            .as("approx_ok"))
        .orderBy("event_type")
    }),

    // X133: the X84 partials doing their actual job — TRAILING-WINDOW
    // distinct users (3-day) by merging per-day sketches, the "30-day
    // uniques without re-shuffling 30 days of keys" dashboard primitive.
    // Pin: the merged-window estimate must EQUAL a sketch built directly
    // on the window's raw rows (losslessness applied per window — a
    // union bug or a wrong window membership breaks the boolean), exact
    // trailing distinct rides along for the value-level hash, accuracy
    // bounded per engine. Per day the merge touches 3 KB-sized blobs;
    // the raw-row direct sketch exists only as the test's witness.
    "q_hll_window" -> ((s, d) => {
      val e = events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
      val days = e.select(col("day").as("wd")).distinct()
      val spread = e
        .select(explode(sequence(lit(0), lit(2))).as("off"), col("day"), col("user_id"))
        .select(date_add(col("day"), col("off")).as("wd"), col("user_id"))
        .join(days, "wd")
      // two-way-union witness for the same reason as q_hll_partials: a
      // stream-built (or union-of-one) sketch estimates via HIP, which a
      // genuine multi-sketch merge cannot carry — so the witness is a
      // second partitioning (user-keyed xxhash64 split, both halves
      // non-empty in practice and spec-pinned for the fixture) of the
      // window's rows, merged the same way the per-day sketches are
      val direct = spread
        .withColumn("half", pmod(xxhash64(col("user_id")), lit(2)).cast("int"))
        .groupBy("wd", "half")
        .agg(hll_sketch_agg(col("user_id")).as("sk_direct"))
        .groupBy("wd")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk_direct"))).as("est_direct"))
        .join(spread.groupBy("wd")
          .agg(countDistinct(col("user_id")).as("n_exact")), Seq("wd"))
      val daily = e.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily
        .select(explode(sequence(lit(0), lit(2))).as("off"), col("day"), col("sk"))
        .select(date_add(col("day"), col("off")).as("wd"), col("sk"))
        .join(days, "wd")
        .groupBy("wd")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      merged.join(direct, Seq("wd"))
        .select(col("wd"), col("n_exact"),
          (col("est_merged") === col("est_direct")).as("window_lossless"),
          (abs(col("est_merged") - col("n_exact")) <= col("n_exact") * 0.1)
            .as("approx_ok"))
        .orderBy("wd")
    }),

    // X90: user-frequency CMS over events; probe a deterministic key
    // subset and report estimate beside exact count. The estimate itself
    // is hash-compared against the oracle's identically-built sketch —
    // the strongest check a sketch can get — and est ≥ exact (the CMS
    // guarantee) is pinned for EVERY key in the spec.
    "q_cms_est" -> ((s, d) => {
      val ev = events(s, d).select("user_id")
      val sketch = cmsBuild(ev, "user_id")
      val probes = ev.where(col("user_id") % 7 === 3).distinct()
      val exact = ev.where(col("user_id") % 7 === 3)
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      cmsEstimate(sketch, probes, "user_id")
        .join(exact, "user_id")
        .orderBy("user_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_hll_window" ->
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS wd FROM e),
        |spread AS (
        |  SELECT e.day + o.off AS wd, e.user_id
        |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) o)
        |SELECT wd, count(DISTINCT user_id) AS n_exact,
        |       true AS window_lossless, true AS approx_ok
        |FROM spread JOIN days USING (wd)
        |GROUP BY wd ORDER BY wd""".stripMargin,

    "q_cms_est" ->
      s"""WITH keys AS (
         |  SELECT user_id, count(*) AS c FROM events GROUP BY 1),
         |counters AS (
         |  SELECT j.j,
         |         CAST(('0x' || substr(md5(j.j || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |           % $cmsWidth AS b,
         |         sum(c) AS cnt
         |  FROM keys CROSS JOIN range($cmsDepth) j(j)
         |  GROUP BY 1, 2),
         |probes AS (SELECT user_id, c FROM keys WHERE user_id % 7 = 3),
         |est AS (
         |  SELECT p.user_id,
         |         min(coalesce(ct.cnt, 0)) AS cms_est
         |  FROM probes p CROSS JOIN range($cmsDepth) j(j)
         |  LEFT JOIN counters ct
         |    ON ct.j = j.j
         |   AND ct.b = CAST(('0x' || substr(md5(j.j || ':' || CAST(p.user_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |           % $cmsWidth
         |  GROUP BY 1)
         |SELECT e.user_id, CAST(e.cms_est AS BIGINT) AS cms_est,
         |       CAST(p.c AS BIGINT) AS exact_n
         |FROM est e JOIN probes p ON p.user_id = e.user_id
         |ORDER BY e.user_id""".stripMargin,
    // merge_lossless is the Spark-side mergeability assertion (TRUE here:
    // DuckDB cannot merge Spark's sketches, it pins that the property
    // held); approx_ok is each engine's own sketch vs its own exact
    // count, the E5 pattern.
    "q_hll_partials" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS merge_lossless,
        |       ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
        |         <= COUNT(DISTINCT user_id) * 0.1 AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}

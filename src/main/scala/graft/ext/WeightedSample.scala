package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Priority sampling (extension X190) — Duffield–Lund–Thorup's
  * weighted sampling WITHOUT replacement with unbiased subset-sum
  * estimators ("Priority sampling for estimation of arbitrary subset
  * sums", JACM 2007): every row draws a uniform `u` and gets priority
  * `q = w / u`; the sample is the n largest priorities, the threshold
  * `τ` is the (n+1)-th largest, and each sampled row's weight
  * ESTIMATE is `max(w, τ)` — for any subset S, the sum of estimates
  * over sampled members of S is an unbiased estimator of S's true
  * weight sum. This is the principled way to cut a weighted corpus
  * slice (sample 10k documents token-proportionally, keep the ability
  * to estimate any stratum's true token mass from the sample alone).
  *
  * Determinism contract (the X35/X136 discipline): `u` is a pure
  * function of the row's key — the 40-bit md5 prefix shifted to
  * (0, 1] as `(h40 + 1) / 2^40` — so re-runs, backfills, and the
  * DuckDB oracle all draw the SAME sample. Every arithmetic step is
  * IEEE-exact cross-engine (dyadic division, one weight division, max;
  * no transcendentals — u^(1/w) in the classic A-ES formulation would
  * need pow/log whose last-ulp behavior differs across engines, which
  * is exactly why the PRIORITY variant is the deterministic choice).
  *
  * Scale shape: priorities are one per-row expression (no shuffle);
  * the top-(n+1) is `TakeOrderedAndProject` — per-partition heaps, one
  * n-sized merge at the driver, no global sort, no single-partition
  * window (the X62 rule); τ is a one-row driver sync on an
  * already-n-sized frame.
  */
object WeightedSample extends graft.QueryModule {

  private val Two40 = 1099511627776.0 // 2^40, exact in a double

  /** Uniform in (0, 1] as a pure function of `key`: dyadic, IEEE-exact
    * in every engine.
    */
  def uniformOf(key: Column): Column =
    (conv(substring(md5(key.cast("string")), 1, 10), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(Two40)

  /** The n-row priority sample of `df` with DLT weight estimates:
    * columns of `df` plus `w_est = max(w, τ)`. Deterministic in
    * (idCol, weightCol); weights must be positive.
    */
  def prioritySample(df: DataFrame, weightCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, "sample size must be positive")
    val scored = df
      .withColumn("__q", col(weightCol).cast("double") / uniformOf(col(idCol)))
    // top n+1 by (priority desc, id asc): TakeOrderedAndProject — heaps
    // per partition, never a global sort
    val top = scored.orderBy(col("__q").desc, col(idCol)).limit(n + 1)
    // τ = the (n+1)-th largest priority; 0 when the corpus has ≤ n rows
    // (then every row is sampled and its estimate is its true weight).
    // One-row driver sync over an (n+1)-sized frame — driver-sized by
    // construction, like every other model-state collect.
    val rows = top.select(col("__q")).collect().map(_.getDouble(0))
    val tau = if (rows.length <= n) 0.0 else rows.min
    top.orderBy(col("__q").desc, col(idCol)).limit(n)
      .withColumn("w_est",
        greatest(col(weightCol).cast("double"), lit(tau)))
      .drop("__q")
  }

  val queries: Map[String, Q] = Map(
    // X190: 200 documents sampled token-mass-proportionally; the oracle
    // replays the identical dyadic arithmetic and must draw the SAME
    // sample with the SAME estimates. The length sum over the sample's
    // estimates being near the corpus total is the DLT point — but the
    // hash compare pins the exact rows, not just the aggregate.
    "q_weighted_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("double").as("w"))
      prioritySample(docs, "w", "doc_id", 200)
        .select(col("doc_id"), col("w"), col("w_est"))
        .orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    "q_weighted_sample" ->
      """WITH scored AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
        |         CAST(length(text) AS DOUBLE) /
        |           ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS UBIGINT) + 1)
        |             / 1099511627776.0) AS q
        |  FROM documents),
        |top AS (SELECT * FROM scored ORDER BY q DESC, doc_id LIMIT 201),
        |tau AS (SELECT CASE WHEN count(*) <= 200 THEN 0.0 ELSE min(q) END AS t FROM top)
        |SELECT doc_id, w, greatest(w, t) AS w_est
        |FROM (SELECT * FROM top ORDER BY q DESC, doc_id LIMIT 200), tau
        |ORDER BY doc_id""".stripMargin)
}

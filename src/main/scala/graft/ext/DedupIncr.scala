package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.ManifestTable
import graft.sources.Tables

/** Incremental dedup on append (extension X149) — the shape exact dedup
  * actually takes at 100 TB: nobody re-fingerprints the whole corpus when
  * a crawl batch lands. The fingerprint set is a COMMITTED lake table
  * (X39 manifest commits), and each arriving batch:
  *
  *   1. fingerprints its own rows (the same normalize→md5 key E1 uses,
  *      so "duplicate" means the same thing batch-wise and corpus-wise);
  *   2. collapses WITHIN the batch first (min-id winner, E1's rule) —
  *      intra-batch copies must not both survive just because neither is
  *      in the corpus yet;
  *   3. probes the committed state for the rest: batch fingerprints are
  *      BROADCAST and the state scans ONCE with a hash probe — the state
  *      (the 100 TB side) never shuffles, never sorts, and is never
  *      collected; only matched fingerprints (≤ batch size) come back;
  *   4. appends the survivors' fingerprints to the state (an X39 append
  *      commit — old files untouched), so the next batch probes a state
  *      that includes this one: exactly-once admission across batches.
  *
  * At real scale step 3 composes with the layout tiers instead of a full
  * state scan: state files committed fp-sorted carry zone maps (X57/X78)
  * and per-file Bloom filters (X81), so a batch's fingerprint set prunes
  * to the handful of state files it can touch — the probe cost tracks the
  * BATCH, not the corpus. The admission decision itself is what this
  * operator pins: per-doc outcome (`new` / `dup_in_batch` /
  * `dup_of_corpus`) and the exact post-append state, both replayed by the
  * DuckDB oracle from the raw tables.
  */
object DedupIncr extends graft.QueryModule {

  /** Normalized content fingerprint — E1's key (`q_dedup_exact`/
    * `q_dedup_doc_exact` use the same normalization, and the oracle
    * rebuilds it with DuckDB string ops).
    */
  def fp(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(TextAnalysis.normText(text))

  /** Commit the initial corpus's fingerprint state: one row per distinct
    * fingerprint, `keep_id` = the min-id owner. Map-side combinable — the
    * only shuffle keys on the fingerprint.
    */
  def initState(s: SparkSession, corpus: DataFrame, root: String,
      date: Int, time: Int): Int =
    ManifestTable.commit(
      corpus.select(fp(col("text")).as("fp"), col("doc_id"))
        .groupBy("fp").agg(min("doc_id").as("keep_id")),
      root, date, time)

  /** Admit one batch against the committed state: returns the per-doc
    * decision frame `(doc_id, fp, outcome)` AFTER appending the
    * survivors' fingerprints to the state. Outcomes:
    * `dup_in_batch` (a smaller id in the same batch owns the content),
    * `dup_of_corpus` (the committed state owns it), `new` (admitted —
    * its fingerprint is in the state when this returns).
    */
  def admitBatch(s: SparkSession, root: String, batch: DataFrame,
      date: Int, time: Int): DataFrame = {
    val withFp = batch.select(col("doc_id"), fp(col("text")).as("fp"))
    // intra-batch collapse: min-id winner per fingerprint (one batch-sized
    // shuffle; at scale the batch is the small side by construction)
    val owners = withFp.groupBy("fp").agg(min("doc_id").as("batch_owner"))
    // corpus probe: state scans once against the BROADCAST batch
    // fingerprint set; only matched fps return
    val matched = ManifestTable.readLatest(s, root)
      .join(broadcast(owners.select("fp")), Seq("fp"), "left_semi")
      .select(col("fp"), lit(true).as("in_corpus"))
    val decided = withFp
      .join(broadcast(owners), Seq("fp"))
      .join(broadcast(matched), Seq("fp"), "left_outer")
      .select(col("doc_id"), col("fp"),
        when(coalesce(col("in_corpus"), lit(false)), lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("batch_owner"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("outcome"))
    val survivors = decided.where(col("outcome") === "new")
      .select(col("fp"), col("doc_id").as("keep_id"))
    ManifestTable.appendRetrying(survivors, root, date, time)
    decided
  }

  /** The replayed two-step timeline, memoized per (JVM, sfDir): corpus =
    * docs with `doc_id % 3 != 2` (plus the state commit), batch = the
    * rest plus perturbed copies — every 10th corpus doc re-arrives
    * whitespace/case-mangled (`dup_of_corpus` must fire through the
    * normalization), and every 20th batch doc arrives twice
    * (`dup_in_batch`). Decisions + post-append state land as parquet; the
    * query reads them back.
    */
  private def fixtureDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("dedup_incr", d) { dir =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 3 =!= 2)
      val root = s"$dir/state"
      initState(s, corpus, root, 20250601, 900)
      val fresh = docs.where(col("doc_id") % 3 === 2)
      val reArrivals = corpus.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
      val twins = fresh.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      val batch = fresh.unionByName(reArrivals).unionByName(twins)
      admitBatch(s, root, batch, 20250601, 1000)
        .write.mode("overwrite").parquet(s"$dir/decisions")
    }

  val queries: Map[String, Q] = Map(
    // X149: per-outcome doc counts + id checksums, then the post-append
    // state profile (rows + keep_id checksum) — the oracle replays
    // corpus fps, batch collapse, probe, and append in SQL, so a wrong
    // decision anywhere (or an append that dropped/duplicated a
    // fingerprint) breaks a pinned row.
    "q_dedup_incr" -> ((s, d) => {
      val dir = fixtureDir(s, d)
      val decisions = graft.sources.Tables.cachedParquet(s, s"$dir/decisions")
        .groupBy("outcome")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").cast("long").as("sum_ids"))
      val state = ManifestTable.readLatest(s, s"$dir/state")
        .agg(count(lit(1)).as("n_docs"), sum("keep_id").cast("long").as("sum_ids"))
        .select(lit("state_after").as("outcome"), col("n_docs"), col("sum_ids"))
      decisions.unionByName(state).orderBy("outcome")
    }),
  )

  private val fpSql = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"

  val oracles: Map[String, String] = Map(
    "q_dedup_incr" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, $fpSql AS fp FROM documents WHERE doc_id % 3 <> 2),
         |state0 AS (
         |  SELECT fp, min(doc_id) AS keep_id FROM corpus GROUP BY fp),
         |batch AS (
         |  SELECT doc_id, $fpSql AS fp FROM documents WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         md5(regexp_replace(trim(lower('  ' || upper(text) || ' ')), '\\s+', ' ', 'g'))
         |  FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000, $fpSql
         |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 20 = 0),
         |decided AS (
         |  SELECT b.doc_id, b.fp,
         |         CASE WHEN s.fp IS NOT NULL THEN 'dup_of_corpus'
         |              WHEN b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)
         |                THEN 'dup_in_batch'
         |              ELSE 'new' END AS outcome
         |  FROM batch b LEFT JOIN state0 s ON b.fp = s.fp),
         |state1 AS (
         |  SELECT fp, keep_id FROM state0
         |  UNION ALL
         |  SELECT fp, doc_id FROM decided WHERE outcome = 'new')
         |SELECT outcome, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM decided GROUP BY outcome
         |UNION ALL
         |SELECT 'state_after', count(*), CAST(sum(keep_id) AS BIGINT) FROM state1
         |ORDER BY outcome""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextNorm
import graft.sources.Tables

/** Corpus-hygiene passes of a training-data pipeline (X42–X44): PII
  * scrubbing, Unicode normalization, and stratified (per-class rate)
  * sampling — the steps that sit between raw ingest and dedup/tokenize.
  *
  * All three are single-pass, per-row column expressions or one
  * combinable aggregate — no shuffle beyond the final groupBy, no UDFs on
  * the scan path, embarrassingly parallel at 100 TB. Normalization runs
  * through the native codegen'd [[graft.functions.NfcNormalize]]
  * expression rather than a boxed Scala UDF.
  */
object Scrub extends graft.QueryModule {
  /** Redaction patterns: deliberately RE2-compatible (no lookaround, no
    * backrefs) so the DuckDB oracle applies the IDENTICAL pattern text —
    * engine-dialect parity is part of what the hash pins.
    */
  /** X247 funnel rule constants (token bounds; dup-word mass permille). */
  val funnelMinTok = 20
  val funnelMaxTok = 80
  val funnelRepPermille = 650

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+?\\d[\\d-]{6,}\\d"

  /** Redact in fixed order — emails first (their local parts contain
    * digit runs a later pattern could half-eat), then IPs (dotted digits),
    * then phone-shaped digit runs over what remains.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "[EMAIL]"),
        ipRe, "[IP]"),
      phoneRe, "[PHONE]")

  /** Deterministic injected-PII fixture: every doc gains one email, one
    * phone, one IPv4, derived from doc_id (the synthetic corpus carries no
    * PII of its own; parity of the injection is part of the oracle).
    */
  private def withPii(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" node 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".7")).as("text"))

  /** Decomposed-sequence fixture for normalization: combining acute/
    * diaeresis marks that NFC composes ("e"+U+0301 → "é").
    */
  private def withDecomposed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      // explicit combining marks (U+0301/U+0308/U+0300), NOT precomposed
      // literals: the fixture must really be decomposed for NFC to act
      concat(col("text"),
        lit(" cafe\u0301 nai\u0308ve e\u0301le\u0300ve")).as("text"))

  /** Per-class sampling rate (percent) — the data-mixing knob: languages
    * are kept at different rates to rebalance the corpus.
    */
  def rateFor(lang: Column): Column =
    when(lang === "en", 60).when(lang === "fr", 30).otherwise(10)

  val queries: Map[String, Q] = Map(
    // X42: PII scrub — counts from the pre-scrub text, then the scrubbed
    // text itself pinned via md5 (byte-exact redaction, not just counts).
    "q_pii_scrub" -> ((s, d) =>
      withPii(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0)))
          .cast("long").as("n_ips"),
        md5(scrubPii(col("text"))).as("scrub_md5"))
        .orderBy("doc_id")),

    // X131: deterministic keyed pseudonymization — replace identifiers
    // with `md5(salt || value)` tokens so datasets can leave the trust
    // boundary WITHOUT losing joinability: the same (salt, value) maps to
    // the same token everywhere, so keyed analytics (joins, group-bys,
    // distinct counts) run unchanged on the pseudonymized copies, while
    // reversing a token needs the salt (kept inside the boundary) plus a
    // dictionary attack. The query proves the contract BY JOINING: orders
    // and customer are pseudonymized independently, then joined on the
    // TOKEN — per-segment counts and sums must equal the raw-key join's.
    // Pure per-row expression, no shuffle added to either side.
    "q_pseudonymize" -> ((s, d) => {
      val salt = "graft-demo-salt"
      def tok(c: org.apache.spark.sql.Column) =
        md5(concat(lit(salt), lit(":"), c.cast("string")))
      val o = Tables.orders(s, d)
        .select(tok(col("o_custkey")).as("cust_tok"),
          col("o_totalprice"))
      val c = Tables.customer(s, d)
        .select(tok(col("c_custkey")).as("cust_tok"),
          col("c_mktsegment"))
      o.join(c, "cust_tok")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct("cust_tok").cast("long").as("n_customers"),
          graft.util.Exact.dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_mktsegment")
    }),

    // X43: Unicode NFC normalization through the native expression;
    // length delta + md5 of the normalized text pin the composition.
    "q_text_normalize" -> ((s, d) =>
      withDecomposed(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(TextNorm.nfc_norm(col("text"))).cast("long").as("len_nfc"),
        md5(TextNorm.nfc_norm(col("text"))).as("nfc_md5"))
        .orderBy("doc_id")),

    // X44: stratified sampling — deterministic md5-bucket thresholding
    // per class (same mechanism as X35 splits: pure function of the key,
    // re-run/backfill stable). The sum of kept ids pins membership, not
    // just cardinality.
    "q_stratified_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = Split.hashBucket(col("doc_id")) < rateFor(col("lang"))
      docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        count(when(kept, 1)).as("n_sampled"),
        sum(when(kept, col("doc_id"))).cast("long").as("sum_kept_ids"))
        .orderBy("lang")
    }),

    // X247: filter funnel with first-failing-rule attribution — every
    // production curation pipeline publishes not just HOW MANY docs
    // dropped but WHY, under a fixed rule order (cheap structural rules
    // first), because "rule 3 suddenly eats 40% of source X" is the
    // regression signal. Rules (exact integers, permille forms so no FP
    // boundary ambiguity): 1 too-short (< minTok tokens), 2 too-long
    // (> maxTok), 3 low-fluency (stopword mass under 1/16 of tokens,
    // the E4b gate), 4 repetitive (dup-word mass over repPermille),
    // else kept. One corpus pass, one combinable (source, verdict)
    // aggregate; the verdict literal carries its rule number so the
    // attribution order is readable in the output itself.
    "q_filter_funnel" -> ((s, d) => {
      val t = TextAnalysis.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(t).cast("long").as("n_tok"),
          TextAnalysis.countIn(t, TextAnalysis.stopwords).as("n_stop"),
          size(array_distinct(t)).cast("long").as("n_dist"))
        .withColumn("verdict",
          when(col("n_tok") < funnelMinTok, "1_too_short")
            .when(col("n_tok") > funnelMaxTok, "2_too_long")
            .when(col("n_stop") * 16 < col("n_tok"), "3_low_fluency")
            .when((col("n_tok") - col("n_dist")) * 1000 >
              col("n_tok") * funnelRepPermille, "4_repetitive")
            .otherwise("5_kept"))
        .groupBy("source", "verdict")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("sum_tokens"),
          sum("doc_id").cast("long").as("sum_ids"))
        .orderBy("source", "verdict")
    }),

    // X67: per-source document caps — the C4/Gopher-style crawl-hygiene
    // rule that no single domain dominates the corpus. Keep the `cap`
    // docs with the LOWEST md5(doc_id) per source: a deterministic,
    // re-run/backfill-stable subset (unlike "first N seen", which depends
    // on scan order). One shuffle keyed on source; a mega-domain skewing
    // that shuffle is exactly what X62 diagnoses and, because "keep
    // lowest-k hashes" is combinable, a per-partition pre-cap bounds its
    // cost before the exchange at real scale.
    "q_source_cap" -> ((s, d) => {
      val cap = 15
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("rk") <= cap, 1)).as("n_kept"),
          sum(when(col("rk") <= cap, col("doc_id"))).cast("long").as("sum_kept_ids"))
        .orderBy("source")
    }),
  )

  private val piiTextSql =
    """text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
      |'@mail.example.com or call +1-555-' ||
      |lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'""".stripMargin
      .replace("\n", " ")

  val oracles: Map[String, String] = Map(
    "q_filter_funnel" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tok,
         |         ${TextAnalysis.countInSql(TextAnalysis.stopwords)} AS n_stop,
         |         CAST(len(list_distinct(${TextAnalysis.toksSql})) AS BIGINT) AS n_dist
         |  FROM documents)
         |SELECT source,
         |       CASE WHEN n_tok < $funnelMinTok THEN '1_too_short'
         |            WHEN n_tok > $funnelMaxTok THEN '2_too_long'
         |            WHEN n_stop * 16 < n_tok THEN '3_low_fluency'
         |            WHEN (n_tok - n_dist) * 1000 > n_tok * $funnelRepPermille
         |              THEN '4_repetitive'
         |            ELSE '5_kept' END AS verdict,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM b GROUP BY 1, 2 ORDER BY source, verdict""".stripMargin,

    // joins on the TOKEN itself (not the raw key), so cross-engine token
    // determinism is part of what the hash compare pins
    "q_pseudonymize" ->
      """WITH o AS (SELECT md5('graft-demo-salt:' || CAST(o_custkey AS VARCHAR)) AS cust_tok,
        |                  o_totalprice FROM orders),
        |c AS (SELECT md5('graft-demo-salt:' || CAST(c_custkey AS VARCHAR)) AS cust_tok,
        |             c_mktsegment FROM customer)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(count(DISTINCT o.cust_tok) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM o JOIN c USING (cust_tok)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |        '$emailRe', '[EMAIL]', 'g'),
         |        '$ipRe', '[IP]', 'g'),
         |        '$phoneRe', '[PHONE]', 'g')) AS scrub_md5
         |FROM (SELECT doc_id, $piiTextSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_text_normalize" ->
      s"""SELECT doc_id,
         |  CAST(length(t) AS BIGINT) AS len_raw,
         |  CAST(length(nfc_normalize(t)) AS BIGINT) AS len_nfc,
         |  md5(nfc_normalize(t)) AS nfc_md5
         |FROM (SELECT doc_id,
         |        text || ' cafe' || chr(769) || ' nai' || chr(776) || 've e' ||
         |        chr(769) || 'le' || chr(768) || 've' AS t
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang,
        |  count(*) AS n_docs,
        |  count(CASE WHEN kept THEN 1 END) AS n_sampled,
        |  CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT) AS sum_kept_ids
        |FROM (SELECT lang, doc_id,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100
        |          < (CASE WHEN lang = 'en' THEN 60 WHEN lang = 'fr' THEN 30 ELSE 10 END) AS kept
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_source_cap" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  count(CASE WHEN rk <= 15 THEN 1 END) AS n_kept,
        |  CAST(sum(CASE WHEN rk <= 15 THEN doc_id END) AS BIGINT) AS sum_kept_ids
        |FROM (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
  )
}

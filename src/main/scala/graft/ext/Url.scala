package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.UrlCanon
import graft.sources.Tables

/** URL canonicalization + URL-keyed dedup (extension X146) — the
  * CommonCrawl/C4 front-door hygiene step: the same page arrives under
  * many spellings (`HTTP://Host.COM:80/a/` vs `http://host.com/a`), and
  * exact dedup keyed on the raw string silently keeps every variant.
  * Canonicalize first ([[graft.functions.UrlCanon]] — codegen'd
  * expression, rules documented there), then dedup on the canonical
  * form with the usual min-id winner rule (E1's shape).
  *
  * Scale shape: canonicalization is a pure per-row expression riding the
  * scan's partitioning — zero shuffles added. The dedup itself is one
  * hash aggregation on the canonical key, map-side combinable, identical
  * to the 100 TB-safe exact-dedup plan. Nothing here is ever O(corpus²).
  *
  * The fixture synthesizes adversarial raw URLs deterministically from
  * `doc_id` so every canonicalization rule fires (case, default vs
  * explicit port, trailing slash, param order, fragment); the DuckDB
  * oracle rebuilds BOTH the raw and the expected canonical string with
  * plain string ops and must agree on distinct counts and exemplar
  * values — a full functional twin, not a rows-only check.
  */
object Url extends graft.QueryModule {

  /** The deterministic messy-URL fixture. The PAGE a url denotes is
    * keyed on `doc_id % 25` (so ~25 docs share each page per residue
    * class and collapsing genuinely fires); the MESS — case, default
    * port, trailing slash, param order, fragment — is keyed on `doc_id`
    * itself, so the same page arrives under many spellings. DuckDB
    * rebuilds both the raw string and the expected canonical verbatim.
    */
  def messyUrl(d: Column): Column = {
    val p = d % 25
    val scheme = when(p % 2 === 0, lit("http")).otherwise(lit("https"))
    val schemeRaw = when(d % 3 === 0,
      when(p % 2 === 0, lit("HTTP")).otherwise(lit("HTTPS"))).otherwise(scheme)
    val hostRaw = when(d % 2 === 0,
      concat(lit("ExAmple"), (p % 3).cast("string"), lit(".CoM")))
      .otherwise(concat(lit("example"), (p % 3).cast("string"), lit(".com")))
    val portRaw = when(p % 5 === 1, lit(":8080")) // canon keeps non-default
      .when(d % 3 === 1, when(p % 2 === 0, lit(":80")).otherwise(lit(":443")))
      .otherwise(lit(""))
    val queryRaw = when(p % 4 === 0,
        when(d % 2 === 0, lit("?b=2&a=1")).otherwise(lit("?a=1&b=2")))
      .when(p % 4 === 1, lit("?a=1"))
      .when(p % 4 === 2, lit(""))
      .otherwise(lit("?q=z"))
    concat(schemeRaw, lit("://"), hostRaw, portRaw,
      lit("/Docs/"), p.cast("string"),
      when(d % 5 === 0, lit("/")).otherwise(lit("")),
      queryRaw,
      when(d % 7 === 0, lit("#Sec2")).otherwise(lit("")))
  }

  /** The canonical HOST of a url: lowercased authority, port stripped —
    * derived from [[UrlCanon.url_canon]] so host extraction and dedup
    * keying can never disagree about what the authority is.
    */
  def hostOf(url: Column): Column =
    regexp_extract(UrlCanon.url_canon(url), "://([^/:?]+)", 1)

  /** A host's domain-suffix chain: `a.b.example.com` →
    * `[a.b.example.com, b.example.com, example.com, com]` — bounded by
    * the label count (~5), computed per-row with array HOFs inside the
    * codegen'd stage.
    */
  def hostSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels)), "."))
  }

  /** X151: URL blocklist filtering with registrable-domain semantics —
    * blocking `example.com` blocks `ads.example.com` too (the C4/
    * RefinedWeb hygiene step: porn/malware/boilerplate domain lists run
    * BEFORE any text processing). The suffix match is re-expressed as an
    * EQUI-join: each host explodes into its ≤~5 domain suffixes, which
    * probe the blocklist — broadcast here; at a multi-million-domain
    * blocklist the same plan shuffle-joins on the suffix, either way no
    * LIKE scan and the corpus never moves twice. Returns the rows of
    * `df` whose `urlCol` host matches NO blocked domain.
    */
  def filterBlocked(df: DataFrame, urlCol: String, keyCol: String,
      blocklist: DataFrame): DataFrame = {
    val blockedKeys = df
      .select(col(keyCol), explode(hostSuffixes(hostOf(col(urlCol)))).as("domain"))
      .join(broadcast(blocklist.select("domain")), Seq("domain"), "left_semi")
      .select(keyCol).distinct()
    df.join(broadcast(blockedKeys), Seq(keyCol), "left_anti")
  }

  val queries: Map[String, Q] = Map(
    // X146: canonicalize → dedup by canonical key. Per source: how many
    // raw spellings, how many true pages, and the lexicographically
    // first canonical url (pins exact string output, not just counts).
    "q_url_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("url", messyUrl(col("doc_id")))
        .withColumn("canon_url", UrlCanon.url_canon(col("url")))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw"),
          countDistinct(col("canon_url")).as("n_canon"),
          min(col("canon_url")).as("first_canon"))
        .orderBy("source")
    }),

    // X151: blocklist filter with registrable-domain semantics. The
    // fixture plants subdomain tiers (`ads.`, `cdn.tracker.`) and raw
    // case-mangling so BOTH the canonical host extraction and the
    // suffix-chain match are load-bearing: `site0.org` must catch its
    // subdomains, `tracker.site1.org` must catch only the cdn.tracker
    // tier of site1, and case-mangled spellings must still match. The
    // oracle decides each doc with the literal SQL suffix predicate
    // (h = d OR h LIKE '%.'||d) over the same VALUES blocklist.
    "q_url_blocklist" -> ((s, d) => {
      import s.implicits._
      val site = concat(lit("site"), (col("doc_id") % 7).cast("string"), lit(".org"))
      val sub = when(col("doc_id") % 4 === 0, lit("ads."))
        .when(col("doc_id") % 4 === 1, lit("cdn.tracker."))
        .otherwise(lit(""))
      val hostRaw = when(col("doc_id") % 3 === 0, upper(concat(sub, site)))
        .otherwise(concat(sub, site))
      val docs = Tables.documents(s, d).select("doc_id", "source")
        .withColumn("url",
          concat(lit("HTTP://"), hostRaw, lit("/p/"), col("doc_id").cast("string")))
      val blocklist = Seq("site0.org", "tracker.site1.org", "site4.org")
        .toDF("domain")
      val kept = filterBlocked(docs, "url", "doc_id", blocklist)
      val tot = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val k = kept.groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").cast("long").as("sum_kept_ids"))
      tot.join(k, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_blocked"),
          coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"))
        .orderBy("source")
    }),
  )

  val oracles: Map[String, String] = Map(
    // The oracle rebuilds the raw url with the SAME residue logic and
    // the canonical url by APPLYING THE RULES BY HAND: lowercase scheme
    // and host, default port stripped (:8080 kept), trailing slash
    // dropped, params sorted (b=2&a=1 -> a=1&b=2), fragment gone. Any
    // divergence in the expression's behavior breaks n_canon or
    // first_canon.
    "q_url_dedup" ->
      """WITH t AS (
        |  SELECT source,
        |    (CASE WHEN doc_id%3=0 THEN (CASE WHEN (doc_id%25)%2=0 THEN 'HTTP' ELSE 'HTTPS' END)
        |          ELSE (CASE WHEN (doc_id%25)%2=0 THEN 'http' ELSE 'https' END) END
        |      || '://'
        |      || CASE WHEN doc_id%2=0 THEN 'ExAmple' || CAST((doc_id%25)%3 AS VARCHAR) || '.CoM'
        |              ELSE 'example' || CAST((doc_id%25)%3 AS VARCHAR) || '.com' END
        |      || CASE WHEN (doc_id%25)%5=1 THEN ':8080'
        |              WHEN doc_id%3=1 THEN (CASE WHEN (doc_id%25)%2=0 THEN ':80' ELSE ':443' END)
        |              ELSE '' END
        |      || '/Docs/' || CAST(doc_id%25 AS VARCHAR)
        |      || CASE WHEN doc_id%5=0 THEN '/' ELSE '' END
        |      || CASE WHEN (doc_id%25)%4=0 THEN (CASE WHEN doc_id%2=0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
        |              WHEN (doc_id%25)%4=1 THEN '?a=1'
        |              WHEN (doc_id%25)%4=2 THEN '' ELSE '?q=z' END
        |      || CASE WHEN doc_id%7=0 THEN '#Sec2' ELSE '' END) AS url,
        |    (CASE WHEN (doc_id%25)%2=0 THEN 'http' ELSE 'https' END
        |      || '://example' || CAST((doc_id%25)%3 AS VARCHAR) || '.com'
        |      || CASE WHEN (doc_id%25)%5=1 THEN ':8080' ELSE '' END
        |      || '/Docs/' || CAST(doc_id%25 AS VARCHAR)
        |      || CASE WHEN (doc_id%25)%4=0 THEN '?a=1&b=2'
        |              WHEN (doc_id%25)%4=1 THEN '?a=1'
        |              WHEN (doc_id%25)%4=2 THEN '' ELSE '?q=z' END) AS canon_url
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       count(DISTINCT url) AS n_raw,
        |       count(DISTINCT canon_url) AS n_canon,
        |       min(canon_url) AS first_canon
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q_url_blocklist" ->
      """WITH b(domain) AS (VALUES ('site0.org'), ('tracker.site1.org'), ('site4.org')),
        |t AS (
        |  SELECT doc_id, source,
        |         (CASE WHEN doc_id%4=0 THEN 'ads.'
        |               WHEN doc_id%4=1 THEN 'cdn.tracker.' ELSE '' END
        |          || 'site' || CAST(doc_id%7 AS VARCHAR) || '.org') AS h
        |  FROM documents),
        |dec AS (
        |  SELECT doc_id, source,
        |         EXISTS (SELECT 1 FROM b
        |                 WHERE t.h = b.domain OR t.h LIKE '%.' || b.domain) AS blocked
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |       CAST(count(*) FILTER (WHERE NOT blocked) AS BIGINT) AS n_kept,
        |       CAST(count(*) FILTER (WHERE blocked) AS BIGINT) AS n_blocked,
        |       CAST(COALESCE(sum(doc_id) FILTER (WHERE NOT blocked), 0) AS BIGINT) AS sum_kept_ids
        |FROM dec GROUP BY source ORDER BY source""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables._

/** Text-analysis operators for a training-data pipeline (north-star mandate;
  * the reference's only text processing is the name-cleaning regex inside its
  * gender UDF, `scripts/script_api_apify_to_spark.py:46`).
  *
  * Design rule: everything here is EITHER per-row array/HOF arithmetic (no
  * shuffle at all — embarrassingly parallel over 100 TB) OR a single
  * map-side-combinable groupBy. Tokenization happens once per row inside the
  * expression tree; no Scala UDFs, so nothing leaves Tungsten rows.
  *
  * Counts are cast to BIGINT to match DuckDB's `len()`/`count(*)` types in
  * the oracle's schema compare.
  */
object TextAnalysis extends graft.QueryModule {
  /** Lowercased whitespace tokens with empties dropped — the shared
    * tokenizer; mirrored in SQL as
    * `list_filter(string_split_regex(lower(text),'\s+'), t -> t <> '')`.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Whitespace-normalized text: lower + trim + collapse runs of spaces. */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Tokens in `set` (small literal set → array_contains, codegen'd). */
  private[ext] def countIn(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(set.toArray), t))).cast("long")

  /** English function words present in the fixture vocabulary. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is", "on")

  /** Language-marker word lists (language-ID by function-word voting — the
    * classic n-gram/stopword heuristic reduced to per-row counting). The
    * fixture corpus is English-vocabulary, so `en` dominates; the mechanics
    * (and the oracle) are what this pins down.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "los", "las", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
  )

  /** Fixed retrieval query for BM25 — terms chosen from the fixture
    * vocabulary with distinct document frequencies.
    */
  val bm25Terms: Seq[String] = Seq("hash", "spark", "dup")

  val queries: Map[String, Q] = Map(
    // X246: vocabulary growth curve (Heaps'-law audit) — the statistic
    // that sizes a tokenizer's vocabulary budget: distinct-token count
    // as the corpus grows, reported per corpus decile (docs in doc_id
    // order). Computed in ONE pass with the min-first-occurrence trick:
    // a token's first decile is min(decile) over its occurrences, so the
    // 10-point growth curve needs one explode + one combinable groupBy —
    // never ten distinct-scans over growing prefixes. Deciles come from
    // the X77 dense-id rank (bucket-parallel, no global window); the
    // only cross-decile window is a running sum over the TEN-row
    // aggregate.
    "q_vocab_growth" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      val (ranked, n) = graft.ops.DenseId.assignWithCount(docs, "doc_id", 8)
      val dec = ranked.withColumn("decile", expr(s"(rid - 1) * 10 div $n"))
      val base = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk"))).cast("long").as("sum_tokens"))
      val news = dec.select(col("decile"), explode(col("tk")).as("t"))
        .groupBy("t").agg(min("decile").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("n_new_tokens"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      base.join(news, Seq("decile"), "left")
        .withColumn("n_new_tokens", coalesce(col("n_new_tokens"), lit(0L)))
        .withColumn("cum_vocab", sum("n_new_tokens").over(w).cast("long"))
        .select("decile", "n_docs", "sum_tokens", "n_new_tokens", "cum_vocab")
        .orderBy("decile")
    }),

    // E4a: corpus term statistics — tokenize (per-row), explode, then ONE
    // partial-aggregatable groupBy(token); df via distinct doc set per token.
    "q_text_tokens" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy("token")),

    // X139: per-language top-fraction cut — "keep the best quarter of
    // each language" as an EXACT RANK rule (window over (score desc,
    // doc_id), keep rank·4 ≤ language size) rather than a score
    // threshold: fractions hold exactly per group no matter how scores
    // distribute, ties are deterministic, and the integer rank math
    // makes the SQL twin bit-identical. One shuffle on lang; groups are
    // language-sized — the documented hot-group caveat of any per-group
    // ranking (X67's same shape).
    "q_quality_topfrac" -> ((s, d) => {
      val scored = documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("n_tok").desc, col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      scored.withColumn("rk", row_number().over(w))
        .withColumn("n_lang", count(lit(1)).over(n))
        .where(col("rk") * 4 <= col("n_lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum("doc_id").cast("long").as("sum_kept_ids"),
          min("n_tok").cast("long").as("min_kept_tokens"))
        .orderBy("lang")
    }),

    // X138: per-document keyword extraction — the TF-IDF argmax, with the
    // score kept a RATIONAL (tf / (df+1)) instead of a log-weighted
    // float: equal rationals round to equal doubles in every IEEE engine
    // and unequal ones compare identically, so the argmax (score desc,
    // term asc tie-break) is bit-deterministic cross-engine without
    // transcendental-function drift. Two shuffles (term df, per-doc
    // term counts), both combinable; df joins back broadcast-sized
    // (vocabulary, not corpus).
    "q_keywords" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df (docs containing the term) = count(*) per term OVER tf: tf
      // rows are distinct (doc_id, term) by construction, so the window
      // count equals the old tf.groupBy(term).agg(countDistinct(doc_id))
      // — but as a window over the tf table the corpus is scanned and
      // regex-tokenized ONCE instead of twice (the countDistinct branch
      // compiled to its own scan+explode subtree: partial-distinct
      // rewriting diverged the two exchanges, so ReuseExchange never
      // fired and the whole corpus pass ran per branch).
      val wDf = org.apache.spark.sql.expressions.Window.partitionBy("term")
      // per-doc argmax as a combinable min(struct) instead of a
      // row_number window: min over (−score, term) IS (score desc, term
      // asc) — negation is an exact IEEE sign flip and scores are
      // strictly positive, so the comparison is bit-identical — and the
      // hash aggregate partial-aggregates map-side where the window had
      // to shuffle AND sort every (doc, term) row (guide §2.3:
      // aggregate before you shuffle).
      tf.withColumn("df", count(lit(1)).over(wDf))
        .groupBy("doc_id")
        .agg(min(struct(
          (-col("tf").cast("double") / (col("df") + 1)).as("ns"),
          col("term").as("term"), col("tf").as("tf"), col("df").as("df")))
          .as("m"))
        .select(col("doc_id"), col("m.term").as("top_term"),
          col("m.tf").cast("long").as("tf"), col("m.df").cast("long").as("df"))
        .orderBy("doc_id")
    }),

    // E4b: per-document quality metrics — pure per-row array arithmetic, no
    // shuffle. Integer outputs keep the oracle hash-exact (no FP division);
    // ratio thresholds are expressed as integer cross-multiplications.
    "q_text_quality" -> ((s, d) => {
      val t = tokens(col("text"))
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_m"),
          size(t).cast("long").as("n_tokens"),
          size(array_distinct(t)).cast("long").as("n_distinct"),
          countIn(t, stopwords).as("n_stop"),
          array_max(transform(t, tok => length(tok))).cast("long").as("max_tok_len"),
        )
        // quality gate: ≥20 tokens and stopword ratio ≥ 1/16 (6.25%) —
        // integer cross-multiply, bit-identical in any engine.
        .withColumn("quality_ok",
          col("n_tokens") >= 20 && col("n_stop") * 16 >= col("n_tokens"))
        .orderBy("doc_id")
    }),

    // E4c: token counting — whitespace count plus a BPE-ish regex count
    // (letter runs / digit runs / single punctuation, the GPT-2 pre-tokenizer
    // shape). Per-row regexp_extract_all, no shuffle.
    "q_token_count" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // E4d: language ID by marker-word voting — one score column per language
    // computed per-row, argmax with deterministic (score desc, lang asc)
    // tie-break folded into nested CASE; docs with zero hits → 'und'.
    "q_lang_id" -> ((s, d) => {
      val t = tokens(col("text"))
      val scored = documents(s, d).select(
        (col("doc_id") +: langMarkers.map { case (lang, words) =>
          countIn(t, words).as(s"n_$lang")
        }): _*)
      val langs = langMarkers.map(_._1)
      // predicted = first lang (asc) whose score equals the max and > 0.
      val maxScore = greatest(langs.map(l => col(s"n_$l")): _*)
      val predicted = langs.foldRight(lit("und")) { (l, els) =>
        when(col(s"n_$l") === maxScore && maxScore > 0, lit(l)).otherwise(els)
      }
      scored.withColumn("predicted_lang", predicted).orderBy("doc_id")
    }),

    // X233: span-level language consistency — the code-switching /
    // mixed-language filter (CCNet/Dolma run language-id per PARAGRAPH
    // precisely because a document-level vote hides a half-German page
    // inside an "English" doc). Documents chunk into fixed 10-token
    // spans (the X104 chunking on tokens), each span votes with the
    // same marker lexicons as q_lang_id, the doc majority comes from
    // the summed span counts, and a doc is MIXED when some scored span
    // disagrees with its doc majority. Per-source rollup; all exact
    // integers, identical tie-breaks to q_lang_id, so the oracle
    // replays spans, votes, and the disagreement count bit-for-bit.
    // Shape: one posexplode + two combinable aggregates sharing the
    // (doc, span)→doc key chain; the corpus never joins itself.
    "q_lang_mix" -> ((s, d) => {
      val langs = langMarkers.map(_._1)
      val tok = documents(s, d)
        .select(col("source"), col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      val spanAggs = langMarkers.map { case (l, ws) =>
        sum(when(col("t").isin(ws: _*), 1L).otherwise(0L)).as(s"n_$l")
      }
      val spanCounts = tok
        .withColumn("span", expr("pos div 10"))
        .groupBy("source", "doc_id", "span")
        .agg(spanAggs.head, spanAggs.tail: _*)
      def predicted(prefix: String): Column = {
        val mx = greatest(langs.map(l => col(s"$prefix$l")): _*)
        langs.foldRight(lit("und")) { (l, els) =>
          when(col(s"$prefix$l") === mx && mx > 0, lit(l)).otherwise(els)
        }
      }
      val spans = spanCounts.withColumn("p", predicted("n_"))
      val docAggs = langs.map(l => sum(col(s"n_$l")).as(s"d_$l")) :+
        count(lit(1)).as("n_spans") :+
        count(when(col("p") =!= "und", 1)).as("n_scored") :+
        collect_list(col("p")).as("ps")
      val docs = spans.groupBy("source", "doc_id")
        .agg(docAggs.head, docAggs.tail: _*)
        .withColumn("dp", predicted("d_"))
        // scored spans agreeing with the doc majority (an unscored doc —
        // dp = 'und' — agrees on nothing by definition)
        .withColumn("n_agree",
          when(col("dp") === "und", 0L).otherwise(
            size(filter(col("ps"), p => p === col("dp"))).cast("long")))
        .withColumn("mixed",
          col("n_scored") > 0 && col("n_agree") < col("n_scored"))
      docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("mixed"), 1)).as("n_mixed"),
          sum("n_spans").cast("long").as("sum_spans"),
          sum("n_scored").cast("long").as("sum_scored"),
          sum("n_agree").cast("long").as("sum_agree"))
        .orderBy("source")
    }),

    // E4g: vocabulary heavy hitters — the exact tier (one combinable
    // groupBy + threshold) is the oracle; Spark's freqItems sketch
    // (Karp et al. streaming frequent-items) is checked by its guarantee:
    // every item above the support threshold MUST appear in the sketch
    // result (superset property, like the approx_distinct/quantile twins).
    // The corpus total is derived from the grouped table (sum(tf) window
    // over the vocab-sized aggregate), NOT a separate toks.count() pass —
    // the exact tier reads the corpus exactly once (pinned in PlanSpec).
    "q_heavy_hitters" -> ((s, d) => {
      val support = 0.02
      val toks = documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
      // ONE aggregate pass serves both the per-token counts AND the
      // grand total: rollup's extra grouping set emits the total as the
      // token-IS-NULL row, which then broadcasts as a scalar onto the
      // vocab-sized filter. No empty-window WindowExec (the X62 rule —
      // a global window would single-partition the vocabulary) and no
      // second tokenize pass (the r2 rule — the total comes from the
      // grouped table, never a driver-side count()).
      val agg = toks.rollup("token").agg(count(lit(1)).as("tf"))
      val exact = agg.where(col("token").isNotNull)
        .crossJoin(broadcast(agg.where(col("token").isNull)
          .select(col("tf").as("total"))))
        .where(col("tf") >= col("total") * support)
        .drop("total")
      val sketch = toks.stat.freqItems(Seq("token"), support)
      exact.crossJoin(broadcast(sketch))
        .select(col("token"), col("tf"),
          array_contains(col("token_freqItems"), col("token")).as("in_sketch"))
        .orderBy("token")
    }),

    // E4f: BM25 relevance scoring against a fixed query — the ranking
    // primitive of retrieval pipelines. Shape: ONE corpus-stats aggregate
    // (count/total-length/per-term document frequency — all combinable)
    // broadcast onto a per-row scoring pass; term frequencies are array
    // filters on the shared tokenizer, no shuffle beyond the 1-row stats.
    // Scores use a FIXED summation order (s0+s1+s2 in the expression tree,
    // never a groupBy sum) so the float result is reproducible; the oracle
    // mirrors the formula textually and both round to 5dp.
    "q_bm25" -> ((s, d) => {
      val (k1, b) = (1.2, 0.75)
      // widened: tokenization is the cost and feeds TWO passes (stats,
      // scoring); see Tables.widened
      val docs = widened(documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      val aggCols = count(lit(1)).cast("double").as("n_docs") +:
        sum(col("dl")).as("sum_dl") +:
        bm25Terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1).otherwise(0))
            .cast("double").as(s"df_$i")
        }
      val stats = docs.agg(aggCols.head, aggCols.tail: _*)
      val scored = docs.crossJoin(broadcast(stats))
      val scores = bm25Terms.zipWithIndex.map { case (t, i) =>
        val tf = size(filter(col("toks"), x => x === t)).cast("double")
        val idf = log((col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)) + lit(1))
        idf * (tf * lit(k1 + 1)) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / (col("sum_dl") / col("n_docs"))))
      }
      scored.select(
        col("doc_id") +:
          scores.zip(bm25Terms).map { case (sc, t) => round(sc, 5).as(s"score_$t") } :+
          round(scores.reduce(_ + _), 5).as("bm25"): _*)
        .orderBy("doc_id")
    }),

    // E4e: document fingerprinting — md5 of normalized text plus a
    // polynomial rolling hash (base 31 mod 1e9+7) over the character
    // sequence, both per-row expressions. The rolling hash is the
    // shingling primitive for near-dup pipelines (Dedup.scala).
    "q_doc_fingerprint" -> ((s, d) => {
      val norm = normText(col("text"))
      documents(s, d)
        .select(
          col("doc_id"),
          md5(norm).as("fp_md5"),
          aggregate(
            transform(split(norm, ""), c => ascii(c).cast("long")),
            lit(7L),
            (acc, c) => (acc * 31L + c) % 1000000007L
          ).as("fp_roll"))
        .orderBy("doc_id")
    }),
  )

  private[ext] val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""
  private[ext] def countInSql(set: Seq[String]): String =
    set.mkString(s"len(list_filter($toksSql, t -> t IN ('", "','", "')))")

  val oracles: Map[String, String] = Map(
    "q_vocab_growth" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, $toksSql AS tk,
         |         CAST((row_number() OVER (ORDER BY doc_id) - 1) * 10 //
         |              (SELECT count(*) FROM documents) AS BIGINT) AS decile
         |  FROM documents),
         |firsts AS (
         |  SELECT t, min(decile) AS decile
         |  FROM (SELECT decile, unnest(tk) AS t FROM ranked) GROUP BY t),
         |news AS (SELECT decile, count(*) AS n_new_tokens FROM firsts GROUP BY decile),
         |base AS (
         |  SELECT decile, count(*) AS n_docs,
         |         CAST(sum(len(tk)) AS BIGINT) AS sum_tokens
         |  FROM ranked GROUP BY decile)
         |SELECT b.decile, b.n_docs, b.sum_tokens,
         |       CAST(coalesce(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
         |       CAST(sum(coalesce(n.n_new_tokens, 0)) OVER (ORDER BY b.decile)
         |         AS BIGINT) AS cum_vocab
         |FROM base b LEFT JOIN news n ON n.decile = b.decile
         |ORDER BY b.decile""".stripMargin,

    "q_quality_topfrac" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |           ORDER BY n_tok DESC, doc_id) AS rk,
         |         count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM scored)
         |SELECT lang, count(*) AS n_kept,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
         |       CAST(min(n_tok) AS BIGINT) AS min_kept_tokens
         |FROM ranked WHERE rk * 4 <= n_lang
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_keywords" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfs AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfs.df,
         |         row_number() OVER (PARTITION BY tf.doc_id
         |           ORDER BY CAST(tf.tf AS DOUBLE) / (dfs.df + 1) DESC, tf.term) AS rk
         |  FROM tf JOIN dfs USING (term))
         |SELECT doc_id, term AS top_term, tf, df
         |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      s"""SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY token""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS n_chars_m,
         |       len($toksSql) AS n_tokens,
         |       len(list_distinct($toksSql)) AS n_distinct,
         |       ${countInSql(stopwords)} AS n_stop,
         |       list_max(list_transform($toksSql, t -> length(t))) AS max_tok_len,
         |       len($toksSql) >= 20
         |         AND ${countInSql(stopwords)} * 16 >= len($toksSql) AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |       len($toksSql) AS ws_tokens,
         |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> {
      val scoreCols = langMarkers.map { case (lang, words) =>
        s"${countInSql(words)} AS n_$lang"
      }.mkString(",\n       ")
      val langs = langMarkers.map(_._1)
      val maxExpr = s"greatest(${langs.map(l => s"n_$l").mkString(", ")})"
      val caseExpr = langs.map(l =>
        s"WHEN n_$l = $maxExpr AND $maxExpr > 0 THEN '$l'").mkString(" ")
      s"""SELECT *, CASE $caseExpr ELSE 'und' END AS predicted_lang
         |FROM (SELECT doc_id,
         |       $scoreCols
         |FROM documents) ORDER BY doc_id""".stripMargin
    },
    "q_lang_mix" -> {
      val langs = langMarkers.map(_._1)
      def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
      val spanScores = langMarkers.map { case (l, ws) =>
        s"count(*) FILTER (WHERE t IN ${inList(ws)}) AS n_$l"
      }.mkString(",\n           ")
      def caseExpr(prefix: String) = {
        val mx = s"greatest(${langs.map(l => s"$prefix$l").mkString(", ")})"
        "CASE " + langs.map(l =>
          s"WHEN $prefix$l = $mx AND $mx > 0 THEN '$l'").mkString(" ") +
          " ELSE 'und' END"
      }
      s"""WITH tok AS (
         |  SELECT source, doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS pos
         |  FROM (SELECT source, doc_id, $toksSql AS l FROM documents)),
         |spans AS (
         |  SELECT source, doc_id, (pos - 1) // 10 AS span,
         |           $spanScores
         |  FROM tok GROUP BY 1, 2, 3),
         |spanp AS (SELECT *, ${caseExpr("n_")} AS p FROM spans),
         |docs AS (
         |  SELECT source, doc_id,
         |         ${langs.map(l => s"sum(n_$l) AS d_$l").mkString(", ")},
         |         count(*) AS n_spans,
         |         count(*) FILTER (WHERE p <> 'und') AS n_scored
         |  FROM spanp GROUP BY 1, 2),
         |docp AS (SELECT *, ${caseExpr("d_")} AS dp FROM docs),
         |agree AS (
         |  SELECT d.source, d.doc_id, d.n_spans, d.n_scored,
         |         CASE WHEN d.dp = 'und' THEN 0
         |              ELSE count(*) FILTER (WHERE sp.p = d.dp) END AS n_agree
         |  FROM docp d JOIN spanp sp USING (source, doc_id)
         |  GROUP BY d.source, d.doc_id, d.n_spans, d.n_scored, d.dp)
         |SELECT source, count(*) AS n_docs,
         |       count(*) FILTER (WHERE n_scored > 0 AND n_agree < n_scored) AS n_mixed,
         |       CAST(sum(n_spans) AS BIGINT) AS sum_spans,
         |       CAST(sum(n_scored) AS BIGINT) AS sum_scored,
         |       CAST(sum(n_agree) AS BIGINT) AS sum_agree
         |FROM agree GROUP BY source ORDER BY source""".stripMargin
    },
    "q_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS token FROM documents),
         |tot AS (SELECT count(*) AS n FROM toks)
         |SELECT token, count(*) AS tf, true AS in_sketch
         |FROM toks, tot GROUP BY token, tot.n
         |HAVING count(*) >= tot.n * 0.02
         |ORDER BY token""".stripMargin,
    "q_bm25" -> {
      val dfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(",\n         ")
      val scoreExprs = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"""ln((n_docs - df_$i + 0.5) / (df_$i + 0.5) + 1) * (tf_$i * (1.2 + 1)) /
           |           (tf_$i + 1.2 * (1 - 0.75 + 0.75 * dl / (sum_dl / n_docs))) AS s_$i""".stripMargin
      }.mkString(",\n         ")
      val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$i"
      }.mkString(",\n         ")
      val outCols = bm25Terms.zipWithIndex.map { case (t, i) =>
        s"round(s_$i, 5) AS score_$t"
      }.mkString(", ")
      val totalExpr = bm25Terms.indices.map(i => s"s_$i").mkString(" + ")
      s"""WITH docs AS (
         |  SELECT doc_id, $toksSql AS toks, CAST(len($toksSql) AS DOUBLE) AS dl
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) AS sum_dl,
         |         $dfCols
         |  FROM docs),
         |tf AS (
         |  SELECT doc_id, dl,
         |         $tfCols,
         |         n_docs, sum_dl${bm25Terms.indices.map(i => s", df_$i").mkString}
         |  FROM docs CROSS JOIN stats),
         |scores AS (
         |  SELECT doc_id,
         |         $scoreExprs
         |  FROM tf)
         |SELECT doc_id, $outCols, round($totalExpr, 5) AS bm25
         |FROM scores ORDER BY doc_id""".stripMargin
    },
    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5,
        |       list_reduce(
        |         list_prepend(CAST(7 AS BIGINT),
        |           list_transform(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
        |                          c -> CAST(CASE WHEN c = '' THEN 0 ELSE ord(c) END AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}

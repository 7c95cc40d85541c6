package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Sequence packing for training-batch assembly (X45): assign documents to
  * fixed token-capacity packs — the step that turns a cleaned corpus into
  * context-window-sized training examples.
  *
  * Packing discipline: CONTIGUOUS CHUNKING in deterministic (lang, doc_id)
  * order — a doc joins the pack its cumulative token offset falls in
  * (`cum_before DIV capacity`). This is the cheap, shuffle-light variant
  * real pipelines run (a pack can overfill by at most its last doc's
  * tokens, which batch assembly handles by truncation/continuation);
  * first-fit-decreasing bin packing would need an inherently sequential
  * scan per bin and buys little when docs ≪ capacity. The assignment is a
  * pure function of (ordering key, token counts): re-runs and backfills
  * give identical packs, like X35/X44.
  *
  * Scale shape: one window (running sum) per language partition over a
  * (lang, doc_id) sort — at 100 TB this is a range-partitioned sort the
  * shuffle already provides, then per-row arithmetic; the final groupBy
  * is combinable. No driver state, no iteration.
  *
  * Also hosts the other example-assembly transforms: X50 RAG chunking
  * and X236 fill-in-the-middle (both pure per-row explode/arithmetic
  * over the shared tokenization — embarrassingly parallel at any scale).
  */
object Packing extends graft.QueryModule {
  /** Tokens per pack. Fixture-sized here; a real run passes its model's
    * context length — the plan shape is capacity-independent.
    */
  val capacity = 256L

  /** Per-doc pack assignment: `pack_id` within each language. */
  def packed(docs: DataFrame, cap: Long = capacity): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("lang"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before DIV $cap"))
  }

  val queries: Map[String, Q] = Map(
    // Pack manifest: docs/tokens per pack plus the id range, the exact
    // thing a batch loader consumes. The oracle recomputes the running
    // sum and integer division over the same whitespace tokenization.
    "q_seq_pack" -> ((s, d) =>
      packed(Tables.documents(s, d))
        .groupBy("lang", "pack_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("pack_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("lang", "pack_id")),

    // X236: fill-in-the-middle example assembly — the FIM transform
    // (OpenAI FIM / StarCoder data prep) distilled to its
    // data-engineering core: split each document's token list at two
    // DETERMINISTIC cut points (salted md5 of the doc id — reruns and
    // backfills rebuild byte-identical examples, no stored RNG state)
    // and re-render in PSM order (<PRE> prefix <SUF> suffix <MID>
    // middle), the layout that teaches an autoregressive model to
    // infill. Cut-point contract: prefix ≥ 1, middle ≥ 1, suffix ≥ 1
    // token (degenerate empty spans teach nothing), so only docs with
    // ≥ 3 tokens transform. Pure per-row arithmetic over the shared
    // tokenization — no shuffle, no corpus self-join; the rendered
    // example is pinned byte-exact via md5.
    "q_fim" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .withColumn("n", size(col("tk")).cast("long"))
        .where(col("n") >= 3)
        .withColumn("c1", lit(1L) + saltedH40("fim1", col("doc_id")) % (col("n") - 2))
        .withColumn("m", lit(1L) + saltedH40("fim2", col("doc_id")) % (col("n") - col("c1") - 1))
        .select(col("doc_id"),
          col("c1").as("n_pre"),
          col("m").as("n_mid"),
          (col("n") - col("c1") - col("m")).as("n_suf"),
          md5(concat(
            lit("<PRE>"), array_join(slice(col("tk"), lit(1), col("c1").cast("int")), " "),
            lit("<SUF>"), array_join(
              slice(col("tk"), (col("c1") + col("m") + 1).cast("int"),
                (col("n") - col("c1") - col("m")).cast("int")), " "),
            lit("<MID>"), array_join(
              slice(col("tk"), (col("c1") + 1).cast("int"), col("m").cast("int")), " ")))
            .as("fim_md5"))
        .orderBy("doc_id")),

    // X249: content-defined chunking (the rsync/restic/CDC discipline at
    // token granularity) — chunk boundaries fall where a token's salted
    // 40-bit hash lands in the boundary residue class, so boundaries are
    // POSITION-INDEPENDENT: insert a paragraph and every downstream
    // chunk re-aligns (fixed-width chunking would shift-corrupt them all
    // — THE property storage-level dedup needs). Per-source report:
    // chunk counts, distinct chunk payloads (md5), and the duplicate
    // chunk mass CDC exposes for free. Scale shape: one doc_id-keyed
    // shuffle shared by the boundary window and the chunk groupBy (the
    // X141 lead-window discipline), then a combinable per-source
    // aggregate over chunk hashes; chunks never join each other.
    "q_cdc_chunks" -> ((s, d) => {
      val tok = Tables.widened(Tables.documents(s, d))
        .select(col("source"), col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
      val chunks = tok
        .withColumn("b",
          when(conv(substring(md5(concat(lit("cdc:"), col("t"))), 1, 10), 16, 10)
            .cast("long") % cdcResidue === 0, 1L).otherwise(0L))
        .withColumn("chunk_idx", sum("b").over(w))
        .groupBy("source", "doc_id", "chunk_idx")
        .agg(count(lit(1)).cast("long").as("chunk_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")), " ")).as("h"))
      chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("h")).as("n_distinct_chunks"),
          sum("chunk_tokens").cast("long").as("sum_chunk_tokens"))
        .withColumn("dup_permille",
          expr("(n_chunks - n_distinct_chunks) * 1000 div n_chunks"))
        .orderBy("source")
    }),

    // X250: span corruption (T5/UL2 denoising objective) — the OTHER
    // standard pretraining example transform beside X236's FIM: tokens
    // mask independently at ~1/6 by a position-salted hash (re-runs
    // rebuild identical corruptions), contiguous masked runs collapse
    // into numbered sentinels in the INPUT (`<X0>`, `<X1>`, …) and
    // expand into `sentinel + original tokens` in the TARGET — the
    // (input, target) pair an encoder-decoder trains on, pinned
    // byte-exact via md5. Per-row window arithmetic over one doc_id
    // shuffle; no corpus self-join.
    "q_span_corrupt" -> ((s, d) => {
      val tok = Tables.widened(Tables.documents(s, d))
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
        .withColumn("m",
          conv(substring(md5(concat(lit("sc:"), col("doc_id").cast("string"),
            lit(":"), col("pos").cast("string"))), 1, 10), 16, 10)
            .cast("long") % maskResidue === 0)
      val wLag = Window.partitionBy("doc_id").orderBy("pos")
      val wRun = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
      val marked = tok
        .withColumn("run_start",
          col("m") && !coalesce(lag("m", 1).over(wLag), lit(false)))
        .withColumn("span_id",
          sum(when(col("run_start"), 1L).otherwise(0L)).over(wRun))
        .withColumn("in_tok",
          when(!col("m"), col("t"))
            .when(col("run_start"),
              concat(lit("<X"), (col("span_id") - 1).cast("string"), lit(">"))))
        .withColumn("tgt_tok",
          when(col("m") && col("run_start"),
            concat(lit("<X"), (col("span_id") - 1).cast("string"), lit("> "),
              col("t")))
            .when(col("m"), col("t")))
      marked.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
          max("span_id").cast("long").as("n_spans"),
          md5(array_join(filter(transform(
            array_sort(collect_list(struct(col("pos"), col("in_tok").as("v")))),
            x => x.getField("v")), v => v.isNotNull), " ")).as("input_md5"),
          md5(array_join(filter(transform(
            array_sort(collect_list(struct(col("pos"), col("tgt_tok").as("v")))),
            x => x.getField("v")), v => v.isNotNull), " ")).as("target_md5"))
        .orderBy("doc_id")
    }),

    // X252: KV-cache prefix-sharing report — the continuous-batching /
    // prefix-caching planner input (vLLM's automatic prefix cache, SGLang
    // RadixAttention): examples whose first `sharePrefixLen` tokens agree
    // byte-for-byte can serve together recomputing the shared prefix
    // ONCE, so the report lists every shared-prefix group with its exact
    // saved-token mass ((n−1)·prefix length). One combinable hash
    // aggregate over prefix md5s; output ∝ the sharing structure, never
    // the corpus.
    "q_prefix_share" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= sharePrefixLen)
        .select(col("doc_id"),
          md5(array_join(slice(col("tk"), 1, sharePrefixLen), " ")).as("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").cast("long").as("sum_ids"))
        .where(col("n_docs") >= 2)
        .withColumn("saved_tokens",
          (col("n_docs") - 1) * sharePrefixLen)
        .select("prefix_md5", "n_docs", "saved_tokens", "sum_ids")
        .orderBy("prefix_md5")),

    // X50: retrieval-side chunking — sliding token windows (chunkSize
    // tokens, chunkStride apart → fixed overlap for boundary-context
    // retention, the standard RAG chunker) with STABLE (doc_id,
    // chunk_idx) identity: the id contract an index needs for
    // incremental re-embedding. Pure per-row explode over the shared
    // tokenization, no shuffle; chunk text pinned byte-exact via md5.
    "q_doc_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .where(size(col("tk")) > 0)
        .withColumn("last_w", expr(s"(size(tk) - 1) DIV $chunkStride"))
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(0), col("last_w"))))
        .select(col("doc_id"),
          col("col").cast("long").as("chunk_idx"),
          slice(col("tk"), col("col") * chunkStride + 1, lit(chunkSize)).as("ch"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("ch")).cast("long").as("chunk_tokens"),
          md5(array_join(col("ch"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),
  )

  /** RAG chunk geometry: 32-token windows every 24 tokens (8 overlap). */
  val chunkSize = 32
  val chunkStride = 24

  /** X249 boundary residue: ~1/16 of tokens open a chunk (avg ~16-token
    * chunks on natural text).
    */
  val cdcResidue = 16

  /** X250 mask residue: ~1/6 of tokens corrupt (T5's 15% is 1/6.7). */
  val maskResidue = 6

  /** X252 shared-prefix window (tokens). */
  val sharePrefixLen = 4

  /** 40-bit md5 prefix of `salt:id` — the X136/X228 deterministic-choice
    * hash (nonnegative, so `%` agrees between Spark and DuckDB).
    */
  private def saltedH40(salt: String, id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"$salt:"), id.cast("string"))), 1, 10), 16, 10)
      .cast("long")

  private def saltedH40Sql(salt: String) =
    s"CAST(('0x' || substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "q_seq_pack" ->
      s"""SELECT lang, pack_id,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  min(doc_id) AS first_doc,
         |  max(doc_id) AS last_doc
         |FROM (
         |  SELECT lang, doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      // $capacity AS pack_id
         |  FROM (SELECT lang, doc_id,
         |          CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n_tokens
         |        FROM documents))
         |GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin,
    "q_prefix_share" ->
      s"""SELECT prefix_md5, count(*) AS n_docs,
         |       CAST((count(*) - 1) * $sharePrefixLen AS BIGINT) AS saved_tokens,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM (
         |  SELECT doc_id,
         |         md5(array_to_string(list_slice(${TextAnalysis.toksSql}, 1,
         |           $sharePrefixLen), ' ')) AS prefix_md5
         |  FROM documents WHERE len(${TextAnalysis.toksSql}) >= $sharePrefixLen)
         |GROUP BY prefix_md5 HAVING count(*) >= 2
         |ORDER BY prefix_md5""".stripMargin,

    "q_span_corrupt" ->
      s"""WITH base AS (SELECT doc_id, ${TextAnalysis.toksSql} AS tk FROM documents),
         |pos AS (SELECT doc_id, tk, unnest(range(0, len(tk))) AS pos FROM base),
         |tok AS (
         |  SELECT doc_id, pos, tk[pos + 1] AS t,
         |         CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
         |           CAST(pos AS VARCHAR)), 1, 10)) AS BIGINT) % $maskResidue = 0 AS m
         |  FROM pos),
         |marked AS (
         |  SELECT *, m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos),
         |                               FALSE) AS run_start
         |  FROM tok),
         |spanned AS (
         |  SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |  FROM marked)
         |SELECT doc_id, count(*) AS n_tok,
         |       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |       CAST(max(span_id) AS BIGINT) AS n_spans,
         |       md5(coalesce(string_agg(
         |         CASE WHEN NOT m THEN t
         |              WHEN run_start THEN '<X' || CAST(span_id - 1 AS VARCHAR) || '>'
         |         END, ' ' ORDER BY pos), '')) AS input_md5,
         |       md5(coalesce(string_agg(
         |         CASE WHEN m AND run_start
         |                THEN '<X' || CAST(span_id - 1 AS VARCHAR) || '> ' || t
         |              WHEN m THEN t
         |         END, ' ' ORDER BY pos), '')) AS target_md5
         |FROM spanned GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_cdc_chunks" ->
      s"""WITH base AS (SELECT source, doc_id, ${TextAnalysis.toksSql} AS tk FROM documents),
         |pos AS (SELECT source, doc_id, tk,
         |               unnest(range(1, len(tk) + 1)) AS pos FROM base),
         |tok AS (SELECT source, doc_id, pos, tk[pos] AS t FROM pos),
         |flagged AS (
         |  SELECT *, CASE WHEN CAST(('0x' || substr(md5('cdc:' || t), 1, 10)) AS BIGINT)
         |                      % $cdcResidue = 0 THEN 1 ELSE 0 END AS b
         |  FROM tok),
         |cid AS (SELECT *, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
         |        FROM flagged),
         |chunks AS (
         |  SELECT source, doc_id, chunk_idx, count(*) AS chunk_tokens,
         |         md5(string_agg(t, ' ' ORDER BY pos)) AS h
         |  FROM cid GROUP BY 1, 2, 3)
         |SELECT source, count(*) AS n_chunks,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
         |       CAST(sum(chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
         |       CAST((count(*) - count(DISTINCT h)) * 1000 // count(*) AS BIGINT)
         |         AS dup_permille
         |FROM chunks GROUP BY source ORDER BY source""".stripMargin,

    "q_fim" ->
      s"""SELECT doc_id,
         |       c1 AS n_pre, m AS n_mid, n - c1 - m AS n_suf,
         |       md5('<PRE>' || array_to_string(list_slice(tk, 1, c1), ' ') ||
         |           '<SUF>' || array_to_string(list_slice(tk, c1 + m + 1, n), ' ') ||
         |           '<MID>' || array_to_string(list_slice(tk, c1 + 1, c1 + m), ' ')) AS fim_md5
         |FROM (
         |  SELECT doc_id, tk, n, c1,
         |         1 + ${saltedH40Sql("fim2")} % (n - c1 - 1) AS m
         |  FROM (
         |    SELECT doc_id, tk, n,
         |           1 + ${saltedH40Sql("fim1")} % (n - 2) AS c1
         |    FROM (SELECT doc_id, ${TextAnalysis.toksSql} AS tk,
         |                 CAST(len(${TextAnalysis.toksSql}) AS BIGINT) AS n
         |          FROM documents)
         |    WHERE n >= 3))
         |ORDER BY doc_id""".stripMargin,

    "q_doc_chunks" ->
      s"""SELECT doc_id, CAST(w AS BIGINT) AS chunk_idx,
         |       CAST(len(ch) AS BIGINT) AS chunk_tokens,
         |       md5(array_to_string(ch, ' ')) AS chunk_md5
         |FROM (
         |  SELECT doc_id, w,
         |    list_slice(tk, w * $chunkStride + 1, w * $chunkStride + $chunkSize) AS ch
         |  FROM (SELECT doc_id, tk, unnest(range(0, (len(tk) - 1) // $chunkStride + 1)) AS w
         |        FROM (SELECT doc_id, ${TextAnalysis.toksSql} AS tk FROM documents)
         |        WHERE len(tk) > 0))
         |ORDER BY doc_id, chunk_idx""".stripMargin,
  )
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Tables.documents

/** Corpus-mixture design operators (X239, X241) — the numbers a curator
  * looks at BEFORE committing a training mixture:
  *
  *  - X239 `q_unimax`: UniMax budget allocation (Chung et al. 2023) —
  *    distribute a token budget across sources as uniformly as possible,
  *    subject to a per-source repetition cap (no source trains more than
  *    `capPermille`/1000 epochs). The waterfilling recurrence: visit
  *    sources in ascending capped-size order; each takes
  *    `min(cap, remaining DIV sources_left)`. Exact integer arithmetic,
  *    so the whole schedule — including which sources hit their cap —
  *    replays bit-for-bit in the oracle's recursive CTE.
  *  - X241 `q_source_overlap`: cross-source n-gram overlap matrix — for
  *    every source pair, the count of shared distinct 4-token shingles
  *    and the exact Jaccard permille. X153 measures duplication WITHIN a
  *    source and X53 against a benchmark; this is the between-source
  *    redundancy that makes naive mixture weights double-count content.
  *
  * Scale shapes: X239 collapses the corpus to one per-source aggregate
  * (combinable; the waterfill itself runs on a #sources-row frame —
  * driver-sized by construction, like X77's bucket offsets). X241
  * collapses to distinct (source, shingle) rows once (map-side
  * combinable), then aggregates shingles whose source-SET spans ≥ 2
  * sources — pair fan-out per shingle is bounded by C(|sources|, 2),
  * and the corpus never joins itself.
  */
object Mixture extends graft.QueryModule {
  /** Budget = `budgetNum`/`budgetDen` of total corpus tokens. */
  val budgetNum = 6
  val budgetDen = 10

  /** Per-source cap in permille of an epoch (650 = 0.65 epochs). */
  val capPermille = 650

  val queries: Map[String, Q] = Map(
    // X239: per-source allocation manifest. Sources ordered by
    // (cap_tokens, source); each takes min(cap, rem DIV left). The
    // #sources-row collect is driver-sized by construction (a corpus
    // has tens of sources, not millions).
    "q_unimax" -> ((s, d) => {
      val stats = documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("s"))
        .collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("s")))
      val budget = stats.map(_._3).sum * budgetNum / budgetDen
      val ordered = stats
        .map { case (src, nd, sz) => (src, nd, sz, sz * capPermille / 1000) }
        .sortBy { case (src, _, _, cap) => (cap, src) }
      var rem = budget
      val alloc = ordered.zipWithIndex.map { case ((src, nd, sz, cap), i) =>
        val share = rem / (ordered.length - i)
        val a = math.min(cap, share)
        rem -= a
        // max(sz,1): an all-empty-tokenizing source has sz = 0 (its cap
        // and alloc are 0 too, so the permille is honestly 0, not ÷0)
        (src, nd, sz, cap, a, a * 1000 / math.max(sz, 1L))
      }
      val spark = s
      import spark.implicits._
      alloc.toSeq
        .toDF("source", "n_docs", "sum_tokens", "cap_tokens",
          "alloc_tokens", "epochs_permille")
        .orderBy("source")
    }),

    // X241: one row per source pair sharing at least one shingle; the
    // per-shingle source set is |sources|-bounded, so the pair explode
    // is output-sized. Totals ride a broadcast (|sources| rows).
    "q_source_overlap" -> ((s, d) => {
      val ss = graft.util.FixtureCache.parquet(s, "src_shingles", d) { dir =>
        srcShingles(s, d).write.mode("overwrite").parquet(dir)
      }
      val totals = ss.groupBy(col("source")).agg(count(lit(1)).as("tot"))
      val pairs = ss.groupBy("sh")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .where(size(col("srcs")) >= 2)
        .select(explode(expr(
          """flatten(transform(srcs, (x, i) ->
            |  transform(slice(srcs, i + 2, size(srcs)), y ->
            |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .select(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(totals.withColumnRenamed("source", "src_a")
          .withColumnRenamed("tot", "tot_a")), Seq("src_a"))
        .join(broadcast(totals.withColumnRenamed("source", "src_b")
          .withColumnRenamed("tot", "tot_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          // integer div, not `/` (Column./ is DOUBLE division)
          expr("n_shared * 1000 div (tot_a + tot_b - n_shared)")
            .as("jac_permille"))
        .orderBy("src_a", "src_b")
    }),
  )

  /** Distinct (source, shingle-FINGERPRINT) rows — [[Dedup.docShingles]]'s
    * lead-window shape (codegen'd, one doc_id shuffle) with the source
    * riding the token stream, collapsed by a combinable distinct. The
    * shingle is hashed to the top 60 bits of its md5 BEFORE the shuffle
    * (the X205 simhash / X154 fingerprint move): the distinct, the
    * per-shingle source-set groupBy, and the materialized cache all carry
    * 8-byte longs instead of ~25-char strings — ~3× less shuffle and
    * exchange volume, which is what the 100×-scale path needs. md5-60 is
    * computable in BOTH engines, so the oracle rebuilds every fingerprint
    * bit-for-bit and the query stays FULLY oracled; a fingerprint
    * collision (~n²/2⁶⁰) collapses the same pair of shingles in both
    * engines.
    */
  private def srcShingles(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.widened(documents(s, d))
      .select(col("source"), col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val sh = concat_ws(" ", (0 until Dedup.shingleLen).map(i =>
      if (i == 0) col("t") else lead("t", i).over(w)): _*)
    tok
      .select(col("source"),
        conv(substring(md5(sh), 1, 15), 16, 10).cast("long").as("sh"),
        lead("t", Dedup.shingleLen - 1).over(w).isNotNull.as("full"))
      .where(col("full"))
      .select("source", "sh").distinct()
  }

  private val toks = TextAnalysis.toksSql

  val oracles: Map[String, String] = Map(
    "q_unimax" ->
      s"""WITH RECURSIVE
         |stats AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(len($toks)) AS BIGINT) AS s
         |  FROM documents GROUP BY 1),
         |k AS (SELECT count(*) AS kk,
         |             CAST(sum(s) * $budgetNum // $budgetDen AS BIGINT) AS b
         |      FROM stats),
         |ord AS (
         |  SELECT source, n_docs, s, s * $capPermille // 1000 AS cap,
         |         CAST(row_number() OVER (ORDER BY s * $capPermille // 1000,
         |                                 source) AS BIGINT) AS rn
         |  FROM stats),
         |fill AS (
         |  SELECT CAST(0 AS BIGINT) AS rn, (SELECT b FROM k) AS rem,
         |         CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS alloc
         |  UNION ALL
         |  SELECT o.rn,
         |         f.rem - LEAST(o.cap, f.rem // ((SELECT kk FROM k) - o.rn + 1)),
         |         o.source,
         |         LEAST(o.cap, f.rem // ((SELECT kk FROM k) - o.rn + 1))
         |  FROM fill f JOIN ord o ON o.rn = f.rn + 1)
         |SELECT o.source, o.n_docs, o.s AS sum_tokens, o.cap AS cap_tokens,
         |       f.alloc AS alloc_tokens,
         |       f.alloc * 1000 // GREATEST(o.s, 1) AS epochs_permille
         |FROM fill f JOIN ord o ON o.source = f.source
         |ORDER BY o.source""".stripMargin,

    "q_source_overlap" ->
      s"""WITH ss AS (
         |  SELECT DISTINCT source,
         |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS sh
         |  FROM (SELECT source, unnest(${Dedup.shinglesSql}) AS sh
         |        FROM (SELECT source, $toks AS l FROM documents)
         |        WHERE len(l) >= ${Dedup.shingleLen})),
         |tot AS (SELECT source, count(*) AS t FROM ss GROUP BY 1)
         |SELECT a.source AS src_a, b.source AS src_b,
         |       count(*) AS n_shared,
         |       count(*) * 1000 // (ta.t + tb.t - count(*)) AS jac_permille
         |FROM ss a
         |JOIN ss b ON a.sh = b.sh AND a.source < b.source
         |JOIN tot ta ON ta.source = a.source
         |JOIN tot tb ON tb.source = b.source
         |GROUP BY a.source, b.source, ta.t, tb.t
         |ORDER BY src_a, src_b""".stripMargin,
  )
}

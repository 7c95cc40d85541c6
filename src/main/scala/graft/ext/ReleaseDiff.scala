package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.documents

/** Corpus release diff card (X253) — the changelog a dataset release
  * ships beside its X245 datacard: between release A and release B, per
  * source, how many documents were added, removed, or content-changed,
  * and the net token-mass delta. The U1/X18 snapshot-diff discipline
  * lifted from follower rows to corpus releases: a real release B is not
  * rule-derived from A, so the card comes from an honest full-outer join
  * on document identity comparing content hashes — never from trusting
  * the writer's intent.
  *
  * Fixture: release B is a deterministic md5-keyed revision of the
  * corpus (~10% dropped, ~20% edited, ~10% fresh ids appended), so the
  * oracle can rebuild BOTH releases and replay the join; the operator
  * itself sees two opaque (doc_id, source, text) relations.
  *
  * Scale shape: one hash shuffle per release keyed on doc_id (the join
  * key), comparing 16-byte content hashes — the text itself never
  * shuffles (hash early, join on slim columns); the card is a combinable
  * per-source rollup of join-tagged rows.
  */
object ReleaseDiff extends graft.QueryModule {
  /** Release-B revision rules, keyed on `md5("rel:" || doc_id) mod 10`:
    * 0 → dropped; 1,2 → text edited (a revision suffix); 3 → an added
    * fresh document (id + max(doc_id)+1, same source, derived text); else
    * unchanged. The added-id offset derives from the actual key range
    * (the stride discipline Selection/Curriculum use) — a fixed 10^6
    * collides with kept ids once real doc_ids reach 10^6, duplicating
    * release-B keys and fanning out the full-outer join.
    */
  private def relBucket(id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("rel:"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10

  val queries: Map[String, Q] = Map(
    "q_release_diff" -> ((s, d) => {
      // ONE corpus scan (was three: slim(a), kept, added each re-read and
      // re-tokenized documents — guide §1.2, don't recompute what a single
      // pass can emit): every document emits its release-A row plus its
      // 0–2 release-B derivatives as tagged (rel, doc_id, text) structs,
      // and the slim projection (token count + content md5) runs ONCE per
      // emitted row. The outer match on the unique doc_id then runs as a
      // tag-aggregate — semantically the same full-outer join (each id
      // carries ≤ 1 row per release: kept ids are a subset of A's ids and
      // added ids sit above max(doc_id)), but ONE doc_id exchange instead
      // of two join-side exchanges, and `text` never shuffles (hash
      // early, move 16-byte digests — the scaladoc's own rule, now
      // applied to the build side too).
      val a = documents(s, d)
      val offset = a.agg(max("doc_id")).head.getAs[Number](0).longValue() + 1
      val bText = when(relBucket(col("doc_id")).isin(1L, 2L),
        concat(col("text"), lit(" rev"))).otherwise(col("text"))
      val emitted = a
        .select(col("source"), explode(array(
          struct(lit("a").as("rel"), col("doc_id").as("doc_id"),
            col("text").as("text")),
          // kept/edited (bucket ≠ 0); rel = null marks a dropped doc
          struct(when(relBucket(col("doc_id")) =!= 0, "b").as("rel"),
            col("doc_id").as("doc_id"), bText.as("text")),
          // the added twin (bucket = 3), id offset above A's key range
          struct(when(relBucket(col("doc_id")) === 3, "b").as("rel"),
            (col("doc_id") + offset).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))).as("r"))
        .where(col("r.rel").isNotNull)
        .select(col("r.rel").as("rel"), col("r.doc_id").as("doc_id"),
          col("source"),
          size(TextAnalysis.tokens(col("r.text"))).cast("long").as("n_tok"),
          md5(col("r.text")).as("h"))
      emitted.groupBy("doc_id")
        .agg(
          max(when(col("rel") === "a",
            struct(col("source"), col("n_tok"), col("h")))).as("ra"),
          max(when(col("rel") === "b",
            struct(col("source"), col("n_tok"), col("h")))).as("rb"))
        .select(coalesce(col("ra.source"), col("rb.source")).as("source"),
          when(col("ra").isNull, 1L).otherwise(0L).as("is_add"),
          when(col("rb").isNull, 1L).otherwise(0L).as("is_rm"),
          when(col("ra").isNotNull && col("rb").isNotNull &&
            col("ra.h") =!= col("rb.h"), 1L).otherwise(0L).as("is_chg"),
          coalesce(col("ra.n_tok"), lit(0L)).as("tok_a"),
          coalesce(col("rb.n_tok"), lit(0L)).as("tok_b"))
        .groupBy("source")
        .agg(sum(when(col("is_rm") === 0, 1L).otherwise(0L)).cast("long").as("n_b"),
          sum(when(col("is_add") === 0, 1L).otherwise(0L)).cast("long").as("n_a"),
          sum("is_add").cast("long").as("n_added"),
          sum("is_rm").cast("long").as("n_removed"),
          sum("is_chg").cast("long").as("n_changed"),
          (sum("tok_b") - sum("tok_a")).cast("long").as("tok_delta"))
        .select("source", "n_a", "n_b", "n_added", "n_removed", "n_changed",
          "tok_delta")
        .orderBy("source")
    }),
  )

  private val toks = TextAnalysis.toksSql
  private val relSql =
    "CAST(('0x' || substr(md5('rel:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10"

  val oracles: Map[String, String] = Map(
    "q_release_diff" ->
      s"""WITH a AS (
         |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tok,
         |         md5(text) AS h
         |  FROM documents),
         |b_src AS (
         |  SELECT doc_id, source,
         |         CASE WHEN $relSql IN (1, 2) THEN text || ' rev' ELSE text END AS text
         |  FROM documents WHERE $relSql <> 0
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), source, text || ' new'
         |  FROM documents WHERE $relSql = 3),
         |b AS (
         |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tok,
         |         md5(text) AS h
         |  FROM b_src),
         |j AS (
         |  SELECT coalesce(a.source, b.source) AS source,
         |         CASE WHEN a.h IS NULL THEN 1 ELSE 0 END AS is_add,
         |         CASE WHEN b.h IS NULL THEN 1 ELSE 0 END AS is_rm,
         |         CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL AND a.h <> b.h
         |              THEN 1 ELSE 0 END AS is_chg,
         |         coalesce(a.n_tok, 0) AS tok_a, coalesce(b.n_tok, 0) AS tok_b
         |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
         |SELECT source,
         |       CAST(sum(CASE WHEN is_add = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |       CAST(sum(CASE WHEN is_rm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |       CAST(sum(is_add) AS BIGINT) AS n_added,
         |       CAST(sum(is_rm) AS BIGINT) AS n_removed,
         |       CAST(sum(is_chg) AS BIGINT) AS n_changed,
         |       CAST(sum(tok_b) - sum(tok_a) AS BIGINT) AS tok_delta
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
  )
}

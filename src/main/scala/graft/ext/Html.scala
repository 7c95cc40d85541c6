package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HtmlText
import graft.sources.Tables

/** HTML → text extraction queries (extension X152) — see
  * [[graft.functions.HtmlText]] for the extractor itself.
  *
  * The fixture wraps each document's (whitespace-normalized) text in a
  * hostile page: a `<style>` block, a `<script>` whose BODY contains
  * `<`, quotes, and a fake `</div>` string literal (content must drop
  * without tripping on any of it), an HTML comment containing tags,
  * attributes carrying raw `&`, and entity-encoded punctuation in the
  * prose. The DuckDB oracle does NOT re-parse the page — it states the
  * expected prose directly from the source text, so the extractor must
  * invert the page construction EXACTLY: title and heading text kept,
  * machinery dropped, entities decoded, whitespace collapsed.
  *
  * Scale shape: a pure per-row codegen'd expression riding the scan —
  * zero shuffles; the corpus-wide extraction is embarrassingly parallel,
  * exactly like the production WET-generation pass it models.
  */
object Html extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    "q_html_extract" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val cleanText = regexp_replace(trim(col("text")), "\\s+", " ")
      val page = concat(
        lit("<html><head><title>T"), id,
        lit("</title><style>body{color:#fff}</style>"),
        lit("""<script type="text/javascript">if(a<b){x="</div>";}</script>"""),
        lit("""</head><body><!-- comment <b>bold</b> --><h1 class="t">Doc """), id,
        lit("""</h1><p data-x="a&b">"""), cleanText,
        lit(" &amp; more&#33;</p></body></html>"))
      Tables.documents(s, d).select(col("doc_id"), page.as("html"))
        .select(col("doc_id"), HtmlText.html_text(col("html")).as("extracted"))
        .select(col("doc_id"), col("extracted"),
          length(col("extracted")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_html_extract" ->
      """SELECT doc_id,
        |       ('T' || CAST(doc_id AS VARCHAR) || ' Doc ' || CAST(doc_id AS VARCHAR)
        |        || ' ' || regexp_replace(trim(text), '\s+', ' ', 'g')
        |        || ' & more!') AS extracted,
        |       strlen('T' || CAST(doc_id AS VARCHAR) || ' Doc ' || CAST(doc_id AS VARCHAR)
        |        || ' ' || regexp_replace(trim(text), '\s+', ' ', 'g')
        |        || ' & more!') AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}

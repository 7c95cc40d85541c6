package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Elasticsearch keyed-upsert sink (SURVEY §2 S10), re-expressing the
  * reference's indexing task (`airflow/dags/apify_dag.py:289-318`):
  *
  *  - `es.mapping.id = username` → the ES doc id is the row key, so a
  *    re-run upserts instead of duplicating;
  *  - `es.nodes.wan.only = true` (don't discover data nodes — required
  *    when ES sits behind a proxy/single endpoint);
  *  - an `indexed_at` wall-clock tag on every row, stored as a formatted
  *    STRING — a reference quirk we keep at the sink boundary for fidelity
  *    (`apify_dag.py:291,308`; SURVEY §1.2).
  *
  * Clobber quirk, decided consciously (SURVEY §3.3): the reference writes
  * BOTH aggregates to `final_aggregated_index` (`apify_dag.py:298` and
  * `:314` — the second was evidently meant to be `final_comparatif_index`,
  * cf. its own success log at `:318`). With keyed ids + overwrite mode the
  * comparatif write drops and replaces the aggregated index every hour.
  * We FIX it: [[indexAggregates]] routes each DataFrame to its own index by
  * default, and only reproduces the reference behavior when
  * `preserveReferenceClobber = true` is passed explicitly.
  *
  * The write itself uses the same public connector format
  * (`org.elasticsearch.spark.sql`, jar:
  * `/root/reference/jars/elasticsearch-spark-30_2.12-8.5.3.jar`). That jar
  * is built for Scala 2.12 and no live ES exists in this sandbox, so the
  * execution path is exercised in production deployments only; tests pin
  * the option assembly and the clobber decision.
  */
object Elastic {

  case class EsConfig(
      nodes: String = "localhost",
      port: Int = 9200,
      wanOnly: Boolean = true)

  val format = "org.elasticsearch.spark.sql"

  /** The reference's (single) target index and the index its log message
    * claims (`apify_dag.py:298,314,318`).
    */
  val aggregatedIndex = "final_aggregated_index"
  val comparatifIndex = "final_comparatif_index"

  /** `indexed_at` as the reference formats it: `%Y-%m-%d %H:%M:%S`, a
    * string (`apify_dag.py:291,308`). Internally timestamps stay
    * TimestampType; the cast happens only here at the sink boundary.
    */
  def indexedAtCol: Column =
    date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")

  /** Option map for one keyed index write (public connector option names). */
  def options(cfg: EsConfig, index: String, idColumn: String): Map[String, String] =
    Map(
      "es.nodes" -> cfg.nodes,
      "es.port" -> cfg.port.toString,
      "es.nodes.wan.only" -> cfg.wanOnly.toString,
      "es.resource" -> index,
      "es.mapping.id" -> idColumn)

  /** Tag with `indexed_at` and write one DataFrame to one index, doc-id =
    * `idColumn` (idempotent upsert per key). Each Spark partition
    * bulk-posts independently, so write parallelism = partition count —
    * the right shape for a 1000-executor cluster feeding an ES ingest tier.
    */
  def indexKeyed(df: DataFrame, cfg: EsConfig, index: String,
      idColumn: String = "username", mode: String = "overwrite"): Unit =
    df.withColumn("indexed_at", indexedAtCol)
      .write.format(format)
      .options(options(cfg, index, idColumn))
      .mode(mode)
      .save()

  /** Connector-free bulk indexer: each partition POSTs NDJSON
    * `{"index":{"_index":…,"_id":…}}` + doc pairs to the ES `_bulk`
    * endpoint (the same wire protocol the connector speaks), so the write
    * parallelism is the partition count with no driver funnel — and the
    * path is integration-testable against a live HTTP endpoint, which the
    * Scala-2.12-built connector jar is not in this runtime. Doc ids come
    * from `idColumn` (idempotent upsert per key, the reference's
    * `es.mapping.id` semantics); every doc carries the reference's
    * string-formatted `indexed_at` tag.
    *
    * A partition flushes a request when the next pair would take the body
    * past `batchBytes` (the connector's `es.batch.size.bytes`; ES advises
    * a few MB per bulk), so a small partition is one POST however many
    * docs it holds. A pair larger than the budget goes alone.
    */
  def bulkIndexKeyed(df: DataFrame, cfg: EsConfig, index: String,
      idColumn: String = "username", batchBytes: Int = 5 << 20): Unit = {
    val tagged = df.withColumn("indexed_at", indexedAtCol)
    val payload = tagged.select(
      col(idColumn).cast("string").as("_id"),
      to_json(struct(tagged.columns.map(col): _*)).as("_source"))
    val endpoint = s"http://${cfg.nodes}:${cfg.port}/_bulk"
    payload.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val body = new java.io.ByteArrayOutputStream()
      def flush(): Unit = if (body.size > 0) {
        postBulk(endpoint, body.toString(StandardCharsets.UTF_8))
        body.reset()
      }
      rows.foreach { r =>
        // a NULL id would silently route to an auto-generated doc id,
        // breaking the keyed-upsert idempotency contract — fail loudly
        require(!r.isNullAt(0),
          s"bulkIndexKeyed: NULL id value (column is the ES doc id)")
        val pair = (s"""{"index":{"_index":"$index","_id":"${jsonEscape(r.getString(0))}"}}""" +
          "\n" + r.getString(1) + "\n").getBytes(StandardCharsets.UTF_8)
        if (body.size + pair.length > batchBytes) flush()
        body.write(pair)
      }
      flush()
    }
  }

  /** JSON string escape for the doc id: backslash, quote, and ALL control
    * chars — a raw newline in an id would split the NDJSON action line.
    */
  private[sinks] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Non-retryable bulk failure (client error or per-item rejections). */
  final class BulkRejectedException(msg: String) extends RuntimeException(msg)

  /** POST one NDJSON bulk body. 2xx with no per-item errors succeeds;
    * Elasticsearch reports per-item failures as HTTP 200 with
    * `"errors":true` in the body, which must fail the task, not pass
    * silently. Client errors (4xx except 408/429) fail immediately;
    * transient failures (connect errors, 5xx, 408, 429) retry with
    * backoff, then throw — Spark then retries the task, and the bulk is
    * keyed-idempotent, so replays are safe.
    */
  private[sinks] def postBulk(endpoint: String, ndjson: String, retries: Int = 3): Unit = {
    val bytes = ndjson.getBytes(StandardCharsets.UTF_8)
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= retries) {
      try {
        val conn = java.net.URI.create(endpoint).toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/x-ndjson")
        conn.setDoOutput(true)
        conn.setFixedLengthStreamingMode(bytes.length)
        val os = conn.getOutputStream
        try os.write(bytes) finally os.close()
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val respBody = if (is == null) "" else
          try new String(is.readAllBytes(), StandardCharsets.UTF_8)
          finally is.close()
        if (code >= 200 && code < 300) {
          // minified ES responses carry "errors":true/false at top level
          if (respBody.replace(" ", "").contains(""""errors":true"""))
            throw new BulkRejectedException(
              s"bulk POST to $endpoint: per-item failures (errors:true): ${respBody.take(300)}")
          return
        }
        if (code >= 400 && code < 500 && code != 408 && code != 429)
          throw new BulkRejectedException(
            s"bulk POST to $endpoint returned $code: ${respBody.take(300)}")
        sys.error(s"bulk POST to $endpoint returned $code")
      } catch {
        case e: BulkRejectedException => throw e
        case e: Exception =>
          lastErr = e
          attempt += 1
          if (attempt <= retries) Thread.sleep(50L * attempt)
      }
    }
    throw lastErr
  }

  /** The reference's whole indexing task: both aggregates, keyed by
    * `username`. Returns the (aggregated, comparatif) index names actually
    * targeted so callers/tests can see the routing decision.
    */
  def indexAggregates(
      aggregated: DataFrame,
      comparatif: DataFrame,
      cfg: EsConfig,
      preserveReferenceClobber: Boolean = false): (String, String) = {
    val compIndex = if (preserveReferenceClobber) aggregatedIndex else comparatifIndex
    indexKeyed(aggregated, cfg, aggregatedIndex)
    indexKeyed(comparatif, cfg, compIndex)
    (aggregatedIndex, compIndex)
  }

  /** Index routing without the side effect — the unit-testable core of
    * [[indexAggregates]].
    */
  def aggregateRouting(preserveReferenceClobber: Boolean): (String, String) =
    (aggregatedIndex,
      if (preserveReferenceClobber) aggregatedIndex else comparatifIndex)
}

package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException, JsonToken}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.lake.Layout
import graft.lake.Layout.TableRef

/** Raw ingest shell (SURVEY §2 S1/S2) + payload normalization (S3/S4).
  *
  * The reference's ingest is driver-local Python: `requests.get` on the
  * Apify dataset endpoint accepting 200/201
  * (`scripts/script_api_apify_to_spark.py:100-118`), a verbatim
  * `raw.json` dump under `data/raw/<group>/<table>/<date>/`
  * (`:125-137`), then a 3-branch payload normalization —
  * bare list / `{"items": [...]}` / bare dict — through pandas into a
  * 2-column explicit-schema Spark DataFrame (`:144-165`).
  *
  * Spark-native re-expression:
  *  - S1 stays an out-of-engine adapter (`java.net.http`) producing FILES —
  *    an HTTP GET is driver work, not a DataFrame source; at scale many
  *    fetches parallelize in the orchestrator, and the engine's unit of
  *    ingest is the landed file.
  *  - S2 lands the payload byte-verbatim (raw layer = evidence, never
  *    re-encoded) at [[Layout.rawFile]].
  *  - S3 replaces the pandas hop with `spark.read.json(multiLine)`: a
  *    top-level array parses to one row per element; `{"items": [...]}`
  *    is detected from the inferred schema and exploded; a bare object of
  *    parallel arrays is zip-exploded (pandas' dict-of-columns semantics);
  *    any other bare object is one row. A caller that still holds the
  *    payload string reads the shape off it instead ([[readContract]]) and
  *    reads the file with a declared schema, so no inference job runs.
  *  - S4's explicit-schema contract is a projection+cast at the end
  *    ([[toContract]]), so inference only ever touches the raw layer.
  */
object Ingest extends graft.QueryModule {

  private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  /** S1: GET a JSON payload; the reference accepts both 200 and 201
    * (`script_api_apify_to_spark.py:115`). Returns None on any other
    * status — the caller lands nothing, matching the reference's
    * "no RAW data recorded" branch.
    */
  def fetchJson(url: String, timeoutSec: Long = 60): Option[String] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec)).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode == 200 || resp.statusCode == 201) Some(resp.body) else None
  }

  /** S2: land the payload verbatim as `<root>/raw/<group>/<table>/<date>/raw.json`.
    * Returns the landed file path.
    */
  def landRaw(payload: String, root: String, group: String, table: String,
      date: Int): String = {
    val ref = TableRef(root, Layout.rawLayer, group, table)
    val file = Paths.get(Layout.rawFile(ref, date))
    Files.createDirectories(file.getParent)
    Files.write(file, payload.getBytes(StandardCharsets.UTF_8))
    file.toString
  }

  /** The reference's payload shapes (`script_api_apify_to_spark.py:144-151`),
    * as [[project]] turns a parsed payload into rows.
    */
  private sealed trait Shape
  /** A bare list (one row per element) or a bare record (one row). */
  private case object AsRows extends Shape
  /** `{"items": [...]}`: one row per item. */
  private case object Items extends Shape
  /** A bare dict whose every field is an array: pandas' dict-of-columns. */
  private final case class Columnar(fields: Seq[String]) extends Shape

  /** The three-branch normalization, for a payload read as `df`. */
  private def project(df: DataFrame, shape: Shape): DataFrame = shape match {
    case AsRows => df
    case Items => df.select(explode(col("items")).as("item")).select("item.*")
    case Columnar(fields) =>
      df.select(explode(arrays_zip(fields.map(col): _*)).as("r"))
        .select(fields.map(f => col(s"r.$f").as(f)): _*)
  }

  /** S3: normalize a landed raw.json into rows, covering the reference's
    * three payload shapes (`script_api_apify_to_spark.py:144-151`):
    *
    *   1. bare list        → one row per element (native to the JSON source);
    *   2. `{"items": [...]}` → explode the items array;
    *   3. bare dict        → pandas semantics: if every field is an array,
    *      the dict is columnar — zip-explode into rows; otherwise a single
    *      record row.
    *
    * multiLine=true because the reference pretty-prints (`json.dump(...,
    * indent=2)`, `:136`): the whole file is one JSON value, not JSON-lines.
    * The shape is read off the inferred schema, which costs one job.
    */
  def normalize(spark: SparkSession, rawPath: String): DataFrame = {
    val df = spark.read.option("multiLine", "true").json(rawPath)
    val fields = df.schema.fields
    project(df, fields match {
      // wrapper shape ONLY when `items` is the sole top-level field — a
      // bare LIST of row objects that merely CONTAIN an items column must
      // stay branch 1 (one row per element), not get exploded
      case Array(f) if f.name == "items" && f.dataType.isInstanceOf[ArrayType] => Items
      case _ if fields.nonEmpty && fields.forall(_.dataType.isInstanceOf[ArrayType]) =>
        Columnar(fields.map(_.name).toSeq)
      case _ => AsRows
    })
  }

  /** S3 + S4 without inference: `toContract(normalize(spark, rawPath),
    * schema)`, for a caller that still holds the landed `payload`. The
    * shape comes from the string, and the file is read with a schema
    * declared from `schema`, so building the frame runs no job. Payloads
    * where that read could differ from inference fall back to
    * [[normalize]]: a `schema` with a non-STRING column; a contract field
    * holding a float, an integer beyond 64 bits, an object or an array
    * (inference would re-render it); a key that matches a contract field
    * only up to case, or repeats in one object; a list or `items` array
    * with a non-object element or without a non-null scalar anywhere
    * (inference could read it as another shape); an empty dict; a byte
    * order mark; and JSON that fails after its first token. A payload
    * that is not JSON from its first token reads as [[normalize]] reads
    * it: one corrupt record, all-null in the contract.
    */
  def readContract(spark: SparkSession, rawPath: String, payload: String,
      schema: StructType): DataFrame =
    (if (schema.forall(_.dataType == StringType)) declaredShape(payload, schema.fieldNames.toSet)
    else None) match {
      case Some(shape) =>
        val read = shape match {
          case AsRows => schema
          case Items => new StructType().add("items", ArrayType(schema))
          case Columnar(fields) =>
            StructType(fields.map(StructField(_, ArrayType(StringType))))
        }
        toContract(project(spark.read.schema(read).option("multiLine", "true").json(rawPath),
          shape), schema)
      case None => toContract(normalize(spark, rawPath), schema)
    }

  /** Spark's own JSON parser settings, so a token fails here iff it fails
    * in the reader.
    */
  private lazy val jsonFactory =
    new JSONOptions(Map("multiLine" -> "true"), "UTC", "").buildJsonFactory()

  /** The payload's shape when a declared read of the `contract` fields
    * equals inference (see [[readContract]]), from one streaming pass.
    */
  private def declaredShape(payload: String, contract: Set[String]): Option[Shape] = {
    // the reader matches keys exactly, `toContract` up to case
    def clash(key: String) = !contract(key) && contract.exists(_.equalsIgnoreCase(key))
    val p = jsonFactory.createParser(payload)
    // a string, a 64-bit integer, a boolean or null: a STRING column keeps
    // its text exactly as inference + cast renders it; consumes the value
    def plainValue(): Boolean = {
      val t = p.currentToken
      val plain = t.isScalarValue && t != JsonToken.VALUE_NUMBER_FLOAT &&
        (t != JsonToken.VALUE_NUMBER_INT || p.getNumberType != JsonParser.NumberType.BIG_INTEGER)
      p.skipChildren()
      plain
    }
    def nonNullScalar = p.currentToken.isScalarValue && p.currentToken != JsonToken.VALUE_NULL
    // at START_ARRAY: (elements, all are plain records, all are plain
    // values, some record field is a non-null scalar); consumes the array
    def elements(): (Int, Boolean, Boolean, Boolean) = {
      var (n, records, values, scalar) = (0, true, true, false)
      while (p.nextToken() != JsonToken.END_ARRAY) {
        n += 1
        if (p.currentToken == JsonToken.START_OBJECT) {
          values = false
          val keys = scala.collection.mutable.Set.empty[String]
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val key = p.currentName
            p.nextToken()
            scalar = scalar || nonNullScalar
            val plain = plainValue()
            records = records && keys.add(key) && !clash(key) && (plain || !contract(key))
          }
        } else {
          records = false
          values = plainValue() && values
        }
      }
      (n, records, values, scalar)
    }
    try {
      val first =
        try p.nextToken()
        catch {
          // not JSON from its first token: the reader fails at the same
          // token and keeps the file as one corrupt record
          case _: JsonProcessingException if !payload.startsWith("\uFEFF") => return Some(AsRows)
        }
      val shape = first match {
        case JsonToken.START_ARRAY =>
          val (_, records, _, scalar) = elements()
          Option.when(records && scalar)(AsRows)
        case JsonToken.START_OBJECT =>
          val fields = scala.collection.mutable.ArrayBuffer.empty[(String, Either[Boolean,
            (Int, Boolean, Boolean, Boolean)])]
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName
            fields += name -> (if (p.nextToken() == JsonToken.START_ARRAY) Right(elements())
            else Left(plainValue()))
          }
          fields.toSeq match {
            case Seq(("items", Right((n, records, _, scalar)))) =>
              Option.when(n > 0 && records && scalar)(Items)
            case fs if fs.isEmpty || fs.map(_._1).distinct.size < fs.size ||
              fs.exists(f => clash(f._1)) => None
            case fs if fs.forall(_._2.isRight) =>
              Option.when(fs.forall { case (f, v) => !contract(f) || v.exists(_._3) })(
                Columnar(fs.map(_._1)))
            case fs => Option.when(fs.forall { case (f, v) => !contract(f) || v == Left(true) })(
              AsRows)
          }
        case _ => None
      }
      if (p.nextToken() == null) shape else None
    } catch {
      case _: JsonProcessingException => None
    } finally p.close()
  }

  /** S4: project+cast an inferred payload onto the explicit layer contract
    * (the reference's hand-declared StructType, `:161-164`). Missing fields
    * surface as typed nulls, extra fields are dropped — the permissive
    * contract a raw feed needs.
    */
  def toContract(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(schema.fields.map { f =>
      (if (present(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** End-to-end ingest query for the correctness gate: build the three
    * payload shapes from fixture tables, land them verbatim under a raw
    * layer, normalize each branch, and union with a lineage tag. The DuckDB
    * oracle recomputes the same rows straight from the parquet tables.
    */
  /** Land the three JSON shapes (list / items-wrapper / columnar dict)
    * derived from nation+region into `root`'s raw layer — the fixture
    * body, also run FRESH by `Probe lake-live` to publish its live cost.
    */
  def landFixture(s: SparkSession, d: String, root: String): Unit = {
    val date = 20250301
    def jsonItems(rows: Seq[(Long, String)]): String =
      rows.map { case (k, n) => s"""  {"k": $k, "name": "$n"}""" }.mkString(",\n")

    // branch 1: bare pretty-printed list (nation)
    val nations = Tables.nation(s, d).select("n_nationkey", "n_name")
      .orderBy("n_nationkey").collect()
      .map(r => (r.getAs[Number]("n_nationkey").longValue, r.getString(1))).toSeq
    landRaw(s"[\n${jsonItems(nations)}\n]", root, "apify", "acct_list", date)

    // branch 2: {"items": [...]} wrapper (region)
    val regions = Tables.region(s, d).select("r_regionkey", "r_name")
      .orderBy("r_regionkey").collect()
      .map(r => (r.getAs[Number]("r_regionkey").longValue, r.getString(1))).toSeq
    landRaw(s"""{\n"items": [\n${jsonItems(regions)}\n]\n}""",
      root, "apify", "acct_items", date)

    // branch 3: bare dict of parallel arrays (first 3 nations, columnar)
    val cols = nations.take(3)
    landRaw(
      s"""{\n  "k": [${cols.map(_._1).mkString(", ")}],\n  "name": [${
        cols.map("\"" + _._2 + "\"").mkString(", ")}]\n}""",
      root, "apify", "acct_dict", date)
  }

  val queries: Map[String, Q] = Map(
    // X130: bad-record routing — real feeds carry truncated/garbled
    // lines, and silently dropping them hides upstream breakage while
    // failing the job on one bad line loses the hour. PERMISSIVE parse
    // with a corrupt-record column splits the feed in ONE pass: clean
    // rows flow to the contract, corrupt RAW LINES land in a quarantine
    // with full fidelity for replay (the X107 dead-letter discipline at
    // the parse boundary). The oracle recomputes both sides from the
    // slices the fixture planted — any misclassification shifts a row
    // across the split and breaks both aggregates.
    "q_json_badrecords" -> ((s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField}
      val root = graft.util.FixtureCache.dir("badjson", d) { root =>
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("id"), col("o_totalprice").as("val"))
        val good = o.where(col("id") % 50 === 0)
          .select(concat(lit("{\"id\": "), col("id"),
            lit(", \"val\": "), col("val"), lit("}")).as("line"))
        val bad = o.where(col("id") % 50 === 1) // truncated mid-object
          .select(concat(lit("{\"id\": "), col("id"), lit(", \"val\": ")).as("line"))
        good.unionByName(bad).coalesce(1)
          .write.mode("overwrite").text(s"$root/lines")
      }
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("val", DoubleType),
        StructField("_corrupt_record", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$root/lines")
        .cache() // Spark forbids querying the corrupt column uncached
      val good = parsed.where(col("_corrupt_record").isNull)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("sum_val"))
        .withColumn("probe", lit("good"))
      val bad = parsed.where(col("_corrupt_record").isNotNull)
        .agg(count(lit(1)).as("n_rows"),
          first(lit(null).cast("double")).as("sum_val"))
        .withColumn("probe", lit("bad"))
      bad.unionByName(good).select("probe", "n_rows", "sum_val").orderBy("probe")
    }),

    "q_json_ingest" -> ((s, d) => {
      val date = 20250301
      // the landed raw files are a pure function of the nation/region
      // tables — landed once per JVM (util.FixtureCache); the timed plan
      // is the operator's read side (shape normalization + contract
      // projection over all three landing shapes). The LIVE landing path
      // (HTTP server → landRaw) is exercised by IngestSpec's real-server
      // round-trip.
      val root = graft.util.FixtureCache.dir("ingest", d)(landFixture(s, d, _))

      val contract = StructType.fromDDL("k BIGINT, name STRING")
      Seq("acct_list", "acct_items", "acct_dict")
        .map { acct =>
          val ref = TableRef(root, Layout.rawLayer, "apify", acct)
          toContract(normalize(s, Layout.rawFile(ref, date)), contract)
            .withColumn("src", lit(acct))
        }
        .reduce(_ unionByName _)
        .orderBy("src", "k")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_json_badrecords" ->
      """SELECT * FROM (
        |  SELECT 'bad' AS probe, count(*) AS n_rows, CAST(NULL AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 50 = 1
        |  UNION ALL
        |  SELECT 'good' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM orders WHERE o_orderkey % 50 = 0
        |) ORDER BY probe""".stripMargin,

    "q_json_ingest" ->
      """SELECT * FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name, 'acct_list' AS src FROM nation
        |  UNION ALL
        |  SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name, 'acct_items' AS src FROM region
        |  UNION ALL
        |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name, 'acct_dict' AS src
        |  FROM nation WHERE n_nationkey < 3
        |) ORDER BY src, k""".stripMargin,
  )
}

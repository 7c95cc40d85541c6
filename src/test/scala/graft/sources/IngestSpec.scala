package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** S1/S2/S3/S4: HTTP fetch shell (against an in-process JDK HttpServer),
  * verbatim raw landing, and the 3-branch payload normalization.
  */
class IngestSpec extends SparkSpec {

  private val listPayload =
    """[
      |  {"username": "u1", "full_name": "Alice A"},
      |  {"username": "u2", "full_name": "Bob B"}
      |]""".stripMargin

  private val itemsPayload =
    """{
      |  "items": [
      |    {"username": "u3", "full_name": "Carol C", "extra": 1},
      |    {"username": "u4", "full_name": null}
      |  ]
      |}""".stripMargin

  private val dictPayload =
    """{"username": ["u5", "u6"], "full_name": ["Eve E", "Frank F"]}"""

  private val contract = StructType.fromDDL("username STRING, full_name STRING")

  private def tmpRoot() =
    Files.createTempDirectory("graft_ingest_spec").toFile.getAbsolutePath

  private def normalized(payload: String): Seq[(String, String)] = {
    val path = Ingest.landRaw(payload, tmpRoot(), "apify", "t", 20250301)
    Ingest.toContract(Ingest.normalize(spark, path), contract)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  test("landRaw writes the payload byte-verbatim at the raw-layer path") {
    val root = tmpRoot()
    val path = Ingest.landRaw(listPayload, root, "apify", "insta_acct", 20250301)
    assert(path == s"$root/raw/apify/insta_acct/20250301/raw.json")
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(new String(bytes, StandardCharsets.UTF_8) == listPayload)
  }

  test("normalize branch 1: bare pretty-printed list → one row per element") {
    assert(normalized(listPayload) == Seq("u1" -> "Alice A", "u2" -> "Bob B"))
  }

  test("normalize branch 2: items wrapper → exploded; extra fields dropped, nulls kept") {
    assert(normalized(itemsPayload) == Seq("u3" -> "Carol C", "u4" -> null))
  }

  test("normalize branch 3: bare dict of parallel arrays → pandas columnar rows") {
    assert(normalized(dictPayload) == Seq("u5" -> "Eve E", "u6" -> "Frank F"))
  }

  test("normalize branch 3b: bare dict of scalars → a single record row") {
    assert(normalized("""{"username": "u7", "full_name": "Grace G"}""") ==
      Seq("u7" -> "Grace G"))
  }

  test("toContract backfills missing contract columns as typed nulls") {
    val got = normalized("""[{"username": "only_user"}]""")
    assert(got == Seq("only_user" -> null))
  }

  test("corrupt payload surfaces as the corrupt-record column, not an exception") {
    // the reference's else-branch lands items = [] for unparseable
    // payloads (script_api_apify_to_spark.py:150-151); Spark's permissive
    // mode keeps the evidence in _corrupt_record instead of dropping it
    val path = Ingest.landRaw("this is } not { json", tmpRoot(), "apify", "bad", 20250301)
    val df = Ingest.normalize(spark, path)
    assert(df.columns.toSeq == Seq("_corrupt_record"))
    val contracted = Ingest.toContract(df, contract)
    assert(contracted.columns.toSeq == Seq("username", "full_name"))
    assert(contracted.collect().forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("fetchJson accepts 200 and 201, rejects other statuses (reference :115)") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, status: Int, body: String): Unit =
      server.createContext(path, ex => {
        val b = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
    serve("/ok200", 200, listPayload)
    serve("/ok201", 201, "[]")
    serve("/nope", 404, "not here")
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      assert(Ingest.fetchJson(s"$base/ok200").contains(listPayload))
      assert(Ingest.fetchJson(s"$base/ok201").contains("[]"))
      assert(Ingest.fetchJson(s"$base/nope").isEmpty)
    } finally server.stop(0)
  }

  test("fetched payload flows land → normalize → contract end-to-end") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ds", ex => {
      val b = itemsPayload.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val payload = Ingest.fetchJson(
        s"http://127.0.0.1:${server.getAddress.getPort}/ds").get
      val path = Ingest.landRaw(payload, tmpRoot(), "apify", "acct", 20250301)
      val rows = Ingest.toContract(Ingest.normalize(spark, path), contract)
        .collect().map(_.getString(0)).sorted
      assert(rows.toSeq == Seq("u3", "u4"))
    } finally server.stop(0)
  }

  test("readContract gives toContract(normalize) rows for every shape, declared or not") {
    val payloads = Seq(listPayload, itemsPayload, dictPayload,
      """{"username": "u7", "full_name": "Grace G"}""", """[{"username": "only_user"}]""",
      "this is } not { json", """[{"username": 42, "full_name": true}]""",
      """{"username": ["c1", "c2"], "full_name": ["C"], "extra": [1, 2, 3]}""",
      // fall back to inference: a float, a 65-bit integer and an object in
      // the contract, an empty wrapper, a non-object element, lists an
      // all-array or empty schema could read as another shape, keys that
      // clash up to case or repeat, a byte order mark, and a truncated list
      """[{"username": "f", "full_name": 1.50}]""",
      """[{"username": "b", "full_name": 36893488147419103232}]""",
      """[{"username": "o", "full_name": {"first": "Ann"}}]""",
      """{"items": []}""", """{"items": [{}]}""", """[{"username": "n"}, 3]""",
      """[{"extra": [1, 2]}, {"extra": [3]}]""", """[{"items": [{"username": "i"}]}]""",
      "[{}, {}]", "[]", """[{"Username": "U", "username": "u"}]""",
      """{"USERNAME": "U"}""", """[{"username": "r1", "username": "r2"}]""",
      "\uFEFF" + listPayload, """[{"username": "t1"}, {"username": """)
    payloads.foreach { payload =>
      val path = Ingest.landRaw(payload, tmpRoot(), "apify", "t", 20250301)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_.toString)
      val inferred = scala.util.Try(rows(Ingest.toContract(Ingest.normalize(spark, path), contract)))
      val declared = scala.util.Try(rows(Ingest.readContract(spark, path, payload, contract)))
      assert(declared.toOption == inferred.toOption, payload)
      assert(declared.isSuccess == inferred.isSuccess, payload)
    }
  }

  test("readContract builds its frame without a Spark job for every declared shape") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    Seq(listPayload, itemsPayload, dictPayload, """{"username": "u7"}""",
      "this is } not { json").foreach { payload =>
      val path = Ingest.landRaw(payload, tmpRoot(), "apify", "t", 20250301)
      spark.sparkContext.addSparkListener(listener)
      try {
        drain(); jobs.set(0)
        Ingest.readContract(spark, path, payload, contract)
        drain()
        assert(jobs.get == 0, s"${jobs.get} jobs building the read of $payload")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}

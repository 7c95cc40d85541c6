package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback stand-in for Elasticsearch's `_bulk` endpoint: accepts
  * NDJSON bulks, answers `"errors":false`, and keeps the doc ids it saw
  * per index so the benchmark can check what the sink sent.
  */
final class EsStub {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val ids =
    collection.concurrent.TrieMap.empty[String, collection.concurrent.TrieMap[String, Unit]]
  private val requests = new java.util.concurrent.atomic.AtomicLong
  private val docs = new java.util.concurrent.atomic.AtomicLong
  private val IdRe = """"_index":"([^"]*)","_id":"((?:[^"\\]|\\.)*)"""".r

  server.createContext("/_bulk", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    requests.incrementAndGet()
    body.split("\n").foreach { line =>
      IdRe.findFirstMatchIn(line).foreach { m =>
        docs.incrementAndGet()
        ids.getOrElseUpdate(m.group(1), collection.concurrent.TrieMap.empty).put(m.group(2), ())
      }
    }
    val resp = """{"took":1,"errors":false,"items":[]}""".getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, resp.length)
    ex.getResponseBody.write(resp)
    ex.close()
  })
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.start()

  def port: Int = server.getAddress.getPort

  /** Requests, docs, and distinct ids per index since the last reset. */
  def snapshot(): (Long, Long, Map[String, Set[String]]) =
    (requests.get, docs.get, ids.map { case (k, v) => k -> v.keySet.toSet }.toMap)

  def reset(): Unit = { requests.set(0); docs.set(0); ids.clear() }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

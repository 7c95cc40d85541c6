package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import com.sun.net.httpserver.HttpServer

import graft.sinks.Elastic

/** A loopback ES `_bulk` endpoint that records the (index, doc id) of
  * every doc it accepts, and answers HTTP 400 to the first request after
  * `failNext` is set.
  */
final class BulkStub {
  val failNext = new AtomicBoolean(false)
  val accepted: java.util.Set[(String, String)] = ConcurrentHashMap.newKeySet()
  private val action = """"_index":"([^"]+)","_id":"([^"]+)"""".r
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/_bulk", ex => {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val reject = failNext.getAndSet(false)
    if (!reject) action.findAllMatchIn(body).foreach(m => accepted.add(m.group(1) -> m.group(2)))
    val resp = (if (reject) """{"error":"injected"}""" else """{"errors":false}""")
      .getBytes(UTF_8)
    ex.sendResponseHeaders(if (reject) 400 else 200, resp.length)
    ex.getResponseBody.write(resp)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def config: Elastic.EsConfig = Elastic.EsConfig("127.0.0.1", server.getAddress.getPort)
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

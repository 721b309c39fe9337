package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.{HttpTransport, RpcTransport}

import java.util.concurrent.atomic.AtomicLong

/** In-process API and RPC node behind the connectors' transport seams.
  * It serves the current tick's payloads and counts what it serves:
  * HTTP requests, RPC batch posts, RPC calls, lines and bytes. An
  * unknown URL or call is an error, so a connector that asks for the
  * wrong thing fails the op instead of reading nothing. */
final class CannedNode {
  @volatile private var current: TickInputs = _
  @volatile var failUrls: String => Boolean = _ => false
  val httpRequests = new AtomicLong
  val rpcPosts = new AtomicLong
  val rpcCalls = new AtomicLong
  val linesServed = new AtomicLong
  val bytesServed = new AtomicLong

  def serve(in: TickInputs): Unit = current = in
  def clear(): Unit = current = null

  def counts: Map[String, Long] = Map(
    "http_requests" -> httpRequests.get, "rpc_posts" -> rpcPosts.get,
    "rpc_calls" -> rpcCalls.get, "lines" -> linesServed.get,
    "bytes" -> bytesServed.get)

  private def fetch(url: String): Iterator[String] = {
    httpRequests.incrementAndGet()
    if (failUrls(url)) throw new java.io.IOException(s"HTTP 503 for $url")
    val lines = current.http.getOrElse(url, sys.error(s"unknown URL $url"))
    linesServed.addAndGet(lines.length)
    bytesServed.addAndGet(lines.map(_.length + 1L).sum)
    lines.iterator
  }

  private def post(endpoint: String, body: String): String = {
    rpcPosts.incrementAndGet()
    require(endpoint == SweepGen.config.rpcEndpoint, s"unknown endpoint $endpoint")
    val req = CannedNode.mapper.readTree(body)
    val out = new StringBuilder("[")
    (0 until req.size()).foreach { i =>
      val call = req.get(i)
      // calldata: 0x, 4-byte selector, then 32-byte words pair, user, ...
      val data = call.get("params").get(0).get("data").asText()
      val words = data.substring(10)
      val pair = "0x" + words.substring(24, 64)
      val user = "0x" + words.substring(88, 128)
      val result = current.rpc.getOrElse(s"$pair,$user",
        sys.error(s"unknown call for $pair,$user"))
      if (i > 0) out.append(',')
      out.append(s"""{"jsonrpc":"2.0","id":${call.get("id").asLong()},"result":"$result"}""")
    }
    rpcCalls.addAndGet(req.size())
    val resp = out.append(']').toString
    bytesServed.addAndGet(resp.length)
    resp
  }

  def install(): Unit = {
    HttpTransport.setOverride(fetch)
    RpcTransport.setOverride(post)
  }
  def uninstall(): Unit = {
    HttpTransport.clearOverride()
    RpcTransport.clearOverride()
    clear()
  }
}

object CannedNode {
  private val mapper = new ObjectMapper()
}

package perfbench

import java.io.IOException
import java.net.{HttpURLConnection, InetSocketAddress, URL}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** Recording HTTP proxy in front of the sharing server, used only in
  * traced runs: the client is pointed at [[endpoint]] and every request
  * is forwarded to `target` unchanged, recording one
  * [[RecordingProxy.Request]] (method, path, start/end, bytes, status,
  * files listed in a `/query` response) plus the client connections
  * it saw.
  */
final class RecordingProxy(target: String) {
  import RecordingProxy._

  val log = new ConcurrentLinkedQueue[Request]()
  private val conns = ConcurrentHashMap.newKeySet[String]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(8, (r: Runnable) => {
    val t = new Thread(r, "recording-proxy"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => forward(ex))

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/delta-sharing"
  def connections: Int = conns.size

  private def forward(ex: HttpExchange): Unit = {
    val t0 = Clock.nowUs()
    conns.add(ex.getRemoteAddress.toString)
    val method = ex.getRequestMethod
    val uri = ex.getRequestURI
    val path = uri.getRawPath + Option(uri.getRawQuery).map("?" + _).getOrElse("")
    val reqBody = ex.getRequestBody.readAllBytes()
    var status = 502
    var body = Array.emptyByteArray
    try {
      val c = new URL(target + path).openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      ex.getRequestHeaders.asScala.foreach { case (k, vs) =>
        if (!Hop.contains(k.toLowerCase)) c.setRequestProperty(k, vs.asScala.mkString(","))
      }
      if (reqBody.nonEmpty) {
        c.setDoOutput(true)
        val os = c.getOutputStream; os.write(reqBody); os.close()
      }
      status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
      c.getHeaderFields.asScala.foreach { case (k, vs) =>
        if (k != null && !Hop.contains(k.toLowerCase))
          ex.getResponseHeaders.put(k, vs)
      }
      c.disconnect()
    } catch {
      case e: IOException => body = s"""{"message":"proxy: ${e.getMessage}"}""".getBytes
    }
    try {
      if (method == "HEAD" || body.isEmpty) ex.sendResponseHeaders(status, -1)
      else {
        ex.sendResponseHeaders(status, body.length)
        val os = ex.getResponseBody; os.write(body); os.close()
      }
    } catch { case _: IOException => () }
    finally ex.close()
    val listed =
      if (method == "POST" && uri.getPath.endsWith("/query") && status == 200)
        new String(body, "UTF-8").linesIterator.count(_.startsWith("{\"file\""))
      else 0
    log.add(Request(method, uri.getPath, t0, Clock.nowUs(), reqBody.length,
      body.length, status, listed))
  }

  def start(): RecordingProxy = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object RecordingProxy {
  private val Hop = Set("host", "connection", "content-length",
    "transfer-encoding", "keep-alive")

  final case class Request(method: String, path: String, startUs: Long,
      endUs: Long, requestBytes: Long, responseBytes: Long, status: Int,
      filesListed: Int)
}

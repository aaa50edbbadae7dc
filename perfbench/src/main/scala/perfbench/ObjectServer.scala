package perfbench

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Ranged object server standing in for the object store behind
  * presigned URLs. Serves files under `root` at `/o/<relative path>`
  * when the query string carries the signature `sig=<token>` (403
  * otherwise), honours `Range: bytes=a-b`, `bytes=a-` and `bytes=-n`,
  * reads only the requested range with positional reads, and waits a
  * fixed first-byte delay before the response headers.
  *
  * One [[ObjectServer.Get]] record per served request is kept for the
  * trace; 403s are only counted.
  */
final class ObjectServer(root: Path, token: String, firstByteDelayMs: Long) {
  import ObjectServer._

  val forbidden = new AtomicLong
  private val conns = ConcurrentHashMap.newKeySet[String]()
  private val channels = new ConcurrentHashMap[String, FileChannel]()
  val log = new ConcurrentLinkedQueue[Get]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  private val pool = Executors.newFixedThreadPool(16, (r: Runnable) => {
    val t = new Thread(r, "object-server"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/o/", (ex: HttpExchange) => handle(ex))

  def port: Int = server.getAddress.getPort
  def url(rel: String): String = s"http://127.0.0.1:$port/o/$rel?sig=$token"
  def connections: Int = conns.size

  private def channel(rel: String): FileChannel =
    channels.computeIfAbsent(rel, r =>
      FileChannel.open(root.resolve(r), StandardOpenOption.READ))

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Clock.nowUs()
    conns.add(ex.getRemoteAddress.toString)
    val rel = ex.getRequestURI.getPath.stripPrefix("/o/")
    val sigOk = Option(ex.getRequestURI.getRawQuery).exists(
      _.split("&").contains(s"sig=$token"))
    var sent = 0L
    var ok = true
    try {
      if (!sigOk) {
        forbidden.incrementAndGet()
        ex.sendResponseHeaders(403, -1)
      } else {
        val ch = channel(rel)
        val size = ch.size
        val (from, to, partial) =
          parseRange(Option(ex.getRequestHeaders.getFirst("Range")), size)
        if (firstByteDelayMs > 0) Thread.sleep(firstByteDelayMs)
        if (partial)
          ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/$size")
        ex.sendResponseHeaders(if (partial) 206 else 200, to - from + 1)
        val os = ex.getResponseBody
        val buf = ByteBuffer.allocate(ChunkBytes)
        var pos = from
        while (pos <= to) {
          buf.clear()
          buf.limit(math.min(ChunkBytes.toLong, to - pos + 1).toInt)
          val n = ch.read(buf, pos)
          if (n <= 0) throw new IOException(s"short read of $rel at $pos")
          os.write(buf.array, 0, n)
          sent += n
          pos += n
        }
        os.close()
      }
    } catch {
      case _: IOException => ok = false
    } finally {
      ex.close()
      if (sigOk) log.add(Get(rel, t0, Clock.nowUs(), sent, ok))
    }
  }

  def start(): ObjectServer = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    channels.values.forEach(_.close())
  }
}

object ObjectServer {
  private val ChunkBytes = 64 * 1024

  /** One served GET: file, server-side start/end (µs), bytes written,
    * and whether the body was written to the end. */
  final case class Get(file: String, startUs: Long, endUs: Long,
      bytes: Long, complete: Boolean)

  /** (first, last, partial) byte positions for a Range header. */
  def parseRange(header: Option[String], size: Long): (Long, Long, Boolean) =
    header.map(_.trim.stripPrefix("bytes=")) match {
      case Some(spec) if spec.startsWith("-") =>
        (math.max(0L, size - spec.drop(1).toLong), size - 1, true)
      case Some(spec) if spec.contains("-") =>
        val Array(a, b) = spec.split("-", 2)
        val last = if (b.isEmpty) size - 1 else math.min(b.toLong, size - 1)
        (a.toLong, last, true)
      case _ => (0L, size - 1, false)
    }
}

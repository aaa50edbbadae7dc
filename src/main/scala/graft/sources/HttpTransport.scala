package graft.sources

import java.io.{IOException, InputStream}
import java.net.{HttpURLConnection, URI, URL}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.Paths

/** The connector's one HTTP transport: sharing REST calls, presigned
  * parquet reads and deletion-vector fetches all go through
  * [[request]], on `HttpURLConnection` and the JVM-wide keep-alive
  * pool it shares (the reference likewise does all of its HTTP through
  * one client, DuckDB's httpfs).
  *
  *  - Timeouts: 20 s to connect, 120 s per read.
  *  - Retries: transport errors and HTTP 429/5xx only ([[transient]]),
  *    at most [[MaxRetries]] times after 200/400/800 ms; a
  *    `Retry-After` header (seconds) replaces the backoff, capped at
  *    10 s.
  *  - Presigned reads pass `refresh`, called once per request on HTTP
  *    401/403 (an expired signature) before the URL is re-resolved.
  *  - `file:` URLs and bare paths are read locally, as a server that
  *    honours `Range` would answer (stub-server tests and local smoke
  *    runs skip the HTTP hop).
  */
private[sources] object HttpTransport {
  val ConnectTimeoutMs = 20000
  val ReadTimeoutMs = 120000
  val MaxRetries = 3
  private val MaxRetryAfterMs = 10000L

  /** Throttling and server faults: the only HTTP statuses retried. */
  def transient(code: Int): Boolean = code == 429 || code >= 500

  /** A 2xx response. `body` is open only inside the read function. */
  final case class Response(status: Int, header: String => Option[String],
      body: InputStream)

  /** A non-2xx response, its error body read to the end (so the
    * connection stays alive). The message holds only the redacted URL. */
  final class StatusException(val status: Int, val body: String,
      val retryAfterMs: Option[Long], message: String)
    extends IOException(message)

  /** One request with the retry rule above: `url` is resolved afresh
    * for every attempt, `read` consumes the 2xx response. `counters`,
    * when given, count every attempt, retry and refresh. */
  def request[T](url: () => String, method: String = "GET",
      headers: Seq[(String, String)] = Nil, body: Option[Array[Byte]] = None,
      counters: Option[PresignedReadCounters] = None,
      refresh: Option[String => Unit] = None)(read: Response => T): T = {
    var attempt = 0
    var refreshed = false
    var result: Option[T] = None
    while (result.isEmpty) {
      val u = url()
      counters.foreach(_.gets.incrementAndGet())
      try result = Some(send(u, method, headers, body)(read))
      catch {
        case e: StatusException if (e.status == 401 || e.status == 403) &&
            refresh.isDefined && !refreshed =>
          refreshed = true
          counters.foreach(_.refreshes.incrementAndGet())
          refresh.get(u)
        case e: IOException if attempt < MaxRetries && retryable(e) =>
          attempt += 1
          counters.foreach(_.retries.incrementAndGet())
          val hinted = e match {
            case s: StatusException => s.retryAfterMs
            case _ => None
          }
          Thread.sleep(hinted.getOrElse(100L << attempt))
      }
    }
    result.get
  }

  private def retryable(e: IOException): Boolean = e match {
    case s: StatusException => transient(s.status)
    case _ => true
  }

  private def send[T](url: String, method: String,
      headers: Seq[(String, String)], body: Option[Array[Byte]])(
      read: Response => T): T =
    if (!url.startsWith("http://") && !url.startsWith("https://")) {
      val in = local(url, headers.collectFirst { case ("Range", r) => r })
      try read(in) finally in.body.close()
    } else {
      val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(ConnectTimeoutMs)
      conn.setReadTimeout(ReadTimeoutMs)
      conn.setRequestMethod(method)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      body.foreach { b =>
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(b) finally os.close()
      }
      val code = conn.getResponseCode
      val header = (n: String) => Option(conn.getHeaderField(n))
      if (code / 100 != 2) {
        val err = Option(conn.getErrorStream)
          .map(e => try e.readAllBytes() finally e.close())
          .getOrElse(Array.emptyByteArray)
        val range = headers.collectFirst { case ("Range", r) => s" ($r)" }
        throw new StatusException(code,
          new String(err, StandardCharsets.UTF_8),
          header("Retry-After").flatMap(_.trim.toLongOption)
            .map(s => math.min(s * 1000L, MaxRetryAfterMs)),
          s"HTTP $code on $method ${PresignedUrlFileSystem.redact(url)}" +
            range.getOrElse(""))
      }
      val in = conn.getInputStream
      try read(Response(code, header, in)) finally in.close()
    }

  /** A local file positioned at the start of `range` (`bytes=a-b` or
    * `bytes=-k`, the two forms this connector sends); the reader takes
    * only the bytes it asked for. */
  private def local(url: String, range: Option[String]): Response = {
    val ch = FileChannel.open(
      if (url.startsWith("file:")) Paths.get(URI.create(url)) else Paths.get(url))
    val from = range.map(_.stripPrefix("bytes=")) match {
      case Some(r) if r.startsWith("-") => math.max(0L, ch.size - r.drop(1).toLong)
      case Some(r) => r.takeWhile(_ != '-').toLong
      case None => 0L
    }
    Response(if (range.isDefined) 206 else 200, _ => None,
      Channels.newInputStream(ch.position(from)))
  }
}

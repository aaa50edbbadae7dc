package graft.sources.testing

import graft.sources._

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** In-process Delta Sharing stub server for protocol tests — fixture
  * shapes per FIXTURES.md §2 (derived from the response bodies the
  * reference client parses, `delta_sharing_client.cpp:305-465`).
  *
  * Also serves parquet bytes under `/files/<name>` with HTTP Range
  * support, so the presigned-URL read path is exercised end-to-end.
  */
class StubSharingServer(
    expectedToken: String = "tok",
    pageSize: Int = 0 /* 0 = no pagination */) {

  @volatile var lastQueryBody: String = ""
  @volatile var lastHeaders: Map[String, String] = Map.empty

  /** Every sharing-endpoint request seen, as (method, path-under-
    * /delta-sharing, raw query string or "") — the conformance spec
    * pins the exact request surface the client emits. */
  @volatile var requestLog: Vector[(String, String, String)] = Vector.empty
  /** Every `/files` (object) request seen, in arrival order. */
  @volatile var filesLog: Vector[StubSharingServer.FilesRequest] = Vector.empty
  @volatile var shares: Seq[String] = Seq("share1", "share2", "share3")
  /** files served over HTTP with Range support: name -> local path */
  @volatile var httpFiles: Map[String, Path] = Map.empty

  /** Head version reported by HEAD `…/tables/{t}` — mutable so
    * streaming tests can publish new versions. A change to what the
    * stub serves (the setters below) publishes the next version once a
    * `/query` has been answered, as a real table's commit would, so a
    * client that reuses listings per version sees the change. */
  @volatile var tableVersion: Long = 7

  /** A `/query` was answered since the head version last moved. */
  @volatile private var answered = false

  /** Store one served setting, then advance [[tableVersion]] if a
    * `/query` was answered under the old one. */
  private def serve(set: => Unit): Unit = synchronized {
    set
    if (answered) { tableVersion += 1; answered = false }
  }

  /** tableName -> (schemaString, partitionColumns, files) */
  @volatile private var tables0: Map[String, StubSharingServer.Table] = Map.empty
  def tables: Map[String, StubSharingServer.Table] = tables0
  def tables_=(v: Map[String, StubSharingServer.Table]): Unit = serve { tables0 = v }

  /** Versioned change feed per table, served by GET `…/changes`. */
  @volatile var changeFeed: Map[String, Seq[StubSharingServer.ChangeEntry]] =
    Map.empty

  /** Per-file Delta stats JSON keyed by (unsigned) file url. Files
    * without an entry are served with NO `stats` field — the stub must
    * never invent row counts, since the connector answers COUNT(*)
    * from them when present. */
  @volatile private var fileStats0: Map[String, String] = Map.empty
  def fileStats: Map[String, String] = fileStats0
  def fileStats_=(v: Map[String, String]): Unit = serve { fileStats0 = v }

  /** Tables that carry deletion vectors, by signal kind: "feature"
    * (protocol readerFeatures), "config"
    * (delta.enableDeletionVectors), or "file" (per-file
    * deletionVector payload in /query) — exercises the client's
    * DV refusal guard. */
  @volatile private var deletionVectorTables0: Map[String, String] = Map.empty
  def deletionVectorTables: Map[String, String] = deletionVectorTables0
  def deletionVectorTables_=(v: Map[String, String]): Unit = serve { deletionVectorTables0 = v }

  /** REAL per-file deletion-vector descriptors, keyed by (unsigned)
    * file url: full descriptor JSON injected on the file/add action —
    * the READABLE DV fixture (inline Z85 or URL-addressed), vs
    * [[deletionVectorTables]]'s unsupported-storageType refusal
    * fixture. */
  @volatile private var fileDeletionVectors0: Map[String, String] = Map.empty
  def fileDeletionVectors: Map[String, String] = fileDeletionVectors0
  def fileDeletionVectors_=(v: Map[String, String]): Unit = serve { fileDeletionVectors0 = v }

  /** Extra table `configuration` entries merged into metaData (e.g.
    * `delta.columnMapping.mode`). */
  @volatile private var tableConfig0: Map[String, Map[String, String]] = Map.empty
  def tableConfig: Map[String, Map[String, String]] = tableConfig0
  def tableConfig_=(v: Map[String, Map[String, String]]): Unit = serve { tableConfig0 = v }

  /** Tables answered in DELTA responseformat: protocol/metaData
    * payloads nested under `deltaProtocol`/`deltaMetadata`, file
    * lines wrapping an `add` action under `deltaSingleAction` with
    * the presigned URL as `add.path` — the other wire shape of the
    * public protocol. Requests whose `delta-sharing-capabilities`
    * header does not advertise `delta` are refused with 400,
    * pinning that the client actually sends the capability it
    * relies on. */
  @volatile private var deltaFormatTables0: Set[String] = Set.empty
  def deltaFormatTables: Set[String] = deltaFormatTables0
  def deltaFormatTables_=(v: Set[String]): Unit = serve { deltaFormatTables0 = v }

  /** Presigned-URL expiry simulation: when set, the FIRST `/query`
    * response signs file URLs with `?sig=stale` (which `/files`
    * rejects with 403) and every later `/query` signs with
    * `?sig=fresh` — exactly the "URL expired between planning and the
    * task read; a re-POST returns a renewed URL" scenario. */
  @volatile var expireFirstQueryUrls: Boolean = false

  /** With [[expireFirstQueryUrls]]: how many `/files` requests the
    * stale signature still serves before 403ing. 0 (default) = the
    * URL is dead before the first read (expired between planning and
    * read); N > 0 = the URL lapses MID-SCAN — the footer reads
    * succeed, then a later column-chunk read hits the expiry. */
  val staleRequestBudget = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The `expirationTimestamp` of every `/query` file: when its
    * presigned URL lapses. Re-signing is not a commit, so a change
    * publishes no version. */
  @volatile var urlExpiration: String = "2099-01-01T00:00:00Z"

  /** Bearer tokens accepted besides `expectedToken`. */
  @volatile var otherTokens: Set[String] = Set.empty

  /** Fallback simulation: answer every `/files` request 200 with the
    * whole body, as a server that ignores `Range` does. */
  @volatile var ignoreRange: Boolean = false

  /** Throttling simulation: while positive, each request burns one
    * unit and is answered 429 with a `Retry-After: [[retryAfterSeconds]]`
    * header — the client must honor the hint and succeed once the
    * budget drains. */
  val throttleBudget = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var retryAfterSeconds: Long = 1

  /** `/files` fault simulation, empty (off) by default: file name ->
    * statuses the next requests for that file are answered with, one
    * each, before it is served again; a 429 carries `Retry-After:
    * [[retryAfterSeconds]]`. */
  @volatile var filesFaults: Map[String, List[Int]] = Map.empty

  /** Artificial latency on `/query` — lets tests hold a refresh
    * in flight while asserting cached reads stay unblocked. */
  @volatile var queryDelayMs: Long = 0
  private val queryCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of `/query` POSTs served (a refresh re-issues one). */
  def queryPosts: Int = queryCount.get

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
  server.setExecutor(pool)

  def port: Int = server.getAddress.getPort
  def endpoint: String = s"http://127.0.0.1:$port/delta-sharing"

  private def send(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def items(names: Seq[String], render: String => String,
      query: String): String = {
    val params = Option(query).getOrElse("").split("&").filter(_.nonEmpty)
      .map(_.split("=", 2)).map(a => a(0) -> (if (a.length > 1) a(1) else ""))
      .toMap
    val start = params.get("pageToken").map(_.toInt).getOrElse(0)
    val slice = if (pageSize > 0) names.slice(start, start + pageSize) else names
    val next =
      if (pageSize > 0 && start + pageSize < names.size)
        s""","nextPageToken":"${start + pageSize}"""" else ""
    s"""{"items":[${slice.map(render).mkString(",")}]$next}"""
  }

  private def metaNdjson(name: String): String = {
    val (schemaString, partCols, _) = tables(name)
    val esc = schemaString.replace("\\", "\\\\").replace("\"", "\\\"")
    val dv = deletionVectorTables.get(name)
    val extra = tableConfig.getOrElse(name, Map.empty)
      .map { case (k, v) => s""","$k":"$v"""" }.mkString
    val config =
      if (dv.contains("config"))
        s"""{"k":"v","delta.enableDeletionVectors":"true"$extra}"""
      else s"""{"k":"v"$extra}"""
    val partJson = partCols.map(c => s""""$c"""").mkString(",")
    if (deltaFormatTables.contains(name)) {
      // delta responseformat: payloads nested one level down, table
      // version on the OUTER metaData envelope
      val protocol =
        if (dv.contains("feature"))
          """{"protocol":{"deltaProtocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}}"""
        else """{"protocol":{"deltaProtocol":{"minReaderVersion":1,"minWriterVersion":2}}}"""
      s"""$protocol
{"metaData":{"version":3,"size":100,"numFiles":${tables(name)._3.size},"deltaMetadata":{"id":"m-$name","name":"$name","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[$partJson],"configuration":$config}}}"""
    } else {
      val protocol =
        if (dv.contains("feature"))
          """{"protocol":{"minReaderVersion":3,"readerFeatures":["deletionVectors"]}}"""
        else """{"protocol":{"minReaderVersion":1}}"""
      s"""$protocol
{"metaData":{"id":"m-$name","name":"$name","description":"","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[$partJson],"configuration":$config,"version":3}}"""
    }
  }

  /** Did this request advertise delta responseformat? */
  private def acceptsDelta(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("delta-sharing-capabilities"))
      .exists(_.toLowerCase.split(";").exists { part =>
        val kv = part.trim.split("=", 2)
        kv.length == 2 && kv(0) == "responseformat" &&
          kv(1).split(",").map(_.trim).contains("delta")
      })

  server.createContext("/delta-sharing/shares", (ex: HttpExchange) => {
    try {
      lastHeaders = ex.getRequestHeaders.entrySet().asScala
        .map(e => e.getKey.toLowerCase -> e.getValue.asScala.mkString(",")).toMap
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (throttleBudget.get > 0 && throttleBudget.getAndDecrement() > 0) {
        send(ex, 429, """{"message":"rate limited"}""",
          Map("Retry-After" -> retryAfterSeconds.toString))
      } else if (auth != s"Bearer $expectedToken" &&
          !otherTokens.exists(t => auth == s"Bearer $t")) {
        send(ex, 401, """{"message":"unauthorized"}""")
      } else {
        val path = ex.getRequestURI.getPath.stripPrefix("/delta-sharing")
        val query = ex.getRequestURI.getQuery
        synchronized {
          // RAW path/query so the conformance spec can pin the
          // client's percent-encoding, not just the decoded route
          requestLog :+= ((ex.getRequestMethod,
            ex.getRequestURI.getRawPath.stripPrefix("/delta-sharing"),
            Option(ex.getRequestURI.getRawQuery).getOrElse("")))
        }
        val seg = path.split("/").filter(_.nonEmpty)
        // /shares | /shares/{s} | /shares/{s}/schemas |
        // /shares/{s}/schemas/{sc}/tables | /shares/{s}/all-tables |
        // …/tables/{t}/metadata | …/tables/{t}/query | HEAD …/tables/{t}
        (ex.getRequestMethod, seg.toList) match {
          case ("GET", List("shares")) =>
            send(ex, 200, items(shares,
              n => s"""{"name":"$n","id":"id-$n"}""", query))
          case ("GET", List("shares", s)) =>
            if (shares.contains(s))
              send(ex, 200, s"""{"share":{"name":"$s","id":"id-$s"}}""")
            else send(ex, 404, """{"message":"share not found"}""")
          case ("GET", List("shares", s, "schemas")) =>
            send(ex, 200, items(Seq("schema1"),
              n => s"""{"name":"$n","share":"$s"}""", query))
          case ("GET", List("shares", s, "all-tables")) =>
            send(ex, 200, items(tables.keys.toSeq.sorted,
              n => s"""{"name":"$n","schema":"schema1","share":"$s","id":"t-$n"}""",
              query))
          case ("GET", List("shares", s, "schemas", sc, "tables")) =>
            send(ex, 200, items(tables.keys.toSeq.sorted,
              n => s"""{"name":"$n","schema":"$sc","share":"$s","id":"t-$n"}""",
              query))
          case ("HEAD", List("shares", _, "schemas", _, "tables", t)) =>
            ex.getResponseHeaders.set("Delta-Table-Version",
              tableVersion.toString)
            ex.sendResponseHeaders(200, -1); ex.close()
          case ("GET", List("shares", _, "schemas", _, "tables", t, "changes")) =>
            if (!tables.contains(t)) {
              send(ex, 404, """{"message":"table not found"}""")
            } else if (deltaFormatTables.contains(t) && !acceptsDelta(ex)) {
              send(ex, 400, """{"message":"table requires responseformat=delta"}""")
            } else {
              val params = Option(query).getOrElse("").split("&")
                .filter(_.nonEmpty).map(_.split("=", 2))
                .map(a => a(0) -> (if (a.length > 1)
                  java.net.URLDecoder.decode(a(1), "UTF-8") else "")).toMap
              val feed = changeFeed.getOrElse(t, Seq.empty)
              // timestamp addressing: the server resolves ISO-8601
              // bounds to versions (starting → earliest version at or
              // after; ending → latest at or before), per the public
              // protocol; exactly one starting bound is legal
              def millis(p: String): Option[Long] = params.get(p)
                .map(s => java.time.Instant.parse(s).toEpochMilli)
              val sv = params.get("startingVersion").map(_.toLong)
              val st = millis("startingTimestamp")
              if (sv.isDefined == st.isDefined) {
                send(ex, 400, """{"message":"exactly one of startingVersion/startingTimestamp required"}""")
              } else if (st.isDefined &&
                  !feed.exists(_.timestamp >= st.get)) {
                send(ex, 400, """{"message":"startingTimestamp after the latest table version"}""")
              } else {
                  val from = sv.getOrElse(
                    feed.filter(_.timestamp >= st.get).map(_.version).min)
                  val to = params.get("endingVersion").map(_.toLong)
                    .orElse(millis("endingTimestamp").map(ts =>
                      feed.filter(_.timestamp <= ts).map(_.version)
                        .foldLeft(-1L)(math.max)))
                    .getOrElse(tableVersion)
                  val entries = changeFeed.getOrElse(t, Seq.empty)
                    .filter(e => e.version >= from && e.version <= to)
                  val lines = entries.map { e =>
                    val pvJson = e.partitionValues.map { case (k, v) =>
                      s""""$k":${if (v == null) "null" else s""""$v""""}"""
                    }.mkString(",")
                    if (deltaFormatTables.contains(t)) {
                      // delta responseformat: the action is wrapped in a
                      // file envelope (id/version/timestamp/expiry) with
                      // the presigned URL as the nested action's `path`;
                      // the parquet `cdf` line is the delta `cdc` action
                      val inner = if (e.action == "cdf") "cdc" else e.action
                      val dvField =
                        if (deletionVectorTables.get(t).contains("file") &&
                            inner == "add")
                          ""","deletionVector":{"storageType":"u","pathOrInlineDv":"dv!abc","offset":1,"sizeInBytes":42,"cardinality":2}"""
                        else ""
                      s"""{"file":{"id":"f-${e.url.hashCode}","version":${e.version},"timestamp":${e.timestamp},"expirationTimestamp":"2099-01-01T00:00:00Z","deltaSingleAction":{"$inner":{"path":"${e.url}","partitionValues":{$pvJson},"size":${e.size},"dataChange":true$dvField}}}}"""
                    } else
                      s"""{"${e.action}":{"url":"${e.url}","id":"f-${e.url.hashCode}","partitionValues":{$pvJson},"size":${e.size},"timestamp":${e.timestamp},"version":${e.version},"expirationTimestamp":"2099-01-01T00:00:00Z"}}"""
                  }
                  send(ex, 200, (metaNdjson(t) +: lines).mkString("\n"),
                    if (deltaFormatTables.contains(t))
                      Map("delta-sharing-capabilities" -> "responseformat=delta")
                    else Map.empty)
              }
            }
          case ("GET", List("shares", _, "schemas", _, "tables", t, "metadata")) =>
            if (!tables.contains(t))
              send(ex, 404, """{"message":"table not found"}""")
            else if (deltaFormatTables.contains(t) && !acceptsDelta(ex))
              send(ex, 400, """{"message":"table requires responseformat=delta"}""")
            else send(ex, 200, metaNdjson(t),
              if (deltaFormatTables.contains(t))
                Map("delta-sharing-capabilities" -> "responseformat=delta")
              else Map.empty)
          case ("POST", List("shares", _, "schemas", _, "tables", t, "query")) =>
            if (queryDelayMs > 0) Thread.sleep(queryDelayMs)
            if (!tables.contains(t)) {
              send(ex, 404, """{"message":"table not found"}""")
            } else if (deltaFormatTables.contains(t) && !acceptsDelta(ex)) {
              send(ex, 400, """{"message":"table requires responseformat=delta"}""")
            } else {
              lastQueryBody = new String(
                ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
              val (_, _, files) = tables(t)
              val n = queryCount.incrementAndGet()
              val sig =
                if (!expireFirstQueryUrls) None
                else Some(if (n == 1) "stale" else "fresh")
              val fileLines = files.map { case (url, size, pv) =>
                val pvJson = pv.map { case (k, v) =>
                  s""""$k":${if (v == null) "null" else s""""$v""""}"""
                }.mkString(",")
                // id derives from the UNsigned url — stable across
                // re-signing, as real servers' file ids are
                val signed = sig match {
                  case Some(s) if url.startsWith("http") => s"$url?sig=$s"
                  case _ => url
                }
                val statsField = fileStats.get(url).map { s =>
                  val esc = s.replace("\\", "\\\\").replace("\"", "\\\"")
                  s""","stats":"$esc""""
                }.getOrElse("")
                val dvField =
                  if (deletionVectorTables.get(t).contains("file"))
                    ""","deletionVector":{"storageType":"u","pathOrInlineDv":"dv!abc","offset":1,"sizeInBytes":42,"cardinality":2}"""
                  else fileDeletionVectors.get(url)
                    .map(j => s""","deletionVector":$j""").getOrElse("")
                if (deltaFormatTables.contains(t))
                  // delta responseformat: the presigned URL is
                  // add.path, partitionValues/size/stats ride the add
                  // action, id/expiry stay on the file envelope
                  s"""{"file":{"id":"f-${url.hashCode}","expirationTimestamp":"$urlExpiration","deltaSingleAction":{"add":{"path":"$signed","partitionValues":{$pvJson},"size":$size,"modificationTime":1700000000000,"dataChange":true$statsField$dvField}}}}"""
                else
                  s"""{"file":{"url":"$signed","id":"f-${url.hashCode}","partitionValues":{$pvJson},"size":$size$statsField$dvField,"version":3,"timestamp":1700000000000,"expirationTimestamp":"$urlExpiration"}}"""
              }
              // before the answer reaches the client, which may change
              // the table next
              answered = true
              send(ex, 200, (metaNdjson(t) +: fileLines).mkString("\n"),
                if (deltaFormatTables.contains(t))
                  Map("delta-sharing-capabilities" -> "responseformat=delta")
                else Map.empty)
            }
          case other =>
            send(ex, 404, s"""{"message":"no route $other"}""")
        }
      }
    } catch {
      case e: Exception => send(ex, 500, s"""{"message":"${e.getMessage}"}""")
    }
  })

  // parquet bytes with Range support (presigned-URL stand-in)
  server.createContext("/files", (ex: HttpExchange) => {
    val name = ex.getRequestURI.getPath.stripPrefix("/files/")
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    val range = Option(ex.getRequestHeaders.getFirst("Range"))
    def answer(code: Int, body: Array[Byte]): Unit = {
      synchronized {
        filesLog :+= StubSharingServer.FilesRequest(name, range, code,
          if (code / 100 == 2) body.length else 0)
      }
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      val os = ex.getResponseBody; os.write(body); os.close()
    }
    val fault = synchronized {
      filesFaults.get(name).flatMap(_.headOption).map { code =>
        filesFaults = filesFaults.updated(name, filesFaults(name).tail)
        code
      }
    }
    lazy val sigOk = !expireFirstQueryUrls || q.contains("sig=fresh") ||
      (q.contains("sig=stale") && staleRequestBudget.getAndDecrement() > 0)
    if (fault.isDefined) {
      if (fault.get == 429)
        ex.getResponseHeaders.set("Retry-After", retryAfterSeconds.toString)
      answer(fault.get, s"""{"message":"fault ${fault.get}"}"""
        .getBytes(StandardCharsets.UTF_8))
    } else if (!sigOk)
      answer(403, """{"message":"signature expired"}""".getBytes(StandardCharsets.UTF_8))
    else httpFiles.get(name) match {
      case None => answer(404, "not found".getBytes(StandardCharsets.UTF_8))
      case Some(p) =>
        val bytes = Files.readAllBytes(p)
        val n = bytes.length.toLong
        if (range.isEmpty || ignoreRange) answer(200, bytes)
        else StubSharingServer.byteSpan(range.get, n) match {
          case Some((from, to)) =>
            ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/$n")
            answer(206, java.util.Arrays.copyOfRange(bytes, from.toInt, to.toInt + 1))
          case None =>
            ex.getResponseHeaders.set("Content-Range", s"bytes */$n")
            answer(416, Array.emptyByteArray)
        }
    }
  })

  /** Append an entry to a table's change feed and advance the head
    * version to cover it. */
  def publishChange(table: String, e: StubSharingServer.ChangeEntry): Unit =
    synchronized {
      changeFeed = changeFeed.updated(table,
        changeFeed.getOrElse(table, Seq.empty) :+ e)
      if (e.version > tableVersion) tableVersion = e.version
    }

  def start(): StubSharingServer = {
    // start from a daemon thread so the HttpServer dispatcher thread
    // inherits daemon status — otherwise any JVM embedding the stub
    // (e.g. graft.Verify via ShareQueries) never exits
    val t = new Thread(() => server.start())
    t.setDaemon(true)
    t.start()
    t.join()
    this
  }
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object StubSharingServer {
  /** A served table: (schemaString, partitionColumns, files as (url,
    * size, partitionValues)). */
  type Table = (String, Seq[String], Seq[(String, Long, Map[String, String])])

  /** One `/files` request: file name, `Range` header, status, and the
    * file bytes in the body (0 for an error). */
  final case class FilesRequest(name: String, range: Option[String],
      status: Int, bytes: Long)

  /** First and last byte of `Range` header `header` over an `n`-byte
    * file (`bytes=a-b`, `bytes=a-`, `bytes=-k`), clipped to the file
    * end; None when unsatisfiable or malformed. */
  def byteSpan(header: String, n: Long): Option[(Long, Long)] =
    scala.util.Try {
      header.trim.stripPrefix("bytes=").split("-", 2) match {
        case Array("", k) => (n - math.min(k.toLong, n), n - 1)
        case Array(a, b) =>
          (a.toLong, if (b.isEmpty) n - 1 else math.min(b.toLong, n - 1))
      }
    }.toOption.filter { case (from, to) => from >= 0 && from <= to }

  /** One `/changes` action: `action` is "add", "remove", or "cdf". */
  final case class ChangeEntry(
      version: Long,
      timestamp: Long,
      action: String,
      url: String,
      size: Long,
      partitionValues: Map[String, String] = Map.empty)
}

package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Error surfaced from a non-2xx Delta Sharing response; carries the
  * server's `message` field when present (mirrors
  * `delta_sharing_client.cpp:149-158`). */
final class DeltaSharingException(val status: Int, message: String)
  extends RuntimeException(message)

object DeltaSharingClient {
  /** A sharing-server answer: the body and a header lookup. */
  private[sources] final case class Reply(body: String,
      header: String => Option[String])

  private val mapper = new ObjectMapper()
}

/** Delta Sharing REST client over the connector's one HTTP transport
  * ([[HttpTransport]]; zero extra dependencies).
  *
  * Endpoint surface mirrors the reference client
  * (`/root/reference/src/delta_sharing_client.cpp:183-465`) with the
  * quirks fixed:
  *  - pagination is actually looped (the reference plumbs
  *    `maxResults`/`pageToken` but never uses them, O20);
  *  - `QueryTableVersion` reads the `Delta-Table-Version` response
  *    header instead of re-fetching full metadata (O18);
  *  - `limitHint` is honored (dead parameter in the reference, O19);
  *  - transient HTTP failures are retried with backoff (absent in the
  *    reference).
  */
class DeltaSharingClient(profile: DeltaSharingProfile) {
  import DeltaSharingClient.{mapper, Reply}

  // ---- transport ---------------------------------------------------

  /** GET/POST/HEAD with the protocol headers: bearer auth + response
    * capabilities. Unlike the reference (which pins
    * `responseformat=parquet`, `delta_sharing_client.cpp:119-125`)
    * the client also advertises `delta`, so servers that can ONLY
    * answer in delta responseformat are readable; it also claims
    * `deletionvectors` in readerfeatures — supported descriptors
    * (inline / absolute-URL) are APPLIED by the scan as a row-index
    * anti-filter ([[DeletionVectors]]), and anything the decoder
    * cannot handle still refuses loudly rather than silently
    * returning deleted rows. */
  private[sources] def perform(
      method: String,
      path: String,
      query: Map[String, String] = Map.empty,
      postBody: Option[String] = None): Reply = {
    val qs =
      if (query.isEmpty) ""
      else query.map { case (k, v) =>
        s"${urlEnc(k)}=${urlEnc(v)}"
      }.mkString("?", "&", "")
    val payload = if (method == "POST") Some(postBody.getOrElse("{}")) else None
    val headers = Seq(
      "Authorization" -> s"Bearer ${profile.bearerToken}",
      "delta-sharing-capabilities" ->
        "responseformat=parquet,delta;readerfeatures=deletionvectors,columnmapping") ++
      payload.map(_ => "Content-Type" -> "application/json")
    try HttpTransport.request(() => s"${profile.endpoint}$path$qs", method,
        headers, payload.map(_.getBytes(UTF_8))) { resp =>
      Reply(new String(resp.body.readAllBytes(), UTF_8), resp.header)
    } catch {
      case e: HttpTransport.StatusException => throw httpError(e)
      case e: java.io.IOException => throw new DeltaSharingException(0,
        s"delta sharing request failed after ${HttpTransport.MaxRetries + 1} " +
          s"attempts: ${e.getMessage}")
    }
  }

  private def httpError(e: HttpTransport.StatusException): DeltaSharingException = {
    val msg =
      try {
        val node = mapper.readTree(e.body)
        if (node.hasNonNull("message")) node.get("message").asText()
        else e.body
      } catch { case _: Exception => e.body }
    new DeltaSharingException(e.status,
      s"delta sharing server returned HTTP ${e.status}: $msg")
  }

  /** Percent-encoding safe in BOTH path segments and query values:
    * `URLEncoder` alone form-encodes space as `+`, which inside a
    * path segment means a LITERAL plus — a share or table name with
    * a space would route to the wrong resource on a spec-compliant
    * server (found by ProtocolConformanceSpec). `%20` is correct in
    * both positions. */
  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  /** NDJSON: one JSON document per non-empty line
    * (`delta_sharing_client.cpp:163-181`). */
  private[sources] def parseNdjson(body: String): Seq[JsonNode] =
    body.linesIterator.filter(_.trim.nonEmpty).map(mapper.readTree).toSeq

  // ---- list endpoints (O1-O5, O20) ---------------------------------

  private def optText(n: JsonNode, field: String): Option[String] =
    if (n.hasNonNull(field) && n.get(field).asText().nonEmpty)
      Some(n.get(field).asText()) else None

  /** Generic paginated `{"items":[...], "nextPageToken": "..."}` loop. */
  private def listPaged[T](path: String, maxResults: Int)(
      parse: JsonNode => T): Seq[T] = {
    val out = Seq.newBuilder[T]
    var token: Option[String] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      val query = Map.newBuilder[String, String]
      if (maxResults > 0) query += ("maxResults" -> maxResults.toString)
      token.foreach(t => query += ("pageToken" -> t))
      val node = mapper.readTree(perform("GET", path, query.result()).body)
      if (node.hasNonNull("items"))
        node.get("items").elements().asScala.foreach(n => out += parse(n))
      token = optText(node, "nextPageToken")
    }
    out.result()
  }

  def listShares(maxResults: Int = -1): Seq[Share] =
    listPaged("/shares", maxResults) { n =>
      Share(n.get("name").asText(), optText(n, "id"))
    }

  def getShare(name: String): Share = {
    val node = mapper.readTree(
      perform("GET", s"/shares/${urlEnc(name)}").body)
    val s = if (node.hasNonNull("share")) node.get("share") else node
    Share(s.get("name").asText(), optText(s, "id"))
  }

  def listSchemas(share: String, maxResults: Int = -1): Seq[SchemaRef] =
    listPaged(s"/shares/${urlEnc(share)}/schemas", maxResults) { n =>
      SchemaRef(n.get("name").asText(), n.get("share").asText(),
        optText(n, "id"))
    }

  def listTables(share: String, schema: String,
      maxResults: Int = -1): Seq[TableRef] =
    listPaged(s"/shares/${urlEnc(share)}/schemas/${urlEnc(schema)}/tables",
      maxResults)(parseTable)

  def listAllTables(share: String, maxResults: Int = -1): Seq[TableRef] =
    listPaged(s"/shares/${urlEnc(share)}/all-tables", maxResults)(parseTable)

  private def parseTable(n: JsonNode): TableRef =
    TableRef(n.get("name").asText(), n.get("schema").asText(),
      n.get("share").asText(), optText(n, "id"), optText(n, "shareId"))

  // ---- table endpoints (O17-O19) -----------------------------------

  private def tablePath(share: String, schema: String, table: String) =
    s"/shares/${urlEnc(share)}/schemas/${urlEnc(schema)}/tables/${urlEnc(table)}"

  /** GET `…/metadata` → NDJSON [protocol, metaData]
    * (`delta_sharing_client.cpp:305-355`). `version` asks for the
    * schema at that table version (protocol `?version=` query param);
    * servers predating it ignore the param, which the scan detects by
    * cross-checking the `/query` response's own metaData line. */
  def queryTableMetadata(share: String, schema: String,
      table: String, version: Option[Long] = None,
      timestamp: Option[String] = None): TableMetadata = {
    val query = version.map(v => Map("version" -> v.toString))
      .orElse(timestamp.map(t => Map("timestamp" -> t)))
      .getOrElse(Map.empty[String, String])
    val lines = parseNdjson(
      perform("GET", s"${tablePath(share, schema, table)}/metadata",
        query).body)
    val meta = parseMetadataLines(lines).getOrElse(
      throw new DeltaSharingException(0,
        s"metadata response for $share.$schema.$table had no metaData line"))
    // no DV guard here: metadata returns SCHEMA, which is correct for
    // DV-bearing tables too, and the scan needs it before /query can
    // decide readability — row-level hazards are guarded where rows
    // are produced (/query, /changes)
    meta
  }

  /** HEAD `…/tables/{t}` reading the `Delta-Table-Version` header; the
    * reference issues the HEAD but then ignores the header and
    * re-fetches metadata (`delta_sharing_client.cpp:357-369`) — kept
    * only as the fallback here. */
  def queryTableVersion(share: String, schema: String, table: String): Long =
    headTableVersion(share, schema, table)
      .getOrElse(queryTableMetadata(share, schema, table).version)

  /** HEAD `…/tables/{t}` alone: its `Delta-Table-Version` header, None
    * when the server sends none. */
  def headTableVersion(share: String, schema: String,
      table: String): Option[Long] =
    perform("HEAD", tablePath(share, schema, table))
      .header("Delta-Table-Version").map(_.toLong)

  /** POST `…/query` → NDJSON [protocol, metaData, file…]
    * (`delta_sharing_client.cpp:371-465`). `jsonPredicateHints` is the
    * serialized predicate tree (see [[PredicateHints]]); `limitHint`
    * flows from Spark limit pushdown. */
  def queryTable(
      share: String, schema: String, table: String,
      jsonPredicateHints: Option[String] = None,
      predicateHints: Seq[String] = Nil,
      limitHint: Option[Long] = None,
      version: Option[Long] = None,
      timestamp: Option[String] = None): TableFiles = {
    val body = mapper.createObjectNode()
    jsonPredicateHints.foreach { h =>
      body.set[JsonNode]("jsonPredicateHints", mapper.readTree(h))
    }
    // legacy SQL-string hints, for servers predating jsonPredicateHints
    // (the reference always sends the field, delta_sharing_client.cpp:381-384)
    if (predicateHints.nonEmpty) {
      val arr = body.putArray("predicateHints")
      predicateHints.foreach(arr.add)
    }
    limitHint.foreach(l => body.put("limitHint", l))
    version.foreach(v => body.put("version", v))
    // ISO-8601 per the protocol; the server resolves it to the last
    // version committed at or before the instant (version wins when
    // both are set — TableAddress forbids that combination anyway)
    if (version.isEmpty) timestamp.foreach(t => body.put("timestamp", t))
    val lines = parseNdjson(
      perform("POST", s"${tablePath(share, schema, table)}/query",
        postBody = Some(mapper.writeValueAsString(body))).body)
    val meta = parseMetadataLines(lines).getOrElse(
      throw new DeltaSharingException(0,
        s"query response for $share.$schema.$table had no metaData line"))
    val fileNodes = lines.filter(_.hasNonNull("file")).map(_.get("file"))
    // format detection must NOT depend on file presence: a delta
    // responseformat /query that returns ZERO files (legitimately
    // empty table/slice) still signals its format via the wrapped
    // protocol/metaData line shapes — keying off fileNodes alone would
    // mis-detect it as parquet and trip the table-level DV guard
    val isDeltaFormat =
      lines.exists(l =>
        (l.hasNonNull("protocol") &&
          l.get("protocol").hasNonNull("deltaProtocol")) ||
        (l.hasNonNull("metaData") &&
          l.get("metaData").hasNonNull("deltaMetadata"))) ||
      fileNodes.exists(_.hasNonNull("deltaSingleAction"))
    val files = fileNodes.map { f =>
      // delta responseformat wraps the add action: the presigned URL
      // is `add.path`, partitionValues/size/stats live on the add;
      // id/expirationTimestamp stay on the outer file envelope. The
      // parquet responseformat keeps everything on the file node.
      val src =
        if (f.hasNonNull("deltaSingleAction"))
          f.get("deltaSingleAction").get("add")
        else f
      val (url, id, partitionValues, size) = fileFields(f, src)
      FileAction(url, id, partitionValues, size,
        stats = optText(src, "stats").flatMap(FileStats.parse),
        version =
          if (f.hasNonNull("version")) Some(f.get("version").asLong())
          else None,
        timestamp =
          if (f.hasNonNull("timestamp")) Some(f.get("timestamp").asLong())
          else if (src.hasNonNull("modificationTime"))
            Some(src.get("modificationTime").asLong())
          else None,
        expirationTimestamp = optText(f, "expirationTimestamp"),
        deletionVector = parseDv(src))
    }
    // DV readability: explicit per-file descriptors this client can
    // decode (inline or absolute-URL) are APPLIED by the scan; an
    // unsupported storageType, or a table-level DV signal on a
    // response whose format cannot carry descriptors, refuses loudly
    // (the reference would silently return deleted rows)
    val unsupported = files.flatMap(_.deletionVector).filterNot(_.supported)
    if (unsupported.nonEmpty)
      throw new DeltaSharingException(0,
        s"query of $share.$schema.$table: deletion vector storageType " +
          s"'${unsupported.head.storageType}' is not readable by this " +
          "client (supported: inline 'i', absolute-URL 'p'; " +
          "relative-path 'u' needs a table root a sharing client never " +
          "has). Refusing rather than silently including deleted rows.")
    if (!files.exists(_.deletionVector.isDefined) && !isDeltaFormat)
      guardDeletionVectors(meta, Nil, s"query of $share.$schema.$table")
    // column mapping: translate the physical-keyed side channels
    // (partitionValues, stats keys) to logical once, centrally — the
    // entire pruning/stats/scan stack above stays logical-only
    TableFiles(meta, ColumnMapping.remapFiles(meta, files))
  }

  /** The fields every file-bearing action shares, `/query` and
    * `/changes` alike: (url, id, partitionValues, size). `outer` is the
    * envelope carrying the id; `src` the action itself (the same node
    * in the parquet responseformat), whose URL is `path` in the delta
    * responseformat and `url` in the parquet one. */
  private def fileFields(outer: JsonNode, src: JsonNode)
    : (String, String, Map[String, String], Long) = (
    (if (src.hasNonNull("path")) src.get("path") else src.get("url")).asText(),
    optText(outer, "id").getOrElse(""),
    if (src.hasNonNull("partitionValues"))
      src.get("partitionValues").properties().asScala
        .map(e => e.getKey ->
          (if (e.getValue.isNull) null else e.getValue.asText())).toMap
    else Map.empty,
    if (src.hasNonNull("size")) src.get("size").asLong() else 0L)

  /** Parse a `deletionVector` descriptor off an add/file node. */
  private def parseDv(src: JsonNode): Option[DeletionVectors.Descriptor] =
    if (!src.hasNonNull("deletionVector")) None
    else {
      val d = src.get("deletionVector")
      Some(DeletionVectors.Descriptor(
        storageType = optText(d, "storageType").getOrElse(""),
        pathOrInlineDv = optText(d, "pathOrInlineDv").getOrElse(""),
        offset = if (d.hasNonNull("offset")) d.get("offset").asLong() else 0L,
        sizeInBytes =
          if (d.hasNonNull("sizeInBytes")) d.get("sizeInBytes").asLong()
          else 0L,
        cardinality =
          if (d.hasNonNull("cardinality")) d.get("cardinality").asLong()
          else 0L))
    }

  /** GET `…/changes` → NDJSON [protocol, metaData, add/cdf/remove…] —
    * the Change Data Feed endpoint of the public Delta Sharing
    * protocol. `startingVersion` is inclusive; `endingVersion` is
    * inclusive and optional (absent = up to the table head). The
    * reference client does not implement this endpoint at all, which
    * is why a daily pipeline on top of it must re-list whole tables. */
  def queryTableChanges(
      share: String, schema: String, table: String,
      startingVersion: Long,
      endingVersion: Option[Long] = None): TableChanges = {
    val query = Map.newBuilder[String, String]
    query += ("startingVersion" -> startingVersion.toString)
    endingVersion.foreach(v => query += ("endingVersion" -> v.toString))
    changesRequest(share, schema, table, query.result())
  }

  /** Timestamp-addressed `/changes` — the protocol's alternative
    * addressing: ISO-8601 bounds the SERVER resolves to versions
    * (`startingTimestamp` → earliest version committed at or after
    * it; `endingTimestamp` → latest version at or before). Exactly
    * one of startingVersion/startingTimestamp may be sent, so this
    * is a separate entry point rather than more optional params. */
  def queryTableChangesByTimestamp(
      share: String, schema: String, table: String,
      startingTimestamp: String,
      endingTimestamp: Option[String] = None): TableChanges = {
    val query = Map.newBuilder[String, String]
    query += ("startingTimestamp" -> startingTimestamp)
    endingTimestamp.foreach(t => query += ("endingTimestamp" -> t))
    changesRequest(share, schema, table, query.result())
  }

  /** Map a delta-responseformat change line to (changeType, outer
    * envelope, inner delta action). The `/changes` wire shape in the
    * delta responseformat wraps each action in a `file` envelope
    * carrying id/version/timestamp/expirationTimestamp, with the
    * presigned URL and partitionValues/size/stats on the single
    * nested delta action (`add`, `cdc`, or `remove`) — the delta
    * `cdc` action is the parquet responseformat's `cdf` line.
    * An envelope whose nested action is none of the three is a
    * LOUD failure: returning an empty/partial change feed would be
    * the silent-wrong-result mode the DV guard exists to prevent. */
  private def unwrapDeltaChange(l: JsonNode, table: String)
      : (String, JsonNode, JsonNode) = {
    val f = l.get("file")
    val env = f.get("deltaSingleAction")
    if (env == null || env.isNull)
      throw new DeltaSharingException(0,
        s"changes response for $table: file line without deltaSingleAction")
    Seq("add" -> "add", "cdc" -> "cdf", "remove" -> "remove")
      .collectFirst { case (k, t) if env.hasNonNull(k) => (t, f, env.get(k)) }
      .getOrElse(throw new DeltaSharingException(0,
        s"changes response for $table: unrecognized deltaSingleAction " +
          s"(fields: ${env.fieldNames().asScala.mkString(",")}); " +
          "refusing to return a partial change feed"))
  }

  private def changesRequest(share: String, schema: String, table: String,
      query: Map[String, String]): TableChanges = {
    val lines = parseNdjson(
      perform("GET", s"${tablePath(share, schema, table)}/changes",
        query).body)
    val meta = parseMetadataLines(lines).getOrElse(
      throw new DeltaSharingException(0,
        s"changes response for $share.$schema.$table had no metaData line"))
    // both wire shapes: bare add/cdf/remove nodes (parquet
    // responseformat) or file.deltaSingleAction envelopes (delta
    // responseformat — a server may elect it because the shared
    // capabilities header advertises both on every request)
    val shaped: Seq[(String, JsonNode, JsonNode)] = lines.flatMap { l =>
      if (l.hasNonNull("file"))
        Some(unwrapDeltaChange(l, s"$share.$schema.$table"))
      else Seq("add", "cdf", "remove").collectFirst {
        case k if l.hasNonNull(k) => (k, l.get(k), l.get(k))
      }
    }
    // the guard inspects the inner action nodes, where a wrapped
    // deletionVector payload (add OR remove) would ride
    guardDeletionVectors(meta, shaped.map(_._3),
      s"changes of $share.$schema.$table")
    val actions = shaped.map { case (changeType, outer, src) =>
      val (url, id, partitionValues, size) = fileFields(outer, src)
      ChangeAction(changeType, url, id, partitionValues, size,
        version =
          if (outer.hasNonNull("version")) outer.get("version").asLong()
          else throw new DeltaSharingException(0,
            s"$changeType action without a version in changes response"),
        timestamp =
          if (outer.hasNonNull("timestamp")) outer.get("timestamp").asLong()
          else 0L,
        expirationTimestamp = optText(outer, "expirationTimestamp"))
    }
    // column mapping: logical partitionValues keys, as for /query
    TableChanges(meta, ColumnMapping.remapChanges(meta, actions))
  }

  /** Residual deletion-vector guard. Snapshot reads now APPLY
    * supported descriptors (inline / absolute-URL — see
    * [[DeletionVectors]] and the unsupported-storageType refusal in
    * `queryTable`); this guard covers the paths where a DV can still
    * produce silently-wrong rows:
    *  - a PARQUET-responseformat `/query` for a table whose
    *    protocol/configuration signals DVs but whose file actions
    *    carry no descriptors — the format cannot express them, so
    *    deleted rows would come back as live (the reference's silent
    *    failure mode, `delta_sharing_client.cpp:124`);
    *  - any DV payload in a `/changes` response — CDF semantics over
    *    DVs (row-level deletes materialized per version) are not
    *    implemented.
    * Signals: `protocol.readerFeatures` contains `deletionVectors`,
    * `delta.enableDeletionVectors=true`, or a file action carries a
    * `deletionVector` payload. */
  private def guardDeletionVectors(meta: TableMetadata,
      fileLines: Seq[JsonNode], what: String): Unit = {
    val featureDv = meta.protocol.readerFeatures
      .exists(_.equalsIgnoreCase("deletionVectors"))
    val configDv = meta.configuration
      .get("delta.enableDeletionVectors").exists(_.equalsIgnoreCase("true"))
    // the DV payload sits on the file node (parquet responseformat)
    // or nested inside deltaSingleAction.add (delta responseformat) —
    // the guard must see through both envelopes
    val fileDv = fileLines.exists { l =>
      l.hasNonNull("deletionVector") ||
        (l.hasNonNull("deltaSingleAction") &&
          l.get("deltaSingleAction").hasNonNull("add") &&
          l.get("deltaSingleAction").get("add").hasNonNull("deletionVector"))
    }
    if (featureDv || configDv || fileDv) {
      val signal =
        if (fileDv) "a file action carries a deletionVector"
        else if (featureDv) "protocol.readerFeatures includes deletionVectors"
        else "delta.enableDeletionVectors=true in table configuration"
      throw new DeltaSharingException(0,
        s"$what: table uses deletion vectors ($signal), which this " +
          "response format/endpoint cannot carry or this client cannot " +
          "apply here, so results would silently include deleted rows. " +
          "Serve the table in delta responseformat with per-file " +
          "descriptors (snapshot reads apply them), or vacuum/compact " +
          "the shared table.")
    }
  }

  /** Shared protocol+metaData NDJSON parsing
    * (`delta_sharing_client.cpp:317-348` and `:409-434`). */
  /** Parse the [protocol, metaData] header lines of ANY endpoint
    * response. Both responseformats are accepted: the delta
    * responseformat nests the payloads one level down
    * (`protocol.deltaProtocol`, `metaData.deltaMetadata`, with
    * `version` staying on the outer metaData envelope) — unwrapping
    * here means every caller (scan planning, CDF, streaming) reads
    * delta-format servers with no other change. */
  private def parseMetadataLines(lines: Seq[JsonNode]): Option[TableMetadata] = {
    val protocol = lines.find(_.hasNonNull("protocol")).map { l =>
      val p0 = l.get("protocol")
      val p = if (p0.hasNonNull("deltaProtocol")) p0.get("deltaProtocol")
              else p0
      DeltaProtocol(
        if (p.hasNonNull("minReaderVersion")) p.get("minReaderVersion").asInt() else 1,
        if (p.hasNonNull("readerFeatures"))
          p.get("readerFeatures").elements().asScala.map(_.asText()).toSeq
        else Nil)
    }.getOrElse(DeltaProtocol(1))
    lines.find(_.hasNonNull("metaData")).map { l =>
      val m0 = l.get("metaData")
      val m = if (m0.hasNonNull("deltaMetadata")) m0.get("deltaMetadata")
              else m0
      def versionOf: Long =
        if (m0.hasNonNull("version")) m0.get("version").asLong()
        else if (m.hasNonNull("version")) m.get("version").asLong()
        else 0L
      TableMetadata(
        id = optText(m, "id").getOrElse(""),
        name = optText(m, "name").getOrElse(""),
        description = optText(m, "description").getOrElse(""),
        formatProvider =
          if (m.hasNonNull("format") && m.get("format").hasNonNull("provider"))
            m.get("format").get("provider").asText() else "parquet",
        schemaString = optText(m, "schemaString").getOrElse(""),
        partitionColumns =
          if (m.hasNonNull("partitionColumns"))
            m.get("partitionColumns").elements().asScala.map(_.asText()).toSeq
          else Seq.empty,
        configuration =
          if (m.hasNonNull("configuration"))
            m.get("configuration").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          else Map.empty,
        version = versionOf,
        protocol = protocol)
    }
  }
}

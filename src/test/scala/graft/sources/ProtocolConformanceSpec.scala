package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.testing.StubSharingServer

/** Conformance sweep against the PUBLIC Delta Sharing REST profile:
  * one spec enumerating the endpoint/field matrix the client
  * emits and consumes, pinned against [[StubSharingServer]]'s raw
  * request log.
  *
  * What the spec pins, per protocol area:
  *  - REQUESTS: method + raw (percent-encoded) path + raw query
  *    string of every endpoint — list/get shares, list schemas/
  *    tables/all-tables, HEAD version, metadata (incl. version and
  *    timestamp addressing), POST query, changes (version and
  *    timestamp addressing); the `delta-sharing-capabilities` and
  *    `Authorization` headers; the POST body's exact field names and
  *    JSON types; pagination token echo.
  *  - RESPONSES: every metaData / protocol / file / change field the
  *    client reads (complementing DeltaSharingClientSpec, which
  *    covers error bodies `{"message"}`, 401/404 status surfacing,
  *    Retry-After honoring, Delta-Table-Version fallback, and the
  *    deletion-vector refusals).
  * A field rename or encoding regression on either side fails here
  * before it fails against a real server. */
class ProtocolConformanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private val schemaJson = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType))).json

  private var server: StubSharingServer = _
  private var client: DeltaSharingClient = _

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    server.shares = Seq("share1", "share x") // space → %20 on the wire
    server.tables = Map("lineitem" -> ((schemaJson, Seq("b"),
      Seq(("file:///tmp/x.parquet", 123L, Map("b" -> "A")),
        ("file:///tmp/y.parquet", 456L, Map("b" -> null))))))
    server.fileStats = Map("file:///tmp/x.parquet" -> """{"numRecords":2}""")
    server.changeFeed = Map("lineitem" -> Seq(
      StubSharingServer.ChangeEntry(version = 2,
        timestamp = 1700000000000L, action = "add",
        url = "file:///tmp/x.parquet", size = 123L),
      StubSharingServer.ChangeEntry(version = 3,
        timestamp = 1700000100000L, action = "cdf",
        url = "file:///tmp/y.parquet", size = 456L),
      StubSharingServer.ChangeEntry(version = 4,
        timestamp = 1700000200000L, action = "remove",
        url = "file:///tmp/z.parquet", size = 1L)))
    client = new DeltaSharingClient(DeltaSharingProfile(server.endpoint, "tok"))
  }
  override def afterAll(): Unit = server.stop()

  private def logged: Vector[(String, String, String)] = server.requestLog

  test("request matrix: every endpoint, method, path encoding and query parameter") {
    server.requestLog = Vector.empty
    client.listShares()
    client.getShare("share x")
    client.listSchemas("share1")
    client.listTables("share1", "schema1")
    client.listAllTables("share1")
    client.queryTableVersion("share1", "schema1", "lineitem")
    client.queryTableMetadata("share1", "schema1", "lineitem")
    client.queryTableMetadata("share1", "schema1", "lineitem",
      version = Some(3))
    client.queryTableMetadata("share1", "schema1", "lineitem",
      timestamp = Some("2024-01-02T03:04:05Z"))
    client.queryTable("share1", "schema1", "lineitem")
    client.queryTableChanges("share1", "schema1", "lineitem",
      startingVersion = 2, endingVersion = Some(3))
    client.queryTableChangesByTimestamp("share1", "schema1", "lineitem",
      startingTimestamp = "2023-11-14T00:00:00Z",
      endingTimestamp = Some("2023-11-15T00:00:00Z"))
    val t = "/shares/share1/schemas/schema1/tables/lineitem"
    assert(logged == Vector(
      ("GET", "/shares", ""),
      ("GET", "/shares/share%20x", ""), // path segments percent-encode
      ("GET", "/shares/share1/schemas", ""),
      ("GET", "/shares/share1/schemas/schema1/tables", ""),
      ("GET", "/shares/share1/all-tables", ""),
      ("HEAD", t, ""),
      ("GET", s"$t/metadata", ""),
      ("GET", s"$t/metadata", "version=3"),
      ("GET", s"$t/metadata",
        "timestamp=2024-01-02T03%3A04%3A05Z"), // ISO-8601, encoded
      ("POST", s"$t/query", ""),
      ("GET", s"$t/changes", "startingVersion=2&endingVersion=3"),
      ("GET", s"$t/changes",
        "startingTimestamp=2023-11-14T00%3A00%3A00Z&" +
          "endingTimestamp=2023-11-15T00%3A00%3A00Z")))
  }

  test("request headers: bearer auth + parquet capability on every call") {
    client.listShares()
    assert(server.lastHeaders("authorization") == "Bearer tok")
    assert(server.lastHeaders("delta-sharing-capabilities") ==
      "responseformat=parquet,delta;readerfeatures=deletionvectors,columnmapping")
    client.queryTable("share1", "schema1", "lineitem")
    assert(server.lastHeaders("authorization") == "Bearer tok")
    assert(server.lastHeaders("delta-sharing-capabilities") ==
      "responseformat=parquet,delta;readerfeatures=deletionvectors,columnmapping")
    assert(server.lastHeaders("content-type") == "application/json")
  }

  test("POST /query body: exact field names and JSON types") {
    client.queryTable("share1", "schema1", "lineitem",
      jsonPredicateHints = Some(
        """{"op":"equal","children":[{"op":"column","name":"b","valueType":"string"},{"op":"literal","value":"A","valueType":"string"}]}"""),
      predicateHints = Seq("b = 'A'"),
      limitHint = Some(7),
      version = Some(3))
    val body = mapper.readTree(server.lastQueryBody)
    assert(body.get("jsonPredicateHints").isObject,
      "jsonPredicateHints must be a JSON tree, not a string")
    assert(body.get("jsonPredicateHints").get("op").asText() == "equal")
    assert(body.get("predicateHints").isArray &&
      body.get("predicateHints").get(0).asText() == "b = 'A'")
    assert(body.get("limitHint").isNumber && body.get("limitHint").asLong() == 7)
    assert(body.get("version").isNumber && body.get("version").asLong() == 3)
    assert(!body.has("timestamp"),
      "version and timestamp addressing are mutually exclusive")
    // timestamp addressing: ISO-8601 STRING, only when version absent
    client.queryTable("share1", "schema1", "lineitem",
      timestamp = Some("2024-01-02T03:04:05Z"))
    val body2 = mapper.readTree(server.lastQueryBody)
    assert(body2.get("timestamp").isTextual &&
      body2.get("timestamp").asText() == "2024-01-02T03:04:05Z")
    assert(!body2.has("version"))
    // an empty request still POSTs a JSON object (the spec's `{}`)
    client.queryTable("share1", "schema1", "lineitem")
    assert(mapper.readTree(server.lastQueryBody).isObject)
  }

  test("pagination: maxResults forwarded, nextPageToken echoed until absent") {
    val paged = new StubSharingServer(expectedToken = "tok", pageSize = 2)
      .start()
    try {
      paged.shares = Seq("a", "b", "c", "d", "e")
      val c = new DeltaSharingClient(DeltaSharingProfile(paged.endpoint, "tok"))
      assert(c.listShares(maxResults = 2).map(_.name) ==
        Seq("a", "b", "c", "d", "e"))
      assert(paged.requestLog == Vector(
        ("GET", "/shares", "maxResults=2"),
        ("GET", "/shares", "maxResults=2&pageToken=2"),
        ("GET", "/shares", "maxResults=2&pageToken=4")))
    } finally paged.stop()
  }

  test("response fields: every metaData / protocol / file field the client reads") {
    val meta = client.queryTableMetadata("share1", "schema1", "lineitem")
    assert(meta.id == "m-lineitem")
    assert(meta.name == "lineitem")
    assert(meta.formatProvider == "parquet")
    assert(meta.schemaString == schemaJson)
    assert(meta.partitionColumns == Seq("b"))
    assert(meta.configuration == Map("k" -> "v"))
    assert(meta.version == 3L)
    assert(meta.protocol == DeltaProtocol(1, Nil))
    val tf = client.queryTable("share1", "schema1", "lineitem")
    val f = tf.files.find(_.url == "file:///tmp/x.parquet").get
    assert(f.id.nonEmpty)
    assert(f.partitionValues == Map("b" -> "A"))
    assert(tf.files.exists(_.partitionValues == Map("b" -> null)),
      "null partition values must parse as null, not the string \"null\"")
    assert(f.size == 123L)
    assert(f.stats.contains(
      FileStats.Stats(Some(2L), Map.empty, Map.empty, Map.empty)))
    assert(f.version.contains(3L))
    assert(f.timestamp.contains(1700000000000L))
    assert(f.expirationTimestamp.contains("2099-01-01T00:00:00Z"))
  }

  test("response fields: change actions carry kind, version, timestamp") {
    val ch = client.queryTableChanges("share1", "schema1", "lineitem",
      startingVersion = 2)
    assert(ch.actions.map(_.changeType) == Seq("add", "cdf", "remove"),
      "all three change-action kinds must parse")
    val add = ch.actions.head
    assert(add.url == "file:///tmp/x.parquet" && add.version == 2L &&
      add.timestamp == 1700000000000L && add.size == 123L)
  }
}

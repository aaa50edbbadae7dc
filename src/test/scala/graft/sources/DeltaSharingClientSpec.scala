package graft.sources

import org.apache.spark.sql.types._
import graft.sources.testing.StubSharingServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DeltaSharingClientSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val lineitemSchemaJson = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_returnflag", StringType),
    StructField("nested", StructType(Seq(
      StructField("a", IntegerType),
      StructField("b", ArrayType(DoubleType)))))
  )).json

  private var server: StubSharingServer = _
  private var client: DeltaSharingClient = _

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    server.tables = Map("lineitem" -> (lineitemSchemaJson, Seq("l_returnflag"),
      Seq(("file:///tmp/x.parquet", 123L, Map("l_returnflag" -> "A")),
        ("file:///tmp/y.parquet", 456L, Map("l_returnflag" -> null)))))
    server.fileStats = Map("file:///tmp/x.parquet" -> """{"numRecords":1}""")
    client = new DeltaSharingClient(
      DeltaSharingProfile(server.endpoint + "/", "tok"))
  }
  override def afterAll(): Unit = server.stop()

  test("trailing slash is stripped from endpoint") {
    // profile built with trailing '/' in beforeAll; any successful call
    // proves normalization (reference: delta_sharing_client.cpp:55-58)
    assert(client.listShares().nonEmpty)
  }

  test("listShares returns all shares") {
    val shares = client.listShares()
    assert(shares.map(_.name) == Seq("share1", "share2", "share3"))
    assert(shares.head.id.contains("id-share1"))
  }

  test("capabilities and auth headers are sent") {
    client.listShares()
    assert(server.lastHeaders("delta-sharing-capabilities") ==
      "responseformat=parquet,delta;readerfeatures=deletionvectors,columnmapping")
    assert(server.lastHeaders("authorization") == "Bearer tok")
  }

  test("getShare") {
    assert(client.getShare("share2") == Share("share2", Some("id-share2")))
  }

  test("429 with Retry-After is honored: wait the hinted second, then succeed") {
    server.retryAfterSeconds = 1
    server.throttleBudget.set(1)
    try {
      val t0 = System.nanoTime()
      assert(client.listShares().nonEmpty) // survives the throttle
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // the hint (1000 ms) overrides attempt-1 backoff (200 ms)
      assert(elapsedMs >= 1000, s"waited only ${elapsedMs}ms")
      // budget exhausted during the retried request, not after
      assert(server.throttleBudget.get == 0)
    } finally server.throttleBudget.set(0)
  }

  test("listSchemas / listTables / listAllTables") {
    assert(client.listSchemas("share1").map(_.name) == Seq("schema1"))
    val t = client.listTables("share1", "schema1")
    assert(t.map(_.name) == Seq("lineitem"))
    assert(t.head.share == "share1" && t.head.schema == "schema1")
    assert(client.listAllTables("share1").map(_.name) == Seq("lineitem"))
  }

  test("queryTableMetadata parses schema, partition columns, config") {
    val m = client.queryTableMetadata("share1", "schema1", "lineitem")
    assert(m.partitionColumns == Seq("l_returnflag"))
    assert(m.version == 3 && m.configuration == Map("k" -> "v"))
    assert(m.protocol.minReaderVersion == 1)
    val parsed = DataType.fromJson(m.schemaString).asInstanceOf[StructType]
    // nested types survive (reference degrades them to VARCHAR,
    // duck_delta_share_extension.cpp:463-466)
    assert(parsed("nested").dataType.isInstanceOf[StructType])
  }

  test("queryTableVersion reads Delta-Table-Version header") {
    assert(client.queryTableVersion("share1", "schema1", "lineitem") == 7L)
  }

  test("queryTable parses files with partition values incl. null") {
    val r = client.queryTable("share1", "schema1", "lineitem")
    assert(r.files.size == 2)
    assert(r.files.head.partitionValues == Map("l_returnflag" -> "A"))
    assert(r.files(1).partitionValues("l_returnflag") == null)
    assert(r.files.head.size == 123L)
    assert(r.files.head.stats.contains(
      FileStats.Stats(Some(1L), Map.empty, Map.empty, Map.empty)))
    assert(r.files.head.expirationTimestamp.contains("2099-01-01T00:00:00Z"))
  }

  test("queryTable sends jsonPredicateHints and limitHint in POST body") {
    client.queryTable("share1", "schema1", "lineitem",
      jsonPredicateHints = Some(
        """{"op":"equal","children":[{"op":"column","name":"l_returnflag","valueType":"string"},{"op":"literal","value":"A","valueType":"string"}]}"""),
      predicateHints = Seq("l_returnflag = 'A'"),
      limitHint = Some(42L))
    assert(server.lastQueryBody.contains(""""jsonPredicateHints""""))
    assert(server.lastQueryBody.contains(
      """"predicateHints":["l_returnflag = 'A'"]"""))
    assert(server.lastQueryBody.contains(""""limitHint":42"""))
  }

  test("server error message is surfaced") {
    val e = intercept[DeltaSharingException] {
      client.queryTableMetadata("share1", "schema1", "nope")
    }
    assert(e.status == 404)
    assert(e.getMessage.contains("table not found"))
  }

  test("bad token → 401 with message") {
    val bad = new DeltaSharingClient(DeltaSharingProfile(server.endpoint, "wrong"))
    val e = intercept[DeltaSharingException] { bad.listShares() }
    assert(e.status == 401 && e.getMessage.contains("unauthorized"))
  }

  test("unreadable deletion-vector shapes are refused loudly, per signal") {
    // snapshot reads APPLY supported descriptors (inline/URL — see
    // DeletionVectorSpec); what must still refuse is (a) a descriptor
    // this client cannot decode (relative-path 'u' needs a table
    // root) and (b) a PARQUET-responseformat response for a table
    // whose protocol/config signals DVs — that format cannot carry
    // descriptors, so deleted rows would come back live
    val schema = lineitemSchemaJson
    for (signal <- Seq("feature", "config", "file")) {
      server.tables += ("dvtable" -> ((schema, Seq.empty,
        Seq(("file:///tmp/z.parquet", 1L, Map.empty[String, String])))))
      server.deletionVectorTables = Map("dvtable" -> signal)
      try {
        val q = intercept[DeltaSharingException] {
          client.queryTable("share1", "schema1", "dvtable")
        }
        if (signal == "file") {
          assert(q.getMessage.contains("storageType 'u'"),
            s"signal=$signal: ${q.getMessage}")
        } else assert(q.getMessage.contains("deletion vectors"),
          s"signal=$signal: ${q.getMessage}")
        assert(q.getMessage.contains("deleted rows"))
        // metadata answers SCHEMA, correct for DV tables too — the
        // scan needs it before /query decides readability
        assert(client.queryTableMetadata("share1", "schema1", "dvtable")
          .schemaString.nonEmpty)
      } finally {
        server.deletionVectorTables = Map.empty
        server.tables -= "dvtable"
      }
    }
    // and a DV-free table still reads fine afterwards
    assert(client.queryTable("share1", "schema1", "lineitem").files.nonEmpty)
  }

  test("delta responseformat parses to the same table model as parquet") {
    // the same table served in both wire shapes must yield identical
    // metadata and file actions — the unwrap is a pure envelope
    // translation (add.path → url, modificationTime → timestamp)
    val schema = lineitemSchemaJson
    server.tables += ("fmt" -> ((schema, Seq("p"),
      Seq(("file:///tmp/a.parquet", 11L, Map("p" -> "x")),
        ("file:///tmp/b.parquet", 22L, Map("p" -> null))))))
    try {
      val parquetResp = client.queryTable("share1", "schema1", "fmt")
      val parquetMeta = client.queryTableMetadata("share1", "schema1", "fmt")
      server.deltaFormatTables = Set("fmt")
      val deltaResp = client.queryTable("share1", "schema1", "fmt")
      val deltaMeta = client.queryTableMetadata("share1", "schema1", "fmt")
      assert(deltaMeta == parquetMeta)
      def essence(t: TableFiles) = t.files.map(f =>
        (f.url, f.partitionValues, f.size, f.stats, f.timestamp,
          f.expirationTimestamp))
      assert(essence(deltaResp) == essence(parquetResp))
      assert(deltaResp.metadata.schemaString == schema)
      assert(deltaResp.metadata.partitionColumns == Seq("p"))
      assert(deltaResp.metadata.version == 3)
    } finally {
      server.deltaFormatTables = Set.empty
      server.tables -= "fmt"
    }
  }

  test("unsupported deletion vector nested in deltaSingleAction.add refuses") {
    val schema = lineitemSchemaJson
    server.tables += ("dvd" -> ((schema, Seq.empty,
      Seq(("file:///tmp/z.parquet", 1L, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dvd")
    server.deletionVectorTables = Map("dvd" -> "file") // storageType 'u'
    try {
      val e = intercept[DeltaSharingException] {
        client.queryTable("share1", "schema1", "dvd")
      }
      assert(e.getMessage.contains("storageType 'u'"))
      assert(e.getMessage.contains("deleted rows"))
    } finally {
      server.deltaFormatTables = Set.empty
      server.deletionVectorTables = Map.empty
      server.tables -= "dvd"
    }
  }

  test("pagination loops until nextPageToken is absent") {
    val paged = new StubSharingServer(expectedToken = "tok", pageSize = 2).start()
    try {
      paged.shares = Seq("a", "b", "c", "d", "e")
      val c = new DeltaSharingClient(DeltaSharingProfile(paged.endpoint, "tok"))
      assert(c.listShares().map(_.name) == Seq("a", "b", "c", "d", "e"))
    } finally paged.stop()
  }
}

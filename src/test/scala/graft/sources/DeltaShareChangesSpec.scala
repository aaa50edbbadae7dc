package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer
import graft.sources.testing.StubSharingServer.ChangeEntry

/** Change Data Feed (`/changes`) — client parsing, version-range
  * addressing, and the end-to-end `readChanges` DataFrame with
  * synthesized (add/remove) and file-carried (cdf) `_change_type`. */
class DeltaShareChangesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var tmp: java.nio.file.Path = _
  private var countA: Long = 0
  private var countB: Long = 0

  private def writeOne(df: org.apache.spark.sql.DataFrame,
      name: String): (String, Long) = {
    val dir = tmp.resolve(name)
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    var p: java.nio.file.Path = null
    graft.sources.testing.DirWalk.eachChild(dir)(f =>
      if (f.getFileName.toString.endsWith(".parquet")) p = f)
    (p.toUri.toString, Files.size(p))
  }

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    tmp = Files.createTempDirectory("graft-changes")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    // sf0.001 lineitem keys run 1..1499 — keep every slice non-empty
    val a = li.filter(col("l_orderkey") <= 600)
    val b = li.filter(col("l_orderkey") > 600 && col("l_orderkey") <= 1200)
    countA = a.count(); countB = b.count()
    val (urlA, sizeA) = writeOne(a, "fileA")
    val (urlB, sizeB) = writeOne(b, "fileB")
    // a change-data file with per-row change types
    val cdfDf = li.filter(col("l_orderkey") > 1200 && col("l_orderkey") <= 1300)
      .withColumn("_change_type",
        when(col("l_linenumber") % 2 === 0, "update_postimage")
          .otherwise("update_preimage"))
    val (urlC, sizeC) = writeOne(cdfDf, "fileC")

    server.tables = Map("lineitem" -> ((li.schema.json, Seq.empty[String],
      Seq((urlA, sizeA, Map.empty[String, String])))))
    server.changeFeed = Map("lineitem" -> Seq(
      ChangeEntry(1, 1700000001000L, "add", urlA, sizeA),
      ChangeEntry(2, 1700000002000L, "add", urlB, sizeB),
      ChangeEntry(3, 1700000003000L, "remove", urlA, sizeA),
      ChangeEntry(4, 1700000004000L, "cdf", urlC, sizeC)))
    server.tableVersion = 4
  }

  override def afterAll(): Unit = server.stop()

  private def profile = DeltaSharingProfile(server.endpoint, "tok")

  test("client parses add/remove/cdf actions and version ranges") {
    val client = new DeltaSharingClient(profile)
    val all = client.queryTableChanges("share1", "schema1", "lineitem", 1)
    assert(all.actions.map(_.changeType) == Seq("add", "add", "remove", "cdf"))
    assert(all.actions.map(_.version) == Seq(1L, 2L, 3L, 4L))
    assert(all.actions.forall(_.timestamp > 0))
    assert(all.metadata.schemaString.nonEmpty)
    val window = client.queryTableChanges("share1", "schema1", "lineitem",
      startingVersion = 2, endingVersion = Some(3))
    assert(window.actions.map(_.version) == Seq(2L, 3L))
    // startingVersion is required by the protocol: the stub 400s a
    // bare GET, surfaced as a DeltaSharingException
    intercept[DeltaSharingException] {
      client.perform("GET",
        "/shares/share1/schemas/schema1/tables/lineitem/changes")
    }
  }

  test("readChanges synthesizes insert/delete rows from add/remove") {
    val df = DeltaShare.readChanges(
      sessionWithConf, "share1", "schema1", "lineitem",
      startingVersion = 2, endingVersion = Some(3))
    assert(df.columns.toSeq == Seq("l_orderkey", "l_linenumber",
      "l_quantity", "_change_type", "_commit_version", "_commit_timestamp"))
    val byType = df.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> countB, "delete" -> countA))
    // commit metadata rides per-version constants
    val versions = df.select("_change_type", "_commit_version").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(versions == Map("insert" -> 2L, "delete" -> 3L))
    val ts = df.filter(col("_change_type") === "insert")
      .select("_commit_timestamp").distinct().collect()
    assert(ts.length == 1 &&
      ts(0).getTimestamp(0).getTime == 1700000002000L)
  }

  test("cdf files carry their own per-row _change_type") {
    val df = DeltaShare.readChanges(
      sessionWithConf, "share1", "schema1", "lineitem",
      startingVersion = 4)
    val types = df.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet
    assert(types == Set("update_preimage", "update_postimage"))
    assert(df.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("timestamp addressing resolves to the same window server-side") {
    val client = new DeltaSharingClient(profile)
    // v1..v4 commit at epoch-millis 1700000001000..1700000004000 =
    // 2023-11-14T22:13:21Z..:24Z; a start between v1 and v2 resolves
    // to v2, an end at exactly v3's commit includes v3
    val window = client.queryTableChangesByTimestamp(
      "share1", "schema1", "lineitem",
      startingTimestamp = "2023-11-14T22:13:21.500Z",
      endingTimestamp = Some("2023-11-14T22:13:23Z"))
    assert(window.actions.map(_.version) == Seq(2L, 3L))
    // a start after the newest commit is a protocol error
    intercept[DeltaSharingException] {
      client.queryTableChangesByTimestamp("share1", "schema1", "lineitem",
        startingTimestamp = "2024-01-01T00:00:00Z")
    }
    // the DataFrame surface matches the version-addressed read
    val byTs = DeltaShare.readChangesByTimestamp(
      sessionWithConf, "share1", "schema1", "lineitem",
      startingTimestamp = "2023-11-14T22:13:21.500Z",
      endingTimestamp = Some("2023-11-14T22:13:23Z"))
    val byV = DeltaShare.readChanges(
      sessionWithConf, "share1", "schema1", "lineitem",
      startingVersion = 2, endingVersion = Some(3))
    assert(byTs.collect().toSet == byV.collect().toSet)
    // exactly one starting bound: both or neither is rejected client-side
    intercept[IllegalArgumentException] {
      sessionWithConf.read.format("deltashare")
        .option("endpoint", server.endpoint).option("bearerToken", "tok")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("startingTimestamp", "2023-11-14T22:13:21Z")
        .load("share1.schema1.lineitem")
    }
  }

  test("delta responseformat /changes parses to the same actions as parquet") {
    // the capabilities header advertises responseformat=parquet,delta on
    // EVERY request, so a server may elect the delta wire shape for
    // /changes too: actions arrive as file.deltaSingleAction envelopes
    // (add / cdc / remove, URL as `path`) and must unwrap to the exact
    // action list the parquet twin yields
    val client = new DeltaSharingClient(profile)
    val parquetActions = client
      .queryTableChanges("share1", "schema1", "lineitem", 1).actions
    server.deltaFormatTables = Set("lineitem")
    try {
      val deltaChanges =
        client.queryTableChanges("share1", "schema1", "lineitem", 1)
      def essence(a: Seq[ChangeAction]) = a.map(c =>
        (c.changeType, c.url, c.partitionValues, c.size, c.version,
          c.timestamp, c.expirationTimestamp))
      assert(essence(deltaChanges.actions) == essence(parquetActions))
      assert(deltaChanges.actions.map(_.changeType) ==
        Seq("add", "add", "remove", "cdf")) // cdc unwraps back to cdf
      assert(deltaChanges.metadata.schemaString.nonEmpty)
      // and the DataFrame surface is byte-identical to the parquet twin
      val deltaDf = DeltaShare.readChanges(
        sessionWithConf, "share1", "schema1", "lineitem",
        startingVersion = 2, endingVersion = Some(3)).collect().toSet
      server.deltaFormatTables = Set.empty
      val parquetDf = DeltaShare.readChanges(
        sessionWithConf, "share1", "schema1", "lineitem",
        startingVersion = 2, endingVersion = Some(3)).collect().toSet
      assert(deltaDf == parquetDf && deltaDf.nonEmpty)
    } finally server.deltaFormatTables = Set.empty
  }

  test("delta-format /changes with a wrapped deletionVector trips the guard") {
    server.deltaFormatTables = Set("lineitem")
    server.deletionVectorTables = Map("lineitem" -> "file")
    try {
      val e = intercept[DeltaSharingException] {
        new DeltaSharingClient(profile)
          .queryTableChanges("share1", "schema1", "lineitem", 1)
      }
      assert(e.getMessage.contains("deletion vectors"))
    } finally {
      server.deltaFormatTables = Set.empty
      server.deletionVectorTables = Map.empty
    }
  }

  test("unrecognized deltaSingleAction in /changes fails loudly, not empty") {
    // a wrapped action kind the client doesn't know must throw — a
    // silently dropped line would freeze incremental consumers with a
    // partial (or empty) change feed
    server.deltaFormatTables = Set("lineitem")
    server.publishChange("lineitem",
      ChangeEntry(5, 1700000005000L, "commitInfo", "file:///tmp/none", 1L))
    try {
      val e = intercept[DeltaSharingException] {
        new DeltaSharingClient(profile)
          .queryTableChanges("share1", "schema1", "lineitem", 1)
      }
      assert(e.getMessage.contains("unrecognized deltaSingleAction"))
    } finally {
      server.deltaFormatTables = Set.empty
      server.changeFeed = Map("lineitem" ->
        server.changeFeed("lineitem").filter(_.version <= 4))
      server.tableVersion = 4
    }
  }

  test("empty range yields an empty frame with the cdf schema") {
    val df = DeltaShare.readChanges(
      sessionWithConf, "share1", "schema1", "lineitem",
      startingVersion = 9, endingVersion = Some(9))
    assert(df.count() == 0)
    assert(df.columns.contains("_change_type"))
  }

  test("change-feed scan metrics equal the stub's /files log") {
    val orders = spark.range(0, 5000).selectExpr("id AS o_orderkey",
      "id % 7 AS o_custkey")
    val (file, size) = writeOne(orders, "metrics")
    val st = new StubSharingServer(expectedToken = "tok").start()
    try {
      val url = s"http://127.0.0.1:${st.port}/files/orders.parquet"
      st.httpFiles = Map("orders.parquet" ->
        java.nio.file.Paths.get(new java.net.URI(file)))
      st.tables = Map("orders" -> ((orders.schema.json, Seq.empty[String],
        Seq((url, size, Map.empty[String, String])))))
      st.changeFeed = Map("orders" -> Seq(
        ChangeEntry(1, 1700000001000L, "add", url, size),
        ChangeEntry(2, 1700000002000L, "remove", url, size)))
      st.tableVersion = 2
      val df = spark.read.format("deltashare")
        .option("endpoint", st.endpoint).option("bearerToken", "tok")
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .load("share1.schema1.orders").select("o_orderkey", "_change_type")
      assert(df.collect().length == 2 * orders.count())
      val scans = PlanWalk.collect(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.map(_.scan.getClass.getSimpleName) ==
        Seq("DeltaShareChangesScan"))
      val log = st.filesLog
      assert(log.nonEmpty && log.forall(_.status == 206), log)
      assert(PresignedReadCounters.Names.map(n =>
        n -> scans.map(_.metrics(n).value).sum).toMap == Map(
        "presignedGets" -> log.size.toLong,
        "presignedBytes" -> log.map(_.bytes).sum,
        "presignedRetries" -> 0L,
        "presignedRefreshes" -> 0L))
    } finally st.stop()
  }

  private def sessionWithConf = {
    spark.conf.set(DeltaSharingProfile.EndpointConf, server.endpoint)
    spark.conf.set(DeltaSharingProfile.TokenConf, "tok")
    spark
  }
}

package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer

/** The session's listing snapshots: one `/query` per table version and
  * request shape, a HEAD per new DataFrame, and every way a reused
  * listing could go stale — a new version, a presigned URL near its
  * expiry, another bearer token, time travel — listing afresh. */
class ListingSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var schemaJson: String = _
  private var fileA: (String, Long, Map[String, String]) = _
  private var fileB: (String, Long, Map[String, String]) = _
  private var rowsA: Long = 0
  private var rowsB: Long = 0

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    val tmp = Files.createTempDirectory("graft-snapshot")
    val orders = spark.range(0, 3000).selectExpr("id AS o_orderkey",
      "id % 100 AS o_custkey", "CAST(id AS DOUBLE) AS o_totalprice")
    schemaJson = orders.schema.json
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String) = {
      val dir = tmp.resolve(name)
      df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      var p: java.nio.file.Path = null
      graft.sources.testing.DirWalk.eachChild(dir)(f =>
        if (f.getFileName.toString.endsWith(".parquet")) p = f)
      (p.toUri.toString, Files.size(p), Map.empty[String, String])
    }
    val a = orders.filter(col("o_orderkey") < 2000)
    val b = orders.filter(col("o_orderkey") >= 2000)
    rowsA = a.count(); rowsB = b.count()
    fileA = writeOne(a, "a"); fileB = writeOne(b, "b")
    server.tables = Map("orders" -> ((schemaJson, Seq.empty, Seq(fileA))))
  }

  override def afterAll(): Unit = server.stop()

  private def read(token: String = "tok") =
    spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", token)
      .load("share1.schema1.orders")

  private def logged(method: String): Int =
    server.requestLog.count(_._1 == method)

  /** The `/query` POSTs and HEADs `body` issues. */
  private def requests(body: => Any): (Int, Int) = {
    val (posts0, heads0) = (logged("POST"), logged("HEAD"))
    body
    (logged("POST") - posts0, logged("HEAD") - heads0)
  }

  test("a second DataFrame over the same version issues 0 POSTs and 1 HEAD") {
    server.tableVersion += 1
    assert(requests(assert(read().collect().length == rowsA))._1 == 1)
    assert(requests(assert(read().collect().length == rowsA)) == ((0, 1)))
    // another request shape is its own listing, once per version
    def filtered = read().filter(col("o_orderkey") < 100)
    assert(requests(filtered.collect())._1 == 1)
    assert(requests(filtered.collect())._1 == 0)
  }

  test("a version published between two reads shows the new rows") {
    assert(read().count() == rowsA)
    // a commit: the stub serves a second file under the next version
    server.tables = Map("orders" -> ((schemaJson, Seq.empty, Seq(fileA, fileB))))
    try {
      val (posts, _) = requests(assert(read().count() == rowsA + rowsB))
      assert(posts == 1, "the new version was not listed")
    } finally server.tables = Map("orders" -> ((schemaJson, Seq.empty, Seq(fileA))))
    assert(read().count() == rowsA)
  }

  test("an expirationTimestamp inside the margin forces a re-list") {
    // the protocol's epoch-millis form, one minute out
    server.urlExpiration = (System.currentTimeMillis() + 60 * 1000L).toString
    try {
      server.tableVersion += 1
      assert(requests(read().collect())._1 == 1)
      assert(requests(read().collect())._1 == 1,
        "a listing whose URLs expire within the margin was reused")
      // the builder that listed it still plans from its own listing: a
      // refused COUNT (no stats) and its row read share one POST
      assert(requests(assert(read().agg(count(lit(1))).collect()(0)
        .getLong(0) == rowsA))._1 == 1)
      // an hour out (ISO-8601) is outside the margin: listed once more,
      // then reused
      server.urlExpiration = java.time.Instant.now().plusSeconds(3600).toString
      assert(requests(read().collect())._1 == 1)
      assert(requests(read().collect())._1 == 0)
    } finally server.urlExpiration = "2099-01-01T00:00:00Z"
  }

  test("two bearer tokens never share a listing") {
    server.otherTokens = Set("tok2")
    try {
      server.tableVersion += 1
      assert(requests(read("tok").collect())._1 == 1)
      assert(requests(read("tok2").collect())._1 == 1,
        "a listing fetched under one token was served to another")
      assert(requests(read("tok2").collect())._1 == 0)
      assert(requests(read("tok").collect())._1 == 0)
    } finally server.otherTokens = Set.empty
  }

  test("time travel lists once per DataFrame, never from the session's snapshot") {
    def travel = spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .option("versionAsOf", "1").load("share1.schema1.orders")
    assert(read().collect().length == rowsA)
    assert(requests(assert(travel.collect().length == rowsA)) == ((1, 0)))
    assert(requests(assert(travel.collect().length == rowsA)) == ((1, 0)))
  }
}

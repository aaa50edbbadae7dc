package graft.sources

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer

/** SQL-surface tests: the catalog makes shared tables addressable as
  * `dshare.share.schema.table` in plain SQL. */
class DeltaShareCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    val li = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val tmp = Files.createTempDirectory("graft-cat")
    val f = tmp.resolve("nation.parquet")
    li.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = graft.sources.testing.DirWalk.children(tmp.resolve("out"))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    server.tables = Map("nation" -> (li.schema.json, Seq.empty,
      Seq((part.toUri.toString, Files.size(part), Map.empty[String, String]))))
    spark.conf.set("spark.sql.catalog.dshare",
      "graft.sources.v2.DeltaShareCatalog")
    spark.conf.set("spark.sql.catalog.dshare.endpoint", server.endpoint)
    spark.conf.set("spark.sql.catalog.dshare.bearerToken", "tok")
  }
  override def afterAll(): Unit = server.stop()

  private implicit class IterAsScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  test("SELECT through the catalog") {
    val n = spark.sql("SELECT count(*) AS n FROM dshare.share1.schema1.nation")
      .collect()(0).getLong(0)
    assert(n == 25)
  }

  test("SHOW NAMESPACES lists shares and schemas") {
    val shares = spark.sql("SHOW NAMESPACES IN dshare").collect()
      .map(_.getString(0)).toSet
    assert(shares == Set("share1", "share2", "share3"))
    val schemas = spark.sql("SHOW NAMESPACES IN dshare.share1").collect()
      .map(_.getString(0)).toSet
    assert(schemas.exists(_.contains("schema1")))
  }

  test("SHOW TABLES lists shared tables") {
    val tables = spark.sql("SHOW TABLES IN dshare.share1.schema1").collect()
      .map(_.getString(1)).toSet
    assert(tables == Set("nation"))
  }

  test("filters and projections work through SQL") {
    val rows = spark.sql(
      """SELECT n_name FROM dshare.share1.schema1.nation
         WHERE n_regionkey = 0 ORDER BY n_name""").collect()
    assert(rows.nonEmpty)
  }

  test("writes are rejected") {
    val e = intercept[Exception] {
      spark.sql("DROP TABLE dshare.share1.schema1.nation")
    }
    assert(e.getMessage.toLowerCase.contains("read-only") ||
      e.getMessage.toLowerCase.contains("not supported") ||
      e.getMessage.toLowerCase.contains("unsupported"))
  }

  test("a catalog configured with only a profile file lists shares") {
    val profile = Files.createTempFile("graft-cat", ".share")
    Files.write(profile, s"""{"shareCredentialsVersion": 1,
      "endpoint": "${server.endpoint}", "bearerToken": "tok"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.conf.set("spark.sql.catalog.dsprofile",
      "graft.sources.v2.DeltaShareCatalog")
    spark.conf.set("spark.sql.catalog.dsprofile.profile", profile.toString)
    val shares = spark.sql("SHOW NAMESPACES IN dsprofile").collect()
      .map(_.getString(0)).toSet
    assert(shares == Set("share1", "share2", "share3"))
  }
}

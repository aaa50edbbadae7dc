package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = LocalSpark.session("graft-test", cpus = 4)
}

class CoreQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every declared query has an oracle or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only entries are allowed but should be a deliberate, small set
    assert(noOracle.forall(n => n.startsWith("m") || n.startsWith("ss") ||
      n.startsWith("dd") || n.startsWith("st")),
      s"queries without oracle: $noOracle")
  }

  test("all queries execute at sf0.001") {
    // the prewarm set is complete: after it, no query builds a
    // standing artifact of its own
    Artifacts.prewarm(spark, sf)
    val prewarmed = Artifacts.builds.size
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
    }
    val late = Artifacts.builds.drop(prewarmed).map(_.name)
    assert(late.isEmpty, s"standing artifacts built after prewarm: $late")
  }

  test("Tables.load fails on a path rewritten after its first load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_load").toString
    val path = s"$dir/t.parquet"
    spark.range(10).write.parquet(path)
    val first = Tables.load(spark, dir, "t")
    assert(first.count() == 10)
    // an unchanged path reuses the memoized relation itself
    assert(Tables.load(spark, dir, "t") eq first)
    spark.range(25).write.mode("overwrite").parquet(path)
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "t"))
    assert(e.getMessage.contains(path))
  }

  test("Verify.dump with names writes only their results and oracle SQL") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toFile
    val names = Seq("q01_pricing_summary", "q16_topk")
    Verify.dump(spark, sf, out.getPath, names)
    assert(out.listFiles().filter(_.isDirectory).map(_.getName).toSet ==
      names.toSet)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(out, "oracle_sql.json"))
    import scala.jdk.CollectionConverters._
    val keys = json.fieldNames().asScala.toSet
    assert(keys.nonEmpty &&
      keys == names.filter(SparkEntry.oracleSql.contains).toSet)
    intercept[IllegalArgumentException] {
      Verify.dump(spark, sf, out.getPath, Seq("no_such_query"))
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q16_topk returns exactly 20 ordered rows") {
    val rows = SparkEntry.queries("q16_topk")(spark, sf).collect()
    assert(rows.length == 20)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sortBy(-_.toDouble)))
  }

  test("q13_window_rank caps row_number at 5 per partition") {
    val df = SparkEntry.queries("q13_window_rank")(spark, sf)
    assert(df.collect().forall(_.getInt(4) <= 5))
  }

  test("q01 aggregates are stable across runs") {
    val a = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    val b = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(a.sameElements(b))
  }
}

package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer

/** End-to-end DSv2 connector tests against the stub sharing server:
  * metadata-driven schema, partition-column materialization, pruning,
  * pushdown plumbing, and the ranged-HTTP presigned-URL read path. */
class DeltaShareConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var tmpDir: java.nio.file.Path = _
  private var expectedCount: Long = 0
  private var flagACount: Long = 0

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    tmpDir = Files.createTempDirectory("graft-share")
    // write lineitem partitioned by l_returnflag: part files do NOT
    // contain the partition column — the connector must re-attach it
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    expectedCount = li.count()
    flagACount = li.filter(col("l_returnflag") === "A").count()
    li.write.partitionBy("l_returnflag").mode("overwrite")
      .parquet(tmpDir.toString)

    val fullSchema = li.schema.json
    val files = Seq.newBuilder[(String, Long, Map[String, String])]
    graft.sources.testing.DirWalk.eachChild(tmpDir) { d =>
      val name = d.getFileName.toString
      if (name.startsWith("l_returnflag=")) {
        val flag = name.stripPrefix("l_returnflag=")
        graft.sources.testing.DirWalk.eachChild(d) { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            files += ((f.toUri.toString, Files.size(f),
              Map("l_returnflag" -> flag)))
        }
      }
    }
    server.tables = Map(
      "lineitem" -> (fullSchema, Seq("l_returnflag"), files.result()),
      // the SAME table served in delta responseformat — reads must be
      // indistinguishable from the parquet-responseformat twin
      "lineitem_delta" -> (fullSchema, Seq("l_returnflag"), files.result()))
    server.deltaFormatTables = Set("lineitem_delta")
  }

  override def afterAll(): Unit = server.stop()

  private def read() =
    spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .option("share", "share1")
      .option("schema", "schema1")
      .option("table", "lineitem")
      .load()

  test("full scan matches direct parquet read, partition col attached") {
    val df = read()
    assert(df.count() == expectedCount)
    assert(df.schema.fieldNames.contains("l_returnflag"))
    val flags = df.select("l_returnflag").distinct().collect()
      .map(_.getString(0)).sorted
    assert(flags.sameElements(Array("A", "N", "R")))
  }

  test("delta responseformat table reads end-to-end like the parquet twin") {
    val delta = spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .option("share", "share1").option("schema", "schema1")
      .option("table", "lineitem_delta")
      .load()
    val parquetFmt = read()
    assert(delta.schema == parquetFmt.schema)
    assert(delta.count() == expectedCount)
    // identical row multiset through the other wire shape
    assert(delta.exceptAll(parquetFmt).isEmpty)
    assert(parquetFmt.exceptAll(delta).isEmpty)
    // partition pruning still works through the delta envelope
    assert(delta.filter(col("l_returnflag") === "A").count() == flagACount)
  }

  test("load(\"share.schema.table\") addressing works") {
    val df = spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .load("share1.schema1.lineitem")
    assert(df.count() == expectedCount)
  }

  test("values survive the round trip exactly") {
    val direct = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val shared = read()
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(direct == shared)
  }

  test("partition filter prunes files and sends hints") {
    val df = read().filter(col("l_returnflag") === "A")
    assert(df.count() == flagACount)
    assert(server.lastQueryBody.contains("jsonPredicateHints"))
    assert(server.lastQueryBody.contains("l_returnflag"))
    // physical plan should carry only the pruned partition count
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("BatchScan") || scanDesc.contains("DeltaShare"))
  }

  test("projection + data filter pushdown stay correct") {
    val df = read()
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    assert(df.count() == expected.count())
    assert(df.schema.fieldNames.toSeq == Seq("l_orderkey", "l_quantity"))
  }

  test("limit pushes a limitHint to the server") {
    read().limit(5).collect()
    assert(server.lastQueryBody.contains(""""limitHint":5"""))
  }

  test("versionAsOf option reaches the /query POST body") {
    spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .option("versionAsOf", "3")
      .load("share1.schema1.lineitem")
      .count()
    assert(server.lastQueryBody.contains(""""version":3"""))
  }

  test("timestampAsOf option reaches the /query POST body") {
    spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .option("timestampAsOf", "2025-01-01T00:00:00Z")
      .load("share1.schema1.lineitem")
      .count()
    assert(server.lastQueryBody.contains(
      """"timestamp":"2025-01-01T00:00:00Z""""))
    assert(!server.lastQueryBody.contains(""""version""""))
  }

  test("versionAsOf and timestampAsOf together are rejected") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("deltashare")
        .option("endpoint", server.endpoint)
        .option("bearerToken", "tok")
        .option("versionAsOf", "3")
        .option("timestampAsOf", "2025-01-01T00:00:00Z")
        .load("share1.schema1.lineitem")
        .count()
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("expired presigned url surfaces a clear HTTP failure") {
    // stub has no file registered under this name → 404, standing in
    // for an expired/revoked presigned URL
    val ordersSchema = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet").schema.json
    server.tables = server.tables + ("gone" -> ((ordersSchema, Seq.empty,
      Seq((s"http://127.0.0.1:${server.port}/files/nope.parquet",
        1234L, Map.empty[String, String])))))
    val e = intercept[Exception] {
      spark.read.format("deltashare")
        .option("endpoint", server.endpoint).option("bearerToken", "tok")
        .load("share1.schema1.gone")
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("HTTP 404") ||
      m.contains("nope.parquet")), s"unhelpful error: ${messages(e)}")
    // a 404 is definitive: one GET, no retries
    assert(server.filesLog.count(_.name == "nope.parquet") == 1,
      server.filesLog)
  }

  test("two partition columns: projecting only the later one stays aligned") {
    // regression: building the reader with the FULL partition schema
    // while readSchema() declares only the required subset misaligns
    // ordinals when a query projects a strict subset of ≥2 partition
    // columns
    val dir = Files.createTempDirectory("graft-share-2pc")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    li.write.partitionBy("l_returnflag", "l_linestatus").mode("overwrite")
      .parquet(dir.toString)
    val files = Seq.newBuilder[(String, Long, Map[String, String])]
    graft.sources.testing.DirWalk.eachChild(dir) { d1 =>
      val n1 = d1.getFileName.toString
      if (n1.startsWith("l_returnflag=")) graft.sources.testing.DirWalk.eachChild(d1) { d2 =>
        val n2 = d2.getFileName.toString
        if (n2.startsWith("l_linestatus=")) graft.sources.testing.DirWalk.eachChild(d2) { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            files += ((f.toUri.toString, Files.size(f), Map(
              "l_returnflag" -> n1.stripPrefix("l_returnflag="),
              "l_linestatus" -> n2.stripPrefix("l_linestatus="))))
        }
      }
    }
    server.tables = server.tables + ("li2pc" -> ((li.schema.json,
      Seq("l_returnflag", "l_linestatus"), files.result())))
    val shared = spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .load("share1.schema1.li2pc")
      // project ONLY the second partition column (plus one data col)
      .groupBy("l_linestatus").agg(sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val direct = li.groupBy("l_linestatus").agg(sum("l_quantity").as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(shared == direct)
    // and first-only projection too
    val sharedFlags = spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .load("share1.schema1.li2pc")
      .select("l_returnflag").distinct().collect().map(_.getString(0)).sorted
    assert(sharedFlags.sameElements(Array("A", "N", "R")))
  }

  test("undecidable partition filter shapes return correct rows (residual)") {
    // <=> on a partition column: the client evaluator handles it
    // exactly now, but the residual contract is what guarantees
    // correctness for any shape — compare against the direct read
    val df = read().filter(col("l_returnflag") <=> "A")
    assert(df.count() == flagACount)
    val df2 = read().filter(not(col("l_returnflag").endsWith("A")))
    val direct2 = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(not(col("l_returnflag").endsWith("A"))).count()
    assert(df2.count() == direct2)
  }

  test("presigned url that expired between planning and read heals mid-scan") {
    val src = Paths.get("/root/testdata/sf0.001/customer.parquet")
    val expServer = new StubSharingServer(expectedToken = "tok").start()
    try {
      expServer.httpFiles = Map("customer.parquet" -> src)
      expServer.expireFirstQueryUrls = true // first /query signs stale URLs
      val schema = spark.read.parquet(src.toString).schema.json
      expServer.tables = Map("customer" -> ((schema, Seq.empty,
        Seq((s"http://127.0.0.1:${expServer.port}/files/customer.parquet",
          Files.size(src), Map.empty[String, String])))))
      // collect, not count(): a COUNT would first probe the aggregate
      // fast path (its own /query POST), consuming the stale-signed
      // response this test needs the ROW scan to receive
      val df = spark.read.format("deltashare")
        .option("endpoint", expServer.endpoint).option("bearerToken", "tok")
        .load("share1.schema1.customer")
        .select("c_custkey")
      val n = df.collect().length
      assert(n == spark.read.parquet(src.toString).count())
      assert(scanMetrics(df)("presignedRefreshes") == 1)
    } finally expServer.stop()
  }

  test("presigned url that lapses mid-scan (after the footer reads) heals") {
    // SURVEY risk #4: a multi-hour scan outlives the URL TTL. The
    // stale signature serves the first request (the footer's tail
    // GET), then 403s — so the expiry fires in the MIDDLE of an
    // in-progress task, and the reader must re-POST /query and resume
    // without failing the task. lineitem (117 KB) is larger than the
    // tail, so its column chunks need GETs after the footer's.
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val expServer = new StubSharingServer(expectedToken = "tok").start()
    try {
      expServer.httpFiles = Map("lineitem.parquet" -> src)
      expServer.expireFirstQueryUrls = true
      expServer.staleRequestBudget.set(1)
      val schema = spark.read.parquet(src.toString).schema.json
      expServer.tables = Map("lineitem" -> ((schema, Seq.empty,
        Seq((s"http://127.0.0.1:${expServer.port}/files/lineitem.parquet",
          Files.size(src), Map.empty[String, String])))))
      val df = spark.read.format("deltashare")
        .option("endpoint", expServer.endpoint).option("bearerToken", "tok")
        .load("share1.schema1.lineitem")
      val total = df.agg(sum("l_extendedprice")).collect()(0).getDouble(0)
      val direct = spark.read.parquet(src.toString)
        .agg(sum("l_extendedprice")).collect()(0).getDouble(0)
      assert(math.abs(total - direct) < 1e-6)
      assert(expServer.staleRequestBudget.get() <= 0,
        "stale URL never served the early reads — expiry was not mid-scan")
      assert(expServer.queryPosts >= 2,
        "no /query re-POST — the reader did not refresh")
      // the footer GET was served, the next GET met the expiry, and the
      // same stream went on: a failed and retried task would have
      // fetched the footer again
      val log = expServer.filesLog
      def isTail(r: StubSharingServer.FilesRequest) =
        r.range.exists(_.startsWith("bytes=-"))
      assert(isTail(log(0)) && log(0).status == 206, log)
      assert(log(1).status == 403 && !isTail(log(1)), log)
      assert(log.drop(2).nonEmpty && log.drop(2).forall(_.status == 206), log)
      assert(log.count(isTail) == 1, log)
    } finally expServer.stop()
  }

  test("graftds paths and read errors never leak the signed query string") {
    val p = PresignedUrlFileSystem.encode("file-id-1", 123L)
    assert(!p.contains("sig=") && !p.contains("http"))
    assert(PresignedUrlFileSystem.decode(new org.apache.hadoop.fs.Path(p)) ==
      ("file-id-1", 123L))
    assert(PresignedUrlFileSystem.redact(
      "https://bucket/obj.parquet?X-Amz-Signature=secret") ==
      "https://bucket/obj.parquet")
  }

  /** A 2-file shared table (o_orderkey split at the median) with true
    * per-file stats, plus a third all-null-free file-less edge via the
    * same server — fixture for data skipping + stats-only aggregates. */
  private def statsFixture(): (StubSharingServer, Long, Long, Long) = {
    val src = Paths.get("/root/testdata/sf0.001/orders.parquet")
    val orders = spark.read.parquet(src.toString)
    val total = orders.count()
    val mid = 750L
    val st = new StubSharingServer(expectedToken = "tok").start()
    val tmp = Files.createTempDirectory("graft-stats-skip")
    val statsB = Map.newBuilder[String, String]
    val files = Seq(("lo", col("o_orderkey") < mid),
      ("hi", col("o_orderkey") >= mid)).map { case (name, pred) =>
      val part = orders.filter(pred)
      val pdir = tmp.resolve(name)
      part.coalesce(1).write.mode("overwrite").parquet(pdir.toString)
      var p: java.nio.file.Path = null
      graft.sources.testing.DirWalk.eachChild(pdir)(f =>
        if (f.getFileName.toString.endsWith(".parquet")) p = f)
      val r = part.agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
        .collect()(0)
      statsB += p.toUri.toString -> FileStats.statsJson("o_orderkey",
        r.getLong(0), r.getLong(1), r.getLong(2))
      (p.toUri.toString, Files.size(p), Map.empty[String, String])
    }
    st.tables = Map("orders2" -> ((orders.schema.json, Seq.empty, files)))
    st.fileStats = statsB.result()
    val loCount = orders.filter(col("o_orderkey") < mid).count()
    (st, total, mid, loCount)
  }

  private def readFrom(st: StubSharingServer, table: String) =
    spark.read.format("deltashare")
      .option("endpoint", st.endpoint).option("bearerToken", "tok")
      .load(s"share1.schema1.$table")

  /** `/query` POSTs the server has logged so far. */
  private def queryPosts(st: StubSharingServer): Int =
    st.requestLog.count { case (m, path, _) =>
      m == "POST" && path.endsWith("/query") }

  test("min/max stats skip files a data filter cannot match") {
    val (st, total, mid, loCount) = statsFixture()
    try {
      val df = readFrom(st, "orders2")
      // both files planned without a filter
      assert(df.rdd.getNumPartitions == 2)
      assert(filesPlanned(df) == 2)
      // range predicate below the split point → only the lo file opens
      val lo = df.filter(col("o_orderkey") < mid)
      assert(lo.rdd.getNumPartitions == 1,
        s"expected 1 surviving file, got ${lo.rdd.getNumPartitions}")
      assert(filesPlanned(lo) == 1)
      assert(lo.count() == loCount)
      // provably-empty range → zero files, zero rows, no error
      val none = df.filter(col("o_orderkey") < 0)
      assert(none.rdd.getNumPartitions == 0)
      assert(filesPlanned(none) == 0)
      assert(none.collect().isEmpty)
      // IN entirely above every max → zero files
      val in = df.filter(col("o_orderkey").isin(99999999L))
      assert(in.rdd.getNumPartitions == 0)
      assert(filesPlanned(in) == 0)
      // skipping is conservative: an unstated column prunes nothing
      val other = df.filter(col("o_custkey") === -1)
      assert(other.rdd.getNumPartitions == 2 && other.count() == 0)
      assert(filesPlanned(other) == 2)
      assert(other.queryExecution.executedPlan.toString
        .contains("filesPlanned=2"))
    } finally st.stop()
  }

  test("TopN pushdown prunes files outside the top-k boundary, " +
      "rows stay exactly the true top-k") {
    val (st, total, mid, loCount) = statsFixture()
    try {
      val df = readFrom(st, "orders2")
      def scanFiles(d: org.apache.spark.sql.DataFrame): Int = {
        d.write.format("noop").mode("overwrite").save()
        d.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.flatten.size
        }.sum
      }
      // ASC top-5: the lo file's rows guarantee the hi file out
      val asc = df.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey").limit(5)
      assert(scanFiles(asc) == 1, "ASC top-5 must open only the lo file")
      assert(asc.queryExecution.executedPlan.toString
        .contains("pushedTopN=o_orderkey ASC n=5"))
      val direct = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey").limit(5)
      assert(asc.collect().toSeq == direct.collect().toSeq)
      // DESC: only the hi file
      val desc = df.select("o_orderkey").orderBy(col("o_orderkey").desc)
        .limit(5)
      assert(scanFiles(desc) == 1, "DESC top-5 must open only the hi file")
      // n larger than the lo file's rows: both files must open
      val wide = df.select("o_orderkey").orderBy("o_orderkey")
        .limit(loCount.toInt + 5)
      assert(scanFiles(wide) == 2)
      assert(wide.count() == loCount + 5)
      // a residual data filter refuses the topN prune (both files):
      // the guarantee would count rows the filter removes
      val filtered = df.filter(col("o_totalprice") > 0)
        .select("o_orderkey").orderBy("o_orderkey").limit(5)
      assert(scanFiles(filtered) == 2,
        "topN prune must refuse under a residual data filter")
    } finally st.stop()
  }

  test("offset pushdown skips whole files at the file level, partial " +
      "skips are exact, and residual filters refuse the pushdown") {
    val (st, total, mid, loCount) = statsFixture()
    try {
      val df = readFrom(st, "orders2")
      def scanFiles(d: org.apache.spark.sql.DataFrame): Int = {
        d.write.format("noop").mode("overwrite").save()
        d.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.flatten.size
        }.sum
      }
      val direct = spark.read
        .parquet("/root/testdata/sf0.001/orders.parquet")
      // whole-file skip: offset = the lo file's exact row count — the
      // lo file is never planned, the Offset operator is gone, and
      // the rows are exactly the hi file's
      val whole = df.offset(loCount.toInt).select("o_orderkey")
      assert(scanFiles(whole) == 1,
        "offset equal to the lo file must plan only the hi file")
      val wplan = whole.queryExecution.executedPlan.toString
      assert(wplan.contains(s"pushedOffset=$loCount"),
        s"offset not pushed:\n$wplan")
      assert(!wplan.contains("GlobalLimitAndOffset") &&
        !wplan.contains("Offset ("), "Offset operator survived a " +
        s"complete pushdown:\n$wplan")
      assert(whole.collect().map(_.getLong(0)).sorted.toSeq ==
        direct.filter(col("o_orderkey") >= mid)
          .collect().map(_.getLong(0)).sorted.toSeq)
      // partial skip: the boundary file's reader drops its leading
      // rows IN FILE ORDER — result = lo file minus its first 3 rows,
      // plus all of hi
      val loUrl = st.tables("orders2")._3.head._1
      val loInOrder = spark.read.parquet(loUrl)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      val part = df.offset(3).select("o_orderkey")
      assert(scanFiles(part) == 2)
      assert(part.queryExecution.executedPlan.toString
        .contains("pushedOffset=3"))
      val expect = (loInOrder.drop(3) ++
        direct.filter(col("o_orderkey") >= mid)
          .collect().map(_.getLong(0)).toSeq).sorted
      assert(part.collect().map(_.getLong(0)).sorted.toSeq == expect)
      // offset past the table: zero planned files, zero rows
      val past = df.offset(total.toInt + 10).select("o_orderkey")
      assert(scanFiles(past) == 0)
      assert(past.collect().isEmpty)
      // a residual data filter refuses the pushdown (offset applies
      // AFTER filters): Spark keeps the Offset and rows stay right
      val filtered = df.filter(col("o_totalprice") > 0)
        .offset(5).select("o_orderkey")
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("pushedOffset"),
        "offset must refuse under a residual data filter")
      assert(filtered.count() == total - 5)
      // offset composes with a limit pushed above it: the scan skips,
      // Spark re-applies the limit (limitHint covers offset+limit)
      val both = df.offset(loCount.toInt).limit(5).select("o_orderkey")
      assert(both.count() == 5)
      assert(both.collect().map(_.getLong(0)).forall(_ >= mid))
      // an accepted offset plan lists the table once: the pushdown's
      // numRecords check and the scan read the same /query response
      // (a new version, so the plan's listing is that version's first)
      st.tableVersion += 1
      val posts0 = queryPosts(st)
      val once = df.offset(3).select("o_orderkey")
      assert(once.queryExecution.executedPlan.toString
        .contains("pushedOffset=3"))
      assert(once.collect().length == total - 3)
      assert(queryPosts(st) - posts0 == 1,
        "an offset plan must issue exactly one /query POST")
    } finally st.stop()
  }

  test("COUNT/MIN/MAX answer from stats as a LocalTableScan, zero reads") {
    val (st, total, mid, _) = statsFixture()
    try {
      val agg = readFrom(st, "orders2")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
          max("o_orderkey").as("mx"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"),
        s"aggregate was not answered from stats:\n$plan")
      assert(!plan.contains("BatchScan"), "files were planned for a " +
        "stats-answerable aggregate")
      val r = agg.collect()(0)
      val direct = spark.read
        .parquet("/root/testdata/sf0.001/orders.parquet")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).collect()(0)
      assert(r.getLong(0) == direct.getLong(0))
      assert(r.getLong(1) == direct.getLong(1))
      assert(r.getLong(2) == direct.getLong(2))
    } finally st.stop()
  }

  test("GROUP BY partition column aggregates from stats, one row per group") {
    // orders partitioned by o_orderstatus, true per-file stats
    val src = Paths.get("/root/testdata/sf0.001/orders.parquet")
    val orders = spark.read.parquet(src.toString)
    val st = new StubSharingServer(expectedToken = "tok").start()
    val tmp = Files.createTempDirectory("graft-agg-group")
    try {
      // coalesce(1): one file per status dir, so the per-status stats
      // registered below are exactly that file's stats
      orders.coalesce(1).write.partitionBy("o_orderstatus").mode("overwrite")
        .parquet(tmp.toString)
      val statsB = Map.newBuilder[String, String]
      val files = Seq.newBuilder[(String, Long, Map[String, String])]
      graft.sources.testing.DirWalk.eachChild(tmp) { d =>
        val name = d.getFileName.toString
        if (name.startsWith("o_orderstatus=")) {
          val status = name.stripPrefix("o_orderstatus=")
          val part = orders.filter(col("o_orderstatus") === status)
          val r = part.agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
            .collect()(0)
          graft.sources.testing.DirWalk.eachChild(d) { f =>
            if (f.getFileName.toString.endsWith(".parquet")) {
              files += ((f.toUri.toString, Files.size(f),
                Map("o_orderstatus" -> status)))
              statsB += f.toUri.toString -> FileStats.statsJson(
                "o_orderkey", r.getLong(0), r.getLong(1), r.getLong(2))
            }
          }
        }
      }
      st.tables = Map("orders_p" -> ((orders.schema.json,
        Seq("o_orderstatus"), files.result())))
      st.fileStats = statsB.result()
      val agg = readFrom(st, "orders_p")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
          max("o_orderkey").as("mx"))
        .orderBy("o_orderstatus")
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan"),
        s"grouped aggregate was not answered from stats:\n$plan")
      assert(!plan.contains("BatchScan"))
      val got = agg.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val want = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
        .orderBy("o_orderstatus").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.toSeq == want.toSeq)
      // and a partition filter composes: only the matching group remains
      val one = readFrom(st, "orders_p")
        .filter(col("o_orderstatus") === want.head._1)
        .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
      assert(one == want.head._2)
    } finally { st.stop() }
  }

  test("aggregate pushdown refuses and falls back without full stats") {
    // the main fixture's lineitem files carry NO stats → COUNT must
    // read rows (BatchScan) and still be exact
    val df = read()
    // a new version, so the read's listing is that version's first
    server.tableVersion += 1
    val posts0 = queryPosts(server)
    val agg = df.agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      "pushdown must refuse when any file lacks numRecords")
    assert(agg.collect()(0).getLong(0) == expectedCount)
    // the refused pushdown and the row read share one listing
    assert(queryPosts(server) - posts0 == 1,
      "a refused COUNT and its row read must issue exactly one /query POST")
    // unsupported shapes (SUM, grouped) also fall back and stay exact
    val grouped = readFrom(server, "lineitem")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(grouped.collect().map(_.getLong(1)).sum == expectedCount)
  }

  test("time travel: stats-only COUNT, offset and row read all refuse " +
      "a version whose schema differs") {
    val (st, total, _, _) = statsFixture()
    try {
      val df = spark.read.format("deltashare")
        .option("endpoint", st.endpoint).option("bearerToken", "tok")
        .option("versionAsOf", "1")
        .load("share1.schema1.orders2")
      // same schema: the COUNT is answered from stats
      val ok = df.agg(count(lit(1)))
      assert(ok.queryExecution.executedPlan.toString
        .contains("LocalTableScan"))
      assert(ok.collect()(0).getLong(0) == total)
      // the requested version's metaData now disagrees with the schema
      // the frame was planned with
      val (schema, parts, files) = st.tables("orders2")
      val older = StructType(DataType.fromJson(schema)
        .asInstanceOf[StructType].fields.dropRight(1)).json
      st.tables = Map("orders2" -> ((older, parts, files)))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      def refuses(run: => Any, what: String): Unit = {
        val e = intercept[Exception](run)
        assert(messages(e).exists(_.contains("different schema")),
          s"$what: ${messages(e)}")
      }
      refuses(df.agg(count(lit(1))).collect(), "stats-only COUNT")
      refuses(df.offset(3).collect(), "offset")
      refuses(df.collect(), "row read")
    } finally st.stop()
  }

  test("presigned HTTP urls with Range requests read end-to-end") {
    val src = Paths.get("/root/testdata/sf0.001/orders.parquet")
    server.httpFiles = Map("orders.parquet" -> src)
    val ordersSchema = spark.read.parquet(src.toString).schema.json
    server.tables = server.tables + ("orders" -> ((ordersSchema, Seq.empty,
      Seq((s"http://127.0.0.1:${server.port}/files/orders.parquet",
        Files.size(src), Map.empty[String, String])))))
    val df = spark.read.format("deltashare")
      .option("endpoint", server.endpoint)
      .option("bearerToken", "tok")
      .load("share1.schema1.orders")
    val n = df.count()
    val direct = spark.read.parquet(src.toString).count()
    assert(n == direct)
    // and values, not just counts
    val total = df.agg(sum("o_totalprice")).collect()(0).getDouble(0)
    val totalDirect = spark.read.parquet(src.toString)
      .agg(sum("o_totalprice")).collect()(0).getDouble(0)
    assert(math.abs(total - totalDirect) < 1e-6)
  }

  /** A stub serving `src` as the one-file table `t` over `/files`. */
  private def fileStub(t: String, src: java.nio.file.Path): StubSharingServer = {
    val st = new StubSharingServer(expectedToken = "tok").start()
    st.httpFiles = Map(src.getFileName.toString -> src)
    st.tables = Map(t -> ((spark.read.parquet(src.toString).schema.json,
      Seq.empty, Seq((s"http://127.0.0.1:${st.port}/files/${src.getFileName}",
        Files.size(src), Map.empty[String, String])))))
    st
  }

  /** The presigned-read metrics of the Delta Sharing scans in `df`'s
    * executed plan, summed over scans. */
  private def scanMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val scans = PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    PresignedReadCounters.Names.map(n =>
      n -> scans.map(_.metrics(n).value).sum).toMap
  }

  /** The files the Delta Sharing scans in `df`'s executed plan
    * planned, from their driver-side metric. */
  private def filesPlanned(df: org.apache.spark.sql.DataFrame): Long =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions
        b.scan.reportDriverMetrics()
          .filter(_.name == v2.FilesPlannedMetric.Name).map(_.value).sum
    }.sum

  /** A stub serving `src` as the table `t` of `n` files, `part-<i>`,
    * with `broken` listed in place of part-1 when given. */
  private def packedStub(t: String, src: java.nio.file.Path, n: Int,
      broken: Option[String] = None): StubSharingServer = {
    val st = new StubSharingServer(expectedToken = "tok").start()
    val names = (0 until n).map(i => s"part-$i.parquet")
    st.httpFiles = names.map(_ -> src).toMap
    st.tables = Map(t -> ((spark.read.parquet(src.toString).schema.json,
      Seq.empty, names.zipWithIndex.map { case (name, i) =>
        val served = if (i == 1) broken.getOrElse(name) else name
        (s"http://127.0.0.1:${st.port}/files/$served", Files.size(src),
          Map.empty[String, String])
      })))
    st
  }

  /** A graftds stream over `url`, registered under a fresh file id. */
  private def openShared(url: String, size: Long): org.apache.hadoop.fs.FSDataInputStream = {
    val id = s"spec-${java.util.UUID.randomUUID}"
    PresignedUrlCache.register(id, url, PresignedUrlCache.RefreshSpec(
      DeltaSharingProfile("http://127.0.0.1:1/unused", "tok"), "s", "s", "t",
      None, Nil, None, None))
    val conf = new org.apache.hadoop.conf.Configuration()
    PresignedUrlFileSystem.register(conf)
    val path = new org.apache.hadoop.fs.Path(PresignedUrlFileSystem.encode(id, size))
    path.getFileSystem(conf).open(path)
  }

  /** The first two column chunks of `src`'s first row group, which
    * parquet writes back to back. */
  private def firstTwoChunks(src: java.nio.file.Path): Seq[org.apache.hadoop.fs.FileRange] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(src.toUri),
        new org.apache.hadoop.conf.Configuration()))
    try reader.getFooter.getBlocks.get(0).getColumns.asScala.take(2).map(c =>
      org.apache.hadoop.fs.FileRange.createFileRange(c.getStartingPos,
        c.getTotalSize.toInt)).toSeq
    finally reader.close()
  }

  /** `ranges` read vectored from `in`, as byte arrays. */
  private def vectored(in: org.apache.hadoop.fs.FSDataInputStream,
      ranges: Seq[org.apache.hadoop.fs.FileRange]): Seq[Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    in.readVectored(ranges.asJava, (n: Int) => java.nio.ByteBuffer.allocate(n))
    ranges.map { r =>
      val b = r.getData.get()
      val out = new Array[Byte](b.remaining); b.get(out); out
    }
  }

  test("presigned reads send only bounded Range headers") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = fileStub("lineitem", src)
    try {
      val df = readFrom(st, "lineitem")
      df.write.format("noop").mode("overwrite").save()
      df.select("l_partkey", "l_extendedprice")
        .write.format("noop").mode("overwrite").save()
      assert(df.filter(col("l_quantity") < 10).count() ==
        spark.read.parquet(src.toString).filter(col("l_quantity") < 10).count())
      val bounded = "bytes=(\\d+-\\d+|-\\d+)".r
      assert(st.filesLog.nonEmpty)
      assert(st.filesLog.forall(_.range.exists(bounded.matches)),
        s"unbounded or missing Range: ${st.filesLog}")
    } finally st.stop()
  }

  test("a vectored read of two adjacent column chunks costs one GET") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = fileStub("lineitem", src)
    try {
      val ranges = firstTwoChunks(src)
      val in = openShared(s"http://127.0.0.1:${st.port}/files/lineitem.parquet",
        Files.size(src))
      val got = try vectored(in, ranges) finally in.close()
      val local = Files.readAllBytes(src)
      ranges.zip(got).foreach { case (r, b) =>
        assert(b.sameElements(local.slice(r.getOffset.toInt,
          r.getOffset.toInt + r.getLength)))
      }
      assert(st.filesLog.size == 1, st.filesLog)
    } finally st.stop()
  }

  test("a presigned GET answered 429 waits its Retry-After, then reads") {
    // one part file of the shared lineitem fixture
    val src = Paths.get(java.net.URI.create(server.tables("lineitem")._3.head._1))
    val name = src.getFileName.toString
    val st = fileStub("lineitem", src)
    try {
      st.retryAfterSeconds = 1
      st.filesFaults = Map(name -> List(429))
      val local = Files.readAllBytes(src)
      val in = openShared(s"http://127.0.0.1:${st.port}/files/$name",
        local.length)
      val tail = new Array[Byte](8)
      val t0 = System.nanoTime()
      try in.readFully(local.length - 8L, tail) finally in.close()
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(elapsedMs >= 1000, s"waited only ${elapsedMs}ms")
      assert(tail.sameElements(local.takeRight(8)))
      assert(st.filesLog.map(_.status) == Seq(429, 206), st.filesLog)
      // and a scan whose first GET is throttled still reads every row
      st.filesFaults = Map(name -> List(429))
      val got = readFrom(st, "lineitem")
        .agg(sum("l_extendedprice"), count(lit(1))).collect()(0)
      val want = spark.read.parquet(src.toString)
        .agg(sum("l_extendedprice"), count(lit(1))).collect()(0)
      assert(math.abs(got.getDouble(0) - want.getDouble(0)) < 1e-6)
      assert(got.getLong(1) == want.getLong(1))
      assert(st.filesLog.count(_.status == 429) == 2, st.filesLog)
    } finally st.stop()
  }

  test("a server that ignores Range still yields the correct rows") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = fileStub("lineitem", src)
    try {
      st.ignoreRange = true
      val got = readFrom(st, "lineitem")
        .agg(sum("l_extendedprice"), count(lit(1))).collect()(0)
      val want = spark.read.parquet(src.toString)
        .agg(sum("l_extendedprice"), count(lit(1))).collect()(0)
      assert(math.abs(got.getDouble(0) - want.getDouble(0)) < 1e-6)
      assert(got.getLong(1) == want.getLong(1))
      assert(st.filesLog.nonEmpty && st.filesLog.forall(_.status == 200))
    } finally st.stop()
  }

  test("a graftds path whose URL is a local file: URL still reads") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val local = Files.readAllBytes(src)
    val in = openShared(src.toUri.toString, local.length)
    try {
      val tail = new Array[Byte](8)
      in.seek(local.length - 8L)
      in.readFully(tail)
      assert(tail.sameElements(local.takeRight(8)))
      val ranges = firstTwoChunks(src)
      vectored(in, ranges).zip(ranges).foreach { case (b, r) =>
        assert(b.sameElements(local.slice(r.getOffset.toInt,
          r.getOffset.toInt + r.getLength)))
      }
    } finally in.close()
  }

  test("scan custom metrics and task input bytes equal the stub's /files log") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = fileStub("lineitem", src)
    try {
      val df = readFrom(st, "lineitem").select("l_orderkey", "l_extendedprice")
      val rows = spark.read.parquet(src.toString).count()
      val bytesRead = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        assert(df.collect().length == rows)
        org.apache.spark.GraftTestBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      val log = st.filesLog
      val served = log.map(_.bytes).sum
      assert(log.nonEmpty && served > 0)
      assert(scanMetrics(df) == Map(
        "presignedGets" -> log.size.toLong,
        "presignedBytes" -> served,
        "presignedRetries" -> 0L,
        "presignedRefreshes" -> 0L))
      assert(bytesRead.get == served)
    } finally st.stop()
  }

  /** Task input bytes summed over the tasks `body` runs. */
  private def taskInputBytes(body: => Unit): Long = {
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    bytesRead.get
  }

  private def batchScans(df: org.apache.spark.sql.DataFrame) =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }

  test("packed partitions: scan custom metrics and task input bytes " +
      "equal the stub's /files log") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = packedStub("lineitem", src, 12)
    try {
      val df = readFrom(st, "lineitem").select("l_orderkey", "l_extendedprice")
      val rows = spark.read.parquet(src.toString).count()
      val bytesRead = taskInputBytes {
        assert(df.collect().length == 12 * rows)
      }
      val scans = batchScans(df)
      val partitions = scans.map(_.inputPartitions.size).sum
      assert(partitions > 1 && partitions < 12,
        s"12 small files on 4 cores should pack: $partitions partitions")
      assert(scans.map(_.metrics(v2.FilesPlannedMetric.Name).value).sum == 12)
      val log = st.filesLog
      val served = log.map(_.bytes).sum
      // every file was read, each by one task
      assert(log.map(_.name).distinct.size == 12)
      assert(scanMetrics(df) == Map(
        "presignedGets" -> log.size.toLong,
        "presignedBytes" -> served,
        "presignedRetries" -> 0L,
        "presignedRefreshes" -> 0L))
      // bytes the read-ahead threads fetched are credited to the tasks
      assert(bytesRead == served)
    } finally st.stop()
  }

  test("a LIMIT that stops inside a packed partition returns exact rows " +
      "and counts the file opened ahead") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = packedStub("lineitem", src, 12)
    try {
      val df = readFrom(st, "lineitem").select("l_orderkey").limit(5)
      val keys = spark.read.parquet(src.toString).select("l_orderkey")
        .collect().map(_.getLong(0)).toSet
      var got: Array[org.apache.spark.sql.Row] = null
      val bytesRead = taskInputBytes { got = df.collect() }
      assert(got.length == 5 && got.forall(r => keys.contains(r.getLong(0))))
      // the first partition's first file was read and its second
      // opened ahead; nothing further was opened
      val log = st.filesLog
      assert(log.map(_.name).distinct.sorted ==
        Seq("part-0.parquet", "part-1.parquet"), log)
      // the abandoned open is settled before the task's last metrics
      assert(scanMetrics(df) == Map(
        "presignedGets" -> log.size.toLong,
        "presignedBytes" -> log.map(_.bytes).sum,
        "presignedRetries" -> 0L,
        "presignedRefreshes" -> 0L))
      assert(bytesRead == log.map(_.bytes).sum)
    } finally st.stop()
  }

  test("a missing file in position 2 of a packed partition surfaces " +
      "the same HTTP failure") {
    val src = Paths.get("/root/testdata/sf0.001/lineitem.parquet")
    val st = packedStub("gone", src, 8, broken = Some("nope.parquet"))
    try {
      val df = readFrom(st, "gone")
      val first = batchScans(df).flatMap(_.inputPartitions).head
        .asInstanceOf[v2.DeltaShareInputPartition].files
      assert(first.size >= 2 && first(1).url.endsWith("/nope.parquet"),
        first.map(_.url))
      val e = intercept[Exception](df.count())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      val messages = causes(e).flatMap(t => Option(t.getMessage))
      assert(messages.exists(m => m.contains("HTTP 404") ||
        m.contains("nope.parquet")), s"unhelpful error: $messages")
      assert(!causes(e).exists(
        _.isInstanceOf[java.util.concurrent.ExecutionException]), messages)
      // a 404 is definitive: one GET, no retries
      assert(st.filesLog.count(_.name == "nope.parquet") == 1, st.filesLog)
    } finally st.stop()
  }

  test("read-ahead: one open in flight on a daemon thread, the file " +
      "opened ahead closed when the reader stops early, errors unwrapped") {
    import org.apache.spark.sql.catalyst.InternalRow
    final class Parquet(rows: Int) extends Iterator[InternalRow]
        with java.io.Closeable {
      @volatile var closed = false
      private var i = 0
      def hasNext: Boolean = i < rows
      def next(): InternalRow = { i += 1; InternalRow(i) }
      def close(): Unit = closed = true
    }
    val files = (0 until 4).map(i => v2.DeltaShareFile(s"f$i", 1L,
      Map.empty, fileId = "", url = ""))
    def reader(fail: Set[String]) = {
      val opened = new java.util.concurrent.ConcurrentHashMap[String, (Thread, Parquet)]
      val r = new v2.DeltaSharePartitionReader(files, new PresignedReadCounters,
        f => {
          if (fail(f.path)) throw new java.io.IOException(s"HTTP 404 ${f.path}")
          val p = new Parquet(3)
          opened.put(f.path, (Thread.currentThread, p))
          new v2.OpenFile(p, p)
        })
      (r, opened)
    }
    // stop inside the first file: the second was opened ahead on a
    // daemon pool thread, the third not at all; close() closes both
    val (r, opened) = reader(Set.empty)
    assert(r.next())
    r.close()
    assert(opened.keySet.asScala == Set("f0", "f1"))
    val (ahead, p1) = opened.get("f1")
    assert(ahead.getName == "deltashare-read-ahead" && ahead.isDaemon)
    assert(opened.get("f0")._2.closed && p1.closed)
    // an error in file 2 surfaces as thrown, once file 1's rows are out
    val (bad, _) = reader(Set("f1"))
    assert((1 to 3).forall(_ => bad.next()))
    val e = intercept[java.io.IOException](bad.next())
    assert(e.getMessage == "HTTP 404 f1")
    bad.close()
  }
}

private object PlanWalk
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

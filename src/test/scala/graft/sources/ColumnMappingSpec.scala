package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer
import graft.sources.testing.StubSharingServer.ChangeEntry

/** Column-mapping reads: tables whose parquet files store stable
  * physical `col-<uuid>` names while the logical schema carries the
  * user-facing names in field metadata — the rename-safe layout every
  * modern Delta writer can enable. The reference client would read
  * these tables as all-null columns (name mismatch) without noticing. */
class ColumnMappingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var tmp: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    tmp = Files.createTempDirectory("graft-cm")
  }
  override def afterAll(): Unit = server.stop()

  private def mappedField(logical: String, physical: String, id: Long,
      dt: DataType): StructField =
    StructField(logical, dt, nullable = true,
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", physical)
        .putLong("delta.columnMapping.id", id).build())

  private def writeOne(df: org.apache.spark.sql.DataFrame, name: String)
    : (String, Long) = {
    val dir = tmp.resolve(name)
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    var p: java.nio.file.Path = null
    graft.sources.testing.DirWalk.eachChild(dir)(f =>
      if (f.getFileName.toString.endsWith(".parquet")) p = f)
    (p.toUri.toString, Files.size(p))
  }

  private def sharedRead(name: String) =
    spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .load(s"share1.schema1.$name")

  test("toPhysical renames recursively; pruned subtrees keep mapping") {
    val table = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("nested", "col-nnn", 2, StructType(Seq(
        mappedField("x", "col-xxx", 3, IntegerType),
        mappedField("y", "col-yyy", 4, StringType))))))
    val pruned = StructType(Seq(
      StructField("nested", StructType(Seq(StructField("y", StringType))))))
    val phys = ColumnMapping.toPhysical(pruned, table)
    assert(phys.fieldNames.toSeq == Seq("col-nnn"))
    assert(phys("col-nnn").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("col-yyy"))
  }

  test("remapFiles translates partitionValues and stats keys to logical") {
    val schema = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("p", "col-ppp", 2, StringType)))
    val meta = TableMetadata("id", "t", "", "parquet", schema.json,
      Seq("p"), Map("delta.columnMapping.mode" -> "name"),
      3L, DeltaProtocol(2))
    val f = FileAction("u", "i", Map("col-ppp" -> "x"), 1L,
      FileStats.parse("""{"numRecords":5,"minValues":{"col-aaa":1},"maxValues":{"col-aaa":9},"nullCount":{"col-aaa":0}}"""),
      None, None, None, None)
    val out = ColumnMapping.remapFiles(meta, Seq(f)).head
    assert(out.partitionValues == Map("p" -> "x"))
    val st = out.stats.get
    assert(st.minValues.contains("k") && st.maxValues.contains("k"))
    assert(st.minValues("k").asLong == 1L && st.maxValues("k").asLong == 9L)
    assert(st.nullCount == Map("k" -> 0L) && st.numRecords.contains(5L))
    assert(ColumnMapping.logicalPartitionColumns(meta) == Seq("p"))
    // a writer that stored physical names in partitionColumns maps too
    assert(ColumnMapping.logicalPartitionColumns(
      meta.copy(partitionColumns = Seq("col-ppp"))) == Seq("p"))
  }

  test("unknown mapping mode refuses loudly") {
    val meta = TableMetadata("id", "t", "", "parquet",
      StructType(Seq(StructField("k", LongType))).json,
      Nil, Map("delta.columnMapping.mode" -> "wat"), 3L, DeltaProtocol(2))
    intercept[DeltaSharingException] { ColumnMapping.mode(meta) }
  }

  test("mapped table reads logical columns from physical parquet") {
    import spark.implicits._
    // physical layout on disk: col-aaa (long), col-bbb (string)
    val physDf = (0L until 40L).map(i => (i, s"s$i"))
      .toDF("col-aaa", "col-bbb")
    val (url, size) = writeOne(physDf, "cm_plain")
    val logical = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("v", "col-bbb", 2, StringType)))
    server.tables += ("cm_plain" -> ((logical.json, Seq.empty[String],
      Seq((url, size, Map.empty[String, String])))))
    server.deltaFormatTables = Set("cm_plain")
    server.tableConfig = Map("cm_plain" ->
      Map("delta.columnMapping.mode" -> "name"))
    try {
      val df = sharedRead("cm_plain")
      assert(df.columns.toSeq == Seq("k", "v"))
      val got = df.filter(col("k") >= 35).select("v").as[String]
        .collect().sorted
      assert(got.toSeq == (35L until 40L).map(i => s"s$i"))
      assert(df.count() == 40)
    } finally {
      server.deltaFormatTables = Set.empty
      server.tableConfig = Map.empty
      server.tables -= "cm_plain"
    }
  }

  test("mapped partition column: physical partitionValues serve logical rows") {
    import spark.implicits._
    val physA = Seq((1L, 10L), (2L, 20L)).toDF("col-aaa", "col-qqq")
    val physB = Seq((3L, 30L)).toDF("col-aaa", "col-qqq")
    val (urlA, sizeA) = writeOne(physA, "cm_part_a")
    val (urlB, sizeB) = writeOne(physB, "cm_part_b")
    val logical = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("q", "col-qqq", 2, LongType),
      mappedField("p", "col-ppp", 3, StringType)))
    server.tables += ("cm_part" -> ((logical.json, Seq("p"),
      Seq((urlA, sizeA, Map("col-ppp" -> "x")),
        (urlB, sizeB, Map("col-ppp" -> "y"))))))
    server.deltaFormatTables = Set("cm_part")
    server.tableConfig = Map("cm_part" ->
      Map("delta.columnMapping.mode" -> "id"))
    try {
      val rows = sharedRead("cm_part").select("k", "q", "p")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      assert(rows == Set((1L, 10L, "x"), (2L, 20L, "x"), (3L, 30L, "y")))
      // partition pruning on the LOGICAL name still works
      assert(sharedRead("cm_part").filter(col("p") === "y").count() == 1)
    } finally {
      server.deltaFormatTables = Set.empty
      server.tableConfig = Map.empty
      server.tables -= "cm_part"
    }
  }

  test("change feed of a name-mapped partitioned table reads logical values") {
    import spark.implicits._
    // an add file and a cdf file, both stored under physical names
    val (addUrl, addSize) = writeOne(
      Seq((1L, "a1"), (2L, "a2")).toDF("col-aaa", "col-bbb"), "cm_cdf_add")
    val (cdfUrl, cdfSize) = writeOne(
      Seq((3L, "c3", "update_preimage"), (3L, "c3x", "update_postimage"))
        .toDF("col-aaa", "col-bbb", "_change_type"), "cm_cdf_cdf")
    val logical = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("v", "col-bbb", 2, StringType),
      mappedField("p", "col-ppp", 3, StringType)))
    server.tables += ("cm_cdf" -> ((logical.json, Seq("p"),
      Seq((addUrl, addSize, Map("col-ppp" -> "x"))))))
    server.tableConfig = Map("cm_cdf" ->
      Map("delta.columnMapping.mode" -> "name"))
    server.changeFeed = Map("cm_cdf" -> Seq(
      ChangeEntry(1, 1700000001000L, "add", addUrl, addSize,
        Map("col-ppp" -> "x")),
      ChangeEntry(2, 1700000002000L, "cdf", cdfUrl, cdfSize,
        Map("col-ppp" -> "y"))))
    try {
      val rows = spark.read.format("deltashare")
        .option("endpoint", server.endpoint).option("bearerToken", "tok")
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .load("share1.schema1.cm_cdf")
        .select("k", "v", "_change_type", "p", "_commit_version")
        .collect().map(_.toSeq).toSet
      assert(rows == Set(
        Seq(1L, "a1", "insert", "x", 1L), Seq(2L, "a2", "insert", "x", 1L),
        Seq(3L, "c3", "update_preimage", "y", 2L),
        Seq(3L, "c3x", "update_postimage", "y", 2L)))
    } finally {
      server.tableConfig = Map.empty
      server.changeFeed = Map.empty
      server.tables -= "cm_cdf"
    }
  }

  test("stream of an id-mapped partitioned table reads logical values") {
    import spark.implicits._
    val (urlA, sizeA) = writeOne(
      Seq((1L, 10L), (2L, 20L)).toDF("col-aaa", "col-qqq"), "cm_stream_a")
    val (urlB, sizeB) = writeOne(
      Seq((3L, 30L)).toDF("col-aaa", "col-qqq"), "cm_stream_b")
    val logical = StructType(Seq(
      mappedField("k", "col-aaa", 1, LongType),
      mappedField("q", "col-qqq", 2, LongType),
      mappedField("p", "col-ppp", 3, StringType)))
    server.tables += ("cm_stream" -> ((logical.json, Seq("p"),
      Seq((urlA, sizeA, Map("col-ppp" -> "x"))))))
    server.tableConfig = Map("cm_stream" ->
      Map("delta.columnMapping.mode" -> "id"))
    server.changeFeed = Map("cm_stream" -> Seq(
      ChangeEntry(1, 1700000001000L, "add", urlA, sizeA,
        Map("col-ppp" -> "x")),
      ChangeEntry(2, 1700000002000L, "add", urlB, sizeB,
        Map("col-ppp" -> "y"))))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    try {
      val q = spark.readStream.format("deltashare")
        .option("endpoint", server.endpoint).option("bearerToken", "tok")
        .option("startingVersion", "1")
        .load("share1.schema1.cm_stream")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft-cm-ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k", "q", "p").collect().foreach(r => got.add(r.toSeq))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet ==
        Set(Seq(1L, 10L, "x"), Seq(2L, 20L, "x"), Seq(3L, 30L, "y")))
    } finally {
      server.tableConfig = Map.empty
      server.changeFeed = Map.empty
      server.tables -= "cm_stream"
    }
  }
}

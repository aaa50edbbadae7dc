package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer

/** Deletion-vector APPLICATION: Z85 + portable-roaring codec
  * round-trips, and end-to-end reads where a DV-bearing shared table
  * returns exactly the SURVIVING rows — the capability the reference
  * client lacks entirely (it forces `responseformat=parquet` and
  * would silently return deleted rows). */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var tmp: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    tmp = Files.createTempDirectory("graft-dv")
  }
  override def afterAll(): Unit = server.stop()

  test("Z85 round-trips arbitrary byte payloads incl. non-multiple-of-4") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 3, 4, 5, 16, 171)) {
      val bytes = Array.fill(n)(rnd.nextInt().toByte)
      val enc = DeletionVectors.z85Encode(bytes)
      assert(enc.length % 5 == 0)
      assert(DeletionVectors.z85Decode(enc, n).toSeq == bytes.toSeq)
    }
  }

  test("roaring serialize/deserialize round-trips every container kind") {
    val cases = Seq(
      Seq.empty[Long],
      Seq(0L),
      Seq(1L, 3L, 5L, 70000L),                      // two array containers
      (0L until 5000L).map(_ * 2),                  // bitmap container (>4096)
      Seq(7L, (1L << 32) | 9L, (2L << 32) | 1L),    // multiple 32-bit bitmaps
      (0L until 300L) ++ Seq(1L << 33))
    cases.foreach { positions =>
      val data = DeletionVectors.serialize(positions)
      assert(DeletionVectors.deserialize(data).toSeq == positions,
        s"case of ${positions.size} positions")
    }
  }

  test("deserialize accepts the run-container flavor (cookie 12347)") {
    // hand-built: 1 bitmap, cookie 12347 with 1 container flagged as a
    // run container holding runs [5..8] and [100..100]
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def i32(v: Int) = out.writeInt(Integer.reverseBytes(v))
    def i16(v: Int) = out.writeShort(java.lang.Short.reverseBytes(v.toShort).toInt)
    def i64(v: Long) = out.writeLong(java.lang.Long.reverseBytes(v))
    i32(1681511377); i64(1L)                 // magic + one bitmap
    i32(0)                                   // bitmap key (high-32 = 0)
    i32((0 << 16) | 12347)                   // cookie: (n-1)<<16 | 12347
    out.writeByte(1)                         // run flag bitset: container 0
    i16(0); i16(4)                           // key 0, cardinality-1 = 4
    // < NO_OFFSET_THRESHOLD containers → no offset header
    i16(2)                                   // two runs
    i16(5); i16(3)                           // 5..8
    i16(100); i16(0)                         // 100
    out.flush()
    assert(DeletionVectors.deserialize(bos.toByteArray).toSeq ==
      Seq(5L, 6L, 7L, 8L, 100L))
  }

  test("portable-format conformance: keyed entries, empty bitmaps skipped") {
    // Hand-authored byte-for-byte per the PUBLIC Delta protocol's
    // RoaringBitmapArray portable format (the layout delta-spark's
    // writer produces): magic, int64 count = ARRAY length (max key+1,
    // empty slots included), then per NON-EMPTY bitmap an int32 LE
    // key followed by a standard 32-bit roaring bitmap. Keys 0 and 2
    // present, key 1 EMPTY and absent from the wire — a dense
    // index-ordinal decoder (no keys) cannot parse this fixture: it
    // would read key bytes as a roaring cookie and fail.
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def i32(v: Int) = out.writeInt(Integer.reverseBytes(v))
    def i16(v: Int) = out.writeShort(java.lang.Short.reverseBytes(v.toShort).toInt)
    def i64(v: Long) = out.writeLong(java.lang.Long.reverseBytes(v))
    i32(1681511377); i64(3L)        // magic + array length 3 (keys 0..2)
    i32(0)                          // --- bitmap key 0 ---
    i32(12346)                      // cookie SERIAL_COOKIE_NO_RUNCONTAINER
    i32(1)                          // one container
    i16(0); i16(2)                  // container key 0, cardinality-1 = 2
    i32(16)                         // offset header: 4+4+4+4 bytes in
    i16(1); i16(2); i16(3)          // values {1,2,3}
    i32(2)                          // --- bitmap key 2 (key 1 skipped) ---
    i32(12346)
    i32(1)
    i16(0); i16(0)                  // container key 0, cardinality 1
    i32(16)
    i16(7)                          // value {7}
    out.flush()
    val expect = Seq(1L, 2L, 3L, (2L << 32) | 7L)
    assert(DeletionVectors.deserialize(bos.toByteArray).toSeq == expect)
    // and our own serializer emits this exact keyed layout for the
    // same positions (count = max key + 1, no entry for empty key 1)
    assert(DeletionVectors.serialize(expect).toSeq == bos.toByteArray.toSeq)
  }

  /** Write df as ONE parquet file; return (url, size, rows-in-file-order). */
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

  test("inline DV: shared read returns exactly the surviving rows") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"row$i")).toDF("k", "v")
    val (url, size) = writeOne(df, "dv_inline")
    // delete physical rows 3, 7, 8, 97 (file order = k order: one
    // file, written from one in-order partition)
    val deleted = Seq(3L, 7L, 8L, 97L)
    val data = DeletionVectors.serialize(deleted)
    val desc =
      s"""{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(data)}","sizeInBytes":${data.length},"cardinality":${deleted.size}}"""
    server.tables += ("dv_inline" -> ((df.schema.json, Seq.empty[String],
      Seq((url, size, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dv_inline")
    server.fileDeletionVectors = Map(url -> desc)
    try {
      val got = sharedRead("dv_inline").select("k").as[Long].collect().sorted
      assert(got.toSeq == (0L until 100L).filterNot(deleted.contains))
      // filters still work (re-applied above the unfiltered DV read)
      assert(sharedRead("dv_inline").filter(col("k") < 10).count() == 7)
      // and a stats-only COUNT(*) must NOT be answered from numRecords
      // (which counts deleted rows): force stats on and expect 96
      server.fileStats = Map(url -> """{"numRecords":100}""")
      assert(sharedRead("dv_inline").count() == 96)
    } finally {
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.fileStats = Map.empty
      server.tables -= "dv_inline"
    }
  }

  test("URL-addressed DV ('p'): framed DV file fetched and applied") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, i * 10)).toDF("k", "x")
    val (url, size) = writeOne(df, "dv_url")
    val deleted = Seq(0L, 49L)
    val data = DeletionVectors.serialize(deleted)
    // on-disk framing: [version 1][pad][size int32 BE][data][crc32 BE]
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(1)
    bos.write(Array[Byte](0, 0, 0)) // arbitrary leading padding
    val offset = 4
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(data.length)
    out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.writeInt(crc.getValue.toInt)
    out.flush()
    val dvPath = tmp.resolve("dv_url.bin")
    Files.write(dvPath, bos.toByteArray)
    server.httpFiles += ("dv_url.bin" -> dvPath)
    val dvUrl = s"http://127.0.0.1:${server.port}/files/dv_url.bin"
    val desc =
      s"""{"storageType":"p","pathOrInlineDv":"$dvUrl","offset":$offset,"sizeInBytes":${data.length},"cardinality":2}"""
    server.tables += ("dv_url" -> ((df.schema.json, Seq.empty[String],
      Seq((url, size, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dv_url")
    server.fileDeletionVectors = Map(url -> desc)
    try {
      val got = sharedRead("dv_url").select("k").as[Long].collect().sorted
      assert(got.toSeq == (1L until 49L))
    } finally {
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.tables -= "dv_url"
    }
  }

  test("URL-addressed DV: bounded Range GETs only, a 503 is retried") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, i * 10)).toDF("k", "x")
    val (url, size) = writeOne(df, "dv_url")
    val data = DeletionVectors.serialize(Seq(0L, 49L))
    // [version 1][pad][size int32 BE][data][crc32 BE], offset 4
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(Array[Byte](1, 0, 0, 0))
    out.writeInt(data.length)
    out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.writeInt(crc.getValue.toInt)
    out.flush()
    val dvPath = tmp.resolve("dv_url.bin")
    Files.write(dvPath, bos.toByteArray)
    server.httpFiles += ("dv_url.bin" -> dvPath)
    server.tables += ("dv_url" -> ((df.schema.json, Seq.empty[String],
      Seq((url, size, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dv_url")
    server.fileDeletionVectors = Map(url ->
      (s"""{"storageType":"p","pathOrInlineDv":"http://127.0.0.1:${server.port}""" +
        s"""/files/dv_url.bin","offset":4,"sizeInBytes":${data.length},"cardinality":2}"""))
    val before = server.filesLog.size
    server.filesFaults = Map("dv_url.bin" -> List(503))
    try {
      val got = sharedRead("dv_url").select("k").as[Long].collect().sorted
      assert(got.toSeq == (1L until 49L))
      val dvGets = server.filesLog.drop(before).filter(_.name == "dv_url.bin")
      assert(dvGets.map(_.status) == Seq(503, 206), dvGets)
      assert(dvGets.forall(_.range.exists("bytes=\\d+-\\d+".r.matches)), dvGets)
    } finally {
      server.filesFaults = Map.empty
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.tables -= "dv_url"
    }
  }

  test("URL-addressed DV at a large offset never requests bytes [1, offset)") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, i * 10)).toDF("k", "x")
    val (url, size) = writeOne(df, "dv_far")
    val deleted = Seq(3L, 30L)
    val data = DeletionVectors.serialize(deleted)
    // [version 1][1 MiB of other descriptors][size int32 BE][data][crc32 BE]
    val offset = 1 << 20
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(1)
    out.write(new Array[Byte](offset - 1))
    out.writeInt(data.length)
    out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(data)
    out.writeInt(crc.getValue.toInt)
    out.flush()
    val dvPath = tmp.resolve("dv_far.bin")
    Files.write(dvPath, bos.toByteArray)
    server.httpFiles += ("dv_far.bin" -> dvPath)
    server.tables += ("dv_far" -> ((df.schema.json, Seq.empty[String],
      Seq((url, size, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dv_far")
    server.fileDeletionVectors = Map(url ->
      (s"""{"storageType":"p","pathOrInlineDv":"http://127.0.0.1:${server.port}""" +
        s"""/files/dv_far.bin","offset":$offset,"sizeInBytes":${data.length},"cardinality":2}"""))
    val before = server.filesLog.size
    try {
      val got = sharedRead("dv_far").select("k").as[Long].collect().sorted
      assert(got.toSeq == (0L until 50L).filterNot(deleted.contains))
      val dvGets = server.filesLog.drop(before).filter(_.name == "dv_far.bin")
      val spans = dvGets.map(r => StubSharingServer.byteSpan(r.range.get,
        Files.size(dvPath)).get)
      assert(spans.nonEmpty && spans.forall { case (from, to) =>
        to == 0L || from >= offset }, dvGets)
      assert(dvGets.map(_.bytes).sum == 1 + 4 + data.length, dvGets)
    } finally {
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.tables -= "dv_far"
    }
  }

  test("mixed DV table: the DV file reads unfiltered, the other prunes row groups") {
    import spark.implicits._
    // two files of 1,000 rows each, sorted by k, in row groups of about
    // 100 rows: A (k 0..999) carries a DV, B (k 1000..1999) does not
    def writeGrouped(from: Long, name: String): (String, Long) = {
      val dir = tmp.resolve(name)
      (from until from + 1000L).map(i => (i, s"row$i")).toDF("k", "v")
        .coalesce(1).write.option("parquet.block.size", "1024")
        .mode("overwrite").parquet(dir.toString)
      var p: java.nio.file.Path = null
      graft.sources.testing.DirWalk.eachChild(dir)(f =>
        if (f.getFileName.toString.endsWith(".parquet")) p = f)
      (p.toUri.toString, Files.size(p))
    }
    val (urlA, sizeA) = writeGrouped(0L, "dv_mixed_a")
    val (urlB, sizeB) = writeGrouped(1000L, "dv_mixed_b")
    val deleted = Seq(5L, 950L, 951L, 999L)
    val data = DeletionVectors.serialize(deleted)
    server.tables += ("dv_mixed" -> ((
      StructType.fromDDL("k BIGINT, v STRING").json, Seq.empty[String],
      Seq((urlA, sizeA, Map.empty[String, String]),
        (urlB, sizeB, Map.empty[String, String])))))
    server.deltaFormatTables = Set("dv_mixed")
    server.fileDeletionVectors = Map(urlA ->
      s"""{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(data)}","sizeInBytes":${data.length},"cardinality":${deleted.size}}""")
    def query = sharedRead("dv_mixed")
      .filter(col("k") >= 950 && col("k") < 1100).select("k")
    def scans(df: org.apache.spark.sql.DataFrame) =
      PlanWalk.collect(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    def parquetReads(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      scans(df).map(_.readerFactory
        .asInstanceOf[graft.sources.v2.DeltaSharePartitionReaderFactory]
        .reads.size)
    try {
      val df = query
      val got = df.collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (950L until 1100L).filterNot(deleted.contains))
      // B's row groups outside [950, 1100) were pruned: the scan emits
      // fewer rows than A's 996 survivors plus all of B
      val scanned = scans(df).map(_.metrics("numOutputRows").value).sum
      assert(scanned > 0 && scanned < 996 + 1000,
        s"no row group of B was pruned: $scanned")
      // one read for B (filtered), a filter-free one for A's DV
      assert(parquetReads(df) == Seq(2))
      // without any DV the same query builds a single read
      server.fileDeletionVectors = Map.empty
      assert(parquetReads(query) == Seq(1))
    } finally {
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.tables -= "dv_mixed"
    }
  }

  test("a DV file and an offset-boundary file inside one packed " +
      "partition: exact survivors and exact skip") {
    import spark.implicits._
    // eight 100-row files, k = 100 i until 100 (i + 1), each written in
    // k order; offset 150 skips file 0 whole and the first 50 rows of
    // file 1, file 2 carries a deletion vector, and the seven planned
    // files pack in pairs on four cores: [1, 2], [3, 4], [5, 6], [7]
    val files = (0 until 8).map { i =>
      writeOne((100L * i until 100L * (i + 1)).map(k => (k, s"row$k"))
        .toDF("k", "v"), s"dv_packed_$i")
    }
    val deleted = Seq(3L, 7L, 8L, 97L)
    val data = DeletionVectors.serialize(deleted)
    val dvUrl = files(2)._1
    server.tables += ("dv_packed" -> ((
      StructType.fromDDL("k BIGINT, v STRING").json, Seq.empty[String],
      files.map { case (u, n) => (u, n, Map.empty[String, String]) })))
    server.deltaFormatTables = Set("dv_packed")
    server.fileDeletionVectors = Map(dvUrl ->
      s"""{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(data)}","sizeInBytes":${data.length},"cardinality":${deleted.size}}""")
    server.fileStats = files.map(_._1 -> """{"numRecords":100}""").toMap
    try {
      val df = sharedRead("dv_packed").offset(150).select("k")
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("pushedOffset=150"), plan)
      val parts = PlanWalk.collect(plan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions
      }.flatten.map(_.asInstanceOf[v2.DeltaShareInputPartition].files)
      assert(parts.map(_.size) == Seq(2, 2, 2, 1), parts)
      assert(parts.head.map(_.rowSkip) == Seq(50L, 0L) &&
        parts.head.map(_.dv.isDefined) == Seq(false, true), parts.head)
      val got = df.as[Long].collect().sorted.toSeq
      val expect = (150L until 800L)
        .filterNot(k => deleted.map(_ + 200L).contains(k))
      assert(got == expect)
    } finally {
      server.deltaFormatTables = Set.empty
      server.fileDeletionVectors = Map.empty
      server.fileStats = Map.empty
      server.tables -= "dv_packed"
    }
  }

  test("descriptor positions: inline decode equals the authored set") {
    val positions = Seq(2L, 4L, 4096L, 70000L)
    val data = DeletionVectors.serialize(positions)
    val desc = DeletionVectors.Descriptor("i",
      DeletionVectors.z85Encode(data), 0L, data.length.toLong,
      positions.size.toLong)
    assert(DeletionVectors.positions(desc).toSeq == positions)
    assert(desc.supported)
    assert(!DeletionVectors.Descriptor("u", "x", 0, 0, 0).supported)
  }
}

package perfbench

import java.nio.file.Path

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.{DeltaShare, DeltaSharingProfile}
import graft.sources.testing.StubSharingServer

/** One query of a workload's mix. `build` makes the DataFrame (the
  * timed interval starts at this call); `expected`, for share queries,
  * is the same query over a direct local-parquet read of the fixture
  * files. */
final case class Instance(name: String, build: () => DataFrame,
    expected: Option[() => DataFrame] = None, readsTable: Boolean = false,
    statsOnly: Boolean = false)

/** A workload: its queries, the order the timed loop walks them, and
  * the servers it owns. */
trait Workload {
  def instances: Seq[Instance]
  /** The next pass of the timed loop: every instance once. */
  def pass(rng: Random): Seq[Instance]
  def objects: Option[ObjectServer] = None
  def proxy: Option[RecordingProxy] = None
  def manifest: Manifest = Manifest.empty
  def fixtureFiles: Int = 0
  /** Route the sharing client through the recording proxy (traced
    * windows) or straight to the sharing server. */
  def useProxy(on: Boolean): Unit = ()
  /** Drop state that only the correctness checks needed. */
  def afterChecks(): Unit = ()
  def stop(): Unit = ()
}

object Workloads {
  val Token = "perfbench-token"
  /** First-byte delay of the object server, in ms: a stand-in for an
    * object store's time to first byte. */
  val FirstByteDelayMs = 5L

  val LineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
}

/** `share_scan` and `share_manyfiles`: the table behind a Delta Sharing
  * server, its files behind presigned-style URLs on an
  * [[ObjectServer]], read through `format("deltashare")`. */
final class ShareWorkload(spark: SparkSession, tracer: Tracer, data: Path,
    table: String, seed: Long) extends Workload {
  import Workloads._

  override val manifest: Manifest = Manifest.read(data.resolve("manifest.json"))
  private val files = manifest.tables(table).files
  private val partCols = manifest.tables(table).partitionColumns
  override val fixtureFiles: Int = files.size
  private val layoutDir = data.resolve(files.head.path).getParent
    .resolve(if (partCols.isEmpty) "." else "..").normalize()

  override val objects: Option[ObjectServer] =
    Some(new ObjectServer(data, Token, FirstByteDelayMs).start())
  private val obj = objects.get
  private val stub = new StubSharingServer(expectedToken = Token, pageSize = 2).start()
  override val proxy: Option[RecordingProxy] =
    Some(new RecordingProxy(s"http://127.0.0.1:${stub.port}").start())
  @volatile private var endpoint = stub.endpoint
  override def useProxy(on: Boolean): Unit =
    endpoint = if (on) proxy.get.endpoint else stub.endpoint

  // the logical table schema: the file schema with partition columns
  // put back in their lineitem position
  private val schema: StructType = {
    val fileSchema = spark.read.parquet(data.resolve(files.head.path).toString).schema
    StructType(LineitemCols.map(c => fileSchema.find(_.name == c)
      .getOrElse(StructField(c, StringType))))
  }

  stub.shares = (0 until 5).map(i => s"share$i")
  stub.tables = Map(table -> ((schema.json, partCols,
    files.map(f => (obj.url(f.path), f.size, f.partitionValues)))))
  stub.fileStats = files.map(f => obj.url(f.path) -> f.stats).toMap

  /** versions 1-16 add sixteen files spread over the table, versions
    * 17-24 remove the first eight of them */
  private val feedFiles = files.indices.by(math.max(1, files.size / 16)).take(16).map(files)
  private val feed: Seq[(Long, String, Manifest.File)] =
    feedFiles.zipWithIndex.map { case (f, i) => (i + 1L, "add", f) } ++
      feedFiles.take(8).zipWithIndex.map { case (f, i) => (17L + i, "remove", f) }
  stub.changeFeed = Map(table -> feed.map { case (v, a, f) =>
    StubSharingServer.ChangeEntry(v, 1700000000000L + v * 1000, a, obj.url(f.path),
      f.size, f.partitionValues) })
  stub.tableVersion = 24

  private def shared(): DataFrame = tracer.span("load", "sources_v2") {
    spark.read.format("deltashare")
      .option("endpoint", endpoint).option("bearerToken", Token)
      .load(s"share0.schema1.$table")
  }

  /** The fixture files read directly as local parquet, cached for the
    * checks. A small per-file open cost while it is read packs the
    * thousands of small files into a few tasks. */
  private var localCache: Option[DataFrame] = None
  private def local(): DataFrame = synchronized {
    localCache.getOrElse {
      val key = "spark.sql.files.openCostInBytes"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "16384")
      val df = try {
        val d = spark.read.parquet(layoutDir.toString)
          .select(LineitemCols.map(col): _*).cache()
        d.count()
        d
      } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      localCache = Some(df)
      df
    }
  }
  override def afterChecks(): Unit = synchronized {
    localCache.foreach(_.unpersist(blocking = true))
    localCache = None
  }

  private val keyRange: (Long, Long) = {
    val m = new ObjectMapper()
    val st = files.map(f => m.readTree(f.stats))
    (st.map(_.get("minValues").get("l_orderkey").asLong).min,
      st.map(_.get("maxValues").get("l_orderkey").asLong).max)
  }

  private val rng = new Random(seed)
  private def key(): Long = keyRange._1 + (rng.nextDouble() * (keyRange._2 - keyRange._1)).toLong

  private def q(name: String, f: DataFrame => DataFrame, statsOnly: Boolean = false) =
    Instance(name, () => f(shared()),
      Some(() => f(local())), readsTable = true, statsOnly = statsOnly)

  override val instances: Seq[Instance] =
    if (table == "lineitem_scan") scanMix else manyMix

  /** Wide scan, 2-column projection, filtered wide scan, filtered
    * 3-column projection, group-by. The columns are fixed and the seed
    * picks only predicate constants, so the bytes each shape reads are
    * the same for every seed. */
  private def scanMix: Seq[Instance] = {
    val qty = 10 + rng.nextInt(30)
    val disc = rng.nextInt(6) / 100.0
    val aggQty = 1 + rng.nextInt(25)
    Seq(
      q("wide", _.select(LineitemCols.map(col): _*)),
      q("project", _.select("l_partkey", "l_extendedprice")),
      q("filter", _.filter(col("l_quantity") < qty && col("l_discount") >= disc)
        .select(LineitemCols.map(col): _*)),
      q("filter_project", _.filter(col("l_quantity") >= qty)
        .select("l_orderkey", "l_quantity", "l_shipdate")),
      q("groupby", _.filter(col("l_quantity") >= aggQty)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(dec("l_quantity")).as("sum_qty"),
          sum(dec("l_extendedprice")).as("sum_price"), max("l_shipdate").as("last_ship"))))
  }

  private def dec(c: String): Column = col(c).cast("decimal(18,2)")

  /** Point and range predicates, partition filter, TopN, ORDER BY ...
    * OFFSET, stats-only aggregates (plain and grouped by the partition
    * column), the paginated catalog walk and a change-feed window.
    * Stats-only aggregates use integer columns: the connector answers
    * MIN/MAX from stats only for those. Range widths (scaled to the
    * key range) and limits are fixed; the seed picks keys, flag, aggregate column and version
    * window, so each shape touches about as many files for every seed. */
  private def manyMix: Seq[Instance] = {
    val out = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    val k = key()
    // 250 keys at sf0.1 (a few files per partition), scaled with the table
    val w = math.max(1L, (keyRange._2 - keyRange._1 + 1) / 600)
    val flag = Seq("A", "N", "R")(rng.nextInt(3))
    val n = 20
    val statCol = Seq("l_orderkey", "l_partkey", "l_suppkey")(rng.nextInt(3))
    val from = 1 + rng.nextInt(21)
    Seq(
      q("point", _.filter(col("l_orderkey") === k).select(out.map(col): _*)),
      q("range", _.filter(col("l_orderkey").between(k, k + w)).select(out.map(col): _*)),
      q("partition", _.filter(col("l_returnflag") === flag &&
        col("l_orderkey").between(k, k + 4 * w)).select(out.map(col): _*)),
      q("topn", _.select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber").limit(n)),
      q("offset", _.filter(col("l_orderkey").between(k, k + w))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber").offset(n).limit(n)),
      q("stats", _.agg(count(lit(1)).as("n"), min(statCol).as("lo"),
        max(statCol).as("hi")), statsOnly = true),
      q("stats_by_flag", _.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
        min(statCol).as("lo"), max(statCol).as("hi")), statsOnly = true),
      Instance("catalog", () => catalogWalk(), Some(() => catalogExpected())),
      Instance("changes", () => changes(from, from + 3),
        Some(() => changesExpected(from, from + 3)), readsTable = true))
  }

  private def catalogWalk(): DataFrame = {
    spark.conf.set(DeltaSharingProfile.EndpointConf, endpoint)
    spark.conf.set(DeltaSharingProfile.TokenConf, Token)
    val frames = for {
      sh <- DeltaShare.listShares(spark).select("name").collect().map(_.getString(0)).toSeq
      sc <- DeltaShare.listSchemas(spark, sh).select("name").collect().map(_.getString(0)).toSeq
    } yield DeltaShare.listTables(spark, sh, sc)
      .select(col("share").as("share_name"), col("schema").as("schema_name"),
        col("name").as("table_name"))
    frames.reduce(_ union _)
  }

  private def catalogExpected(): DataFrame = {
    import spark.implicits._
    stub.shares.map(s => (s, "schema1", table)).toDF("share_name", "schema_name", "table_name")
  }

  private val changeCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  private def changes(from: Long, to: Long): DataFrame = tracer.span("load", "sources_v2") {
    spark.read.format("deltashare")
      .option("endpoint", endpoint).option("bearerToken", Token)
      .option("readChangeFeed", "true")
      .option("startingVersion", from.toString).option("endingVersion", to.toString)
      .load(s"share0.schema1.$table")
  }.select((changeCols.map(col) :+ col("_change_type").as("change_type") :+
    col("_commit_version").as("commit_version")): _*)

  private def changesExpected(from: Long, to: Long): DataFrame =
    feed.filter { case (v, _, _) => v >= from && v <= to }.map { case (v, a, f) =>
      spark.read.option("basePath", layoutDir.toString).parquet(data.resolve(f.path).toString)
        .select(changeCols.map(col): _*)
        .withColumn("change_type", lit(if (a == "add") "insert" else "delete"))
        .withColumn("commit_version", lit(v))
    }.reduce(_ union _)

  /** One instance per query shape, in a fixed order: every seed runs
    * the same mix; the seed picks the parameters. */
  override def pass(r: Random): Seq[Instance] = instances

  override def stop(): Unit = {
    proxy.foreach(_.stop())
    stub.stop()
    obj.stop()
  }
}

/** `suite_sample`: named queries of `graft.SparkEntry.queries` over the
  * generated tables. Checked by writing each result once, for an
  * external comparison against the DuckDB oracle. */
final class SuiteWorkload(spark: SparkSession, tables: Path, names: Seq[String])
    extends Workload {
  private val fns = graft.SparkEntry.queries
  override val instances: Seq[Instance] = names.map { n =>
    Instance(n, () => fns(n)(spark, tables.toString))
  }
  /** Each pass walks every sampled query once, in a fresh seeded order. */
  override def pass(rng: Random): Seq[Instance] = rng.shuffle(instances)

  def writeResult(i: Instance, dir: Path): Unit =
    i.build().coalesce(1).write.mode("overwrite").parquet(dir.resolve(i.name).toString)
}

object SuiteWorkload {
  /** Every query of the suite except the `share_*` pack, whose
    * connector fixtures the share workloads replace. */
  def allNames: Seq[String] =
    graft.SparkEntry.queries.keys.filterNot(_.startsWith("share_")).toSeq.sorted
}

package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** User-facing Delta Sharing API — the Spark equivalent of the
  * reference's two SQL table functions plus its client-only methods
  * (SURVEY.md §2 O1-O7).
  *
  * Catalog listings are driver-side HTTP (result sets are small);
  * table reads go through the `deltashare` DSv2 connector so scans are
  * executor-parallel with full pushdown.
  */
object DeltaShare {

  private val shareSchema = StructType(Seq(
    StructField("name", StringType), StructField("id", StringType)))
  private val schemaSchema = StructType(Seq(
    StructField("name", StringType), StructField("share", StringType),
    StructField("id", StringType)))
  private val tableSchema = StructType(Seq(
    StructField("name", StringType), StructField("schema", StringType),
    StructField("share", StringType), StructField("id", StringType),
    StructField("shareId", StringType)))

  private def client(spark: SparkSession): DeltaSharingClient =
    new DeltaSharingClient(DeltaSharingProfile.resolve(_ => None, Some(spark)))

  /** `delta_share_list()` — all shares
    * (`duck_delta_share_extension.cpp:42-49`). */
  def listShares(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(client(spark).listShares().map(s =>
        Row(s.name, s.id.orNull)): _*), shareSchema)

  /** `delta_share_list(share)` — schemas of a share
    * (`duck_delta_share_extension.cpp:50-60`). */
  def listSchemas(spark: SparkSession, share: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(client(spark).listSchemas(share).map(s =>
        Row(s.name, s.share, s.id.orNull)): _*), schemaSchema)

  /** `delta_share_list(share, schema)` — tables of a schema
    * (`duck_delta_share_extension.cpp:61-74`). */
  def listTables(spark: SparkSession, share: String, schema: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(client(spark).listTables(share, schema).map(t =>
        Row(t.name, t.schema, t.share, t.id.orNull, t.shareId.orNull)): _*),
      tableSchema)

  /** Client-only in the reference (`delta_sharing_client.cpp:279-303`). */
  def listAllTables(spark: SparkSession, share: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(client(spark).listAllTables(share).map(t =>
        Row(t.name, t.schema, t.share, t.id.orNull, t.shareId.orNull)): _*),
      tableSchema)

  def getShare(spark: SparkSession, name: String): Share =
    client(spark).getShare(name)

  def tableVersion(spark: SparkSession, share: String, schema: String,
      table: String): Long =
    client(spark).queryTableVersion(share, schema, table)

  /** `delta_share_read(share, schema, table)` — the flagship scan
    * (`duck_delta_share_extension.cpp:495-629`), via the DSv2
    * connector: filters/columns/limit push down, partition columns are
    * real output columns, files scan in parallel. */
  def readTable(spark: SparkSession, share: String, schema: String,
      table: String): DataFrame =
    spark.read.format("deltashare")
      .option("share", share)
      .option("schema", schema)
      .option("table", table)
      .load()

  /** Change Data Feed read over `[startingVersion, endingVersion]`
    * (inclusive; `endingVersion` absent = table head): the protocol's
    * `…/changes` endpoint as a DataFrame with `_change_type`,
    * `_commit_version`, `_commit_timestamp` columns — what a daily
    * pipeline uses to process just the new data of a shared table
    * (feeding e.g. [[graft.operators.Dedup.minhashPairsAgainst]]). Absent
    * from the reference client entirely. */
  def readChanges(spark: SparkSession, share: String, schema: String,
      table: String, startingVersion: Long,
      endingVersion: Option[Long] = None): DataFrame = {
    val r = spark.read.format("deltashare")
      .option("share", share)
      .option("schema", schema)
      .option("table", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", startingVersion.toString)
    endingVersion.fold(r)(v => r.option("endingVersion", v.toString)).load()
  }

  /** [[readChanges]] with the protocol's timestamp addressing:
    * ISO-8601 bounds the server resolves to versions (starting →
    * earliest version committed at or after it; ending → latest at or
    * before). The natural daily-pipeline form — "changes since
    * yesterday's run" needs no version bookkeeping. */
  def readChangesByTimestamp(spark: SparkSession, share: String,
      schema: String, table: String, startingTimestamp: String,
      endingTimestamp: Option[String] = None): DataFrame = {
    val r = spark.read.format("deltashare")
      .option("share", share)
      .option("schema", schema)
      .option("table", table)
      .option("readChangeFeed", "true")
      .option("startingTimestamp", startingTimestamp)
    endingTimestamp.fold(r)(t => r.option("endingTimestamp", t)).load()
  }

  // ---- SQL table-function surface ----------------------------------
  // The reference's literal TVFs (`duck_delta_share_extension
  // .cpp:654-661`). Arguments must be string literals: the listing
  // happens at PLAN time (driver-side HTTP, small result set) exactly
  // like the reference's bind-time fetch; delta_share_read returns
  // the DSv2 relation, so predicates/pruning/limit written over the
  // TVF push down through the connector as usual.

  private def strLit(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): String = e match {
    case other if other.foldable &&
        other.dataType == org.apache.spark.sql.types.StringType =>
      String.valueOf(other.eval(null))
    case other => throw new IllegalArgumentException(
      s"$what must be a STRING LITERAL, got $other")
  }

  /** `delta_share_list([share[, schema]])` plan builder — arity
    * selects shares / schemas / tables, as in the reference. */
  private[graft] val listTvfBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => {
      val spark = SparkSession.active
      val df = exprs.map(strLit(_, "delta_share_list argument")) match {
        case Seq() => listShares(spark)
        case Seq(sh) => listSchemas(spark, sh)
        case Seq(sh, sc) => listTables(spark, sh, sc)
        case _ => throw new IllegalArgumentException(
          "delta_share_list accepts 0, 1, or 2 arguments")
      }
      df.queryExecution.logical
    }

  /** `delta_share_read('share','schema','table')` plan builder. */
  private[graft] val readTvfBuilder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => {
      if (exprs.size != 3) throw new IllegalArgumentException(
        "usage: delta_share_read('share_name', 'schema_name', 'table_name')")
      val args = exprs.map(strLit(_, "delta_share_read argument"))
      readTable(SparkSession.active, args(0), args(1), args(2))
        .queryExecution.logical
    }

  /** Register both TVFs into an ALREADY-RUNNING session (sessions
    * built with [[graft.plans.GraftExtensions]] have them from the
    * start). */
  def registerSql(spark: SparkSession): Unit = {
    org.apache.spark.sql.GraftBridge.registerTableFunction(spark,
      "delta_share_list", listTvfBuilder)
    org.apache.spark.sql.GraftBridge.registerTableFunction(spark,
      "delta_share_read", readTvfBuilder)
  }
}

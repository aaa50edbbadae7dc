package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources._

/** `spark.read.format("deltashare")` — DataSource-V2 connector for
  * Delta Sharing tables.
  *
  * Equivalent of the reference's `delta_share_read` table function
  * (`/root/reference/src/duck_delta_share_extension.cpp:495-629`), but
  * with the capabilities the reference lacks: column pruning, limit
  * pushdown, exact client-side partition pruning, partition columns
  * materialized in the output, and file-parallel scans (the
  * reference's file loop is serial, `:569-575`).
  *
  * Table addressing: `.option("share", s).option("schema", sc)
  * .option("table", t)` or `.load("share.schema.table")`. Endpoint and
  * token resolve from options (`endpoint`, `bearerToken`), then
  * session conf (`spark.deltaShare.*`), then env — same precedence
  * idea as the reference's settings/env fallback
  * (`delta_sharing_client.cpp:21-61`).
  */
class DeltaShareDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "deltashare"

  private var cachedMeta: Option[(TableAddress, TableMetadata)] = None

  private def metadataFor(options: CaseInsensitiveStringMap)
      : (TableAddress, TableMetadata) = synchronized {
    val addr = TableAddress.fromOptions(options)
    cachedMeta match {
      case Some((a, m)) if a == addr => (a, m)
      case _ =>
        val client = new DeltaSharingClient(addr.profile)
        // versionAsOf: ask for version-consistent metadata (servers
        // that ignore the param are caught by DeltaShareScan's /query
        // schema cross-check)
        val meta = client.queryTableMetadata(addr.share, addr.schema,
          addr.table, version = addr.versionAsOf,
          timestamp = addr.timestampAsOf)
        cachedMeta = Some((addr, meta))
        (addr, meta)
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (addr, meta) = metadataFor(options)
    val base = DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    if (addr.changes.isDefined)
      DeltaShareChangesScan.changesSchema(base,
        graft.sources.ColumnMapping.logicalPartitionColumns(meta))
    else base
  }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val (_, meta) = metadataFor(options)
    graft.sources.ColumnMapping.logicalPartitionColumns(meta)
      .map(Expressions.identity).toArray
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (addr, meta) = metadataFor(opts)
    new DeltaShareTable(addr, meta, schema)
  }
}

/** Fully-resolved table coordinates + connection profile. `changes`
  * set = the read is a Change Data Feed scan over that version range
  * instead of a snapshot scan. */
final case class TableAddress(
    share: String, schema: String, table: String,
    profile: DeltaSharingProfile,
    versionAsOf: Option[Long] = None,
    timestampAsOf: Option[String] = None,
    changes: Option[ChangesRange] = None)

/** Inclusive CDF range, version- OR timestamp-addressed (exactly one
  * of `startingVersion`/`startingTimestamp` set — protocol rule);
  * absent end bound = table head. Timestamps are ISO-8601 strings the
  * SERVER resolves to versions. */
final case class ChangesRange(
    startingVersion: Option[Long], endingVersion: Option[Long],
    startingTimestamp: Option[String] = None,
    endingTimestamp: Option[String] = None) {
  require(startingVersion.isDefined != startingTimestamp.isDefined,
    "exactly one of startingVersion/startingTimestamp must be set")

  /** One `/changes` GET with whichever addressing this range carries. */
  def fetch(client: graft.sources.DeltaSharingClient,
      share: String, schema: String,
      table: String): graft.sources.TableChanges = startingVersion match {
    case Some(v) => client.queryTableChanges(share, schema, table,
      startingVersion = v, endingVersion = endingVersion)
    case None => client.queryTableChangesByTimestamp(share, schema, table,
      startingTimestamp = startingTimestamp.get,
      endingTimestamp = endingTimestamp)
  }
}

object TableAddress {
  def fromOptions(options: CaseInsensitiveStringMap): TableAddress = {
    val (share, schema, table) =
      (Option(options.get("share")), Option(options.get("schema")),
        Option(options.get("table"))) match {
        case (Some(s), Some(sc), Some(t)) => (s, sc, t)
        case _ =>
          val path = Option(options.get("path")).getOrElse(
            throw new IllegalArgumentException(
              "specify share/schema/table options or load(\"share.schema.table\")"))
          path.split('.') match {
            case Array(s, sc, t) => (s, sc, t)
            case _ => throw new IllegalArgumentException(
              s"expected share.schema.table, got '$path'")
          }
      }
    val changes =
      if (options.getBoolean("readChangeFeed", false)) {
        val sv = Option(options.get("startingVersion")).map(_.toLong)
        val st = Option(options.get("startingTimestamp"))
        if (sv.isDefined == st.isDefined)
          throw new IllegalArgumentException("readChangeFeed requires " +
            "exactly one of startingVersion/startingTimestamp")
        Some(ChangesRange(sv,
          Option(options.get("endingVersion")).map(_.toLong),
          st, Option(options.get("endingTimestamp"))))
      } else None
    val profile = DeltaSharingProfile.resolve(k => Option(options.get(k)))
    val versionAsOf = Option(options.get("versionAsOf")).map(_.toLong)
    val timestampAsOf = Option(options.get("timestampAsOf"))
    if (versionAsOf.isDefined && timestampAsOf.isDefined)
      throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
    TableAddress(share, schema, table, profile,
      // time travel: the protocol's `version`/`timestamp` fields on
      // /query (dead plumbing in the reference,
      // delta_sharing_client.cpp:390-392); timestamp is ISO-8601,
      // resolved server-side to the last version at or before it
      versionAsOf = versionAsOf,
      timestampAsOf = timestampAsOf,
      changes = changes)
  }
}

/** DSv2 Table: schema from the server's `schemaString` (Spark
  * StructType JSON — `DataType.fromJson` supersedes the reference's
  * `ParseDeltaSchema`, keeping nested types; SURVEY.md §1.1),
  * partitioning from `partitionColumns`. */
class DeltaShareTable(addr: TableAddress, meta: TableMetadata,
    tableSchema: StructType) extends Table with SupportsRead {

  override def name(): String = s"${addr.share}.${addr.schema}.${addr.table}"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    graft.sources.ColumnMapping.logicalPartitionColumns(meta)
      .map(Expressions.identity).toArray
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def properties(): util.Map[String, String] =
    (meta.configuration + ("version" -> meta.version.toString)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val hadoopConf = new Configuration(spark.sessionState.newHadoopConf())
    PresignedUrlFileSystem.register(hadoopConf)
    if (addr.changes.isDefined) {
      // CDF read: fixed full-row scan (no pushdown surface — change
      // feeds are consumed whole by definition)
      val scan = new DeltaShareChangesScan(spark, addr, meta,
        // reconstruct the RAW table schema: tableSchema here is the
        // cdf-augmented one inferSchema returned
        StructType(tableSchema.fields.filterNot(f =>
          DeltaShareChangesScan.CdfColumns.contains(f.name))),
        hadoopConf)
      () => scan
    } else {
      new DeltaShareScanBuilder(spark, addr, meta, tableSchema, hadoopConf,
        // streaming-only options (ignored by batch scans): where the
        // stream starts and whether remove actions are skipped
        streamStartingVersion =
          Option(options.get("startingVersion")).map(_.toLong),
        streamIgnoreDeletes = options.getBoolean("ignoreDeletes", false),
        streamMaxVersionsPerTrigger =
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
    }
  }
}

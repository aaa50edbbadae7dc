package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources._

/** DSv2 catalog over a Delta Sharing server: shares are level-1
  * namespaces, schemas level-2, tables leaf identifiers — so plain SQL
  * works against shared data:
  *
  * {{{
  * spark.conf: spark.sql.catalog.dshare = graft.sources.v2.DeltaShareCatalog
  *             spark.sql.catalog.dshare.endpoint = https://…
  *             spark.sql.catalog.dshare.bearerToken = …
  *             (or spark.sql.catalog.dshare.profile = /path/to/x.share)
  * SELECT * FROM dshare.share1.schema1.lineitem
  * SHOW NAMESPACES IN dshare          -- = delta_share_list()
  * SHOW TABLES IN dshare.share1.schema1
  * }}}
  *
  * This is the Spark-native shape of the reference's catalog surface
  * (`delta_share_list` arities, `duck_delta_share_extension.cpp:29-83`)
  * — discovery composes with the engine's catalog API instead of
  * being a table function. Read-only by design (Delta Sharing has no
  * write path).
  */
class DeltaShareCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var profile: DeltaSharingProfile = _
  private lazy val client = new DeltaSharingClient(profile)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    profile = DeltaSharingProfile.resolve(k => Option(options.get(k)))
  }

  override def name(): String = catalogName

  // ---- namespaces (shares / schemas) -------------------------------

  override def listNamespaces(): Array[Array[String]] =
    client.listShares().map(s => Array(s.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    namespace match {
      case Array() => listNamespaces()
      case Array(share) =>
        client.listSchemas(share).map(sc => Array(share, sc.name)).toArray
      case Array(_, _) => Array.empty
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace match {
      case Array(share) =>
        try { client.getShare(share); true }
        catch { case _: DeltaSharingException => false }
      case Array(share, schema) =>
        try client.listSchemas(share).exists(_.name == schema)
        catch { case _: DeltaSharingException => false }
      case _ => false
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly()
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly()

  // ---- tables ------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespace match {
      case Array(share, schema) =>
        client.listTables(share, schema)
          .map(t => Identifier.of(namespace, t.name)).toArray
      case Array(share) =>
        client.listAllTables(share)
          .map(t => Identifier.of(Array(share, t.schema), t.name)).toArray
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  override def loadTable(ident: Identifier): Table = ident.namespace() match {
    case Array(share, schema) =>
      val meta =
        try client.queryTableMetadata(share, schema, ident.name())
        catch {
          case e: DeltaSharingException if e.status == 404 =>
            throw new NoSuchTableException(ident)
        }
      val addr = TableAddress(share, schema, ident.name(), profile)
      new DeltaShareTable(addr, meta,
        DataType.fromJson(meta.schemaString).asInstanceOf[StructType])
    case _ => throw new NoSuchTableException(ident)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly()
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly()
  override def dropTable(ident: Identifier): Boolean = readOnly()
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly()

  private def readOnly(): Nothing =
    throw new UnsupportedOperationException(
      "Delta Sharing catalogs are read-only")
}

package graft.sources

import org.apache.spark.sql.types._

/** Column-mapping support per the PUBLIC Delta protocol (Column
  * Mapping, `PROTOCOL.md`): when `delta.columnMapping.mode` is `name`
  * or `id`, the table's LOGICAL schema (what users query) differs
  * from the PHYSICAL column names stored in the parquet files — each
  * `StructField`'s metadata carries `delta.columnMapping.physicalName`
  * (a stable `col-<uuid>` surviving renames) and
  * `delta.columnMapping.id`. A reader must expose logical names
  * upward, read parquet by physical name, and translate the
  * physical-keyed side channels (add-action `partitionValues`, stats
  * `minValues`/`maxValues`/`nullCount`) back to logical.
  *
  * Division of labor here:
  *  - the CLIENT remaps `partitionValues` keys and parsed stats keys
  *    to logical right after parsing a `/query` response
  *    ([[remapFiles]]), and the `partitionValues` keys of a `/changes`
  *    response's actions ([[remapChanges]]), so the whole
  *    scan/pruning/stats stack stays logical-only;
  *  - the one parquet read of the batch, change-feed and streaming
  *    scans (`ParquetRead.build`) renames the schemas it hands Spark's
  *    parquet reader to physical ([[toPhysical]] — a pure positional
  *    rename, recursive through nested structs/arrays/maps, driven by
  *    the TABLE schema's metadata so pruned subtrees keep their
  *    mapping); `InternalRow`s are positional, so logical names
  *    re-attach for free above the reader.
  *
  * Both `name` and `id` modes read correctly through physical-NAME
  * matching: column-mapping writers store the physical name in the
  * parquet footer in either mode (ids are additionally stamped as
  * parquet field ids). An unknown future mode refuses loudly rather
  * than misreading. */
object ColumnMapping {

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  /** The table's mapping mode, when column mapping is active. Unknown
    * modes throw: reading physical files under semantics this client
    * does not know would silently mis-column the data. */
  def mode(meta: TableMetadata): Option[String] =
    meta.configuration.get("delta.columnMapping.mode") match {
      case None | Some("none") => None
      case Some(m @ ("name" | "id")) => Some(m)
      case Some(other) =>
        throw new DeltaSharingException(0,
          s"unsupported delta.columnMapping.mode '$other'; this client " +
            "reads modes none/name/id")
    }

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Rename a REQUESTED (possibly pruned) schema to physical names,
    * taking the mapping metadata from the full table schema so that
    * nested pruning cannot lose it. */
  def toPhysical(requested: StructType, table: StructType): StructType =
    rename(requested, table).asInstanceOf[StructType]

  private def rename(req: DataType, tbl: DataType): DataType = (req, tbl) match {
    case (rs: StructType, ts: StructType) =>
      StructType(rs.fields.map { rf =>
        ts.fields.find(_.name == rf.name) match {
          case Some(tf) => StructField(physicalName(tf),
            rename(rf.dataType, tf.dataType), rf.nullable, tf.metadata)
          case None => rf
        }
      })
    case (ArrayType(re, n), ArrayType(te, _)) => ArrayType(rename(re, te), n)
    case (MapType(rk, rv, n), MapType(tk, tv, _)) =>
      MapType(rename(rk, tk), rename(rv, tv), n)
    case _ => req
  }

  /** physical → logical for TOP-LEVEL columns (the only level that
    * appears in partitionValues and stats keys). */
  def physicalToLogical(table: StructType): Map[String, String] =
    table.fields.map(f => physicalName(f) -> f.name).toMap

  /** physical → logical for top-level names (unknown names kept) when
    * column mapping is active; None when it is off. */
  private def logicalName(meta: TableMetadata): Option[String => String] =
    mode(meta).map { _ =>
      val p2l = physicalToLogical(
        DataType.fromJson(meta.schemaString).asInstanceOf[StructType])
      k => p2l.getOrElse(k, k)
    }

  /** Remap a `/query` response's physical-keyed side channels
    * (partitionValues keys, parsed stats minValues/maxValues/nullCount
    * keys) to logical names. No-op when column mapping is off. */
  def remapFiles(meta: TableMetadata, files: Seq[FileAction]): Seq[FileAction] =
    logicalName(meta).fold(files) { l =>
      def logical[V](m: Map[String, V]): Map[String, V] =
        m.map { case (k, v) => l(k) -> v }
      files.map { f =>
        f.copy(
          partitionValues = logical(f.partitionValues),
          stats = f.stats.map(st => st.copy(
            minValues = logical(st.minValues),
            maxValues = logical(st.maxValues),
            nullCount = logical(st.nullCount))))
      }
    }

  /** Remap a `/changes` response's `partitionValues` keys to logical
    * names. No-op when column mapping is off. */
  def remapChanges(meta: TableMetadata,
      actions: Seq[ChangeAction]): Seq[ChangeAction] =
    logicalName(meta).fold(actions)(l => actions.map(a => a.copy(
      partitionValues = a.partitionValues.map { case (k, v) => l(k) -> v })))

  /** Logical-name view of `partitionColumns` — Delta stores logical
    * names there, but remapping is harmless when a writer stored
    * physical ones. */
  def logicalPartitionColumns(meta: TableMetadata): Seq[String] =
    logicalName(meta).fold(meta.partitionColumns)(meta.partitionColumns.map)
}

package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

import graft.sources._

/** Table-version offset: `version` = highest commit already consumed
  * (a batch covers `(start.version, end.version]`). */
final case class DeltaShareVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** `spark.readStream.format("deltashare")` — incremental micro-batch
  * source over a shared table, built on the `/changes` endpoint: each
  * trigger polls the table head version (HEAD, one cheap request) and
  * plans the files added in `(lastConsumed, head]` as one batch.
  * This is what turns the incremental dedup operators
  * ([[graft.operators.Dedup.minhashPairsAgainst]],
  * [[graft.operators.Similarity.lshCosinePairsAgainst]]) into a real
  * daily pipeline: new table commits stream in, the standing index is
  * only probed — nothing re-lists or re-reads the whole table.
  * (The reference client has no streaming surface at all.)
  *
  * Semantics: append-only. A `remove` action fails the stream unless
  * `.option("ignoreDeletes", "true")`; `cdf` actions (row-level
  * updates) are not streamable as plain rows and always fail.
  * `startingVersion` replays history from that commit; absent, the
  * stream starts at the CURRENT head and emits only future commits.
  *
  * Scale: per batch, one HEAD + one `/changes` GET on the driver;
  * files packed and read executor-parallel like the batch scan's,
  * through the same presigned-URL id-indirection/refresh path. Offsets
  * are plain table versions, so checkpoint/resume is exact.
  */
class DeltaShareMicroBatchStream(
    spark: SparkSession,
    addr: TableAddress,
    meta: TableMetadata,
    dataSchema: StructType,
    requiredDataSchema: StructType,
    requiredPartitionSchema: StructType,
    hadoopConf: Configuration,
    startingVersion: Option[Long],
    ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long]) extends MicroBatchStream
    with SupportsAdmissionControl {

  private val client = new DeltaSharingClient(addr.profile)

  /** Version consumed "before the stream started": startingVersion-1
    * when replaying history, else the head at stream creation. */
  private lazy val initialVersion: Long =
    startingVersion.map(_ - 1).getOrElse(
      client.queryTableVersion(addr.share, addr.schema, addr.table))

  override def initialOffset(): Offset =
    DeltaShareVersionOffset(initialVersion)

  private def headVersion(): Long = math.max(initialVersion,
    client.queryTableVersion(addr.share, addr.schema, addr.table))

  override def latestOffset(): Offset =
    DeltaShareVersionOffset(headVersion())

  // ---- SupportsAdmissionControl -----------------------------------
  //
  // Rate limiting at version granularity: `maxVersionsPerTrigger`
  // caps how many commits one micro-batch consumes, so a stream
  // started with `startingVersion` far in the past backfills in
  // bounded batches instead of one giant catch-up batch (bounded
  // executor memory + steady checkpoint progress — the property that
  // makes replay restartable). Offsets stay plain versions, so the
  // cap never splits a commit: exactly-once is preserved.

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val from = startOffset.asInstanceOf[DeltaShareVersionOffset].version
    val head = headVersion()
    DeltaShareVersionOffset(maxVersionsPerTrigger match {
      case Some(n) if n > 0 => math.min(head, from + n)
      case _ => head
    })
  }

  /** The true head, for progress reporting (how far behind the capped
    * batches are). */
  override def reportLatestOffset(): Offset =
    DeltaShareVersionOffset(headVersion())

  override def deserializeOffset(json: String): Offset =
    DeltaShareVersionOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DeltaShareVersionOffset].version
    val to = end.asInstanceOf[DeltaShareVersionOffset].version
    if (to <= from) return Array.empty
    val actions = client.queryTableChanges(addr.share, addr.schema,
      addr.table, startingVersion = from + 1, endingVersion = Some(to))
      .actions
    DeltaShareInputPartition.pack(spark, actions.flatMap {
      case a if a.changeType == "add" =>
        Some(DeltaShareFile.of(a.url, a.id, a.size, a.partitionValues))
      case a if a.changeType == "remove" && ignoreDeletes => None
      case a =>
        throw new DeltaSharingException(0,
          s"streaming from ${addr.share}.${addr.schema}.${addr.table} hit " +
            s"a '${a.changeType}' action at version ${a.version}; this " +
            "source streams append-only tables (set ignoreDeletes=true " +
            "to skip removes)")
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DeltaSharePartitionReaderFactory(
      Vector(ParquetRead.build(spark, meta, dataSchema,
        requiredPartitionSchema, requiredDataSchema, Nil, hadoopConf)),
      PresignedUrlCache.RefreshSpec(
        addr.profile, addr.share, addr.schema, addr.table,
        jsonPredicateHints = None, predicateHints = Nil, limitHint = None,
        version = None,
        changesRange = Some(ChangesRange(Some(initialVersion + 1), None))))
}

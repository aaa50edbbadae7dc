package graft.sources.v2

import java.util.OptionalLong
import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.paths.SparkPath

import graft.sources._

/** ScanBuilder with the full pushdown surface the reference lacks or
  * implements unsoundly (SURVEY.md §2 O9-O13, §4):
  *
  *  - **Filters** (`SupportsPushDownFilters`): split typed — filters
  *    referencing only partition columns are evaluated exactly
  *    client-side against each `FileAction.partitionValues` (the
  *    reference trusts advisory server hints); data filters are
  *    translated to `jsonPredicateHints` for server file pruning AND
  *    handed to the parquet reader for row-group pruning, and are
  *    ALSO returned to Spark as residuals so correctness never
  *    depends on pushdown (the reference consumes all filters and
  *    silently drops untranslatable shapes,
  *    `duck_delta_share_extension.cpp:492`).
  *  - **Columns** (`SupportsPushDownRequiredColumns`): the reference
  *    always reads `SELECT *` (`:578`); here pruning reaches the
  *    parquet scan.
  *  - **Limit** (`SupportsPushDownLimit`): wired to the protocol's
  *    `limitHint` (a dead parameter in the reference,
  *    `delta_sharing_client.cpp:387-389`).
  */
class DeltaShareScanBuilder(
    spark: SparkSession,
    addr: TableAddress,
    meta: TableMetadata,
    tableSchema: StructType,
    hadoopConf: Configuration,
    streamStartingVersion: Option[Long] = None,
    streamIgnoreDeletes: Boolean = false,
    streamMaxVersionsPerTrigger: Option[Long] = None)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates {

  private val partitionCols =
    ColumnMapping.logicalPartitionColumns(meta).toSet
  private val partitionSchema = StructType(
    ColumnMapping.logicalPartitionColumns(meta)
      .flatMap(c => tableSchema.fields.find(_.name == c)))
  private val dataSchema = StructType(
    tableSchema.fields.filterNot(f => partitionCols.contains(f.name)))

  private var requiredSchema: StructType = tableSchema
  private var partitionFilters: Array[Filter] = Array.empty
  private var dataFilters: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  /** The stats-only answer of the last aggregation Spark pushed, when
    * it could be answered; [[build]] serves it instead of a scan. */
  private var aggResult: Option[(StructType, Seq[InternalRow])] = None

  // ---- the file listing ---------------------------------------------
  //
  // Every consumer of the file list (the offset and aggregate pushdowns
  // that need it at plan time and the scan [[build]] returns) reads it
  // from one [[ListingSnapshot]], resolved on first need: the session's
  // snapshot of the head version (one HEAD), or one private to this
  // builder for time travel or a HEAD without a version. A different
  // `limitHint` is simply a different request. Failures are not
  // memoized: a pushdown that refuses on a failed listing leaves the
  // scan to list again and surface the error.
  private lazy val snapshot = ListingSnapshot.of(spark, addr)
  /** This builder's mark on the listings it fetched (not the builder
    * itself, which a held listing would otherwise keep alive). */
  private val lister = new Object

  private def listing(req: ListingRequest): Seq[FileAction] = {
    val resp = snapshot.listing(req, owner = lister) {
      new DeltaSharingClient(addr.profile)
        .queryTable(addr.share, addr.schema, addr.table,
          jsonPredicateHints = req.jsonHints,
          predicateHints = req.legacyHints,
          limitHint = req.limitHint, version = addr.versionAsOf,
          timestamp = addr.timestampAsOf)
    }
    // Time travel: the plan's schema came from head-version metadata;
    // if the requested version's metaData line disagrees, reading its
    // files (or answering from their stats) with the newer schema
    // would silently mis-decode — fail loudly instead, on every lookup
    // (schema evolution across shared versions is out of scope, as in
    // the reference).
    if ((addr.versionAsOf.isDefined || addr.timestampAsOf.isDefined) &&
        resp.metadata.schemaString.nonEmpty &&
        meta.schemaString.nonEmpty &&
        resp.metadata.schemaString != meta.schemaString)
      throw new DeltaSharingException(0,
        s"table ${addr.share}.${addr.schema}.${addr.table} at " +
          addr.versionAsOf.map(v => s"version $v")
            .getOrElse(s"timestamp ${addr.timestampAsOf.get}") +
          " has a different schema than the " +
          "current version; reading across schema changes is not supported")
    resp.files
  }

  /** The `/query` request for the pushdown state so far: JSON hints
    * from every pushed filter, legacy SQL-string hints (older servers
    * prune on these only) from the partition filters, and the
    * protocol `limitHint` — with a pushed offset the server must keep
    * enough rows for the skip AND the limit above it. */
  private def request: ListingRequest = ListingRequest(
    PredicateHints.buildHints((partitionFilters ++ dataFilters).toSeq,
      StructType(dataSchema.fields ++ partitionSchema.fields))._1,
    PredicateHints.legacyHints(partitionFilters.toSeq, partitionSchema),
    limit.map(l => l.toLong + offset.getOrElse(0).toLong))

  /** The listed files that survive the pushed partition filters. */
  private def listedFiles: Seq[FileAction] =
    DeltaShareScan.prunePartitions(listing(request), partitionFilters.toSeq,
      partitionSchema)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pf, df) = filters.partition(
      PartitionValues.isPartitionOnly(_, partitionCols))
    partitionFilters = pf
    dataFilters = df
    // Partition filters whose shape the client-side evaluator decides
    // for every possible value (PartitionValues.isExact) are fully
    // applied by file pruning; every other partition filter is
    // returned as a residual so Spark re-evaluates it above the scan —
    // claiming an undecidable shape as applied would return wrong
    // rows. Data filters reach parquet row-group stats but are inexact
    // there, so they are always residuals.
    val inexactPartitionFilters =
      pf.filterNot(PartitionValues.isExact(_, partitionSchema))
    df ++ inexactPartitionFilters
  }

  override def pushedFilters(): Array[Filter] =
    partitionFilters ++ dataFilters

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  // ---- SupportsPushDownOffset ---------------------------------------
  //
  // COMPLETE pushdown (Spark removes the Offset operator), applied as
  // an EXACT row skip over the listed files in server order: files
  // wholly inside the offset never open (their partitions are not even
  // planned), the boundary file's reader drops its leading surviving
  // rows, everything after reads normally. Sound because OFFSET over
  // an unordered scan may skip ANY n rows — this implementation's
  // choice (listed-order prefix) is one valid execution. Accepted only
  // when the skip can be proven exact at plan time:
  //  - no residual data filters and client-exact partition filters
  //    (offset applies AFTER filters; a residual re-applied above the
  //    scan would make any pre-filter skip wrong);
  //  - no pushed topN (offset must apply after the sort Spark keeps)
  //    and no already-pushed limit (that pattern applies the limit
  //    BEFORE the offset);
  //  - every surviving file carries stats.numRecords, so whole-file
  //    skip counts are exact (DV cardinalities subtract exactly; the
  //    boundary file's partial skip runs AFTER the reader's DV
  //    anti-filter, so it drops surviving rows). Checked on the
  //    builder's listing, which the scan then reads as well.
  // A limit pushed AFTER the offset composes: the scan skips first,
  // Spark re-applies the limit above (limitHint covers offset+limit).
  private var offset: Option[Int] = None

  /** Every pushed filter is applied exactly by file pruning: no
    * residual data filter, and every partition filter client-exact.
    * The offset, TopN and aggregate pushdowns count or skip whole
    * files, which is sound only then. */
  private def filtersExact: Boolean =
    dataFilters.isEmpty &&
      partitionFilters.forall(PartitionValues.isExact(_, partitionSchema))

  override def pushOffset(n: Int): Boolean = {
    if (n <= 0) return false
    if (!filtersExact || topN.isDefined || limit.isDefined) return false
    val files =
      try listedFiles
      catch {
        case e: Exception =>
          // refusing is CORRECT (Spark keeps the Offset operator) but
          // must be observable: a flaky server silently degrading
          // every offset plan is otherwise undiagnosable
          DeltaShareScanBuilder.log.warn(
            s"offset pushdown refused for ${addr.share}.${addr.schema}" +
              s".${addr.table}: plan-time /query listing failed", e)
          return false
      }
    if (!files.forall(_.stats.exists(_.numRecords.isDefined))) {
      DeltaShareScanBuilder.log.info(
        s"offset pushdown refused for ${addr.share}.${addr.schema}" +
          s".${addr.table}: a surviving file carries no numRecords " +
          "stat, so the prefix skip cannot be proven exact")
      return false
    }
    offset = Some(n)
    true
  }

  // ---- SupportsPushDownTopN ----------------------------------------
  //
  // Sort + limit over the scan: PARTIAL pushdown (Spark keeps the
  // final sort+limit; `isPartiallyPushed` above covers both limit and
  // topN) used purely for FILE PRUNING from per-file min/max stats —
  // a file whose best possible row is provably outside the top-N
  // boundary of the first sort key never opens. Completes the
  // pushdown matrix (filters / columns / limit / aggregates / topN).
  // The protocol `limitHint` is NOT set for topN: limitHint tells the
  // server "any N rows satisfy this scan", which is true for a plain
  // limit but wrong for a sorted one.
  private var topN: Option[TopNSpec] = None

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    import org.apache.spark.sql.types._
    // sound only when every filter is fully applied by file pruning:
    // the prune guarantee counts rows of OTHER files, and a residual
    // filter could remove exactly those rows after the scan
    if (!filtersExact || offset.isDefined) return false
    if (orders.isEmpty || n <= 0) return false
    // only the FIRST sort key prunes — a strict bound on the primary
    // key is sound regardless of tie-breaking by later keys. Integral
    // and date DATA columns only: float/double stats are NaN/-0.0
    // hazards (the statSafe rule) and string stats may be truncated.
    val field = orders.head.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(_.name == r.fieldNames.head) match {
          case Some(f) if f.dataType == ByteType || f.dataType == ShortType ||
              f.dataType == IntegerType || f.dataType == LongType ||
              f.dataType == DateType => f
          case _ => return false
        }
      case _ => return false
    }
    topN = Some(TopNSpec(field,
      asc = orders.head.direction() == SortDirection.ASCENDING,
      nullsFirst = orders.head.nullOrdering() == NullOrdering.NULLS_FIRST,
      n = n))
    true
  }

  // ---- SupportsPushDownAggregates ----------------------------------
  //
  // COUNT(*)/MIN/MAX answered ENTIRELY from the per-file stats the
  // server already ships with each FileAction — zero parquet bytes
  // read, the metadata-only fast path every lakehouse engine grows
  // eventually (the reference reads full files even for COUNT(*)).
  // Only COMPLETE pushdown is offered, and only when provably exact:
  //  - no data filters / limit, all partition filters client-exact
  //    (file pruning then equals row-level semantics);
  //  - every surviving file carries the needed stat — one missing
  //    numRecords or min/max refuses the pushdown and Spark falls
  //    back to reading rows;
  //  - MIN/MAX only on numeric/date DATA columns (string stats may be
  //    truncated per the Delta protocol — fine for range pruning,
  //    unsound as an exact extremum).

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = planAggregation(agg)
    aggResult.isDefined
  }

  /** Partial aggregate pushdown is refused — this source answers
    * aggregates from stats exactly or not at all. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(agg)

  private def planAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (!filtersExact || limit.isDefined || offset.isDefined) return None
    // GROUP BY only on partition columns: each file belongs to exactly
    // one group (its partitionValues), so per-group aggregates are
    // per-group sums/extrema of per-file stats
    val groupFields: Seq[StructField] = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 &&
          partitionSchema.fieldNames.contains(r.fieldNames.head) =>
        partitionSchema(r.fieldNames.head)
      case _ => return None
    }
    def dataField(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.types.StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(_.name == r.fieldNames.head).filter(f =>
          f.dataType.isInstanceOf[NumericType] || f.dataType == DateType)
      case _ => None
    }
    // Floating columns are excluded from stats-answered extrema
    // entirely: Spark orders NaN ABOVE every float/double while stats
    // writers may exclude NaN from maxValues (a file [1.0, NaN] with
    // maxValues=1.0 must answer MAX = NaN), and stat writers may
    // sign-normalize zero (emit -0.0 as min when only +0.0 exists), so
    // even MIN can differ bit-wise from the row-read answer.
    def statSafe(f: org.apache.spark.sql.types.StructField): Boolean =
      f.dataType != FloatType && f.dataType != DoubleType
    sealed trait Spec
    case object CountSpec extends Spec
    case class MinSpec(f: org.apache.spark.sql.types.StructField) extends Spec
    case class MaxSpec(f: org.apache.spark.sql.types.StructField) extends Spec
    val specs: Seq[Spec] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CountSpec
      case m: Min => dataField(m.column).filter(statSafe).map(MinSpec)
        .getOrElse(return None)
      case m: Max => dataField(m.column).filter(statSafe).map(MaxSpec)
        .getOrElse(return None)
      case _ => return None
    }
    // the same file set a row-reading scan of this query would read
    // (a refusal hands the scan this very listing)
    val files = try listedFiles catch { case _: Exception => return None }
    // a DV-bearing file's stats count DELETED rows too (numRecords,
    // and potentially extrema sitting on deleted rows) — stats-only
    // answers would be wrong, so refuse and fall back to reading rows
    // (where the reader applies the DV anti-filter)
    if (files.exists(_.deletionVector.isDefined)) return None
    if (!files.forall(_.stats.exists(_.numRecords.isDefined))) return None
    // a zero-record file contributes no rows, hence no group
    val live =
      files.flatMap(f => f.stats.filter(_.numRecords.get > 0).map(f -> _))
    val groupSchema = StructType(groupFields)
    def aggValues(stats: Seq[FileStats.Stats]): Option[Seq[Any]] =
      Some(specs.map {
        case CountSpec => stats.map(_.numRecords.get).sum
        case MinSpec(f) =>
          extremum(stats, f, minSide = true).getOrElse(return None)
        case MaxSpec(f) =>
          extremum(stats, f, minSide = false).getOrElse(return None)
      })
    val rows: Seq[InternalRow] =
      if (groupFields.isEmpty) {
        Seq(InternalRow.fromSeq(aggValues(live.map(_._2)).getOrElse(return None)))
      } else {
        // group by the TYPED partition value, not the raw string — two
        // files whose strings differ but cast equal (e.g. '1' vs '01'
        // from a non-canonical writer) are one group, exactly as a
        // row-reading scan would emit them
        live.groupBy { case (f, _) =>
          groupFields.map(g => PartitionValues.castInternal(
            f.partitionValues.getOrElse(g.name, null), g.dataType))
        }.toSeq.map { case (key, group) =>
          val aggs = aggValues(group.map(_._2)).getOrElse(return None)
          InternalRow.fromSeq(key ++ aggs)
        }
      }
    val schema = StructType(groupFields ++ specs.zipWithIndex.map {
      case (CountSpec, i) => StructField(s"count_$i", LongType, nullable = false)
      case (MinSpec(f), i) => StructField(s"min_$i", f.dataType, nullable = true)
      case (MaxSpec(f), i) => StructField(s"max_$i", f.dataType, nullable = true)
    })
    Some((schema, rows))
  }

  /** Exact MIN/MAX of a column across files, from stats. Outer None =
    * refuse the pushdown (a file has rows but no stat for the column);
    * inner `Some(null)` = a valid SQL NULL (no non-null rows at all).
    * A file contributes nothing when all its rows are null in `f`
    * (nullCount == numRecords). */
  private def extremum(stats: Seq[FileStats.Stats],
      f: org.apache.spark.sql.types.StructField,
      minSide: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    val perFile: Seq[Option[Any]] = stats.map { st =>
      val node =
        if (minSide) st.minValues.get(f.name) else st.maxValues.get(f.name)
      node match {
        case Some(n) =>
          try {
            f.dataType match {
              case ByteType => Some(Some(n.asInt().toByte))
              case ShortType => Some(Some(n.asInt().toShort))
              case IntegerType => Some(Some(n.asInt()))
              case LongType => Some(Some(n.asLong()))
              // Float/Double never reach here (statSafe refuses them)
              case DateType =>
                Some(Some(java.time.LocalDate.parse(n.asText()).toEpochDay.toInt))
              case _ => None
            }
          } catch { case _: Exception => None }
        case None =>
          // no stat: sound only if the file provably has no non-null
          // values in this column
          if (st.numRecords.exists(nr => st.nullCount.get(f.name).contains(nr)))
            Some(None)
          else None
      }
    }.map {
      case None => return None // refuse
      case Some(v) => v
    }
    val present = perFile.flatten
    if (present.isEmpty) Some(null)
    else {
      def key(v: Any): Double = v match {
        case b: Byte => b.toDouble
        case s: Short => s.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case fl: Float => fl.toDouble
        case d: Double => d
      }
      // Long beyond 2^53 would lose precision in a double key — order
      // longs by themselves
      val best = f.dataType match {
        case LongType =>
          val ls = present.map(_.asInstanceOf[Long])
          if (minSide) ls.min else ls.max
        case _ =>
          if (minSide) present.minBy(key) else present.maxBy(key)
      }
      Some(best)
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) =>
      new DeltaShareAggScan(addr, schema, rows)
    case None => new DeltaShareScan(
      spark, addr, meta, dataSchema, partitionSchema, requiredSchema,
      partitionFilters, dataFilters, limit, hadoopConf,
      streamStartingVersion, streamIgnoreDeletes,
      streamMaxVersionsPerTrigger, topN, offset, request, listing)
  }
}

object DeltaShareScanBuilder {
  private[v2] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[DeltaShareScanBuilder])
}

/** One `/query` request as the builder's listing keys it: the JSON
  * and legacy predicate hints and the protocol `limitHint`. */
final case class ListingRequest(
    jsonHints: Option[String],
    legacyHints: Seq[String],
    limitHint: Option[Long])

/** A pushed top-N: the first sort key's field, direction, null
  * placement, and the row count — everything the stats-based file
  * prune needs ([[TopNFilePrune]]). */
final case class TopNSpec(
    field: org.apache.spark.sql.types.StructField,
    asc: Boolean,
    nullsFirst: Boolean,
    n: Int)

/** Top-N file pruning: drop every file whose BEST possible row for
  * the pushed sort provably cannot reach the top `n` — there exist
  * `≥ n` rows in OTHER files that sort STRICTLY before anything this
  * file holds. The guarantee counts, per other file `g` with complete
  * stats, its surviving non-null rows when `g`'s worst value strictly
  * beats this file's best (`g.max < f.min` for ASC, `g.min > f.max`
  * for DESC), plus — under NULLS FIRST — every file's surviving null
  * rows (nulls sort before all values; a file is then only prunable
  * when provably null-free, since pruning would drop its own leading
  * nulls). DV-bearing files subtract their cardinality from BOTH
  * terms (the deleted rows might be any of them); files with missing
  * stats contribute nothing to guarantees and are never pruned.
  * Strict inequality keeps boundary ties candidates, so the final
  * sort + limit Spark runs above (partial pushdown) sees every row
  * that could appear in ANY correct answer (soundness fuzzed in
  * ScanStatsSpec).
  *
  * Driver cost: one sort of the per-file bound table + a binary
  * search per file — O(F log F) on the already-listed file set. */
private[graft] object TopNFilePrune {
  def prune(files: Seq[graft.sources.FileAction],
      spec: TopNSpec): Seq[graft.sources.FileAction] = {
    import org.apache.spark.sql.types._
    def longOf(n: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
      spec.field.dataType match {
        case DateType =>
          try Some(java.time.LocalDate.parse(n.asText()).toEpochDay)
          catch { case _: Exception => None }
        case _ =>
          if (n.isIntegralNumber) Some(n.asLong()) else None
      }
    case class Info(nr: Option[Long], nulls: Option[Long],
        mn: Option[Long], mx: Option[Long], dvc: Long)
    val infos = files.map { f =>
      Info(
        nr = f.stats.flatMap(_.numRecords),
        nulls = f.stats.flatMap(_.nullCount.get(spec.field.name)),
        mn = f.stats.flatMap(_.minValues.get(spec.field.name)).flatMap(longOf),
        mx = f.stats.flatMap(_.maxValues.get(spec.field.name)).flatMap(longOf),
        dvc = f.deletionVector.map(_.cardinality).getOrElse(0L))
    }
    // (worst value for the sort, surviving non-null rows) per file
    // with complete stats — the sorted prefix-sum table the strict
    // binary search below runs against
    val contrib = infos.flatMap { i =>
      for {
        nr <- i.nr; nulls <- i.nulls
        worst <- if (spec.asc) i.mx else i.mn
      } yield (worst, math.max(0L, nr - nulls - i.dvc))
    }.sortBy(t => if (spec.asc) t._1 else -t._1)
    // indexed: the binary search reads both by position
    val worsts = contrib.map(_._1).toArray
    val prefix = contrib.scanLeft(0L)(_ + _._2).toArray
    val totalNullSurv = infos.flatMap(i =>
      i.nulls.map(n => math.max(0L, n - i.dvc))).sum
    // strictly-better count for a best-value b: rows of files whose
    // worst value beats b (ASC: worst < b; DESC: worst > b)
    def strictlyBetter(b: Long): Long = {
      var lo = 0
      var hi = worsts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val beats =
          if (spec.asc) worsts(mid) < b else worsts(mid) > b
        if (beats) lo = mid + 1 else hi = mid
      }
      prefix(lo)
    }
    files.zip(infos).collect {
      case (f, i) if {
        val best = if (spec.asc) i.mn else i.mx
        best match {
          case None => true // no stats -> never pruned
          case Some(b) =>
            val nullTerm = if (spec.nullsFirst) totalNullSurv else 0L
            val ownNullsOk = !spec.nullsFirst || i.nulls.contains(0L)
            !(ownNullsOk && strictlyBetter(b) + nullTerm >= spec.n)
        }
      } => f
    }
  }
}

/** Completely-pushed aggregate: the answer was computed on the driver
  * from per-file stats — `LocalScan`, so Spark plans a local table
  * scan and NO file is opened. One row per group (one total row for
  * the ungrouped form). */
final class DeltaShareAggScan(
    addr: TableAddress,
    schema: StructType,
    resultRows: Seq[InternalRow])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[InternalRow] = resultRows.toArray
  override def readSchema(): StructType = schema
  override def description(): String =
    s"DeltaShareAggScan ${addr.share}.${addr.schema}.${addr.table} " +
      s"[stats-only aggregate: ${schema.fieldNames.mkString(", ")}]"
}

/** Batch scan: the shared files packed into input partitions
  * ([[DeltaShareInputPartition.pack]]), each task reading its run of
  * files in order with the next one opened ahead — Spark parallelizes
  * what the reference streams serially
  * (`duck_delta_share_extension.cpp:569-575`). The file list is the
  * builder's listing for `request` (read from the builder's
  * [[ListingSnapshot]] on the driver at planning time, shared with the
  * builder's pushdowns); executors then pull presigned URLs directly. */
class DeltaShareScan(
    spark: SparkSession,
    addr: TableAddress,
    meta: TableMetadata,
    dataSchema: StructType,
    partitionSchema: StructType,
    requiredSchema: StructType,
    partitionFilters: Array[Filter],
    dataFilters: Array[Filter],
    limit: Option[Int],
    hadoopConf: Configuration,
    streamStartingVersion: Option[Long] = None,
    streamIgnoreDeletes: Boolean = false,
    streamMaxVersionsPerTrigger: Option[Long] = None,
    topN: Option[TopNSpec],
    offset: Option[Int],
    request: ListingRequest,
    listing: ListingRequest => Seq[FileAction]) extends Scan with Batch
  with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val partitionColNames = partitionSchema.fieldNames.toSet

  /** Runtime (DPP) filters pushed after planning starts — Spark sends
    * these for joins on partition columns; they prune the file list
    * exactly like static partition filters. */
  private var runtimeFilters: Array[Filter] = Array.empty
  private val requiredDataSchema = StructType(
    requiredSchema.fields.filterNot(f => partitionColNames.contains(f.name)))
  private val requiredPartitionSchema = StructType(
    requiredSchema.fields.filter(f => partitionColNames.contains(f.name)))

  /** Reader output order: required data columns then required
    * partition columns (what the parquet reader closure emits). */
  override def readSchema(): StructType =
    StructType(requiredDataSchema.fields ++ requiredPartitionSchema.fields)

  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] =
    PresignedReadCounters.supported :+ new FilesPlannedMetric

  /** Streaming form of this scan: version-offset micro-batches over
    * the `/changes` endpoint (see [[DeltaShareMicroBatchStream]]).
    * Column pruning applies (required schemas flow through); filters
    * stay residuals above the stream. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new DeltaShareMicroBatchStream(spark, addr, meta, dataSchema,
      requiredDataSchema, requiredPartitionSchema,
      hadoopConf, streamStartingVersion, streamIgnoreDeletes,
      streamMaxVersionsPerTrigger)

  override def description(): String =
    s"DeltaShareScan ${addr.share}.${addr.schema}.${addr.table} " +
      s"[files pruned by ${partitionFilters.length} partition filter(s), " +
      s"hints from ${dataFilters.length} data filter(s), limit=$limit" +
      topN.map(t => s", pushedTopN=${t.field.name} " +
        s"${if (t.asc) "ASC" else "DESC"} n=${t.n}").getOrElse("") +
      offset.map(o => s", pushedOffset=$o").getOrElse("") +
      filesPlanned.map(n => s", filesPlanned=$n").getOrElse("") + "]"

  /** Everything an executor needs to re-issue this scan's `/query`
    * when a presigned URL expires mid-task. */
  private def refreshSpec = PresignedUrlCache.RefreshSpec(
    addr.profile, addr.share, addr.schema, addr.table,
    request.jsonHints, request.legacyHints, request.limitHint,
    addr.versionAsOf, timestamp = addr.timestampAsOf)

  /** Client-side partition pruning of the listing by the static and
    * runtime (DPP) partition filters. */
  private def prunedFiles: Seq[FileAction] =
    DeltaShareScan.prunePartitions(listing(request),
      (partitionFilters ++ runtimeFilters).toSeq, partitionSchema)

  /** Data-skipping on per-file min/max/nullCount stats: drop files a
    * pushed data filter provably cannot match ([[FileStats.canSkip]]
    * — conservative, so missing/unparsable stats keep the file). Data
    * filters stay residuals above the scan, so this is purely a
    * file-open saver — at 100 TB, a selective predicate on a
    * clustered column skips almost every file without any server
    * cooperation. */
  private def statsPrunedFiles: Seq[graft.sources.FileAction] =
    if (dataFilters.isEmpty) prunedFiles
    else prunedFiles.filter { f =>
      f.stats match {
        case Some(st) =>
          !dataFilters.exists(FileStats.canSkip(_, st, dataSchema))
        case None => true
      }
    }

  /** The files this scan reads: the stats-pruned files less, under a
    * pushed top-N ([[TopNFilePrune]]), those whose best possible row
    * provably cannot reach the top-n boundary of the first sort key.
    * Pruned once per runtime-filter state: [[estimateStatistics]] and
    * [[planInputPartitions]] both ask, and [[filter]] forgets them. */
  private var planned: Option[Seq[graft.sources.FileAction]] = None
  private def plannedFiles: Seq[graft.sources.FileAction] =
    planned.getOrElse {
      val f = topN.fold(statsPrunedFiles)(TopNFilePrune.prune(statsPrunedFiles, _))
      planned = Some(f)
      f
    }

  // ---- SupportsRuntimeFiltering (dynamic partition pruning) --------

  override def filterAttributes(): Array[NamedReference] =
    // a pushed offset disables runtime filtering: the Offset operator
    // is GONE from the plan, so the skip's row accounting is part of
    // this scan's result contract — a DPP filter arriving after
    // planning would change the file set out from under it
    if (offset.isDefined) Array.empty
    else partitionSchema.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.filter(
      PartitionValues.isPartitionOnly(_, partitionColNames))
    planned = None
  }

  // ---- SupportsReportStatistics ------------------------------------

  /** Post-pruning size/row estimates so Catalyst can pick broadcast
    * joins over shared tables. Row counts come from the per-file
    * `stats.numRecords` the server sends (when present on all kept
    * files). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = plannedFiles
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(files.map(_.size).sum)
    override def numRows(): OptionalLong = {
      // stats.numRecords counts PHYSICAL rows incl. DV-deleted ones;
      // subtract the descriptor's cardinality so join-size planning
      // (broadcast decisions) sees the surviving row count
      val counts = files.map(f => f.stats.flatMap(_.numRecords)
        .map(n => math.max(0L,
          n - f.deletionVector.map(_.cardinality).getOrElse(0L))))
      if (counts.nonEmpty && counts.forall(_.isDefined))
        OptionalLong.of(counts.flatten.sum)
      else OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val dvRead = if (separateDvRead) 1 else 0
    def mk(f: FileAction, rowSkip: Long): DeltaShareFile =
      DeltaShareFile.of(f.url, f.id, f.size, f.partitionValues)
        .copy(dv = f.deletionVector, rowSkip = rowSkip,
          read = if (f.deletionVector.isDefined) dvRead else 0)
    val files = offset match {
      case None => plannedFiles.map(mk(_, 0L))
      case Some(off) =>
        // exact prefix skip in listed order: files wholly inside the
        // offset are never planned (never open); the boundary file's
        // reader drops its leading SURVIVING rows (after the DV
        // anti-filter). pushOffset proved every listed file carries
        // numRecords; a limit pushed after the offset lists again
        // (limitHint = limit + offset), and if that answer lacks them,
        // refuse loudly rather than skip inexactly.
        var remaining = off.toLong
        plannedFiles.flatMap { f =>
          if (remaining == 0L) Some(mk(f, 0L))
          else {
            val nr = f.stats.flatMap(_.numRecords).getOrElse(
              throw new DeltaSharingException(0,
                s"offset pushdown was accepted but file ${f.url} no " +
                  "longer carries numRecords stats — cannot skip " +
                  "exactly, refusing to serve wrong rows"))
            val surv = math.max(0L,
              nr - f.deletionVector.map(_.cardinality).getOrElse(0L))
            if (surv <= remaining) { remaining -= surv; None }
            else { val r = remaining; remaining = 0L; Some(mk(f, r)) }
          }
        }
    }
    filesPlanned = Some(files.size)
    DeltaShareInputPartition.pack(spark, files)
  }

  /** Files in the last [[planInputPartitions]]: the partitions pack
    * several files each, so Spark's partition count no longer says. */
  @volatile private var filesPlanned: Option[Int] = None

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    filesPlanned.map(FilesPlannedMetric.value).toArray

  /** Whether deletion-vector files need their own, filter-free read:
    * row-group / page skipping would break the physical row-index
    * correspondence the anti-filter depends on. Only when the listing
    * carries a DV and there are parquet filters to drop; every data
    * filter is a residual Spark re-applies above the scan, so only the
    * pushdown optimization is lost, and only for DV files. */
  private lazy val separateDvRead: Boolean =
    ParquetRead.pushable(meta, dataFilters.toSeq).nonEmpty &&
      listing(request).exists(_.deletionVector.isDefined)

  override def createReaderFactory(): PartitionReaderFactory = {
    // Only the REQUIRED partition columns are appended: the reader's
    // output must line up ordinally with readSchema()
    // (requiredDataSchema ++ requiredPartitionSchema), so passing the
    // full partitionSchema here would misalign any query projecting a
    // subset of ≥2 partition columns.
    def read(filters: Seq[Filter]) = ParquetRead.build(spark, meta,
      dataSchema, requiredPartitionSchema, requiredDataSchema, filters,
      hadoopConf)
    val filtered = read(dataFilters.toSeq)
    DeltaSharePartitionReaderFactory(
      if (separateDvRead) Vector(filtered, read(Nil)) else Vector(filtered),
      refreshSpec)
  }
}

object DeltaShareScan {
  /** Exact client-side partition pruning — hints are advisory per the
    * Delta Sharing spec, so never trust the server's file list alone. */
  private[v2] def prunePartitions(files: Seq[FileAction],
      filters: Seq[Filter], partitionSchema: StructType): Seq[FileAction] =
    files.filter(f => filters.forall(
      PartitionValues.evalFilter(_, f.partitionValues, partitionSchema)))
}

/** One shared file a partition reads. A presigned HTTP(S) URL is read
  * through a `graftds` path carrying only an opaque file id (presigned
  * URLs must not leak into paths or the UI; the reader registers
  * id → URL executor-side); any other URL is read as is. */
final case class DeltaShareFile(
    path: String,
    size: Long,
    partitionValues: Map[String, String],
    fileId: String,
    url: String,
    /** Index of the [[ParquetRead]] in the reader factory's `reads`
      * that reads this file. */
    read: Int = 0,
    /** Deletion-vector descriptor for THIS file, when present: the
      * reader fetches + decodes it task-side and anti-filters by
      * physical row index. */
    dv: Option[graft.sources.DeletionVectors.Descriptor] = None,
    /** Pushed-offset boundary file: drop this many leading SURVIVING
      * rows (applied after the DV anti-filter); 0 everywhere else. */
    rowSkip: Long = 0L)

object DeltaShareFile {
  def of(url: String, id: String, size: Long,
      partitionValues: Map[String, String]): DeltaShareFile =
    if (url.startsWith("http://") || url.startsWith("https://")) {
      val fid = PresignedUrlCache.fileId(id, url)
      DeltaShareFile(PresignedUrlFileSystem.encode(fid, size), size,
        partitionValues, fileId = fid, url = url)
    } else
      DeltaShareFile(url, size, partitionValues, fileId = "", url = "")
}

/** The files one task reads, in listed order: the one partition type
  * of the batch, change-feed and streaming share scans. */
final case class DeltaShareInputPartition(files: IndexedSeq[DeltaShareFile])
  extends InputPartition

object DeltaShareInputPartition {
  /** `files`, in order, packed by Spark's rule for file sources
    * (`FilePartition.maxSplitBytes` and `getFilePartitions`): a file
    * costs its size plus `spark.sql.files.openCostInBytes`, and a
    * partition closes when the next file would take it past
    * `min(maxPartitionBytes, max(openCost, total cost / parallelism))`.
    * No more files than cores, of like sizes, get a partition each.
    * Listed order is kept because a pushed offset's per-file row skip
    * was counted in it. */
  def pack(spark: SparkSession, files: Seq[DeltaShareFile]): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val parallelism = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(spark.sparkContext.defaultParallelism))
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, files.map(_.size + openCost).sum / parallelism))
    val parts = Array.newBuilder[InputPartition]
    var run = Vector.empty[DeltaShareFile]
    var runBytes = 0L
    files.foreach { f =>
      if (run.nonEmpty && runBytes + f.size > maxSplit) {
        parts += DeltaShareInputPartition(run)
        run = Vector.empty
        runBytes = 0L
      }
      run :+= f
      runBytes += f.size + openCost
    }
    if (run.nonEmpty) parts += DeltaShareInputPartition(run)
    parts.result()
  }
}

/** Files a scan planned, as a driver-side metric: Spark's task and
  * partition counts no longer say, since a partition packs files. */
final class FilesPlannedMetric extends CustomSumMetric {
  override def name(): String = FilesPlannedMetric.Name
  override def description(): String = "files planned"
}

object FilesPlannedMetric {
  val Name = "filesPlanned"
  def value(n: Int): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = Name
    override def value(): Long = n.toLong
  }
}

/** Spark's parquet reader closure for one shape of shared file, and
  * the partition schema whose values it appends to every row. */
final case class ParquetRead(
    func: PartitionedFile => Iterator[InternalRow],
    partitionSchema: StructType)

object ParquetRead {
  /** The filters a read pushes into parquet: none for a column-mapped
    * table, whose logical filter names would not match the physical
    * columns (data filters are residuals Spark re-applies, so only the
    * row-group skip is lost). */
  def pushable(meta: TableMetadata, filters: Seq[Filter]): Seq[Filter] =
    if (ColumnMapping.mode(meta).isDefined) Nil else filters

  /** The one way a share scan builds Spark's parquet reader closure
    * (vectorized decode, row-group pruning from `filters`, partition
    * append; made to be serialized to executors). It yields rows, not
    * columnar batches (`returning_batch=false`).
    *  - Column mapping: `dataSchema` and `requiredSchema` go in under
    *    the PHYSICAL names in `dataSchema`'s field metadata (unmapped
    *    fields keep theirs); rows are positional, so logical names
    *    re-attach for free above the reader.
    *  - The build mutates the Hadoop conf it is given (requested-schema
    *    keys) and broadcasts it, so each read gets its own copy. */
  def build(spark: SparkSession, meta: TableMetadata,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      hadoopConf: Configuration): ParquetRead = {
    def phys(schema: StructType): StructType =
      if (ColumnMapping.mode(meta).isDefined)
        ColumnMapping.toPhysical(schema, dataSchema)
      else schema
    ParquetRead(
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = phys(dataSchema),
        partitionSchema = partitionSchema,
        requiredSchema = phys(requiredSchema),
        filters = pushable(meta, filters),
        options = Map("returning_batch" -> "false", "mergeSchema" -> "false"),
        hadoopConf = new Configuration(hadoopConf)),
      partitionSchema)
  }
}

/** Reads each [[DeltaShareInputPartition]]'s files, each with the
  * [[ParquetRead]] it names: a batch scan has one read, plus a
  * filter-free one for deletion-vector files when it pushes parquet
  * filters; a change-feed scan has one for add/remove files and one
  * for cdf files; a stream has one. */
final case class DeltaSharePartitionReaderFactory(
    reads: IndexedSeq[ParquetRead],
    refreshSpec: PresignedUrlCache.RefreshSpec) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // made on the task thread, whose FileSystem statistics Spark's
    // task input metrics read
    val counters = new PresignedReadCounters
    new DeltaSharePartitionReader(
      partition.asInstanceOf[DeltaShareInputPartition].files, counters,
      f => PresignedReadCounters.counting(counters)(open(f)))
  }

  /** Opens `f` on the calling thread: Spark's parquet closure reads
    * its footer, the first `hasNext` its first row group. */
  private def open(f: DeltaShareFile): OpenFile = {
    // Executor-side id→URL registration: the graftds path carries only
    // an opaque file id (presigned URLs must not leak into paths/UI);
    // registerIfAbsent so a task retry never clobbers a URL an expiry
    // refresh already renewed.
    if (f.fileId.nonEmpty)
      PresignedUrlCache.register(f.fileId, f.url, refreshSpec)
    val read = reads(f.read)
    val pf = PartitionedFile(
      partitionValues =
        PartitionValues.toInternalRow(f.partitionValues, read.partitionSchema),
      filePath = SparkPath.fromUrlString(f.path),
      start = 0L,
      length = f.size,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = f.size,
      otherConstantMetadataColumnValues = Map.empty)
    val parquet = read.func(pf)
    try {
      val rows = rowsOf(f, parquet)
      rows.hasNext
      new OpenFile(rows, parquet)
    } catch {
      case e: Throwable =>
        OpenFile.close(parquet)
        throw e
    }
  }

  /** The rows of `f` that survive its deletion vector and
    * pushed-offset skip. */
  private def rowsOf(f: DeltaShareFile,
      raw: Iterator[InternalRow]): Iterator[InternalRow] = {
    // deletion-vector application: the file is read WHOLE in physical
    // order with no parquet-level skipping, so the iterator position
    // IS the file row index — a merge-walk against the decoded
    // ascending positions drops exactly the deleted rows
    val surviving: Iterator[InternalRow] = f.dv match {
      case None => raw
      case Some(dv) =>
        val deleted = graft.sources.DeletionVectors.positions(dv)
        var pos = -1L
        var di = 0
        raw.filter { _ =>
          pos += 1
          while (di < deleted.length && deleted(di) < pos) di += 1
          !(di < deleted.length && deleted(di) == pos)
        }
    }
    // pushed-offset boundary skip: leading surviving rows of THIS file
    // fall inside the global offset (whole-file skips never reach here
    // — they are not planned)
    if (f.rowSkip == 0L) surviving
    else surviving.drop(math.min(f.rowSkip, Int.MaxValue.toLong).toInt)
  }
}

/** A shared file opened for reading: its surviving rows, and the
  * parquet reader under them, which closes itself at its end and must
  * be closed by a reader that stops before. */
private[sources] final class OpenFile(
    val rows: Iterator[InternalRow], parquet: Iterator[InternalRow]) {
  def close(): Unit = OpenFile.close(parquet)
}

private[sources] object OpenFile {
  def close(parquet: Iterator[InternalRow]): Unit = parquet match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}

/** Reads a partition's files in order on the task thread. Before the
  * task consumes file k it sends file k+1 to [[ReadAhead]], so that
  * file's footer, first row group and first batch are fetched while
  * file k decodes. At most one open is in flight per reader; a
  * one-file partition opens nothing ahead. An error from a file opened
  * ahead is thrown as it was thrown, when the task reaches that file.
  * `counters` must be made on the task thread. */
private[sources] final class DeltaSharePartitionReader(
    files: IndexedSeq[DeltaShareFile],
    counters: PresignedReadCounters,
    open: DeltaShareFile => OpenFile) extends PartitionReader[InternalRow] {

  /** Files handed to the task so far. */
  private var taken = 0
  private var file: OpenFile = _
  /** The open of file `taken`, when one is in flight or unclaimed. */
  private var ahead: CompletableFuture[OpenFile] = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (file == null || !file.rows.hasNext) {
      if (file != null) { file.close(); file = null }
      if (taken == files.length) return false
      file = take()
    }
    row = file.rows.next()
    true
  }

  override def get(): InternalRow = row

  /** File `taken`, opened ahead or (the first) here, with the file
    * after it sent ahead. */
  private def take(): OpenFile = {
    val k = taken
    taken += 1
    val opened =
      if (ahead == null) { sendAhead(k + 1); open(files(k)) }
      else {
        val opening = ahead
        ahead = null
        val f = ReadAhead.await(opening)
        sendAhead(k + 1)
        f
      }
    counters.claim()
    opened
  }

  private def sendAhead(k: Int): Unit =
    if (k < files.length) ahead = ReadAhead.run(open(files(k)))

  override def close(): Unit = {
    if (file != null) { file.close(); file = null }
    settle()
  }

  /** Closes a file opened ahead that the task never reached (a LIMIT
    * stopped it, or the task was killed) once its open ends, so no
    * pool thread outlives its task's reader and what it read counts in
    * this reader's metrics. Its error, if any, is dropped with it. */
  private def settle(): Unit = if (ahead != null) {
    val opening = ahead
    ahead = null
    try ReadAhead.await(opening).close()
    catch {
      case _: InterruptedException =>
        // a killed task: close the file whenever its open ends
        Thread.currentThread.interrupt()
        opening.thenAccept(_.close())
      case NonFatal(_) => ()
    }
    counters.claim()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    // Spark takes a reader's metrics for the last time in the task's
    // completion listener, just before close(): settle the read-ahead
    // first so what it read is in them
    if (Option(TaskContext.get).exists(_.isCompleted)) settle()
    counters.claim()
    counters.taskMetrics
  }
}

/** The JVM's pool that opens share files ahead of the tasks reading
  * them. Threads are made on demand and end after a minute idle; each
  * reader keeps at most one open in flight, so busy threads never
  * outnumber running tasks. They are daemon threads named
  * `deltashare-read-ahead`, so the pool never holds a JVM open. */
private[sources] object ReadAhead {
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "deltashare-read-ahead")
    t.setDaemon(true)
    t
  }

  def run[T](body: => T): CompletableFuture[T] =
    CompletableFuture.supplyAsync(() => body, pool)

  /** The result of `f`, or the exception its body threw, unwrapped. */
  def await[T](f: CompletableFuture[T]): T =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
}

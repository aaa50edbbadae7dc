package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file Delta statistics (the `stats` string of a file action:
  * `{"numRecords":N,"minValues":{..},"maxValues":{..},"nullCount":{..}}`,
  * parsed once by the client into `FileAction.stats`) and the
  * conservative filter evaluator that skips files a pushed data filter
  * provably cannot match.
  *
  * This is the client-side half of data skipping the reference never
  * attempts (it forwards predicates to the server as ADVISORY hints
  * and to `read_parquet` for row-group pruning — both still open every
  * file). At 100 TB the difference is structural: a selective
  * predicate over a sorted/clustered column turns a full-table scan
  * into a handful of file opens, with zero server cooperation needed.
  *
  * Soundness rules (a file is skipped ONLY when provably matchless):
  *  - every decision requires the relevant stat to be PRESENT — a
  *    missing stats string, an unparsable stats string, or a column
  *    absent from min/maxValues keeps the file;
  *  - range predicates are decided against `[min, max]`; rows with
  *    NULL in the column cannot satisfy any comparison predicate, so
  *    null-heavy files are still safely skipped by range;
  *  - Delta writers may TRUNCATE long string stats, but the truncated
  *    `minValues` stays a lower bound and `maxValues` is incremented
  *    past the true maximum (the Delta protocol's tie-breaker rule),
  *    so lexicographic range decisions stay sound on truncated stats;
  *  - `And` may skip when either side skips; `Or` only when both do;
  *    anything unrecognized keeps the file.
  */
object FileStats {

  /** Parsed stats. `minValues`/`maxValues` keep the raw JSON nodes —
    * typing happens per-comparison against the table schema. */
  final case class Stats(
      numRecords: Option[Long],
      minValues: Map[String, JsonNode],
      maxValues: Map[String, JsonNode],
      nullCount: Map[String, Long])

  private val mapper = new ObjectMapper()

  def parse(statsJson: String): Option[Stats] =
    try {
      val n = mapper.readTree(statsJson)
      def obj(field: String): Map[String, JsonNode] =
        if (n.hasNonNull(field)) {
          import scala.jdk.CollectionConverters._
          n.get(field).properties().asScala
            .filter(!_.getValue.isNull)
            .map(e => e.getKey -> e.getValue).toMap
        } else Map.empty
      Some(Stats(
        numRecords =
          if (n.hasNonNull("numRecords")) Some(n.get("numRecords").asLong())
          else None,
        minValues = obj("minValues"),
        maxValues = obj("maxValues"),
        nullCount = obj("nullCount").flatMap { case (k, v) =>
          if (v.isNumber) Some(k -> v.asLong()) else None
        }))
    } catch { case _: Exception => None }

  /** Compare a stat node against a filter value under the column's
    * type: sign of `stat - value`, or None when not comparable. */
  private def statVsValue(dt: DataType, stat: JsonNode, v: Any): Option[Int] =
    try {
      (dt, v) match {
        case (_: NumericType, _) =>
          toBigDecimal(v).map(bd => new java.math.BigDecimal(stat.asText()).compareTo(bd))
        case (StringType, s: String) if stat.isTextual =>
          Some(stat.asText().compareTo(s))
        case (DateType, _) =>
          val statDay = java.time.LocalDate.parse(stat.asText())
          (v match {
            case d: java.sql.Date => Some(d.toLocalDate)
            case d: java.time.LocalDate => Some(d)
            case _ => None
          }).map(statDay.compareTo)
        case (BooleanType, b: Boolean) if stat.isBoolean =>
          Some(java.lang.Boolean.compare(stat.asBoolean(), b))
        case _ => None
      }
    } catch { case _: Exception => None }

  private def toBigDecimal(v: Any): Option[java.math.BigDecimal] = v match {
    case n: java.math.BigDecimal => Some(n)
    case n: BigDecimal => Some(n.bigDecimal)
    case n: Byte => Some(java.math.BigDecimal.valueOf(n.toLong))
    case n: Short => Some(java.math.BigDecimal.valueOf(n.toLong))
    case n: Int => Some(java.math.BigDecimal.valueOf(n.toLong))
    case n: Long => Some(java.math.BigDecimal.valueOf(n))
    case n: Float => Some(new java.math.BigDecimal(n.toString))
    case n: Double => Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  /** True when `filter` is provably false for EVERY row of a file with
    * stats `st` — conservative: any uncertainty returns false. */
  def canSkip(filter: Filter, st: Stats, schema: StructType): Boolean = {
    def fieldType(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    def floatingPoint(c: String): Boolean =
      fieldType(c).exists(dt => dt == FloatType || dt == DoubleType)
    // sign of (min - v) / (max - v), when decidable
    def minCmp(c: String, v: Any): Option[Int] = for {
      dt <- fieldType(c); stat <- st.minValues.get(c)
      r <- statVsValue(dt, stat, v)
    } yield r
    def maxCmp(c: String, v: Any): Option[Int] = for {
      dt <- fieldType(c); stat <- st.maxValues.get(c)
      r <- statVsValue(dt, stat, v)
    } yield r
    def outsideRange(c: String, v: Any): Boolean =
      v != null &&
        (minCmp(c, v).exists(_ > 0) || maxCmp(c, v).exists(_ < 0))
    filter match {
      case And(l, r) => canSkip(l, st, schema) || canSkip(r, st, schema)
      case Or(l, r) => canSkip(l, st, schema) && canSkip(r, st, schema)
      case EqualTo(c, v) => outsideRange(c, v)
      case EqualNullSafe(c, null) => st.nullCount.get(c).contains(0L)
      case EqualNullSafe(c, v) => outsideRange(c, v)
      // IN: null elements match no row, so only non-null values decide
      case In(c, vs) => vs.forall(v => v == null || outsideRange(c, v))
      // NaN: Spark orders NaN ABOVE every double, while stats writers
      // may exclude NaN from min/max — so an upper bound from stats
      // cannot refute `x > v` (a NaN row satisfies it but never raises
      // maxValues). Lower-bound decisions stay sound (NaN satisfies no
      // `<`), as do equality decisions (NaN equals no literal; a NaN
      // literal fails the BigDecimal parse and keeps the file).
      case GreaterThan(c, v) =>
        !floatingPoint(c) && maxCmp(c, v).exists(_ <= 0)
      case GreaterThanOrEqual(c, v) =>
        !floatingPoint(c) && maxCmp(c, v).exists(_ < 0)
      case LessThan(c, v) => minCmp(c, v).exists(_ >= 0)
      case LessThanOrEqual(c, v) => minCmp(c, v).exists(_ > 0)
      case IsNull(c) => st.nullCount.get(c).contains(0L)
      case IsNotNull(c) =>
        (for { n <- st.numRecords; nc <- st.nullCount.get(c) }
          yield nc == n).getOrElse(false)
      // strings with prefix p live in [p, next(p)): skip when the
      // file's range is entirely below p or at/above next(p)
      case StringStartsWith(c, p) if p != null && p.nonEmpty =>
        maxCmp(c, p).exists(_ < 0) ||
          nextPrefix(p).exists(np => minCmp(c, np).exists(_ >= 0))
      case _ => false
    }
  }

  /** Smallest string greater than every string with prefix `p` (last
    * char incremented); None when the last char is already maximal. */
  private def nextPrefix(p: String): Option[String] =
    if (p.last == Char.MaxValue) None
    else Some(p.init + (p.last + 1).toChar)

  /** Render the single-long-column stats document the test fixtures
    * serve (`{"numRecords":N,"minValues":{c:lo},...}`) — one template
    * for every fixture writer, so the shape [[parse]] consumes and the
    * shape the stubs emit cannot drift apart. */
  def statsJson(column: String, numRecords: Long, min: Long,
      max: Long): String =
    if (numRecords == 0L)
      s"""{"numRecords":0,"nullCount":{"$column":0}}"""
    else
      s"""{"numRecords":$numRecords,"minValues":{"$column":$min},""" +
        s""""maxValues":{"$column":$max},"nullCount":{"$column":0}}"""
}

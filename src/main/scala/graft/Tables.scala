package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Parquet table loaders + oracle-parity numeric helpers.
  *
  * The driver's correctness gate hash-compares Spark results against a
  * DuckDB run of the oracle SQL over the SAME parquet files
  * (`/root/repo/BASELINE.md`). Floating-point aggregation order differs
  * between engines, so every money/measure aggregate goes through exact
  * decimal arithmetic and is only cast back to double at the end —
  * identical decimal value => identical double in both engines.
  */
object Tables {
  /** Base-table loads are memoized per (session, path): Spark 4
    * resolves each `spark.read.parquet` call in the ANALYZER
    * (`ResolveDataSource` — schema inference + file listing), and a
    * rule-time dump over the 253-query surface showed that rule alone
    * costing ~19 s per bench pass (~53 ms x ~355 fresh reads; 2/3 of
    * all analyzer/optimizer rule time). Reusing the resolved relation
    * removes that driver-side planning cost at EVERY scale — this is
    * exactly what a catalog table does with its metadata. Not result
    * caching: every action over the memoized frame still scans the
    * parquet files. The relations live in [[Artifacts]]' session-scoped
    * store. Contract: a base table path is written AT MOST ONCE per
    * session, BEFORE its first load — true for the static test dirs
    * and every fixture temp dir; layout paths that fold in place keep
    * their fresh per-call reads in the operators. The contract is
    * checked: a reuse whose [[fingerprint]] differs from the first
    * load's throws instead of serving the stale file listing. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val now = fingerprint(spark, path)
    val (df, first) = Artifacts.scoped(spark, s"table:$path")(
      (spark.read.parquet(path), now))
    if (now != first)
      throw new IllegalStateException(s"Tables.load: $path was " +
        "rewritten after its first load in this session; a loaded " +
        "base table must not change (write it to a fresh path)")
    df
  }

  /** A cheap driver-side identity of what a load reads, no Spark job:
    * length and mtime of a file; name, length and mtime of every data
    * file under a directory (Spark's hidden `_`/`.` entries skipped,
    * partition directories `k=v` kept). Empty for a missing path, so
    * the read itself raises its usual error. */
  private def fingerprint(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val prefix = fs.getFileStatus(root).getPath.toString.length
      val files = fs.listFiles(root, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        val rel = f.getPath.toString.drop(prefix)
        val hidden = rel.split('/').exists(c =>
          (c.startsWith("_") || c.startsWith(".")) && !c.contains("="))
        if (!hidden) out += ((rel, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` normalization to a microsecond TimestampType column,
    * tolerant of how the generator wrote it:
    *  - nanosecond parquet timestamps (vectorized reader rejects them;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` they arrive as
    *    a nanos Long → truncate to µs),
    *  - microsecond `isAdjustedToUTC=false` timestamps (Spark infers
    *    TIMESTAMP_NTZ → reinterpret as UTC instants; sessions pin
    *    `spark.sql.session.timeZone=UTC`, and DuckDB reads the same
    *    column as its naive TIMESTAMP, so both engines agree on the
    *    wall-clock values). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    normalizeTs(raw)
  }

  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Floor a frame's parallelism at the session's default parallelism
    * BEFORE a per-row-heavy pipeline (tokenize, fingerprint, codec,
    * integer-exact scoring) — the guide's input-parallelism rule (§2.5
    * input skew, §6 scan splits) made scale-adaptive:
    *  - a single-row-group parquet file scans as ONE task no matter
    *    what `minPartitionNum` says (parquet can't split inside a row
    *    group), so everything downstream of that scan — and of any
    *    `localCheckpoint` that froze its 1-partition shape — runs
    *    serially on one core of the whole cluster;
    *  - a corpus that already scans at >= cores partitions is left
    *    UNTOUCHED (the `.rdd.getNumPartitions` probe is plan-only),
    *    so at 100 TB this is a no-op and no extra shuffle exists;
    *  - streaming frames pass through unchanged (`.rdd` is illegal on
    *    them; micro-batches inherit source parallelism).
    * The repartition is round-robin over rows whose downstream use is
    * row-order-independent by the repo's cross-engine-exactness
    * discipline (every aggregate is decimal/fixed-order, every output
    * totally ordered), so results are unchanged. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** Exact 2-decimal view of a money-ish double column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent exact sum of a 2-decimal double column, surfaced
    * as double. Oracle equivalent:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact average (decimal sum / count) surfaced as double. Oracle:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)`. */
  def davg(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(lit(1))
}

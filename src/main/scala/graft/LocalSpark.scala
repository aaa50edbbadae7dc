package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local Spark session: Bench, Verify, the test session and
  * every profiler build it here, so a profiler's number measures the
  * engine configuration Bench measures. */
object LocalSpark {

  /** Worker threads (and shuffle partitions): `SPARK_GRAFT_CPUS`,
    * default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The scale-factor table directory: `SPARK_GRAFT_SF_DIR`, default
    * sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Whole-stage-codegen class cache sized to the query surface
    * (static conf, Spark's default 100): the 253-query surface
    * generates ~7,000 distinct codegen units, so at the default size
    * every pass re-Janino-compiles all of them (measured: 6,969
    * recompiles / ~60-90 s of compile per pass, FloorProf). Sized to
    * hold the surface, pass 2 recompiles ~none (234) and per-query
    * minima measure execution, not the compiler. Scale- and
    * core-count-independent (driver-side cache of compiled plan code,
    * keyed by generated source; results still computed from parquet
    * every invocation). */
  private val CodegenCacheEntries = 8192

  def session(appName: String, cpus: Int = LocalSpark.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The evaluation-forcing action: the noop sink consumes every
    * output row WITH all its columns, so projection-only queries can't
    * be pruned to a row count the way `df.count()` allows (a count
    * lets Catalyst drop the very expressions being measured), and
    * nothing lands in driver heap. */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

// Per-query FLOOR profiler (guide §1): decompose the bench's fixed
// per-query overhead — Janino/whole-stage-codegen compilation and
// driver planning — from real compute, and measure how much of pass-2
// compile time the default 100-entry codegen cache throws away across
// a 253-query surface. Usage:
//   CODEGEN_CACHE=100  sbt "Test/runMain graft.FloorProf"   (default cache)
//   CODEGEN_CACHE=8192 sbt "Test/runMain graft.FloorProf"   (bench-sized)
// Prints per-pass wall time + cumulative codegen compile ms +
// generated-class count, so the cache's effect is a direct number,
// not a bench-noise inference.
package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics

object FloorProf {
  def main(args: Array[String]): Unit = {
    val cache = sys.env.getOrElse("CODEGEN_CACHE", "100")
    val dir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", cache)
      .config("spark.ui.enabled", false)
      .appName("floorprof").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // histogram values are milliseconds (CodeGenerator.doCompile).
    // The histogram is a SAMPLING reservoir, so count * snapshot-mean
    // is an ESTIMATE (the mean drifts with the reservoir window and
    // per-pass deltas can even go slightly negative); the exact,
    // primary metric is the compilation COUNT (newClasses below) —
    // treat compileMsEst deltas as order-of-magnitude only.
    def compMsEst: Long =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount *
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean).toLong
    def nComp: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // failure count per pass: a bad SF_DIR or broken query otherwise
    // yields plausible-looking but meaningless wall numbers (a pass
    // that executed nothing still prints a "floor")
    var failed = 0
    def run(): Unit = {
      val names = args.toSeq match {
        case Nil => graft.SparkEntry.queries.keys.toSeq.sorted
        case xs  => xs
      }
      failed = 0
      names.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => failed += 1 }
      }
    }
    Artifacts.prewarm(spark, dir)
    println(s"cache=$cache  after-prewarm: nComp=$nComp compMsEst=$compMsEst")
    if (!sys.env.contains("SKIP_EXEC")) (1 to 2).foreach { p =>
      val (c0, n0, t0) = (compMsEst, nComp, System.nanoTime())
      run()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"cache=$cache pass=$p wall=$sec%8.2f s  newClasses=${nComp - n0}%5d  compileMsEst=${compMsEst - c0}%6d  failed=$failed")
    }
    // pass 3+: PLANNING ONLY — analyze + optimize + physical planning
    // (executedPlan forces the whole driver-side pipeline, runs
    // nothing), splitting the per-query floor into plan vs execute.
    // A/B the expensive optimizer rules inside ONE JVM (alternating
    // so JIT drift can't masquerade as a config effect).
    def planPass(label: String): Unit = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, f) =>
        try { f(spark, dir).queryExecution.executedPlan; () }
        catch { case _: Throwable => () }
      }
      println(f"cache=$cache planOnly[$label] wall=${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    planPass("base-warm0")
    // rule-level attribution of the planning floor: which analyzer/
    // optimizer rules the warm pass actually spends its time in
    // (RuleExecutor keeps global counters; reset → one pass → dump)
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    planPass("base-warm1")
    if (sys.env.contains("RULE_DUMP"))
      println(org.apache.spark.sql.catalyst.rules.RuleExecutor
        .dumpTimeSpent())
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    planPass("noCP-0")
    planPass("noCP-1")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "true")
    planPass("base-again")
    spark.stop()
  }
}

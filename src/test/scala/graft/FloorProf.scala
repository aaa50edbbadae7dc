// Per-query FLOOR profiler (guide §1): decompose the bench's fixed
// per-query overhead — Janino/whole-stage-codegen compilation and
// driver planning — from real compute, in Bench's own session
// (LocalSpark). Usage:
//   SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.FloorProf [q1 q2 ...]"
// Prints per-pass wall time + cumulative codegen compile ms +
// generated-class count, so pass 2's recompiles are a direct number,
// not a bench-noise inference.
package graft

import org.apache.spark.metrics.source.CodegenMetrics

object FloorProf {
  def main(args: Array[String]): Unit = {
    val dir = LocalSpark.sfDir
    val spark = LocalSpark.session("floorprof")
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
    // failure count per pass: a bad sf dir or broken query otherwise
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
        try LocalSpark.sink(graft.SparkEntry.queries(n)(spark, dir))
        catch { case _: Throwable => failed += 1 }
      }
    }
    Artifacts.prewarm(spark, dir)
    println(s"after-prewarm: nComp=$nComp compMsEst=$compMsEst")
    if (!sys.env.contains("SKIP_EXEC")) (1 to 2).foreach { p =>
      val (c0, n0, t0) = (compMsEst, nComp, System.nanoTime())
      run()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"pass=$p wall=$sec%8.2f s  newClasses=${nComp - n0}%5d  compileMsEst=${compMsEst - c0}%6d  failed=$failed")
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
      println(f"planOnly[$label] wall=${(System.nanoTime() - t0) / 1e9}%8.2f s")
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

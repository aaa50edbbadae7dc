package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Shuffle-volume audit
  * (`sbt "Test/runMain graft.MetricsCheck [q1 q2 ...]"`): executes the
  * named queries (default: every declared query) at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and reports, from the executed
  * plan's metrics, how many exchanges ran and how much data they
  * moved — the measured backing for the shuffle-minimization claims
  * in docs/SCALING.md. */
object MetricsCheck {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("metricscheck")
    val sf = LocalSpark.sfDir

    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }

    /** collect() treats AQE query stages as leaves; descend into them
      * so exchange metrics are visible. */
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      finalPlan(p).collect { case n => n }.flatMap {
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          s +: allNodes(s.plan)
        case n => Seq(n)
      }

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    println(f"${"query"}%-24s ${"exchanges"}%9s ${"shuffle MB"}%10s ${"out rows"}%10s")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      // execute THIS plan (count() would build a separate execution
      // whose metrics we can't see)
      val qe = df.queryExecution
      val n = qe.toRdd.count()
      val nodes = allNodes(qe.executedPlan)
      val exchanges = nodes.count(_.nodeName.contains("Exchange"))
      // shuffle volume counts SHUFFLE exchanges only: a
      // BroadcastExchange's dataSize reports the pre-allocated
      // HashedRelation page (~64 MB floor even for a 20-row dim),
      // which is memory estimate, not bytes moved
      val shuffleBytes = nodes
        .filter(_.nodeName == "Exchange")
        .flatMap(_.metrics.get("dataSize")).map(_.value).sum
      println(f"$name%-24s $exchanges%9d ${shuffleBytes / 1e6}%10.1f $n%10d")
    }
    spark.stop()
  }
}

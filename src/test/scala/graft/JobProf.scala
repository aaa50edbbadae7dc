// per-job profiler: run named queries and print every Spark job's
// wall time + stage/task counts — pinpoints whether a slow query is
// many small jobs (driver/scheduling overhead) or few big ones
// (real compute). Each round's `total=` is the query's construct +
// sink wall time, the number Bench records. Usage:
//   SPARK_GRAFT_SF_DIR=... sbt "Test/runMain JobProf q1 q2 ..."
import org.apache.spark.scheduler._
import scala.collection.mutable

object JobProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session("jobprof")
    val dir = graft.LocalSpark.sfDir

    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, start = e.time)
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = j }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup (codegen/JIT) — not profiled
    graft.SparkEntry.queries("dd1_dedup_exact")(spark, dir).collect()

    args.toSeq.foreach { n =>
      // second run = steady state (layouts/memos built on the first)
      (1 to 2).foreach { round =>
        jobs.synchronized { jobs.clear() }
        // the description rides the local properties AQE captures, so
        // jobs it submits from its own threads carry it too
        spark.sparkContext.setJobDescription(s"$n round $round")
        val t0 = System.nanoTime()
        try graft.LocalSpark.sink(graft.SparkEntry.queries(n)(spark, dir))
        finally spark.sparkContext.setJobDescription(null)
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the listener bus drain
        val snap = jobs.synchronized { jobs.values.toSeq }
        println(f"== $n round $round  total=$sec%7.3f s  jobs=${snap.size}")
        if (round == 2) {
          val byDur = snap.map(j => (j.end - j.start, j))
          println(f"   sum(job wall)=${byDur.map(_._1).sum / 1e3}%7.3f s")
          byDur.sortBy(-_._1).take(30).foreach { case (ms, j) =>
            val d = if (j.desc.length > 90) j.desc.take(90) else j.desc
            println(f"   job ${j.id}%4d ${ms / 1e3}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d  $d")
          }
        }
      }
    }
    spark.stop()
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for every span: epoch-anchored microseconds with
  * `nanoTime` resolution, comparable with Spark's epoch-ms event times. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A span at one layer boundary. `parent` is 0 for a query's root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, query: Long) {
  def durUs: Long = endUs - startUs
}

/** One timed query of a traced window. */
final case class QueryRec(id: Long, instance: Instance, startUs: Long,
    endUs: Long)

/** Spans and per-layer records of a traced window, all kept in memory.
  *
  * Driver-side spans (query, construct, `DataFrameReader.load`) are
  * recorded by [[span]] around the benchmark's own calls into each
  * layer. Spark's scheduler, executors and Catalyst are observed
  * through a `SparkListener`, a `QueryExecutionListener` (planning
  * tracker phases, executed plans) and codegen counters; the sharing
  * client and object store through the recording proxy and the object
  * server's logs. Records are attributed to the query whose interval
  * holds their start: the loop is closed, one query at a time.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val ids = new AtomicLong
  private val driverSpans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private var current = 0L

  final case class Job(id: Int, startUs: Long, var endUs: Long, stages: Seq[Int])
  final case class Task(stage: Int, launchUs: Long, endUs: Long, queueUs: Long,
      failed: Boolean, runMs: Long, cpuNs: Long, inputB: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long)
  final case class Exec(startUs: Long, phases: Map[String, (Long, Long)],
      deltaScans: Seq[(Int, Seq[String])], localScan: Boolean)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = new ConcurrentLinkedQueue[Exec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time * 1000, e.time * 1000, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t * 1000)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      val launch = i.launchTime * 1000
      val queue = stageSubmit.get(e.stageId).map(s => math.max(0L, launch - s)).getOrElse(0L)
      tasks += (if (m == null) Task(e.stageId, launch, i.finishTime * 1000, queue,
          !i.successful, 0, 0, 0, 0, 0, 0)
        else Task(e.stageId, launch, i.finishTime * 1000, queue, !i.successful,
          m.executorRunTime, m.executorCpuTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs * 1000, p.endTimeMs * 1000) }
    val start = if (phases.isEmpty) Clock.nowUs() else phases.values.map(_._1).min
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    val scans = if (plan == null) Nil else PlanWalk.collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.getClass.getName.contains("DeltaShare") =>
        (b.inputPartitions.size, b.scan.readSchema().fieldNames.toSeq)
    }
    val local = plan != null && PlanWalk.collectWithSubqueries(plan) {
      case l: LocalTableScanExec => l }.nonEmpty
    execs.add(Exec(start, phases, scans, local))
  }

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def disable(): Unit = {
    on = false
    org.apache.spark.PerfBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a span of `layer`, nested under the innermost open
    * span of this thread. Free when tracing is off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      if (parent == 0L) current = id
      val q = if (parent == 0L) id else current
      stack.set(id :: stack.get)
      val t0 = Clock.nowUs()
      try body
      finally {
        stack.set(stack.get.tail)
        driverSpans.add(Span(id, parent, name, layer, t0, Clock.nowUs(), q))
      }
    }

  def lastQueryId: Long = current

  // ---- summary -----------------------------------------------------

  /** Per-layer metrics over the traced queries, each a per-query mean
    * unless its name says otherwise, plus every span for the trace
    * file. `manifest` gives the footer and column-chunk bytes of each
    * served file. */
  def summarise(queries: Seq[QueryRec], proxy: Option[RecordingProxy],
      objects: Option[ObjectServer], base: Baseline, end: Baseline,
      fixtureFiles: Int, manifest: Manifest): (Map[String, Double], Seq[Span]) = {
    val n = math.max(1, queries.size).toDouble
    val qs = queries.sortBy(_.startUs).toArray
    val starts = qs.map(_.startUs)
    def queryAt(t: Long): Option[QueryRec] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && t <= qs(j).endUs) Some(qs(j)) else None
    }
    val drv = driverSpans.asScala.toSeq
    val byQuery = drv.groupBy(_.query)
    /** innermost driver span of the query that holds t */
    def holder(q: QueryRec, t: Long): Long =
      byQuery.getOrElse(q.id, Nil).filter(s => s.startUs <= t && t <= s.endUs)
        .sortBy(_.durUs).headOption.map(_.id).getOrElse(q.id)
    val spans = mutable.ArrayBuffer.empty[Span] ++= drv
    def add(name: String, layer: String, s: Long, e: Long, parent: Option[Long] = None): Long =
      queryAt(s) match {
        case Some(q) =>
          val id = ids.incrementAndGet()
          spans += Span(id, parent.getOrElse(holder(q, s)), name, layer, s, math.max(s, e), q.id)
          id
        case None => 0L
      }

    val m = mutable.LinkedHashMap.empty[String, Double]
    // queries layer: construction and the jobs it runs eagerly
    val constructs = drv.filter(_.layer == "queries")
    m("queries.construct_ms") = constructs.map(_.durUs).sum / 1000.0 / n
    val jobList = synchronized(jobs.values.toSeq)
    m("queries.construct_jobs") = jobList.count(j =>
      constructs.exists(c => c.startUs <= j.startUs && j.startUs <= c.endUs)) / n

    // catalyst: planning tracker phases of every execution
    val ex = execs.asScala.toSeq.filter(e => queryAt(e.startUs).isDefined)
    for (ph <- Seq("analysis", "optimization", "planning")) {
      var tot = 0L
      ex.foreach(_.phases.get(ph).foreach { case (s, e) =>
        tot += e - s
        add(ph, "catalyst", s, e)
      })
      m(s"catalyst.${ph}_ms") = tot / 1000.0 / n
    }
    m("codegen.compiles") = (end.compiles - base.compiles) / n
    m("codegen.compile_ms") = (end.compileNs - base.compileNs) / 1e6 / n

    // scheduler and executors
    val taskList = synchronized(tasks.toSeq).filter(t => queryAt(t.launchUs).isDefined)
    val jobIds = mutable.Map.empty[Int, Long]
    val stageJob = mutable.Map.empty[Int, Int]
    jobList.filter(j => queryAt(j.startUs).isDefined).foreach { j =>
      jobIds(j.id) = add("job", "scheduler", j.startUs, j.endUs)
      j.stages.foreach(stageJob(_) = j.id)
    }
    taskList.foreach(t => add("task", "exec", t.launchUs, t.endUs,
      stageJob.get(t.stage).flatMap(jobIds.get)))
    m("scheduler.jobs") = jobIds.size / n
    m("scheduler.stages") = taskList.map(_.stage).distinct.size / n
    m("scheduler.tasks") = taskList.size / n
    m("scheduler.task_queue_ms") = taskList.map(_.queueUs).sum / 1000.0 / n
    m("scheduler.task_failures") = taskList.count(_.failed) / n
    m("exec.task_run_ms") = taskList.map(_.runMs).sum / n
    m("exec.task_cpu_ms") = taskList.map(_.cpuNs).sum / 1e6 / n
    m("exec.input_mb") = taskList.map(_.inputB).sum / MB / n
    m("exec.shuffle_read_mb") = taskList.map(_.shuffleReadB).sum / MB / n
    m("exec.shuffle_write_mb") = taskList.map(_.shuffleWriteB).sum / MB / n
    m("exec.spill_mb") = taskList.map(_.spillB).sum / MB / n
    m("exec.gc_ms") = (end.gcMs - base.gcMs) / n

    // sources.v2: load, listing, planning and pruning
    val loads = drv.filter(_.layer == "sources_v2")
    m("sources_v2.load_ms") = loads.map(_.durUs).sum / 1000.0 / n
    val reqs = proxy.map(_.log.asScala.toSeq.drop(base.proxyLog)).getOrElse(Nil)
      .filter(r => queryAt(r.startUs).isDefined)
    val posts = reqs.filter(r => r.method == "POST" && r.path.endsWith("/query"))
    m("sources_v2.fixture_files") = fixtureFiles
    m("sources_v2.files_listed") =
      if (posts.isEmpty) 0 else posts.map(_.filesListed).sum.toDouble / posts.size
    val scanByQuery = ex.groupBy(e => queryAt(e.startUs).get.id)
    val scanQueries = queries.filter(_.instance.readsTable)
    val planned = scanQueries.map(q =>
      scanByQuery.getOrElse(q.id, Nil).flatMap(_.deltaScans).map(_._1).sum)
    m("sources_v2.files_planned") = planned.sum / n
    m("sources_v2.files_pruned_frac") =
      if (scanQueries.isEmpty || fixtureFiles == 0) 0
      else 1.0 - planned.sum.toDouble / (scanQueries.size.toDouble * fixtureFiles)
    m("sources_v2.stats_only_plans") = scanQueries.count(q =>
      scanByQuery.getOrElse(q.id, Nil).forall(_.deltaScans.isEmpty) &&
        scanByQuery.getOrElse(q.id, Nil).exists(_.localScan)) / n

    // sharing client, seen through the recording proxy
    reqs.foreach(r => add(s"${r.method} ${r.path.split('/').lastOption.getOrElse("")}",
      "client", r.startUs, r.endUs))
    m("client.requests") = reqs.size / n
    m("client.query_posts") = posts.size / n
    m("client.metadata_gets") = reqs.count(r => r.method == "GET" && r.path.endsWith("/metadata")) / n
    m("client.response_kb") = reqs.map(_.responseBytes).sum / 1024.0 / n
    m("client.conns_opened") = (end.proxyConns - base.proxyConns) / n
    m("client.retries") = reqs.count(r => r.status == 429 || r.status >= 500) / n
    m("client.http_ms") = reqs.map(r => r.endUs - r.startUs).sum / 1000.0 / n

    // presigned-URL reads, seen from the object server
    val gets = objects.map(_.log.asScala.toSeq.drop(base.objectLog)).getOrElse(Nil)
      .filter(g => queryAt(g.startUs).isDefined)
    gets.foreach(g => add("GET", "presigned", g.startUs, g.endUs))
    val perQueryFiles = gets.groupBy(g => queryAt(g.startUs).get.id)
      .map { case (q, gs) => q -> gs.map(_.file).distinct }
    val needed = perQueryFiles.toSeq.map { case (q, files) =>
      val cols = scanByQuery.getOrElse(q, Nil).flatMap(_.deltaScans).flatMap(_._2).toSet
      files.map(f => manifest.neededBytes(f, cols)).sum
    }.sum
    val served = gets.map(_.bytes).sum
    m("presigned.gets") = gets.size / n
    m("presigned.gets_per_file") =
      if (gets.isEmpty) 0 else gets.size.toDouble / perQueryFiles.values.map(_.size).sum
    m("presigned.served_mb") = served / MB / n
    m("presigned.over_read_ratio") = if (needed == 0) 0 else served.toDouble / needed
    m("presigned.aborted_responses") = gets.count(!_.complete) / n
    m("presigned.conns_opened") = (end.objectConns - base.objectConns) / n
    m("presigned.refreshes") = (end.forbidden - base.forbidden) / n
    m("presigned.get_ms_p50") = Stats.quantile(gets.map(g => (g.endUs - g.startUs) / 1000.0), 0.5)
    val statsOnly = queries.filter(_.instance.statsOnly).map(_.id).toSet
    m("presigned.gets_stats_only") =
      gets.count(g => statsOnly.contains(queryAt(g.startUs).get.id)).toDouble

    // self time per layer: a span's duration minus the part of it its
    // children cover
    val children = spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap(Layers.map(_ -> 0L): _*)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).filter(c => c._2 > c._1)
      self(s.layer) = self.getOrElse(s.layer, 0L) + s.durUs - Stats.unionLength(kids.toSeq)
    }
    self.foreach { case (l, us) => m(s"self.${l}_ms") = us / 1000.0 / n }
    m("trace.spans") = spans.size / n
    (m.toMap, spans.toSeq)
  }

  private val MB = 1024.0 * 1024.0
  private val Layers = Seq("driver", "queries", "sources_v2", "client",
    "catalyst", "scheduler", "exec", "presigned")
}

private object PlanWalk extends AdaptiveSparkPlanHelper

/** Cumulative counters read at the edges of a window. */
final case class Baseline(compiles: Long, compileNs: Long, gcMs: Long,
    proxyLog: Int, proxyConns: Int, objectLog: Int, objectConns: Int,
    forbidden: Long)

object Baseline {
  def read(proxy: Option[RecordingProxy], objects: Option[ObjectServer]): Baseline = {
    var gc = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => gc += math.max(0L, b.getCollectionTime))
    Baseline(
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      gc,
      proxy.map(_.log.size).getOrElse(0), proxy.map(_.connections).getOrElse(0),
      objects.map(_.log.size).getOrElse(0), objects.map(_.connections).getOrElse(0),
      objects.map(_.forbidden.get).getOrElse(0L))
  }
}

object Stats {
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CompletableFuture, ExecutionException}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's measuring process. `run.py` generates the inputs,
  * starts this main and turns what it prints into the benchmark's
  * metrics.
  *
  *   --workload share_scan|share_manyfiles|suite_sample
  *   --data <dir>      generated fixtures (tables/, scan/, many/, manifest.json)
  *   --work <dir>      scratch space for check results and the trace file
  *   --seconds <s>     timed window, rounded up to whole passes over the
  *                     workload; traced runs split it into an untraced and
  *                     a traced half
  *   --trace 0|1 --seed <n>
  *   --queries <a,b>   suite_sample: the sampled query names
  *   --corrupt <name>  self-test: falsify this query's expected answer
  *
  * Protocol: lines starting with `PB ` on stdout are JSON records;
  * `phase` records mark the end of each set-up phase. The process
  * starts before its inputs exist and reads `ready` from stdin once they
  * do. For suite_sample it prints a `check` record once the results are
  * written and reads one line back from stdin: a JSON list of the
  * queries the oracle rejected.
  */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = Paths.get(args("data"))
    val work = Paths.get(args("work"))
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val seed = args("seed").toLong
    val corrupt = args.getOrElse("corrupt", "")
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadBefore = load1m()

    val spark = session(cpus, work)
    phase("spark")
    // Bench.scala's synthetic warm-ups absorb session, codegen and JIT
    // start-up while run.py generates the inputs; "ready" on stdin says
    // they are written
    spark.range(1000).selectExpr("id % 7 k", "id v").groupBy("k").agg(sum("v")).collect()
    spark.range(100).selectExpr(
      "aggregate(transform(sequence(1, 5), x -> x * id), 0L, (a, b) -> a + b) s")
      .agg(sum("s")).collect()
    phase("session")
    val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    require(stdin.readLine() == "ready", "inputs were not generated")
    val tracer = new Tracer(spark)
    val w: Workload = workload match {
      case "share_scan" => new ShareWorkload(spark, tracer, data, "lineitem_scan", seed)
      case "share_manyfiles" => new ShareWorkload(spark, tracer, data, "lineitem_many", seed)
      case "suite_sample" => new SuiteWorkload(spark, data.resolve("tables"),
        if (args("queries") == "all") SuiteWorkload.allNames
        else args("queries").split(",").toSeq.filter(_.nonEmpty))
      case other => sys.error(s"unknown workload $other")
    }
    phase("workload")

    // correctness pass, outside every timed window: it runs each query
    // once, building whatever standing artifacts the query packs memoize
    val verdict = mutable.LinkedHashMap.empty[String, String]
    val checkMs = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(v: => String): Unit = {
      val t0 = System.nanoTime()
      verdict(name) = try v catch { case e: Throwable => s"error: ${oneLine(e)}" }
      checkMs(name) = (System.nanoTime() - t0) / 1e6
      System.err.println(s"perfbench: checked $name in ${checkMs(name).toLong} ms")
    }
    w match {
      case s: SuiteWorkload =>
        val dir = Files.createDirectories(work.resolve("results"))
        s.instances.foreach(i => timed(i.name) { s.writeResult(i, dir); "ok" })
        val oracle = graft.SparkEntry.oracleSql
        Files.write(dir.resolve("oracle_sql.json"), s.instances.flatMap(i =>
          oracle.get(i.name).map(q => s"${str(i.name)}:${str(q)}")).mkString("{", ",", "}")
          .getBytes("UTF-8"))
        emit(s"""{"event":"check","dir":${str(dir.toString)},""" +
          s""""queries":${s.instances.map(i => str(i.name)).mkString("[", ",", "]")}}""")
        val rejected = Option(stdin.readLine()).getOrElse("[]")
          .stripPrefix("[").stripSuffix("]").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty)
        rejected.foreach(n => if (verdict.get(n).contains("ok")) verdict(n) = "mismatch")
      case _ =>
        // the expected answers are computed on a second thread while this
        // one reads the share, so the two overlap in set-up
        val wants = w.instances.map(_.name -> new CompletableFuture[(Long, java.math.BigDecimal)]).toMap
        val expecting = new Thread(() => w.instances.foreach { i =>
          try wants(i.name).complete(rowHash(i.expected.get()))
          catch { case e: Throwable => wants(i.name).completeExceptionally(e) }
        }, "perfbench-expected")
        expecting.setDaemon(true)
        expecting.start()
        w.instances.foreach(i => timed(i.name) {
          val got = rowHash(i.build())
          val want = try wants(i.name).get() catch { case e: ExecutionException => throw e.getCause }
          val exp = if (i.name == corrupt) (want._1 + 1, want._2) else want
          if (got == exp) "ok" else s"mismatch: got $got want $exp"
        })
        expecting.join()
    }
    w.afterChecks()
    phase("checked")
    val bad = verdict.collect { case (n, v) if v != "ok" => n }.toSet
    bad.foreach(n => System.err.println(s"perfbench: $n failed its check: ${verdict(n)}"))

    // per-query leakage: RDDs persisted by a warm-up or timed query are
    // released after it; what the check pass persisted stays
    val protectedRdds = spark.sparkContext.getPersistentRDDs.keySet
    def scrub(): Unit = spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!protectedRdds.contains(id)) rdd.unpersist(blocking = false)
    }

    // the checks hash each result, so the plans the window times (build,
    // then the noop sink) have not run yet: one untimed pass over them
    // keeps their first, JIT-cold runs out of the window
    w.instances.filterNot(i => bad(i.name)).foreach { i =>
      try sink(i.build()) catch {
        case e: Throwable => System.err.println(s"perfbench: warm-up of ${i.name} threw: ${oneLine(e)}")
      }
      scrub()
    }
    phase("warmed")

    val rng = new Random(seed * 7919 + 17)
    // per query: timed samples and their total ms
    val samples = mutable.LinkedHashMap(w.instances.map(_.name -> (0, 0.0)): _*)
    var firstStartMs = 0L
    var ticksAtStart = (0L, 0L)
    final case class Window(traced: Boolean, latencies: Seq[Double], attempted: Int,
        failed: Int, seconds: Double, queries: Seq[QueryRec])

    /** Whole passes over the workload until `secs` have passed: every
      * window measures complete mixes. A query whose check failed is
      * counted as attempted and failed, and not run. */
    def window(secs: Double, withTrace: Boolean): Window = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val recs = mutable.ArrayBuffer.empty[QueryRec]
      var attempted, failed = 0
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      if (firstStartMs == 0L) {
        firstStartMs = System.currentTimeMillis()
        ticksAtStart = cpuTicks()
      }
      val allBad = w.instances.forall(i => bad(i.name))
      do w.pass(rng).foreach { inst =>
        attempted += 1
        if (bad(inst.name)) failed += 1
        else {
          val s = Clock.nowUs()
          val q0 = System.nanoTime()
          val ok = try {
            tracer.span("query", "driver") {
              val df = tracer.span("construct", "queries")(inst.build())
              sink(df)
            }
            true
          } catch {
            case e: Throwable =>
              System.err.println(s"perfbench: ${inst.name} threw: ${oneLine(e)}")
              false
          }
          val ms = (System.nanoTime() - q0) / 1e6
          if (ok) {
            lat += ms
            samples(inst.name) = (samples(inst.name)._1 + 1, samples(inst.name)._2 + ms)
          } else failed += 1
          if (withTrace) recs += QueryRec(tracer.lastQueryId, inst, s, Clock.nowUs())
          scrub()
        }
      } while (System.nanoTime() < deadline && !allBad)
      Window(withTrace, lat.toSeq, attempted, failed, (System.nanoTime() - t0) / 1e9, recs.toSeq)
    }

    val windows = mutable.ArrayBuffer.empty[Window]
    var perLayer = Map.empty[String, Double]
    if (!traced) windows += window(seconds, withTrace = false)
    else {
      windows += window(seconds / 2, withTrace = false)
      w.useProxy(true)
      tracer.enable()
      val base = Baseline.read(w.proxy, w.objects)
      val tw = window(seconds / 2, withTrace = true)
      tracer.disable()
      val end = Baseline.read(w.proxy, w.objects)
      windows += tw
      val (m, spans) = tracer.summarise(tw.queries, w.proxy, w.objects, base, end,
        w.fixtureFiles, w.manifest)
      perLayer = m
      writeSpans(work.resolve("trace-spans.jsonl"), spans)
    }

    val ticksAtEnd = cpuTicks()
    val calibMs = math.min(calib(spark), calib(spark))
    val env = Seq(
      "nproc" -> cpus.toDouble, "seed" -> seed.toDouble,
      "load1m_before" -> loadBefore, "load1m_after" -> load1m(),
      "cpu_steal_frac" -> (ticksAtEnd._1 - ticksAtStart._1).toDouble /
        math.max(1L, ticksAtEnd._2 - ticksAtStart._2),
      "calib_ms" -> calibMs, "peak_rss_mb" -> peakRssMb(),
      "first_byte_delay_ms" -> Workloads.FirstByteDelayMs.toDouble)
    val windowJson = windows.map { x =>
      s"""{"traced":${x.traced},"attempted":${x.attempted},"failed":${x.failed},""" +
        s""""seconds":${num(x.seconds)},"latencies_ms":${x.latencies.map(num).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    emit(s"""{"event":"result","workload":${str(workload)},"first_query_epoch_ms":$firstStartMs,""" +
      s""""windows":$windowJson,"env":${obj(env)},"per_layer":${obj(perLayer.toSeq.sortBy(_._1))},""" +
      s""""samples":${samples.map { case (k, (c, ms)) => s"${str(k)}:[$c,${num(ms)}]" }
        .mkString("{", ",", "}")},""" +
      s""""check_ms":${obj(checkMs.toSeq)},""" +
      s""""checks":${verdict.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}}""")

    w.stop()
    spark.stop()
  }

  /** Bench.scala's session settings, with every local directory inside
    * the work dir. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The evaluation-forcing sink Bench.scala uses: every output row
    * with all its columns is consumed. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent row hash: (row count, sum of xxhash64 over all
    * columns). */
  def rowHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Bench.scala's machine canary: a fixed CPU and shuffle task. */
  def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8L * 1000 * 1000, 1L, 32)
      .selectExpr("id % 97 AS k", "id * 2654435761 % 1000000007 AS v")
      .groupBy("k").agg(sum("v"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  def load1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, total) CPU ticks of the machine from /proc/stat: the
    * share of time the hypervisor gave the machine's CPUs to others. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    try {
      val l = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
        .linesIterator.find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startUs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"layer":${str(s.layer)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"query":${s.query}}""")
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def emit(json: String): Unit = { println("PB " + json); Console.out.flush() }
  /** Marks the end of a set-up phase for run.py's timeline. */
  private def phase(name: String): Unit = emit(s"""{"event":"phase","name":${str(name)}}""")
  /** A JSON number with every digit (`Double.toString` is locale-free). */
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  private def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator
      .take(1).mkString.take(300)
}

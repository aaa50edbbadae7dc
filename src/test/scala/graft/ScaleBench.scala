package graft

/** Driver-runnable scaling artifact: times a named-query subset at TWO
  * sf dirs — cold (first run in this JVM at that dir, layout/centroid
  * builds included) and steady (min of the next two runs, pure
  * serving) — and emits ONE JSON file with the cold/steady pairs and
  * steady time ratios docs/SCALING.md quotes, so the doc's 10× rows
  * are auditable instead of builder-measured claims.
  *
  * Recipe (docs/SCALING.md "Scale smoke"):
  * {{{
  *   sbt "Test/runMain GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *   sbt "Test/runMain graft.ScaleBench /root/testdata/sf0.1 \
  *     /tmp/graft_sf1 <out.json> [q1,q2,...]"
  * }}}
  *
  * The session is [[LocalSpark]]'s (cores from `SPARK_GRAFT_CPUS`,
  * recorded as `"cpus"` in the JSON). Timing discipline matches
  * Bench: query CONSTRUCTION inside the timed window (eager operators
  * do real work at build time) and [[LocalSpark.sink]] as the action. */
object ScaleBench {
  private val DefaultQueries = Seq(
    "q58_pagerank", "q60_triangles", "q71_lpa_incremental",
    "q72_lpa_drift", "t22_bm25_topk", "t32_bm25_layout",
    "t37_hybrid_layout", "t40_bm25_layout_dfcap",
    "dd3_dedup_minhash", "ss9_ivfpq_topk")

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: Test/runMain graft.ScaleBench " +
        "<sfA> <sfB> <out.json> [q1,q2,...]")
      sys.exit(2)
    }
    val Array(sfA, sfB, outPath) = args.take(3)
    val names = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    require(new java.io.File(s"$sfB/lineitem.parquet").exists(),
      s"$sfB has no tables — run GenScale first (see scaladoc)")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session("scalebench", cpus)
    // JVM/codegen warmup off the timed path
    LocalSpark.sink(SparkEntry.queries("dd1_dedup_exact")(spark, sfA))
    def time1(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      LocalSpark.sink(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    def run(name: String, dir: String): (Double, Double) = {
      val cold = time1(name, dir)
      val steady = math.min(time1(name, dir), time1(name, dir))
      (cold, steady)
    }
    // TWO-PHASE: every query measured at sf_a BEFORE any sf_b run.
    // Interleaved (aA,aB per query), a query's small-dir steadies were
    // measured with the PREVIOUS queries' 10×-dir memo blocks resident
    // in the block manager, and the inflation is real: q72's a_steady
    // read 6.3 s interleaved vs 1.36 s clean-JVM (and 1.4 s in the
    // prewarmed Bench). Phase-splitting keeps every a-row measured
    // under a-scale residency only — the same state Bench measures —
    // while b-rows (compute-dominated) absorb the shared-JVM tax.
    val aRows = names.map(n => n -> run(n, sfA)).toMap
    val bRows = names.map(n => n -> run(n, sfB)).toMap
    val rows = names.map { n =>
      val ((ac, as), (bc, bs)) = (aRows(n), bRows(n))
      println(f"SCALE $n%-28s a_cold=$ac%6.2f a_steady=$as%6.2f " +
        f"b_cold=$bc%6.2f b_steady=$bs%6.2f ratio=${bs / as}%5.2f")
      f""""$n":{"a_cold":$ac%.3f,"a_steady":$as%.3f,"b_cold":$bc%.3f,"b_steady":$bs%.3f,"ratio_steady":${bs / as}%.3f}"""
    }
    val json =
      s"""{"sf_a":"$sfA","sf_b":"$sfB","cpus":$cpus,"protocol":"two-phase: all sf_a rows first, then all sf_b rows; cold=first run in JVM at that dir (builds included), steady=min of next 2 (serving)","queries":${rows.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(s"wrote $outPath")
    spark.stop()
  }
}

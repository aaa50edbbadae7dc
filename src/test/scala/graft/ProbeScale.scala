package graft

/** Scaling probe harness: time layout-served BM25 with rare-term vs
  * stopword-heavy queries to decompose 10x serving growth into the
  * layout-mechanics term (flat) and the posting-list term (grows with
  * df — the dfCapPpm territory). Numbers recorded in docs/SCALING.md;
  * run: `[SPARK_GRAFT_SF_DIR=...] sbt "Test/runMain graft.ProbeScale"`. */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("probescale")
    val dir = LocalSpark.sfDir
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_probe_${spark.sparkContext.applicationId}").getPath
    graft.operators.Retrieval.bm25IndexWrite(docs, out, buckets = 64)
    // rare-term query: one low-df term (a specific token) — the
    // probe cost a term-pruned layout should keep flat
    val rare = Seq((1L, "zephyr quixotic")).toDF("query_id", "text")
    // stopword query: terms whose df ~ n_docs — posting lists grow
    // linearly with the corpus by definition
    val stop = Seq((1L, "the of and a")).toDF("query_id", "text")
    def time(name: String, q: org.apache.spark.sql.DataFrame,
        cap: Option[Long] = None): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        LocalSpark.sink(graft.operators.Retrieval.bm25TopKFromLayout(
          spark, out, q, k = 10, dfCapPpm = cap))
        println(f"PROBE $name run$i ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
    }
    time("rare", rare)
    time("stopword", stop)
    // capped: the stopword terms drop from the _df dictionary read
    // BEFORE any posting bucket opens — the flat serving path
    time("stopword-capped", stop, Some(200000L))
    spark.stop()
  }
}

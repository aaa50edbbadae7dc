// dump .explain("formatted") for named queries to files — the
// judge-checkable plan artifacts (plans/r19/<query>_{before,after}.txt)
object PlanDump {
  def main(args: Array[String]): Unit = {
    // args: <outDir> <suffix> <query...>
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.LocalSpark.session("plandump")
    val dir = graft.LocalSpark.sfDir
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"dumped $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}

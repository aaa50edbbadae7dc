// Generate an ~N× scaled copy of the sf tables the TAIL queries read
// (lineitem, orders, documents, embeddings) by unioning N key-shifted
// copies — the local stand-in for sf1 used by the scale smoke in
// docs/SCALING.md. Usage:
//   Test/runMain GenScale [srcDir] [outDir] [n]
// Copies are disjoint in every id space (offset 10M per copy);
// document text gets a per-copy suffix token so near-dup structure
// scales ~linearly instead of exploding into cross-copy exact-dup
// cliques.
import org.apache.spark.sql.functions._

object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val off = 10L * 1000 * 1000
    val spark = graft.LocalSpark.session("genscale")
    def scaled(table: String)(
        shift: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until n).map(i => shift(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"wrote $out/$table.parquet x$n")
    }
    // part/supplier keys shift too: otherwise the copies only add
    // PARALLEL edges between the same nodes and the distinct part/
    // supplier graphs (q58/q60/q62) would not actually grow
    scaled("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(off * i))
      .withColumn("l_partkey", col("l_partkey") + lit(off * i))
      .withColumn("l_suppkey", col("l_suppkey") + lit(off * i)))
    scaled("orders")((df, i) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(off * i))
      .withColumn("o_custkey", col("o_custkey") + lit(off * i)))
    scaled("documents")((df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(off * i))
      .withColumn("text", concat(col("text"), lit(s" cp$i"))))
    scaled("embeddings")((df, i) => df
      .withColumn("vec_id", col("vec_id") + lit(off * i)))
    spark.stop()
  }
}

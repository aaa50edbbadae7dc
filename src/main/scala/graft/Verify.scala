package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `runMain graft.Verify <sfDir> <outDir> [q1,q2,...]` — with the
  * optional list, only those queries and their oracle entries. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...]")
    val names = args.lift(2).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
    val spark = LocalSpark.session("graft-verify")
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** Write each named query's result to `<outDir>/<name>` and their
    * oracle SQL to `<outDir>/oracle_sql.json`; no names means every
    * query. A query that throws is reported on stderr and skipped. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val keep: String => Boolean =
      if (names.isEmpty) _ => true else names.toSet
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

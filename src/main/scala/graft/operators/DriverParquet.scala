package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Driver-side reader for the 1-row parquet MARKER artifacts (`_meta`,
  * `_fold_intent`, `_fold_done`). These are metadata, not data: every
  * layout probe must read them (the fold-guard contract), and doing it
  * through `spark.read.parquet(...).head()` costs a full analyzer
  * source resolution (~50 ms, measured — Spark 4 resolves each read
  * call in `ResolveDataSource`) plus a scheduled one-task job
  * (~100 ms) PER MARKER, i.e. ~0.3 s of pure overhead per probed
  * layout. Reading the single row with parquet-hadoop on the driver is
  * ~5 ms, scale-independent (the marker is 1 row at any corpus size —
  * this is exactly the "driver reads table metadata" shape every
  * lakehouse format uses), and byte-identical: same files, same
  * values, same loud failure on a corrupt marker. */
private[graft] object DriverParquet {

  /** Read the named int64 fields of the single row under `dir`.
    * Scans the part files in name order and returns the first row
    * found (the artifacts are written as exactly one row; empty part
    * files from over-partitioned writes are skipped). Throws on a
    * missing directory or zero rows, and an unreadable/ill-typed part
    * file throws `IllegalStateException("marker <dir> is corrupt: …")`
    * — callers map those to their own absent/corrupt semantics. */
  def headLongs(spark: SparkSession, dir: String,
      fields: Seq[String]): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      })
      .sortBy(_.getPath.getName)
    val rows = parts.iterator.flatMap { st =>
      try {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            st.getPath)
          .withConf(conf).build()
        try Option(reader.read()).map(g => fields.map(f => g.getLong(f, 0)))
        finally reader.close()
      } catch { case NonFatal(e) =>
        throw new IllegalStateException(
          s"marker $dir is corrupt: ${st.getPath.getName}: ${e.getMessage}", e)
      }
    }
    if (rows.hasNext) rows.next()
    else throw new IllegalStateException(
      s"marker $dir holds no rows (expected exactly one)")
  }

  def headLong(spark: SparkSession, dir: String, field: String): Long =
    headLongs(spark, dir, Seq(field)).head
}

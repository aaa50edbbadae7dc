package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one partition-grain maintenance engine behind every WRITTEN
  * layout — the kNN / SQ8 / PQ vector layouts ([[Similarity]]), the
  * BM25 postings and doc-bucket artifacts ([[Retrieval]]) and the
  * `_df` log collapse ([[LayoutMaintenance]]). Each family supplies
  * only what is its own (id and partition columns, the arrival
  * encoder, its frozen sidecars); the fold discipline lives here once.
  *
  * The shared contract:
  *   - a CDF batch (`insert`, `delete`, `update_preimage`,
  *     `update_postimage` — the rows the connector's `/changes` scan
  *     emits) splits into a departure and an arrival leg; any other
  *     change type fails loudly at task time, during the fold's first
  *     action, so a rejected fold never reaches its first mutation
  *     ([[splitCdf]]);
  *   - only the TOUCHED partitions rewrite: their standing rows are
  *     re-materialized (an eager checkpoint severs them from the files
  *     being replaced), go through the caller's survivor step, gain the
  *     arrivals, and land by dynamic partition overwrite — every
  *     untouched partition keeps its files byte-for-byte, and cost is
  *     proportional to the touched partitions, not the layout. The
  *     driver holds only the touched partition-value SET (≤ centroid
  *     count / bucket count + 1 — broadcastable by design);
  *   - a touched partition the rewrite writes no rows for has its
  *     directory dropped explicitly (dynamic overwrite cannot delete a
  *     partition it writes nothing to), so a layout can drain to no
  *     partitions at all — and a DRAINED layout (only commit markers
  *     left, so parquet schema inference fails) reads as the absent
  *     membership it is ([[readLayout]]), so the next fold inserts
  *     into it instead of throwing ([[rewritePartitions]]);
  *   - the vector folds are UPSERTS: departures AND arrival ids leave
  *     before the arrivals' rows land, so re-applying the same batch
  *     (the [[FoldStamp]] crash recovery) converges instead of
  *     duplicating arrivals, and an insert of an existing id replaces
  *     it wherever it lived ([[upsertFold]]);
  *   - events that regenerate a vector layout (index writes, retrains,
  *     refreshes) write the data, then the sidecars, then the
  *     [[FoldStamp]] commit ([[rewriteAll]]). */
private[graft] object PartitionedLayout {

  /** Read a layout's data artifact, treating a fully-DRAINED
    * directory as the absent membership it is — callers' own loud
    * "no members" / membership-mismatch degrades then fire instead of
    * a bare schema-inference error. */
  def readLayout(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** The change-type guard and the `(departures, arrivals)` legs of a
    * CDF batch, all columns kept. The guard is row-level: an unknown
    * change type throws at task time instead of silently dropping the
    * row from both legs. `op` names the fold in the error. */
  def splitCdf(cdf: DataFrame, op: String): (DataFrame, DataFrame) = {
    val known = Seq("insert", "delete", "update_preimage",
      "update_postimage")
    val validated = cdf.withColumn("_change_type",
      when(col("_change_type").isin(known: _*), col("_change_type"))
        .otherwise(raise_error(concat(
          lit(s"$op: unknown CDF change type '"),
          col("_change_type"), lit("'"))).cast("string")))
      .localCheckpoint(eager = false) // feeds the leave + arrive legs
    (validated.filter(col("_change_type").isin("delete", "update_preimage")),
      validated.filter(col("_change_type").isin("insert", "update_postimage")))
  }

  /** Rewrite the `touched` partitions of the layout at `path`: their
    * standing rows through `survivors`, plus `arrivals` (`None`: the
    * survivor step alone); touched directories left empty are
    * deleted. A no-op when nothing is touched. Rows are written in
    * the arrivals' column order (else the survivors'), partition
    * column last — not the union's: a USING anti-join in `survivors`
    * moves its key column first. */
  def rewritePartitions(spark: SparkSession, path: String,
      partCol: String, touched: Set[Long], arrivals: Option[DataFrame])(
      survivors: DataFrame => DataFrame): Unit = {
    if (touched.isEmpty) return
    val touchedLit = touched.toSeq.sorted.map(lit)
    val standing = readLayout(spark, path)
      .map(l => survivors(l.filter(col(partCol).isin(touchedLit: _*))))
    val written = (standing ++ arrivals).reduceOption(_ unionByName _)
      .fold(Set.empty[Long]) { rows =>
        val cols = arrivals.getOrElse(rows).columns
          .filter(_ != partCol) :+ partCol
        val newRows = rows.select(cols.map(col): _*)
          .localCheckpoint(eager = true) // sever from the files below
        newRows.repartition(col(partCol))
          .write.option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).mode("overwrite").parquet(path)
        newRows.select(partCol).distinct()
          .collect().map(_.get(0).toString.toLong).toSet
      }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (touched -- written).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"$partCol=$v"), true)
    }
  }

  /** The CDF upsert fold of a written VECTOR layout — `family`'s
    * `<family>LayoutApplyCdf`. CDF rows are `(vec_id, embedding,
    * _change_type)`; `encode` maps the arriving `(vec_id, embedding)`
    * rows to layout rows (under the family's frozen sidecars) carrying
    * `idCol` and `partCol`. The touched set is where departures and
    * replaced ids live now plus where arrivals go; the [[FoldStamp]]
    * bracket opens after that census (the change-type guard raises
    * during it) and before the first mutation. */
  def upsertFold(spark: SparkSession, layoutPath: String,
      cdf: DataFrame, family: String, idCol: String, partCol: String,
      resumeCrashed: Boolean)(encode: DataFrame => DataFrame): Unit = {
    val (gone, arrived) = splitCdf(cdf, s"${family}LayoutApplyCdf")
    val arrivedVecs = arrived.select("vec_id", "embedding")
    val arrivedRows = encode(arrivedVecs)
      .localCheckpoint(eager = false) // touched census + rewrite
    val departing = gone.select(col("vec_id").as(idCol))
      .unionByName(arrivedVecs.select(col("vec_id").as(idCol)))
      .distinct()
      .localCheckpoint(eager = false) // touched census + anti-join
    val departingHomes = readLayout(spark, layoutPath).map(
      _.join(broadcast(departing), Seq(idCol), "left_semi").select(partCol))
    val touched = (departingHomes.toSeq :+ arrivedRows.select(partCol))
      .reduce(_ union _)
      .distinct().collect().map(_.get(0).toString.toLong).toSet
    val seq = FoldStamp.enter(spark, layoutPath, family, resumeCrashed)
    rewritePartitions(spark, layoutPath, partCol, touched, Some(arrivedRows))(
      _.join(broadcast(departing), Seq(idCol), "left_anti"))
    FoldStamp.commit(spark, layoutPath, seq)
  }

  /** A full rewrite of a vector layout inside the [[FoldStamp]]
    * bracket the caller opened (`seq`): the `partCol`-partitioned
    * data, then each `(suffix, frame)` sidecar beside it, then the
    * commit. */
  def rewriteAll(spark: SparkSession, layoutPath: String, seq: Long,
      partCol: String, rows: DataFrame,
      sidecars: (String, DataFrame)*): Unit = {
    rows.repartition(col(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(layoutPath)
    sidecars.foreach { case (suffix, frame) =>
      frame.write.mode("overwrite").parquet(layoutPath + suffix)
    }
    FoldStamp.commit(spark, layoutPath, seq)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The third scheduled OFFLINE maintenance event for the written
  * layouts, completing the executor trilogy — stats refresh
  * ([[Similarity.sq8StatsRefresh]], ss27), centroid retrain
  * ([[Similarity.knnCentroidRetrain]], ss28), and THIS: small-file
  * compaction. Streaming appends ([[Similarity.homeRowsAgainst]] /
  * `sq8RowsAgainst` / `pqRowsAgainst` foreachBatch,
  * [[Retrieval.bm25LayoutAppend]]) add one file per partition per
  * micro-batch by design; left alone, a long-lived layout's listing
  * and open-file cost grows with ingest batches, not data. Compaction
  * rewrites ONLY the fragmented partitions (file count above
  * `maxFiles` — the TRIGGER) down to `⌈bytes/targetBytes⌉` files each
  * (the TARGET) — the partition-grain rewrite discipline of
  * [[PartitionedLayout]], applied to file geometry instead of
  * membership. A partition never collapses to one unbounded file: a
  * hot `bkt=` postings partition at 100 TB is ~corpus/buckets bytes,
  * and a single-file target would hand one straggler task a multi-GB
  * write and leave one unsplittable row-group-heavy file to serve
  * from — the same `targetBytes` discipline as [[Layout.compact]]'s
  * bin plan, here derived from on-disk partition bytes because an
  * in-place layout rewrite has no per-row size column. Untouched
  * partitions keep their files byte-for-byte; rows are unchanged, so
  * serving through the compacted layout is bit-identical (both pinned
  * in GuardrailsSpec).
  *
  * Scale shape: the driver holds one (partition value, file count,
  * bytes) triple per partition directory (≤ numCentroids / buckets+1
  * entries — broadcastable by the same argument as
  * [[PartitionedLayout]]'s touched sets); only the fragmented
  * partitions' rows re-materialize (an eager checkpoint severs them
  * from the files being replaced); a deterministic per-partition
  * salt spreads each fragmented partition over `⌈bytes/target⌉`
  * writer tasks (parallel, no single-partition straggler), with
  * `maxRecordsPerFile` as the hard size backstop when salt groups
  * collide in one task.
  *
  * Why this stays a SIBLING of [[Layout.compact]] rather than one
  * primitive (the considered-and-rejected unification): the two share
  * the `targetBytes` sizing discipline but serve different contracts.
  * [[Layout.compact]] materializes a NEW layout from rows that carry
  * a per-row size column and a meaningful order — its
  * `binAssignments` cumsum makes every output file RANGE-CONTIGUOUS
  * in the order column, which is the point (per-file min/max stats
  * prune like a sorted table, q57/q68). This operator heals an
  * EXISTING hash-partitioned layout in place, where rows carry no
  * size column (sizes come from the file listing) and within-bucket
  * order carries no pruning value (bucket contents are hash-grouped
  * by construction) — imposing the bin plan here would force a
  * window sort per partition (a single-reducer straggler on exactly
  * the hot partitions being healed) to produce an ordering nothing
  * reads. One primitive would carry the weaker half of each
  * contract; the shared discipline is the byte target, not the code.
  */
object LayoutMaintenance {

  /** Hive's directory name for a null partition value — kept as an
    * opaque STRING in the census (partition directory names are
    * strings; parsing them to a numeric type made the utility throw
    * on any string-partitioned or null-valued layout). */
  val NullPartitionDir = "__HIVE_DEFAULT_PARTITION__"

  /** Per-partition file census of a partitioned layout directory:
    * `(partition value as the directory spells it, parquet file
    * count, total parquet bytes)` — the fragmentation monitor that
    * schedules [[compact]], driver-side because the listing is ≤ one
    * entry per partition directory. */
  def fileCensus(spark: SparkSession, path: String,
      partCol: String): Seq[(String, Int, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partCol + "="))
      .map { d =>
        val raw = d.getPath.getName.drop(partCol.length + 1)
        // Hive %XX-escapes special chars in directory spellings
        // (spaces, colons in timestamps, '%' itself); the census must
        // report the VALUE, not the spelling — compact() casts and
        // re-joins on it, and an escaped spelling would never match
        // (those partitions were silently never compacted). The null
        // marker is a reserved literal, kept verbatim.
        val v =
          if (raw == NullPartitionDir) raw
          else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(raw)
        val parts = fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        (v, parts.length, parts.map(_.getLen).sum)
      }
      .sortBy(_._1)
  }

  /** Compact every partition of `path` whose parquet-file count
    * exceeds `maxFiles` down to `⌈bytes/targetBytes⌉` size-bounded
    * files, leaving the rest untouched. Rows are preserved exactly —
    * this moves bytes between files, never between partitions.
    * Partitions already at or below their byte-derived target count
    * are skipped even when fragmented by `maxFiles` (rewriting them
    * could not reduce their file count). */
  def compact(spark: SparkSession, path: String, partCol: String,
      maxFiles: Int = 1,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    import spark.implicits._
    // trigger: file count above maxFiles; target: ceil(bytes/target)
    // files. A partition whose bytes demand >= its current file count
    // is left alone — a rewrite cannot improve its geometry.
    val census = fileCensus(spark, path, partCol)
    val frag = census
      .map { case (v, n, b) =>
        (v, n, b, math.max(1L, (b + targetBytes - 1) / targetBytes))
      }
      .collect { case (v, n, b, need) if n > maxFiles && need < n =>
        (v, need.toInt, b)
      }
    if (frag.nonEmpty) {
      val layout = spark.read.parquet(path)
      val dt = layout.schema(partCol).dataType
      val (nullFrag, typedFrag) = frag.partition(_._1 == NullPartitionDir)
      val typedLits = typedFrag.map(v => lit(v._1).cast(dt))
      val pred0 =
        if (typedLits.nonEmpty) col(partCol).isin(typedLits: _*)
        else lit(false)
      val pred =
        if (nullFrag.nonEmpty) pred0 || col(partCol).isNull else pred0
      // the fragmented partitions' rows ONLY, severed (eagerly) from
      // the files the dynamic overwrite is about to replace
      val rows = layout.filter(pred).localCheckpoint(eager = true)
      // deterministic per-partition fan-out: each fragmented
      // partition's rows salt over its OWN target file count (a tiny
      // broadcast map — one row per fragmented partition), so a hot
      // partition writes in parallel while a small one still lands in
      // one file. maxRecordsPerFile (from the frag-wide average row
      // size) is the hard byte backstop if salt groups share a task.
      val needDf = frag.map(f => (f._1, f._2)).toDF("__pv", "__need")
      val dataCols = rows.columns.filter(_ != partCol).map(col)
      val salted = rows
        .withColumn("__pv",
          coalesce(col(partCol).cast("string"), lit(NullPartitionDir)))
        .join(broadcast(needDf), Seq("__pv"))
        .withColumn("__salt",
          pmod(hash(dataCols: _*), col("__need")))
      val totalBytes = frag.map(_._3).sum
      val totalRows = rows.count()
      // BigInt before dividing: targetBytes * totalRows overflows a
      // Long at ~7e10 fragmented rows under the default 128 MiB target
      // — maxRecordsPerFile would go negative and the write would throw
      val recsPerFile =
        if (totalRows == 0L || totalBytes == 0L) Long.MaxValue
        else (BigInt(targetBytes) * totalRows / totalBytes)
          .max(BigInt(1)).min(BigInt(Long.MaxValue)).toLong
      salted
        .repartition(col(partCol), col("__salt"))
        .select(rows.columns.map(col): _*)
        .write.option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", recsPerFile)
        .partitionBy(partCol).mode("overwrite").parquet(path)
    }
  }

  /** Compact a full [[Retrieval.bm25IndexWrite]] layout: the `bkt=`
    * postings, the `_fwd` doc-bucket copy, and the `_docs` census
    * each at their own partition grain (the 1-row `_meta` census is
    * untouched — compaction moves bytes, never rows), PLUS the `_df`
    * delta-log collapse ([[collapseBm25Df]]) — the one sub-artifact
    * where compaction must also collapse ROWS: the signed log grows
    * one row per (term, fold) forever, so under streaming ingest
    * (one append per micro-batch) a year of 1-minute batches leaves
    * ~0.5M delta rows per COMMON term, and the df-capped probe that
    * exists to keep stopword queries flat then pays
    * fold-count-proportional work in exactly the hot buckets. The
    * collapse runs FIRST so the file-geometry pass sizes the
    * already-collapsed bytes. */
  def compactBm25(spark: SparkSession, layoutPath: String,
      maxFiles: Int = 1,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    collapseBm25Df(spark, layoutPath)
    compact(spark, layoutPath, "bkt", maxFiles, targetBytes)
    compact(spark, layoutPath + "_fwd", "dbkt", maxFiles, targetBytes)
    compact(spark, layoutPath + "_docs", "dbkt", maxFiles, targetBytes)
    compact(spark, layoutPath + "_df", "bkt", maxFiles, targetBytes)
  }

  /** Collapse the `_df` signed delta log of a [[Retrieval
    * .bm25IndexWrite]] layout to ONE row per (term, bucket), dropping
    * zero-sum terms (fully departed — their postings are gone, so a
    * surviving 0-row would only cost probe reads). Serving is
    * invariant BY CONSTRUCTION: every probe takes a term's df as
    * `SUM(ddf)` over its bucket, and the collapse replaces each
    * bucket's rows with their per-term sums — so t32/t35/t37/t40
    * serve bit-identically across it (pinned in GuardrailsSpec),
    * while a probe's per-term read drops from fold-count rows to one.
    *
    * Crash discipline: the rewrite is [[PartitionedLayout
    * .rewritePartitions]] of every bucket, with the collapse as its
    * survivor step; buckets left with no surviving term drop. A crash
    * before the job commit leaves the log untouched; the collapse
    * changes no SUM, so it neither needs nor bumps the layout's
    * fold-sequence stamp. */
  def collapseBm25Df(spark: SparkSession, layoutPath: String): Unit = {
    val dfPath = layoutPath + "_df"
    val existing = fileCensus(spark, dfPath, "bkt").map(_._1.toLong)
    PartitionedLayout.rewritePartitions(spark, dfPath, "bkt",
      existing.toSet, None)(
      _.groupBy("bkt", "fp").agg(sum("ddf").as("ddf"))
        .filter(col("ddf") =!= 0))
  }
}

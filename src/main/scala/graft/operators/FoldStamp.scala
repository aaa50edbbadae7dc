package graft.operators

import org.apache.spark.sql.SparkSession

/** Fold-sequence crash stamps for the written VECTOR layouts (kNN /
  * SQ8 / PQ) — the [[Retrieval]] BM25 layout's intent/commit bracket
  * generalized to layouts without a `_meta` census: every maintenance
  * event that writes MORE THAN ONE non-atomic artifact commit (or
  * follows a commit with directory deletes) brackets itself with a
  * monotone fold id — `_fold_intent` (1-row parquet) is the event's
  * FIRST write, `_fold_done` its LAST. A crash anywhere in between
  * leaves `intent ≠ done`, which every probe and every further fold
  * detects via [[check]] and fails LOUDLY on — without it, a
  * [[Similarity.knnCentroidRetrain]] killed between its data rewrite
  * and its `_cents` write serves silently wrong neighbors (rows
  * assigned under centroids that were never persisted), a
  * [[Similarity.sq8StatsRefresh]] killed between its re-encode and
  * its `_stats` write dequantizes every code against the wrong grid,
  * and a [[Similarity.pqIndexWrite]] killed before its `_books`
  * commit decodes residuals through stale codebooks.
  *
  * RECOVERY is re-running the interrupted event, not a rebuild: the
  * vector maintenance events are idempotent in effect —
  * retrain/refresh re-derive everything from raw vectors (which
  * survive any crash point), and the CDF folds are
  * [[PartitionedLayout.upsertFold]]s, so re-applying the same batch
  * converges. The re-run must ACKNOWLEDGE the crash — pass
  * `resumeCrashed = true` to the maintenance event, which enters via
  * [[beginRebuild]] (no consistency check) — because only re-running
  * the SAME event converges; a different fold over the half-mutated
  * layout would silently compound, so the default entry stays loud.
  * A full index write ([[Similarity.knnIndexWrite]] /
  * [[Similarity.sq8IndexWrite]]) regenerates every artifact and is
  * always a valid recovery, so it always enters via [[beginRebuild]].
  * Every bracketed event commits through [[PartitionedLayout]]: the
  * folds via `upsertFold`, the full rewrites via `rewriteAll`.
  *
  * The BM25 layout keeps its own stamp (fold id inside `_meta`, heal
  * via `bm25LayoutFsck`) because its `_df` delta log makes blind
  * re-application unsafe — its derived artifacts rebuild from the
  * postings instead. */
private[graft] object FoldStamp {

  /** Marker state — ABSENT and CORRUPT are deliberately distinct
    * (the round-18 finding): mapping "present but unparsable" to
    * absence made a crash DURING a marker write — which can corrupt
    * both markers at once — read as a legacy unstamped layout and
    * silently pass [[check]]. Now:
    *   - absence (`fs.exists` false) is the only state that reads as
    *     "no marker" (legacy layout / first fold),
    *   - a present-but-unparsable marker is CORRUPT and always fails
    *     [[check]] loudly,
    *   - filesystem/environment errors (from `getFileSystem`/`exists`)
    *     PROPAGATE — a flaky FS must not make the guard fail open. */
  private sealed trait Marker
  private case object Absent extends Marker
  private final case class Present(seq: Long) extends Marker
  private case object Corrupt extends Marker

  private def read(spark: SparkSession, path: String): Marker = {
    val p = new org.apache.hadoop.fs.Path(path)
    // environmental failures here rethrow: fail closed, not open
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Absent // legacy layout / first fold — not an error
    else
      // driver-side 1-row read (no analyzer resolution, no job —
      // ~0.15 s saved per marker per probe); unreadable/ill-typed
      // still maps to Corrupt, which fails check() loudly
      try Present(DriverParquet.headLong(spark, path, "fold_seq"))
      catch { case scala.util.control.NonFatal(_) => Corrupt }
  }

  private def show(m: Marker): String = m match {
    case Present(s) => s.toString
    case Absent => "absent"
    case Corrupt => "corrupt"
  }

  private def write(spark: SparkSession, path: String, seq: Long): Unit = {
    import spark.implicits._
    Seq(seq).toDF("fold_seq").write.mode("overwrite").parquet(path)
  }

  /** Probe/fold-entry staleness check: throws when a fold began and
    * did not complete. `op` names the layout family for the error. */
  def check(spark: SparkSession, layoutPath: String, op: String): Unit = {
    val intent = read(spark, layoutPath + "_fold_intent")
    val done = read(spark, layoutPath + "_fold_done")
    val ok = (intent, done) match {
      case (Present(a), Present(b)) => a == b
      case (Absent, Absent) => true // predates stamping — accepted
      case _ => false // mismatch, or ANY corrupt marker: loud
    }
    if (!ok)
      throw new IllegalStateException(
        s"$op layout $layoutPath is mid-fold or crashed mid-fold: " +
          s"_fold_intent=${show(intent)} but " +
          s"_fold_done=${show(done)} — a maintenance " +
          "event began and did not complete, so the layout's artifacts " +
          "may be mutually stale. Re-run the interrupted event (the " +
          "folds are idempotent: retrain/refresh re-derive from current " +
          "membership, CDF rewrites upsert), which re-brackets the " +
          "layout and restores consistency.")
  }

  /** Start a fold: checks consistency, then writes the intent marker
    * (seq = last committed + 1) as the fold's first commit. Call
    * AFTER every validation that can reject the fold — a rejected
    * fold mutates nothing and must not flag the layout. */
  def begin(spark: SparkSession, layoutPath: String, op: String): Long = {
    check(spark, layoutPath, op)
    beginRebuild(spark, layoutPath)
  }

  /** Start a FULL-REWRITE event (an index write that regenerates
    * every artifact from the source): skips the consistency check —
    * a from-scratch rewrite over a crashed layout IS the rebuild
    * recovery, so refusing it would make a mid-fold crash
    * unrecoverable by the one event that always heals it. Seq resumes
    * past BOTH markers so the ids stay monotone across the crash; a
    * CORRUPT marker contributes no seq (its value is unrecoverable) —
    * a possibly-reused id is harmless here because the rebuild
    * overwrites every artifact and re-stamps both markers. */
  def beginRebuild(spark: SparkSession, layoutPath: String): Long = {
    val seq = Seq(read(spark, layoutPath + "_fold_done"),
      read(spark, layoutPath + "_fold_intent"))
      .collect { case Present(s) => s }
      .foldLeft(-1L)(math.max).+(1L)
    write(spark, layoutPath + "_fold_intent", seq)
    seq
  }

  /** Maintenance-event entry: loud by default, [[beginRebuild]] when
    * the caller acknowledges it is re-running a crashed fold. */
  def enter(spark: SparkSession, layoutPath: String, op: String,
      resumeCrashed: Boolean): Long =
    if (resumeCrashed) beginRebuild(spark, layoutPath)
    else begin(spark, layoutPath, op)

  /** Finish a fold: the `_fold_done` write is the commit that marks
    * the event complete. */
  def commit(spark: SparkSession, layoutPath: String, seq: Long): Unit =
    write(spark, layoutPath + "_fold_done", seq)
}

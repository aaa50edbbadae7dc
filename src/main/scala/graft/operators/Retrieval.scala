package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lexical retrieval — the inverted-index complement of the
  * [[Similarity]] vector family (hybrid search runs BOTH and fuses:
  * BM25 catches exact terminology ANN embeds away, ANN catches
  * paraphrase BM25 can't see).
  */
object Retrieval {


  /** BM25 top-k document retrieval (t22): classic Okapi BM25 with
    * k₁ = 1.2, b = 0.75, in EXACT integer arithmetic.
    *
    * Both BM25 factors are replaced by monotone integer surrogates so
    * the oracle compares bit-for-bit (the t09/t14 discipline — `log`
    * is not cross-engine exact, integer `div` is):
    *  - idf: `(2N − 2df + 1)·10⁶ div (2df + 1)` — the argument of
    *    the classic `ln((N − df + ½)/(df + ½))` with halves cleared,
    *    so per-term ordering is identical;
    *  - tf saturation: `tf·(k₁+1) / (tf + k₁(1 − b + b·len/avgdl))`
    *    with k₁ = 6/5, b = 3/4 and `avgdl = total_len/N` multiplied
    *    through: `22·L·tf·10⁶ div (10·L·tf + 3·L + 9·len·N)` where
    *    L = total corpus tokens — an EXACT rational, no rounded
    *    average-length intermediate;
    *  - term score = `idf_ppm · factor div 10⁶`, summed per
    *    (query, doc). Intermediates run in DECIMAL(38,0) so corpus
    *    scale cannot wrap a Long mid-product.
    *
    * Scale shape: ONE corpus tokenize scan builds the postings
    * `(term fp, doc_id, tf)` via a map-side-combinable aggregation
    * (shuffle bounded by Σ distinct terms per doc, not corpus
    * bytes — text never leaves the scan); document frequencies are a
    * vocabulary-sized aggregation; corpus totals are a 1-row
    * broadcast. The QUERY side (terms + their df) is tiny and
    * broadcasts onto the postings — the corpus-sized side never
    * re-shuffles for scoring; per-(query, doc) partial aggregation
    * collapses before the exchange, and top-k runs through the
    * bounded-heap aggregator (≤ k rows per query per partition reach
    * the reducer — safe even when a stopword-grade term matches the
    * whole corpus).
    *
    * Output: `(query_id, rank, doc_id, score_ppm, n_terms_hit)`,
    * rank ≤ k, ties by doc_id. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    import graft.functions.hashFunctions.gram_fps
    // postings + doc lengths from ONE staged tokenize (gram_fps is a
    // HOF-adjacent expression — stage it so it runs once per row)
    val staged = docs
      .select(col("doc_id"), gram_fps(col("text"), 1).as("fps"))
      .localCheckpoint(eager = false) // feeds postings AND totals
    // doc length rides INSIDE the postings group key (functionally
    // dependent on doc_id) — scoring then needs no second corpus-
    // keyed join to re-attach lengths
    val postings = staged
      .select(col("doc_id"), size(col("fps")).cast("long").as("len"),
        explode(col("fps")).as("fp"))
      .groupBy("fp", "doc_id", "len").agg(count(lit(1)).as("tf"))
    val totals = staged
      .select(size(col("fps")).cast("long").as("l"))
      .agg(count(lit(1)).as("n_docs"), sum("l").as("total_len"))
    bm25Score(postings, totals, queries, k)
  }

  /** The shared Okapi scoring tail over a postings frame
    * `(fp, doc_id, len, tf)` — the exact-integer arithmetic of
    * [[bm25TopK]], reused by the standing-index probe so both paths
    * are bit-identical by construction. `dfreq` is derived from the
    * postings (one vocabulary-sized aggregation); `totals` is the
    * 1-row corpus census the caller already has or derives. */
  private def bm25Score(postings: DataFrame, totals: DataFrame,
      queries: DataFrame, k: Int,
      dfCapPpm: Option[Long] = None,
      dfreqOpt: Option[DataFrame] = None): DataFrame = {
    import graft.functions.hashFunctions.gram_fps
    bm25ScoreFps(postings, totals,
      queries.select(col("query_id"),
        explode(array_distinct(gram_fps(col("text"), 1))).as("fp")),
      k, dfCapPpm, dfreqOpt)
  }

  /** The term-level entry of the scoring tail: `qfps` is the already-
    * fingerprinted `(query_id, fp)` term set — what [[rm3Expand]]'s
    * second pass feeds after splicing expansion terms in. */
  private def bm25ScoreFps(postings: DataFrame, totals: DataFrame,
      qfps: DataFrame, k: Int,
      dfCapPpm: Option[Long] = None,
      dfreqOpt: Option[DataFrame] = None): DataFrame = {
    // callers that score twice over one index (rm3) pass the
    // vocabulary-sized df aggregation in so it computes once
    val dfreq = dfreqOpt.getOrElse(
      postings.groupBy("fp").agg(count(lit(1)).as("df")))
    // query terms + idf, all on the tiny side.
    // dfCapPpm restricts scoring to DISCRIMINATIVE terms (df ≤
    // cap·N/1e6): a stopword-grade term matches ~every document, so
    // with a large query batch the postings⋈terms join degenerates
    // toward |corpus|×|queries| while the term contributes ~zero idf
    // — the dd2 df-cap discipline applied to scoring. None = full
    // BM25 (t22/t25); contamination probes (dc6) cap it.
    // the factor's corpus-wide constants (22·L·10⁶, 10·L, 3·L, 9·N —
    // L = total_len, N = n_docs) are HOISTED onto the tiny broadcast
    // side: per posting row the old expression re-multiplied the
    // constants in DECIMAL(38) (~8 wide-decimal ops/row); the
    // rearranged form does 3. Integer products/sums reassociate
    // exactly, so factor — and every score — is bit-identical
    // (the full oracle surface re-verified).
    val qterms = qfps
      .join(dfreq, Seq("fp")) // unseen terms score nothing anyway
      .crossJoin(broadcast(totals))
      .filter(dfCapPpm match {
        case Some(cap) => col("df") * lit(1000000L) <= lit(cap) * col("n_docs")
        case None => lit(true)
      })
      .select(col("query_id"), col("fp"),
        expr("CAST((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1)" +
          " AS DECIMAL(38,0))").as("idf_dec"),
        expr("CAST(22 AS DECIMAL(38,0)) * total_len * 1000000")
          .as("num_a"),
        expr("CAST(10 AS DECIMAL(38,0)) * total_len").as("den_b"),
        expr("CAST(3 AS DECIMAL(38,0)) * total_len").as("den_c"),
        expr("CAST(9 AS DECIMAL(38,0)) * n_docs").as("den_d"))
    val termScores = postings
      .join(broadcast(qterms), Seq("fp"))
      .withColumn("factor",
        expr("(num_a * tf) div (den_b * tf + den_c + den_d * len)"))
      .withColumn("term_score", expr("(idf_dec * factor) div 1000000"))
    // per-(query, doc) partial aggregation collapses term hits before
    // the exchange; the per-QUERY top-k then runs through the bounded-
    // heap aggregator (NOT a row_number window): a stopword-grade term
    // with no df cap matches ~every document, and a window would
    // funnel that corpus-sized candidate set through one reducer key —
    // the aggregator's map-side partials hand the reducer ≤
    // partitions·k rows instead, the ss-family TopKAggregator
    // discipline. Output order (score desc, doc_id asc) is identical.
    val perDoc = termScores
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("term_score").cast(DecimalType(38, 0)))
          .cast("long").as("score_ppm"))
    val spark = perDoc.sparkSession
    import spark.implicits._
    val agg = new graft.functions.TypedAggregators.LongTopKAggregator(k)
    perDoc
      .select(col("query_id"), col("doc_id"), col("score_ppm"),
        col("n_terms_hit"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3, r._4))
      .agg(agg.toColumn)
      .flatMap { case (qid, tops) =>
        tops.iterator.zipWithIndex.map { case ((s, did, nh), i) =>
          (qid, i + 1, did, s, nh)
        }
      }
      .toDF("query_id", "rank", "doc_id", "score_ppm", "n_terms_hit")
  }

  /** STANDING BM25 index (t25): the per-document postings
    * `(fp, doc_id, len, tf)` computed ENTIRELY per-row — tf comes
    * from a single run-length pass over the document's own sorted
    * token array ([[runLengthCounts]]), len is the array
    * size, and NO cross-row state exists. Three consequences:
    *  - materialize-once: persist/bucket this frame by `fp` and every
    *    [[bm25TopKAgainst]] probe skips the corpus tokenize entirely
    *    (the only corpus-sized cost of t22);
    *  - streaming-legal: the same operator maps a LIVE document
    *    stream batch-by-batch into index rows (proven in
    *    StreamingSpec) — no aggregation, so append mode just works;
    *  - incrementally maintainable: [[bm25ApplyCdf]] folds a CDF
    *    batch in with one doc-keyed anti-join + a union of the new
    *    docs' rows (the dd9 discipline — deltas touch the index, the
    *    corpus is never re-read).
    * df and corpus totals are NOT stored: they are one vocabulary-
    * sized and one doc-distinct aggregation over the postings at
    * probe time, always consistent with the maintained rows (a stored
    * df would need its own delta bookkeeping and can drift). */
  def bm25Index(docs: DataFrame): DataFrame = {
    import graft.functions.hashFunctions.{gram_fps, run_length_longs}
    docs
      .select(col("doc_id"), gram_fps(col("text"), 1).as("fps"))
      // tf via the native run-length expression: ONE sorted pass per
      // row (the O(distinct × len) filter-per-distinct-term HOF and
      // the staged sort/bounds HOF chain both lose — the latter
      // because explode's inferred `size(...) > 0` pushdown filter
      // re-inlines and re-evaluates the chain per element).
      // A token-less document keeps ONE null-fp sentinel row: it must
      // still count in the probe-time n_docs census (bm25TopK's
      // corpus scan counts it), and a bare explode would erase it.
      .select(col("doc_id"), size(col("fps")).cast("long").as("len"),
        explode(when(size(col("fps")) === 0,
          array(struct(lit(null).cast("long").as("fp"),
            lit(0L).as("tf"))))
          .otherwise(run_length_longs(col("fps"))))
          .as("p"))
      .select(col("p.fp").as("fp"), col("doc_id"), col("len"),
        col("p.tf").as("tf"))
  }

  /** Fold a CDF batch into a standing [[bm25Index]]: deleted /
    * pre-image docs leave via ONE doc-keyed anti-join, inserted /
    * post-image docs arrive as their per-row postings — no other row
    * moves, and df/len totals need no bookkeeping (derived at probe
    * time). Unknown change types fail loudly rather than corrupt the
    * index. */
  def bm25ApplyCdf(index: DataFrame, cdf: DataFrame): DataFrame = {
    val (gone, arrived) = PartitionedLayout.splitCdf(cdf, "bm25ApplyCdf")
    index.join(gone.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(bm25Index(arrived.select("doc_id", "text")))
      .select("fp", "doc_id", "len", "tf") // keep the index layout stable
  }

  /** Probe a standing [[bm25Index]] with a query batch — identical
    * scores to [[bm25TopK]] on the equivalent corpus (same shared
    * scoring tail), but the corpus-sized tokenize is GONE: the probe
    * touches the postings (bucket/persist them by `fp` for repeated
    * workloads), one vocabulary-sized df aggregation, one
    * doc-distinct totals census, and the tiny broadcast query side. */
  def bm25TopKAgainst(index: DataFrame, queries: DataFrame,
      k: Int = 10, dfCapPpm: Option[Long] = None,
      statsOpt: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // statsOpt = (dfreq `(fp, df)`, totals 1-row `(n_docs,
    // total_len)`) — for probes of a FROZEN standing index the two
    // index-wide aggregations are themselves standing artifacts the
    // caller can memoize (they are pure functions of the index frame,
    // so results are identical); a MAINTAINED index (CDF folds, t25)
    // must keep deriving them from the current rows — pass None.
    val totals = statsOpt.map(_._2).getOrElse(
      index.select("doc_id", "len").distinct()
        .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len")))
    bm25Score(index, totals, queries, k, dfCapPpm,
      dfreqOpt = statsOpt.map(_._1))
  }

  /** The postings' term-hash bucket: a term's rows live wholly inside
    * `fp mod buckets`; the token-less sentinel (null fp) gets its own
    * reserved bucket `buckets`. */
  private def bm25Bkt(fp: Column, buckets: Int): Column =
    coalesce(pmod(fp, lit(buckets.toLong)), lit(buckets.toLong))

  /** The written layout's collection statistics: bucket count plus the
    * corpus census `(n_docs, total_len)` BM25's idf/length terms need,
    * plus the fold-sequence stamp `fold_seq` (crash-consistency —
    * below). Kept in the 1-row `_meta` and maintained INCREMENTALLY by
    * every fold ([[bm25LayoutAppend]], [[bm25LayoutApplyCdf]]) so a
    * probe reads scalars from one tiny file instead of re-aggregating
    * the one-row-per-document `_docs` artifact — at 1B+ docs that
    * census is a multi-GB scan per probe batch for two numbers that
    * only change when the corpus does. `_docs` stays on disk as the
    * preimage/recovery source: [[bm25MetaRebuild]] re-derives `_meta`
    * from it after a crash between a data fold and its meta write.
    *
    * CRASH-CONSISTENCY CONTRACT: a fold writes several non-atomic
    * parquet commits (postings, `_fwd`, `_docs`, `_df`, `_meta`), so a
    * crash mid-fold would otherwise leave derived artifacts silently
    * stale — every probe takes df from `_df` and totals from `_meta`,
    * and would serve WRONG scores until an operator happened to run
    * the rebuilds. Every fold therefore brackets itself with a
    * monotone fold id: the 1-row `_fold_intent` marker is the fold's
    * FIRST write (`fold_seq = meta.fold_seq + 1`) and `_meta` (now
    * carrying the same `fold_seq`) is its LAST — a crash anywhere in
    * between leaves `intent ≠ meta`, which [[readBm25Meta]] (the entry
    * of every probe AND every fold) detects and fails LOUDLY on,
    * naming [[bm25LayoutFsck]] as the recovery. A crash before the
    * intent write changed nothing (the layout is intact at the prior
    * fold; the batch is simply lost and the caller re-submits). */
  private[graft] case class Bm25Meta(buckets: Int, nDocs: Long,
      totalLen: Long, foldSeq: Long)

  private def readBm25MetaRow(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String): Bm25Meta = {
    // driver-side 1-row read (see DriverParquet — the probe-time
    // fold guard costs no analyzer resolution and no job)
    val vs = DriverParquet.headLongs(spark, layoutPath + "_meta",
      Seq("buckets", "n_docs", "total_len", "fold_seq"))
    Bm25Meta(vs(0).toInt, vs(1), vs(2), vs(3))
  }

  private def readBm25Meta(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String): Bm25Meta = {
    val m = readBm25MetaRow(spark, layoutPath)
    val intent = readFoldIntent(spark, layoutPath)
    if (intent != Some(m.foldSeq))
      throw new IllegalStateException(
        s"bm25 layout $layoutPath is mid-fold or crashed mid-fold: " +
          s"_fold_intent=${intent.getOrElse("unreadable")} but " +
          s"_meta.fold_seq=${m.foldSeq} — a fold began and did not " +
          "complete, so the derived df/census artifacts may be stale. " +
          "Run Retrieval.bm25LayoutFsck(spark, path, heal = true) to " +
          "rebuild them from the postings, then re-submit the " +
          "interrupted batch with bm25LayoutAppend(resubmit = true) — " +
          "the heal keeps WHATEVER prefix of the fold landed, so a " +
          "blind re-append would double-count a batch whose data " +
          "writes completed; resubmit anti-joins already-present doc " +
          "ids and converges either way.")
    m
  }

  private def writeBm25Meta(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, m: Bm25Meta): Unit = {
    import spark.implicits._
    Seq((m.buckets.toLong, m.nDocs, m.totalLen, m.foldSeq))
      .toDF("buckets", "n_docs", "total_len", "fold_seq")
      .write.mode("overwrite").parquet(layoutPath + "_meta")
  }

  /** The fold-intent marker: a 1-row `(fold_seq)` parquet written as
    * the FIRST commit of every fold (see [[Bm25Meta]]'s contract).
    * None = the marker exists but is unreadable (a crash during the
    * intent write itself) — treated as stale by [[readBm25Meta]]. */
  private def readFoldIntent(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String): Option[Long] =
    try Some(DriverParquet.headLong(spark, layoutPath + "_fold_intent",
      "fold_seq"))
    catch { case _: Exception => None }

  private def writeFoldIntent(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, seq: Long): Unit = {
    import spark.implicits._
    Seq(seq).toDF("fold_seq")
      .write.mode("overwrite").parquet(layoutPath + "_fold_intent")
  }

  /** Staleness check + self-heal for a written [[bm25IndexWrite]]
    * layout (the operational recovery [[readBm25Meta]]'s loud failure
    * points at). Returns true when the layout was already consistent
    * (`_fold_intent == _meta.fold_seq`). On a mid-fold crash signature
    * with `heal = true`, rebuilds EVERY derived artifact from the
    * postings — `_fwd` (the same rows re-partitioned by doc bucket),
    * `_docs` (the per-doc census, including null-fp sentinel docs),
    * `_df` (the per-term df), and `_meta` (census + the recovered fold
    * id) — because the postings are the one artifact everything else
    * is a function of. The healed layout is consistent at WHATEVER
    * prefix of the crashed fold landed (possibly the pre-fold state);
    * whether the interrupted batch's data landed is NOT something the
    * fsck can know (it has no copy of the batch), so re-submission
    * must go through [[bm25LayoutAppend]]'s `resubmit = true` mode,
    * which anti-joins already-present doc ids — a batch that fully
    * landed folds as a zero-delta no-op, a lost batch re-applies in
    * full, and a partially-landed batch (impossible for the append
    * fold, whose postings commit is atomic per batch, but cheap to
    * cover) applies exactly its missing docs. Corpus-sized (one
    * postings scan) by design: this is the rare recovery event, not a
    * serving path. */
  def bm25LayoutFsck(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, heal: Boolean = false): Boolean = {
    val m = readBm25MetaRow(spark, layoutPath)
    val intent = readFoldIntent(spark, layoutPath)
    if (intent == Some(m.foldSeq)) return true
    require(heal,
      s"bm25 layout $layoutPath crashed mid-fold " +
        s"(intent=${intent.getOrElse("unreadable")}, " +
        s"meta=${m.foldSeq}); pass heal = true to rebuild")
    val target = math.max(intent.getOrElse(m.foldSeq), m.foldSeq)
    val buckets = m.buckets
    // re-stamp the intent first (also repairs an unreadable marker):
    // a crash during the heal itself then re-presents as mid-fold
    writeFoldIntent(spark, layoutPath, target)
    val idx = spark.read.parquet(layoutPath)
      .select("fp", "doc_id", "len", "tf")
      .localCheckpoint(eager = true) // sever from files being replaced
    idx.withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .repartition(col("dbkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("dbkt").mode("overwrite").parquet(layoutPath + "_fwd")
    val docsCensus = idx.select("doc_id", "len").distinct()
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .localCheckpoint(eager = false) // _docs write + meta census
    docsCensus.repartition(col("dbkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("dbkt").mode("overwrite").parquet(layoutPath + "_docs")
    dfDeltas(idx, buckets, 1)
      .repartition(col("bkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("bkt").mode("overwrite").parquet(layoutPath + "_df")
    val (n, l) = docCensus(docsCensus.select("doc_id", "len"))
    writeBm25Meta(spark, layoutPath, Bm25Meta(buckets, n, l, target))
    false
  }

  /** The 1-row `(n_docs, total_len)` census of a per-doc frame
    * `(doc_id, len)` — collected (bounded: one row) so the folds can
    * do meta arithmetic driver-side. */
  private def docCensus(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)).as("n"),
      coalesce(sum("len"), lit(0L)).as("l")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Rebuild `_meta` from the `_docs` preimage — the NARROW recovery
    * for a crash known to sit between the `_df` append and the meta
    * write (every earlier artifact landed; only the census is stale).
    * One scan of the narrow per-doc artifact. Stamps `fold_seq` up to
    * the intent marker, so it CLEARS the staleness check — and
    * because clearing the check over a layout whose `_df` append
    * never landed would silently un-flag WRONG df, the tool first
    * VERIFIES its own precondition on sampled term buckets: stored
    * `SUM(ddf)` per term must equal the postings-derived df inside
    * the sampled buckets (both reads bucket-pruned — this stays a
    * few-directories check, not a corpus scan). A mismatch fails
    * loudly naming [[bm25LayoutFsck]], which rebuilds every derived
    * artifact and assumes nothing about where the fold stopped. */
  def bm25MetaRebuild(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String): Unit = {
    val m = readBm25MetaRow(spark, layoutPath)
    val seq = math.max(
      readFoldIntent(spark, layoutPath).getOrElse(m.foldSeq), m.foldSeq)
    // precondition probe: the narrow recovery is only sound when the
    // crash sat AFTER the _df append — sample a spread of term
    // buckets and require stored ≡ derived df inside them
    val sample = Seq(0L, (m.buckets / 2).toLong, (m.buckets - 1).toLong)
      .distinct
    val stored = spark.read.parquet(layoutPath + "_df")
      .filter(col("bkt").isin(sample: _*))
      .groupBy("fp").agg(sum("ddf").as("df"))
      .filter(col("df") =!= 0)
    val derived = spark.read.parquet(layoutPath)
      .filter(col("bkt").isin(sample: _*) && col("fp").isNotNull)
      .groupBy("fp").agg(count(lit(1)).as("df"))
    val drift = stored.exceptAll(derived).limit(1).count() +
      derived.exceptAll(stored).limit(1).count()
    if (drift != 0)
      throw new IllegalStateException(
        s"bm25 layout $layoutPath: _df disagrees with the postings in " +
          s"sampled buckets $sample — the crash did NOT sit between " +
          "the _df append and the meta write, so rebuilding only the " +
          "census would un-flag a layout whose derived df is wrong. " +
          "Run Retrieval.bm25LayoutFsck(spark, path, heal = true) " +
          "instead.")
    val (n, l) = docCensus(
      spark.read.parquet(layoutPath + "_docs").select("doc_id", "len"))
    writeBm25Meta(spark, layoutPath, Bm25Meta(m.buckets, n, l, seq))
  }

  /** Per-term document-frequency DELTA rows for a postings frame —
    * the `_df` dictionary artifact's unit of maintenance: `(fp, ddf,
    * bkt)` with `ddf = ±` the number of docs carrying the term in
    * this batch. Stored as an append-only signed log partitioned by
    * the term bucket, so EVERY fold (initial write +, append +, CDF
    * arrival + / departure −) is one append and the true df of a
    * term is `SUM(ddf)` over its bucket — no rewrite, naturally
    * crash-ordered after its data fold ([[bm25DfRebuild]] recovers a
    * missing tail from the postings). The null-fp sentinel is
    * excluded: it is a document-existence marker, not a term. */
  private def dfDeltas(idx: DataFrame, buckets: Int,
      sign: Int): DataFrame =
    idx.filter(col("fp").isNotNull)
      .groupBy("fp").agg((count(lit(1)) * sign).as("ddf"))
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))

  /** Rebuild `_df` from the postings — recovery for a layout whose
    * data fold landed but whose df append did not. One vocabulary-
    * sized aggregation over the postings. */
  def bm25DfRebuild(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String): Unit = {
    val buckets = readBm25MetaRow(spark, layoutPath).buckets
    // static overwrite pinned: under a session-configured DYNAMIC
    // partitionOverwriteMode, buckets whose every term vanished would
    // keep their stale delta files and the recovery itself would
    // leave wrong df (recovery semantics must not depend on session
    // config)
    dfDeltas(spark.read.parquet(layoutPath)
        .select("fp", "doc_id", "len", "tf"), buckets, 1)
      .repartition(col("bkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("bkt").mode("overwrite")
      .parquet(layoutPath + "_df")
  }

  /** Materialize the standing BM25 postings (t32) — the lexical twin
    * of [[graft.operators.Similarity.knnIndexWrite]]: postings land
    * PARTITIONED by a term-hash bucket (`bkt = fp mod buckets`
    * directories), so a probe reading only the query terms' buckets
    * prunes the rest at the FILE level; the per-document `(doc_id,
    * len)` census lands beside them partitioned by a doc-hash bucket
    * (`dbkt`) so CDF maintenance rewrites it at the same partition
    * grain, and a 1-row `_meta` records the bucket count. df is NOT
    * stored: a term's postings live wholly inside its own bucket, so
    * probe-time df derived from the PRUNED read is already the
    * global df (the t25 no-drift discipline, kept for free).
    *
    * A FORWARD index (`_fwd`) — the same posting rows partitioned by
    * the doc-hash bucket — lands beside the postings: doc-major
    * access (RM3 feedback-term mining reads the feedback DOCS' rows)
    * would otherwise scan every term bucket; the forward copy serves
    * it through `dbkt` pruning instead, the docvecs artifact every
    * production lexical index keeps. */
  def bm25IndexWrite(docs: DataFrame, outPath: String,
      buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    // fold 0's intent bracket (see Bm25Meta's crash contract): the
    // initial build is itself a fold — a crash mid-build leaves
    // intent=0 without a matching _meta, so probes refuse the
    // half-written layout instead of serving it. Overwrite modes are
    // pinned STATIC so a rebuild over an existing path cannot leave
    // stale partitions under a session-configured dynamic mode.
    writeFoldIntent(spark, outPath, 0L)
    val idx = bm25Index(docs)
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))
      .localCheckpoint(eager = false) // postings + fwd + doc census
    idx.repartition(col("bkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("bkt").mode("overwrite").parquet(outPath)
    idx.select("fp", "doc_id", "len", "tf")
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .repartition(col("dbkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("dbkt").mode("overwrite")
      .parquet(outPath + "_fwd")
    val docsCensus = idx.select("doc_id", "len").distinct()
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .localCheckpoint(eager = false) // _docs write + meta census
    docsCensus.repartition(col("dbkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("dbkt").mode("overwrite")
      .parquet(outPath + "_docs")
    // the per-term df dictionary (`_df`, bucket-partitioned signed
    // delta log): a capped probe reads query-term df from it FIRST
    // and never opens the postings buckets of capped-out terms
    dfDeltas(idx, buckets, 1)
      .repartition(col("bkt"))
      .write.option("partitionOverwriteMode", "static")
      .partitionBy("bkt").mode("overwrite")
      .parquet(outPath + "_df")
    // the collection census (n_docs, total_len) lands IN _meta and is
    // maintained incrementally by every fold — probes read two scalars
    // from one tiny file, never the corpus-sized _docs artifact
    val (n, l) = docCensus(docsCensus.select("doc_id", "len"))
    writeBm25Meta(spark, outPath, Bm25Meta(buckets, n, l, 0L))
  }

  /** Append-only ingest of a document batch into a WRITTEN
    * [[bm25IndexWrite]] layout — the lexical twin of the
    * [[graft.operators.Similarity.homeRowsAgainst]] foreachBatch
    * pattern: [[bm25Index]] is per-row (tf counted inside the doc's
    * own token array — no Aggregate), so the SAME rows a live
    * document stream produces append into their `bkt=` postings
    * directories, the `_fwd` doc-bucket copy, and the `_docs` census
    * (proven in StreamingSpec: the grown layout serves bit-identical
    * to the batch CDF fold of the same arrivals). Deletes go through
    * [[bm25LayoutApplyCdf]] — this surface is insert-only by design,
    * the streaming half of the maintenance contract. Small per-batch
    * files accumulate per bucket; compaction is the usual scheduled
    * offline event (a partition-grain rewrite, the
    * [[bm25LayoutApplyCdf]] machinery with an empty CDF).
    *
    * `resubmit = true` is the POST-CRASH re-application mode (the
    * vector folds' upsert discipline brought to the append path):
    * after [[bm25LayoutFsck]] heals a mid-fold crash, the layout
    * holds whatever prefix of the interrupted fold landed — for the
    * append fold that is all-or-nothing per artifact, and the
    * operator cannot see which. Resubmit anti-joins the batch's doc
    * ids against the `_docs` census first, so docs whose fold
    * completed are skipped and blind re-application CONVERGES instead
    * of double-counting postings/_df/_docs/_meta. The `_docs` read is
    * recovery-path-only cost — the normal streaming append stays one
    * write per artifact with no corpus-sized read. */
  def bm25LayoutAppend(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, docs: DataFrame,
      resubmit: Boolean = false): Unit = {
    val meta = readBm25Meta(spark, layoutPath) // refuses a stale layout
    val buckets = meta.buckets
    val batch =
      if (!resubmit) docs
      else docs.join(
        spark.read.parquet(layoutPath + "_docs").select("doc_id"),
        Seq("doc_id"), "left_anti")
        // eager: membership is pinned BEFORE the fold below mutates
        // the _docs artifact the anti-join reads
        .localCheckpoint(eager = true)
    // intent bracket FIRST (see Bm25Meta's crash contract): a crash
    // anywhere below leaves intent ≠ meta and probes fail loudly
    writeFoldIntent(spark, layoutPath, meta.foldSeq + 1)
    val idx = bm25Index(batch)
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))
      .localCheckpoint(eager = false) // postings + fwd + doc census
    idx.repartition(col("bkt"))
      .write.partitionBy("bkt").mode("append").parquet(layoutPath)
    idx.select("fp", "doc_id", "len", "tf")
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .repartition(col("dbkt"))
      .write.partitionBy("dbkt").mode("append")
      .parquet(layoutPath + "_fwd")
    val docsCensus = idx.select("doc_id", "len").distinct()
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .localCheckpoint(eager = false) // _docs write + meta delta
    docsCensus.repartition(col("dbkt"))
      .write.partitionBy("dbkt").mode("append")
      .parquet(layoutPath + "_docs")
    // df dictionary delta: one appended batch of +counts per term
    dfDeltas(idx, buckets, 1)
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("append")
      .parquet(layoutPath + "_df")
    // meta census delta: batch-sized arithmetic, written LAST with the
    // intent's fold id — this commit is what marks the fold complete
    val (dn, dl) = docCensus(docsCensus.select("doc_id", "len"))
    writeBm25Meta(spark, layoutPath,
      meta.copy(nDocs = meta.nDocs + dn, totalLen = meta.totalLen + dl,
        foldSeq = meta.foldSeq + 1))
  }

  /** Probe a written [[bm25IndexWrite]] layout — identical scores to
    * [[bm25TopKAgainst]] over the same postings (the shared scoring
    * tail), but the corpus-sized read prunes to the query terms'
    * buckets: the probe semi-joins the postings on the PARTITION
    * column, so only those directories' files are read (dynamic
    * partition pruning, pinned in PlanCheck). Totals are the two
    * scalars the maintained `_meta` census carries (the `_docs`
    * artifact is the fold preimage, never a probe-time scan).
    *
    * df: the UNCAPPED probe derives it from the pruned read (global
    * by construction — see [[bm25IndexWrite]]). A CAPPED probe
    * (`dfCapPpm`) instead reads the query terms' df from the `_df`
    * dictionary FIRST (a bucket-pruned, vocabulary-sized read) and
    * drops stopword-grade terms BEFORE the postings pruning — their
    * buckets never open, which is what keeps capped serving flat at
    * 10× data (a stopword's posting list is df-sized ~ corpus-sized
    * by definition; deriving its df from the postings would read the
    * very list the cap exists to skip). Stored df equals derived df
    * by the fold maintenance invariant (GuardrailsSpec pins it), so
    * capped scores are bit-identical either way. */
  def bm25TopKFromLayout(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, queries: DataFrame, k: Int = 10,
      dfCapPpm: Option[Long] = None): DataFrame = {
    import graft.functions.hashFunctions.gram_fps
    import spark.implicits._
    val meta = readBm25Meta(spark, layoutPath)
    val buckets = meta.buckets
    val totals = Seq((meta.nDocs, meta.totalLen))
      .toDF("n_docs", "total_len")
    // NO checkpoint on the query side: DPP only plants a runtime
    // partition filter when the pruning side shows a selective
    // predicate, and a checkpointed LogicalRDD hides it — the tiny
    // term frame recomputes cheaply instead
    val qfps = queries.select(col("query_id"),
        explode(array_distinct(gram_fps(col("text"), 1))).as("fp"))
    val qterms = qfps.select("fp").distinct()
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))
    // semi-join on (bkt, fp): bkt is the PARTITION column, so DPP
    // prunes to the query terms' directories; fp then keeps exactly
    // the query terms' postings — their COMPLETE posting lists, so
    // the df derived below is the global df
    // NO checkpoint here either: the layout is already materialized
    // on disk, so the df aggregation and the term join each re-read
    // the PRUNED directories (cheap by construction) — a checkpoint
    // would wrap the scan in a LogicalRDD and defeat the pruning
    def prunedBy(terms: DataFrame): DataFrame =
      spark.read.parquet(layoutPath)
        .join(broadcast(terms), Seq("bkt", "fp"), "left_semi")
        .select("fp", "doc_id", "len", "tf")
    // df ALWAYS comes from the dictionary (bucket-pruned delta-log
    // SUM — stored ≡ derived by the fold maintenance invariant):
    // deriving it from the pruned postings would scan the pruned
    // directories a second time just to count rows the scoring pass
    // is about to read anyway
    def dfFromDict(extra: Column): DataFrame =
      spark.read.parquet(layoutPath + "_df")
        .join(broadcast(qterms), Seq("bkt", "fp"), "left_semi")
        .groupBy("fp").agg(sum("ddf").as("df"))
        .filter(col("df") > 0 && extra)
    dfCapPpm match {
      case None =>
        bm25ScoreFps(prunedBy(qterms), totals, qfps, k, None,
          Some(dfFromDict(lit(true))))
      case Some(cap) =>
        // the cap applies BEFORE any postings read: capped-out terms'
        // buckets never open — the scoring tail sees only survivors
        val dfq = dfFromDict(
          col("df") * lit(1000000L) <= lit(cap) * lit(meta.nDocs))
        val surviving = dfq.select("fp")
          .withColumn("bkt", bm25Bkt(col("fp"), buckets))
        bm25ScoreFps(prunedBy(surviving), totals, qfps, k, None,
          Some(dfq))
    }
  }

  /** Fold a CDF batch into a WRITTEN [[bm25IndexWrite]] layout — the
    * [[bm25ApplyCdf]] fold executed as [[PartitionedLayout
    * .rewritePartitions]] of the buckets containing the changed
    * documents' terms, with the `_fwd` rows and the `_docs` census
    * rewritten at their own doc-bucket grain. The maintained layout
    * serves rows bit-identical to the in-memory [[bm25ApplyCdf]]
    * fold (pinned in GuardrailsSpec).
    *
    * CDF contract: delete / update_preimage rows must carry the
    * document's EXACT indexed `text` (the Delta CDF preimage always
    * does) — the departed doc's buckets are located by re-tokenizing
    * it, never by scanning the index, so a drifted preimage would
    * leave stale postings alive in buckets outside the touched set.
    * That exact-preimage requirement is a HARD, CHECKED invariant:
    * before any rewrite, every departed doc's re-tokenized postings
    * are compared against its stored `_fwd` rows (a dbkt-pruned,
    * departure-sized read — the forward copy exists precisely for
    * doc-major access) and any mismatch — drifted text, or a
    * departure for a doc the index never held — fails loudly. */
  def bm25LayoutApplyCdf(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, cdf: DataFrame): Unit = {
    val meta = readBm25Meta(spark, layoutPath) // refuses a stale layout
    val buckets = meta.buckets
    val (gone, arrived) =
      PartitionedLayout.splitCdf(cdf, "bm25LayoutApplyCdf")
    val goneIdx = bm25Index(gone.select("doc_id", "text"))
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))
    val arrivedIdx = bm25Index(arrived.select("doc_id", "text"))
      .withColumn("bkt", bm25Bkt(col("fp"), buckets))
      .localCheckpoint(eager = false) // touched census + rewrite
    val goneIds = gone.select("doc_id")
      .localCheckpoint(eager = false) // invariant check + anti-joins
    // exact-preimage invariant: the stored _fwd rows of every departed
    // doc must EQUAL its re-tokenized postings — otherwise the touched
    // bucket set below is incomplete and stale postings would survive
    // the rewrite silently. Signed multiset compare over the
    // departure-sized, dbkt-pruned forward read; one tiny job.
    val goneDbkts = goneIds
      .select(pmod(col("doc_id"), lit(buckets.toLong)).as("dbkt"))
      .distinct().collect().map(_.get(0).toString.toLong)
    if (goneDbkts.nonEmpty) {
      // a fully drained layout has no `_fwd` rows: nothing is stored
      val stored = PartitionedLayout.readLayout(spark, layoutPath + "_fwd")
        .map(_.filter(col("dbkt").isin(goneDbkts.sorted.map(lit): _*))
          .join(broadcast(goneIds), Seq("doc_id"), "left_semi")
          .select("doc_id", "fp", "len", "tf"))
        .getOrElse(goneIdx.select("doc_id", "fp", "len", "tf").limit(0))
      val drifted = stored.withColumn("sgn", lit(1L))
        .unionByName(goneIdx.select("doc_id", "fp", "len", "tf")
          .withColumn("sgn", lit(-1L)))
        .groupBy("doc_id", "fp", "len", "tf").agg(sum("sgn").as("d"))
        .filter(col("d") =!= 0)
        .select("doc_id").distinct().sort("doc_id").limit(5)
        .collect().map(_.getLong(0))
      require(drifted.isEmpty,
        s"bm25LayoutApplyCdf: departure preimage text does not match " +
          s"the indexed postings for doc_id(s) ${drifted.mkString(",")}" +
          " — the CDF preimage must carry the exact indexed text, and" +
          " departures must reference indexed documents")
    }
    val touched = goneIdx.select("bkt").union(arrivedIdx.select("bkt"))
      .distinct().collect().map(_.get(0).toString.toLong).toSet
    // intent bracket (see Bm25Meta's crash contract): written AFTER
    // every validation action above (change-type guard, preimage
    // check — a REJECTED fold mutates nothing and must not flag the
    // layout) and before the first mutation below
    writeFoldIntent(spark, layoutPath, meta.foldSeq + 1)
    // every artifact drops the departed docs and gains the arrivals:
    // the postings at their bkt grain, the doc-bucketed _fwd rows and
    // _docs census at their own dbkt grain (one shared touched set)
    def rewrite(suffix: String, partCol: String, touched: Set[Long],
        arrivals: DataFrame): Unit =
      PartitionedLayout.rewritePartitions(spark, layoutPath + suffix,
        partCol, touched, Some(arrivals))(
        _.join(broadcast(goneIds), Seq("doc_id"), "left_anti"))
    rewrite("", "bkt", touched, arrivedIdx)
    val arrivedFwd = arrivedIdx.select("fp", "doc_id", "len", "tf")
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
    val arrivedDocs = arrivedIdx.select("doc_id", "len").distinct()
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
    val touchedD = goneIds
      .select(pmod(col("doc_id"), lit(buckets.toLong)).as("dbkt"))
      .union(arrivedDocs.select("dbkt"))
      .distinct().collect().map(_.get(0).toString.toLong).toSet
    rewrite("_fwd", "dbkt", touchedD, arrivedFwd)
    rewrite("_docs", "dbkt", touchedD, arrivedDocs)
    // df dictionary deltas: departures append −counts (exact by the
    // verified preimage), arrivals +counts — the signed log keeps
    // SUM(ddf) equal to the true per-term df with no rewrite
    dfDeltas(goneIdx, buckets, -1)
      .unionByName(dfDeltas(arrivedIdx, buckets, 1))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("append")
      .parquet(layoutPath + "_df")
    // meta census delta — departures leave (their lens come from the
    // preimage-verified re-tokenize), arrivals enter; written LAST
    // with the intent's fold id — this commit marks the fold complete.
    // Batch-sized arithmetic.
    val (gn, gl) = docCensus(
      goneIdx.select("doc_id", "len").distinct())
    val (an, al) = docCensus(
      arrivedIdx.select("doc_id", "len").distinct())
    writeBm25Meta(spark, layoutPath, meta.copy(
      nDocs = meta.nDocs - gn + an,
      totalLen = meta.totalLen - gl + al,
      foldSeq = meta.foldSeq + 1))
  }

  /** RM3 pseudo-relevance expansion served THROUGH a written
    * [[bm25IndexWrite]] layout — identical rows to [[rm3Expand]] over
    * the same postings (shared scoring tail, same feedback-weight
    * estimate), with every corpus-sized read PRUNED: both scoring
    * passes semi-join the postings on (bkt, fp) so only the active
    * terms' directories load (pass 2 adds the expansion terms'
    * buckets), and the feedback-term mining — doc-major access a
    * term-partitioned layout cannot prune — reads the `_fwd` forward
    * copy through its doc-bucket column instead. df derives per pass
    * from the pruned reads (global by construction); totals are the
    * `_meta` census scalars (see [[bm25TopKFromLayout]]).
    *
    * Why `_fwd` is LOAD-BEARING (the feedback mining cannot ride the
    * pass-1 pruned postings instead): the pass-1 pruned read holds
    * exactly the ORIGINAL query terms' posting lists, but RM3's value
    * is terms the query does NOT contain — expansion candidates are,
    * by definition, outside the pruned term set, so mining from those
    * buckets could only re-rank terms already in the query and the
    * expansion would be a no-op. Serving the feedback docs' FULL term
    * vectors needs doc-major access, which is exactly what the
    * doc-bucketed forward copy prunes to feedback-sized reads. */
  def rm3TopKFromLayout(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, queries: DataFrame, k: Int = 10,
      fbDocs: Int = 5, fbTerms: Int = 3): DataFrame = {
    import graft.functions.hashFunctions.gram_fps
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val meta = readBm25Meta(spark, layoutPath)
    val buckets = meta.buckets
    val totals = Seq((meta.nDocs, meta.totalLen))
      .toDF("n_docs", "total_len")
    val orig = queries.select(col("query_id"),
      explode(array_distinct(gram_fps(col("text"), 1))).as("fp"))
    // each layout artifact is READ (resolved: schema + file listing)
    // once per invocation and the relation reused by both passes — the
    // layout cannot fold mid-probe, and Spark 4 resolves every
    // spark.read.parquet call in the analyzer at ~50 ms + a listing
    // job apiece (measured), so the duplicate reads were pure driver
    // floor. DPP still sees the plain parquet relation in every join.
    val layout = spark.read.parquet(layoutPath)
    val dfDict = spark.read.parquet(layoutPath + "_df")
    def prunedFor(terms: DataFrame): DataFrame =
      layout
        .join(broadcast(terms.select("fp").distinct()
          .withColumn("bkt", bm25Bkt(col("fp"), buckets))),
          Seq("bkt", "fp"), "left_semi")
        .select("fp", "doc_id", "len", "tf")
    // df from the `_df` dictionary for BOTH passes (stored ≡ derived
    // by the fold maintenance invariant) — deriving it from the
    // pruned postings would scan each pass's directories twice
    def dfFor(terms: DataFrame): DataFrame =
      dfDict
        .join(broadcast(terms.select("fp").distinct()
          .withColumn("bkt", bm25Bkt(col("fp"), buckets))),
          Seq("bkt", "fp"), "left_semi")
        .groupBy("fp").agg(sum("ddf").as("df"))
        .filter(col("df") > 0)
    val pruned1 = prunedFor(orig)
    val feedback = bm25ScoreFps(pruned1, totals, orig, fbDocs,
        dfreqOpt = Some(dfFor(orig)))
      .select("query_id", "doc_id")
    val fbWeights = feedback
      .withColumn("dbkt", pmod(col("doc_id"), lit(buckets.toLong)))
      .join(spark.read.parquet(layoutPath + "_fwd"),
        Seq("dbkt", "doc_id"))
      .filter(col("fp").isNotNull)
      .groupBy("query_id", "fp")
      .agg(sum(expr("tf * 1000000 div len")).as("fb_w_ppm"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("fb_w_ppm").desc, col("fp"))
    val expansion = fbWeights
      .withColumn("erank", row_number().over(wE))
      .filter(col("erank") <= fbTerms)
      .select("query_id", "fp")
    val allTerms = orig.unionByName(expansion).distinct()
    bm25ScoreFps(prunedFor(allTerms), totals, allTerms, k,
      dfreqOpt = Some(dfFor(allTerms)))
  }

  /** RM3-style pseudo-relevance-feedback expansion (t27): run each
    * query against the index, mine expansion terms from its top
    * `fbDocs` feedback documents, and re-score with the expanded term
    * set — the classic fix for vocabulary mismatch (a query that says
    * "car" also retrieving "automobile" documents once the feedback
    * set supplies the term).
    *
    * Feedback term weight is the relevance-model estimate with a
    * uniform document prior, in exact integers:
    * `fb_w_ppm(q, w) = Σ_{d ∈ fb(q)} tf(w,d)·10⁶ div len(d)` — the
    * paper's Σ p(w|d); the top `fbTerms` terms per query (ties by fp)
    * join the ORIGINAL terms unweighted (the interpolation-free RM3
    * variant: expansion widens recall, BM25's own idf re-weights
    * every term in the second pass).
    *
    * Scale shape: pass 1 is the standard [[bm25TopKAgainst]] probe;
    * the feedback frame is ≤ fbDocs·|queries| rows and broadcasts
    * onto the postings' doc_id for term mining (one equi-join, the
    * corpus never re-shuffles); expansion top-k is a per-query window
    * over mined terms; pass 2 is the shared scoring tail fed
    * term-level — both passes reuse the SAME postings frame, so a
    * checkpointed standing index is tokenized zero times and scanned
    * thrice. Output: [[bm25TopK]]'s shape. */
  def rm3Expand(index: DataFrame, queries: DataFrame, k: Int = 10,
      fbDocs: Int = 5, fbTerms: Int = 3,
      statsOpt: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.hashFunctions.gram_fps
    // statsOpt: caller-memoized (dfreq, totals) of a FROZEN standing
    // index — see bm25TopKAgainst; None derives both from the rows
    val totals = statsOpt.map(_._2).getOrElse(
      index.select("doc_id", "len").distinct()
        .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len")))
    // the vocabulary-sized df agg feeds BOTH passes — compute once
    val dfreq = statsOpt.map(_._1).getOrElse(
      index.groupBy("fp").agg(count(lit(1)).as("df"))
        .localCheckpoint(eager = false))
    val orig = queries.select(col("query_id"),
      explode(array_distinct(gram_fps(col("text"), 1))).as("fp"))
    val feedback = bm25ScoreFps(index, totals, orig, fbDocs,
        dfreqOpt = Some(dfreq))
      .select("query_id", "doc_id")
    val fbWeights = feedback
      .join(index.filter(col("fp").isNotNull), Seq("doc_id"))
      .groupBy("query_id", "fp")
      .agg(sum(expr("tf * 1000000 div len")).as("fb_w_ppm"))
    val wE = Window.partitionBy("query_id")
      .orderBy(col("fb_w_ppm").desc, col("fp"))
    val expansion = fbWeights
      .withColumn("erank", row_number().over(wE))
      .filter(col("erank") <= fbTerms)
      .select("query_id", "fp")
    bm25ScoreFps(index, totals,
      orig.unionByName(expansion).distinct(), k,
      dfreqOpt = Some(dfreq))
  }

  /** TF-IDF keyword extraction (t26): each document's top-`k` terms
    * by tf·idf — the corpus-labeling / facet-tagging primitive run
    * before topic bucketing or mixture design. Integer-exact (the
    * t22 discipline): idf is the same ppm surrogate
    * `(2N − 2df + 1)·10⁶ div (2df + 1)` (per-term ordering identical
    * to the classic log form), `score_ppm = tf · idf_ppm`, ties by
    * term text.
    *
    * Scale shape: ONE tokenize scan → a (doc, term) tf aggregation
    * (map-side combinable; the shuffle is bounded by Σ distinct
    * terms per doc, never corpus bytes); df is a vocabulary-sized
    * aggregation over that SAME frame (checkpoint-shared, no second
    * scan); the doc count is a 1-row broadcast; top-k is a per-doc
    * window over the doc's own terms. Terms travel as strings — the
    * user-facing artifact — the t09 PMI shuffle shape.
    *
    * Output: `(doc_id, rank, term, score_ppm)`, rank ≤ `k`. */
  def tfidfKeywords(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // feeds df AND scoring
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val totals = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(totals))
      .withColumn("score_ppm",
        expr("tf * ((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "score_ppm")
  }

  /** The STANDING TF-IDF model (t28's train step): per-term document
    * frequency plus the corpus census, frozen from a reference
    * corpus — `(term, df, n_docs)`, vocabulary-sized, materialize
    * once. Arriving documents are then tagged against it forever
    * after without re-reading the reference corpus. */
  def tfidfModel(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(array_distinct(
        graft.operators.TextAnalysis.tokens(col("text")))).as("term"))
    .groupBy("term").agg(count(lit(1)).as("df"))
    .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))

  /** Tag documents against a standing [[tfidfModel]] (t28) —
    * STREAMING-LEGAL keyword tagging (the ds2/t25 standing-model
    * discipline for the t26 keywords): each document's (term, tf)
    * pairs are computed ENTIRELY in-row (tf counted inside the doc's
    * own token array — the bm25Index trick), the df lookup is one
    * stream-static equi-join on the term, and the keep decision is a
    * per-row score floor — no aggregation, no window on the document
    * side, so the SAME operator tags a LIVE crawl in append mode
    * (proven in StreamingSpec). Terms absent from the model drop (an
    * unseen term has no standing idf — the bm25 convention); scores
    * are t26's exact integer surrogate, so on the model's own corpus
    * the tag set equals t26's pre-rank rows identically.
    *
    * Output: `(doc_id, term, tf, score_ppm)` where
    * `score_ppm ≥ floorPpm` — unranked by design: a per-doc top-k
    * needs a stream-side aggregation, which is exactly what a
    * standing tagger exists to avoid. */
  def tfidfTagsAgainst(model: DataFrame, docs: DataFrame,
      floorPpm: Long = 0L): DataFrame = {
    import graft.functions.hashFunctions.run_length_strings
    docs
      .select(col("doc_id"),
        graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      // tf via the native run-length expression — one sorted pass per
      // row (see bm25Index); a token-less doc's empty pair array
      // simply explodes to nothing, which is correct here (no census
      // needs it — the model froze n_docs at train time)
      .select(col("doc_id"),
        explode(run_length_strings(col("toks"))).as("p"))
      .select(col("doc_id"), col("p.term").as("term"),
        col("p.tf").as("tf"))
      .join(model, Seq("term"))
      .withColumn("score_ppm", expr(
        "tf * ((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"))
      .filter(col("score_ppm") >= floorPpm)
      .select("doc_id", "term", "tf", "score_ppm")
  }

  /** Retrieval quality report (t29): MRR, capped recall and an
    * nDCG-style rank-quality score @`k` for a set of NAMED rankings
    * against a `(query_id, doc_id)` relevance set — the ss12
    * measured-recall discipline applied to the lexical/hybrid family,
    * so "RM3/RRF improve retrieval" is a NUMBER on the fixture, not
    * a claim.
    *
    * Integer-exact surrogates (the t09/t22 discipline — log2 is not
    * cross-engine exact, integer `div` is):
    *  - per-query reciprocal rank `1e6 div first_relevant_rank` (0 if
    *    no hit); `mrr_ppm` = Σ over labeled queries div n_queries;
    *  - `recall_ppm` = total relevant hits @k ·1e6 div
    *    Σ_q min(|rel_q|, k) — the capped denominator a @k metric
    *    needs (|rel_q| > k can never be fully retrieved);
    *  - `ndcg_ppm`: gain `1e6 div (rank+1)` (a reciprocal discount —
    *    steeper than log₂ but monotone in rank, so "better ranks
    *    score higher" survives exactly), per query normalized by the
    *    ideal prefix `Σ_{i≤min(|rel_q|,k)} 1e6 div (i+1)`, averaged.
    *
    * Scale shape: every ranking input is an already-bounded top-k
    * frame (≤ k·|queries| rows) and qrels are label-sized, so the
    * report is unions of TINY frames + label-keyed joins — the
    * corpus-sized work stays inside the input rankings' own plans,
    * exactly like [[rrfFuse]]. Queries labeled in qrels but absent
    * from a ranking score 0 (the left join from the label side).
    *
    * Output: `(system, n_queries, mrr_ppm, recall_ppm, ndcg_ppm)`,
    * one row per named system. */
  def qualityReport(systems: Seq[(String, DataFrame)], qrels: DataFrame,
      k: Int): DataFrame = {
    require(systems.nonEmpty, "qualityReport needs at least one system")
    val labels = qrels.select("query_id", "doc_id")
      .localCheckpoint(eager = false) // hits join + per-query census
    val relCnt = labels.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
      // ideal gain prefix for the query's achievable best @k
      .withColumn("ideal_ppm", expr(
        s"aggregate(sequence(1L, least(n_rel, $k)), 0L, " +
          "(a, i) -> a + 1000000 div (i + 1))"))
      .localCheckpoint(eager = false) // reused per system
    val nq = labels.select("query_id").distinct()
      .agg(count(lit(1)).as("n_queries"))
    systems.map { case (name, ranking) =>
      val perQ = ranking.filter(col("rank") <= k)
        .join(labels, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg(min("rank").as("first_rel"),
          count(lit(1)).as("n_hits"),
          sum(expr("1000000 div (CAST(rank AS BIGINT) + 1)"))
            .as("dcg_ppm"))
      relCnt.join(perQ, Seq("query_id"), "left")
        .select(
          coalesce(expr("1000000 div CAST(first_rel AS BIGINT)"), lit(0L))
            .as("rr_ppm"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(expr("dcg_ppm * 1000000 div ideal_ppm"), lit(0L))
            .as("ndcg_q_ppm"),
          least(col("n_rel"), lit(k.toLong)).as("cap"))
        .agg(sum("rr_ppm").as("srr"), sum("n_hits").as("sh"),
          sum("ndcg_q_ppm").as("sn"), sum("cap").as("scap"))
        .crossJoin(broadcast(nq))
        // zero-guard the divisors (the t31 discipline): an empty
        // qrels frame yields 0-metric rows, never nulls
        .select(lit(name).as("system"), col("n_queries"),
          expr("CASE WHEN n_queries = 0 THEN 0L " +
            "ELSE srr div n_queries END").as("mrr_ppm"),
          expr("CASE WHEN scap = 0 THEN 0L " +
            "ELSE sh * 1000000 div scap END").as("recall_ppm"),
          expr("CASE WHEN n_queries = 0 THEN 0L " +
            "ELSE sn div n_queries END").as("ndcg_ppm"))
    }.reduce(_ union _)
  }

  /** Reciprocal-rank fusion (t24) — the standard hybrid-retrieval
    * combiner over [[bm25TopK]]'s lexical ranking and a
    * [[Similarity]] vector ranking (or any number of rankings):
    * `score(d) = Σ_lists 1/(rrfK + rank_list(d))`, which needs no
    * score calibration across lists — only ranks — and is the reason
    * RRF is the default fusion in production hybrid search.
    *
    * Integer-exact ppm surrogate (the t09/t14/t22 discipline):
    * each contribution is `1_000_000 div (rrfK + rank)` summed per
    * (query, doc) — reciprocal-of-integer is not cross-engine exact
    * in floating point, integer `div` is. Ties break by doc_id.
    *
    * Scale shape: every input is already a per-query top-k frame
    * (≤ k·|queries| rows), so fusion is a union of TINY frames, one
    * (query_id, doc_id) partial-aggregating exchange, and a
    * per-query window — all the corpus-sized work stays inside the
    * input rankings' own plans (postings probe, ANN index); fusion
    * never touches the corpus.
    *
    * Inputs need `(query_id, doc_id, rank)`; output is
    * `(query_id, rank, doc_id, rrf_ppm, n_lists)`, rank ≤ `k`. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ union _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    u.groupBy("query_id", "doc_id")
      .agg(sum(expr(s"1000000 div ($rrfK + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf_ppm", "n_lists")
  }
}

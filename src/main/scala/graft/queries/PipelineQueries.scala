package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Artifacts
import graft.Tables._
import graft.operators.{CorpusStats, Decontaminate, Dedup, Layout, Mixture, Multimodal, Packing, Profile, Retrieval, Similarity, TextAnalysis, VectorStats}
import graft.streaming.EventStreams

/** North-star pipeline queries (SURVEY.md §2.3): text analysis, the
  * dedup family, similarity search, multimodal features, and the
  * batch twins of the streaming operators.
  *
  * Every oracle below REPLICATES the operator's arithmetic in ANSI
  * SQL (same polynomial hashes, same fold orders, same integer
  * thresholds), so even MinHash banding and SimHash are hash-checked
  * against DuckDB rather than rows-only.
  */
object PipelineQueries {

  // ---- SQL oracle building blocks (DuckDB dialect) -----------------

  /** Lower-cased whitespace tokens of `e`. */
  private def sqlToks(e: String): String =
    s"list_filter(string_split_regex(trim(lower($e)), '\\s+'), t0 -> t0 <> '')"

  /** Rolling polynomial hash of string expr `e` (base 31, mod 1e9+7) —
    * twin of [[TextAnalysis.fingerprint]]. */
  private def sqlFp(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"list_filter(string_split_regex($e, ''), c0 -> c0 <> ''), " +
      s"c1 -> ord(c1)::BIGINT)), (a0,x0) -> (a0*31+x0)%1000000007)"

  /** Second independent rolling polynomial hash (base 131, mod
    * 1e9+9) — twin of the upper 30 bits of
    * [[graft.functions.HashOps.simHash60]]. */
  private def sqlFp2(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"list_filter(string_split_regex($e, ''), c0 -> c0 <> ''), " +
      s"c1 -> ord(c1)::BIGINT)), (a0,x0) -> (a0*131+x0)%1000000009)"

  /** ALL word-k-gram fingerprints in order (multiplicities kept) —
    * twin of [[graft.functions.HashOps.gramFps]]. */
  private def sqlGrams(toks: String, k: Int): String =
    s"list_transform(range(0, greatest(len($toks)-$k,0)+1), " +
      s"i0 -> ${sqlFp(s"array_to_string(($toks)[i0+1:i0+$k], ' ')")})"

  /** Distinct word-k-shingle fingerprints — twin of
    * [[Dedup.shingles]]. */
  private def sqlShinglesK(toks: String, k: Int): String =
    s"list_distinct(${sqlGrams(toks, k)})"

  private def sqlShingles(toks: String): String = sqlShinglesK(toks, 3)

  /** Fixed-order double fold sum of a double list. */
  private def sqlFold(l: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $l), (s0,v0) -> s0+v0)"

  /** Fixed-order dot product of two float lists in double — twin of
    * [[Similarity.dot]]. */
  private def sqlDot(a: String, b: String): String =
    sqlFold(s"list_transform(list_zip($a, $b), z0 -> z0[1]::DOUBLE * z0[2]::DOUBLE)")

  /** LSH bucket twin of [[Similarity.lshBucketOffset]]. */
  private def sqlLshBucketOffset(emb: String, nBits: Int, offset: Int): String =
    (0 until nBits).map { p =>
      val pp = offset + p
      val proj = sqlFold(
        s"list_transform(list_zip($emb, range(0, len($emb))), " +
          s"w$pp -> w$pp[1]::DOUBLE * (((w$pp[2]*7 + ${pp * 13}) % 5) - 2)::DOUBLE)")
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def sqlLshBucket(emb: String): String = sqlLshBucketOffset(emb, 4, 0)

  /** Oracle twin of [[VectorStats.pcaProject]]: the power iteration
    * unrolled as `iters` CTE pairs over the gram/covariance tables —
    * every step in the same fixed-point arithmetic as the Scala
    * driver loop, so the trajectory (not just the limit) matches
    * bit-for-bit. */
  private val FpS = "1099511627776.0"

  /** Covariance CTEs `g`/`mu`/`cov` — the [[sqlPcaProject]] /
    * [[sqlPcaWhiten2]] prefix (one-pass gram + diagonal first
    * moments, `cov = G/n − μμᵀ` in the driver-matched association). */
  private def sqlCovCtes: String = s"""g AS MATERIALIZED (
        SELECT CAST(t.i0 AS INT) AS i, CAST(u.j0 AS INT) AS j,
          count(*) AS n,
          sum(floor(embedding[t.i0+1]::DOUBLE * embedding[u.j0+1]::DOUBLE
            * $FpS)::BIGINT::DECIMAL(38,0)) AS s,
          sum(CASE WHEN t.i0 = u.j0 THEN
            floor(embedding[t.i0+1]::DOUBLE * $FpS)::BIGINT::DECIMAL(38,0)
            END) AS s1
        FROM embeddings,
          unnest(range(0, len(embedding))) AS t(i0),
          unnest(range(0, len(embedding))) AS u(j0)
        WHERE u.j0 >= t.i0 GROUP BY 1, 2),
      mu AS MATERIALIZED (SELECT i, s1::DOUBLE / $FpS / n AS mu
        FROM g WHERE i = j),
      cov AS MATERIALIZED (
        SELECT q.i, q.j, (q.s::DOUBLE / $FpS) / q.n - a.mu * b.mu AS cov
        FROM (SELECT i, j, n, s FROM g
              UNION ALL SELECT j, i, n, s FROM g WHERE i < j) q
        JOIN mu a ON a.i = q.i JOIN mu b ON b.i = q.j)"""

  /** `iters` unrolled power-iteration steps over `covName`, names
    * prefixed by `p`, ending in unit vector `${p}dir(i, v)`.
    * MATERIALIZED: each step is referenced twice (join + scalar max);
    * inlined CTEs would re-derive the whole upstream chain
    * exponentially across the unrolled iterations. */
  private def sqlPowerChain(p: String, covName: String,
      iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""${p}sv$k AS MATERIALIZED (
        SELECT c.i, sum(floor(c.cov * v.v * $FpS)::BIGINT) AS sv
        FROM $covName c JOIN ${p}v${k - 1} v ON v.i = c.j GROUP BY c.i),
      ${p}v$k AS MATERIALIZED (SELECT i, sv::DOUBLE /
          (SELECT max(abs(sv)) FROM ${p}sv$k)::DOUBLE AS v
        FROM ${p}sv$k)"""
    }.mkString(",\n      ")
    s"""${p}v0 AS (SELECT i, 1.0::DOUBLE AS v FROM mu),
      $steps,
      ${p}dir AS (SELECT i, v / sqrt((SELECT sum(floor(v*v*$FpS)::BIGINT)
          FROM ${p}v$iters)::DOUBLE / $FpS) AS v FROM ${p}v$iters)"""
  }

  /** Fixed-point Rayleigh quotient CTE `${p}lam(lam)` of unit vector
    * `${p}dir` on `covName` — twin of the driver's `rayleigh`. */
  private def sqlRayleigh(p: String, covName: String): String = s"""
      ${p}t AS MATERIALIZED (
        SELECT c.i, sum(floor(c.cov * v.v * $FpS)::BIGINT) AS t
        FROM $covName c JOIN ${p}dir v ON v.i = c.j GROUP BY c.i),
      ${p}lam AS MATERIALIZED (
        SELECT sum(floor(v.v * (t.t::DOUBLE / $FpS) * $FpS)::BIGINT)::DOUBLE
          / $FpS AS lam
        FROM ${p}dir v JOIN ${p}t t USING (i))"""

  private def sqlPcaProject(iters: Int): String = s"""
      WITH $sqlCovCtes,
      ${sqlPowerChain("", "cov", iters)}
      SELECT e.vec_id,
        sum(floor(e.embedding[d.i+1]::DOUBLE * d.v * $FpS)::BIGINT)::DOUBLE
          / $FpS AS pc1
      FROM embeddings e CROSS JOIN dir d
      GROUP BY e.vec_id ORDER BY vec_id"""

  /** Oracle twin of [[VectorStats.pcaWhiten2]]: first chain on `cov`,
    * Hotelling deflation `cov₂ = cov − λ₁·v₁v₁ᵀ`, second chain on
    * `cov₂`, both projections whitened by `√λ`. */
  /** The [[sqlPcaWhiten2]] CTE chain up to
    * `wcoords(vec_id, w1, w2)` — shared by ve7 and the ve9 outlier
    * rollup. */
  private def sqlWhitenCoordCtes(iters: Int): String = s"""$sqlCovCtes,
      ${sqlPowerChain("a", "cov", iters)},
      ${sqlRayleigh("a", "cov")},
      cov2 AS MATERIALIZED (
        SELECT c.i, c.j,
          c.cov - (SELECT lam FROM alam) * a.v * b.v AS cov
        FROM cov c JOIN adir a ON a.i = c.i JOIN adir b ON b.i = c.j),
      ${sqlPowerChain("b", "cov2", iters)},
      ${sqlRayleigh("b", "cov2")},
      p1 AS (SELECT e.vec_id,
          (sum(floor(e.embedding[d.i+1]::DOUBLE * d.v * $FpS)
            ::BIGINT)::DOUBLE / $FpS) / sqrt((SELECT lam FROM alam)) AS w1
        FROM embeddings e CROSS JOIN adir d GROUP BY e.vec_id),
      p2 AS (SELECT e.vec_id,
          (sum(floor(e.embedding[d.i+1]::DOUBLE * d.v * $FpS)
            ::BIGINT)::DOUBLE / $FpS) / sqrt((SELECT lam FROM blam)) AS w2
        FROM embeddings e CROSS JOIN bdir d GROUP BY e.vec_id),
      wcoords AS (SELECT p1.vec_id, p1.w1, p2.w2
        FROM p1 JOIN p2 USING (vec_id))"""

  private def sqlPcaWhiten2(iters: Int): String = s"""
      WITH ${sqlWhitenCoordCtes(iters)}
      SELECT vec_id, w1, w2 FROM wcoords ORDER BY vec_id"""

  // ---- queries -----------------------------------------------------

  /** The mixed-script fixture's codepoint table (CJK + kana + hangul +
    * Thai), shared literal-for-literal by the t41 Spark query and its
    * DuckDB oracle — the fixture synthesizes no-whitespace-script text
    * deterministically from doc_id because the parquet corpus is
    * Latin-only. */
  private val MixedScriptChars: Seq[String] = Seq(
    "一", "二", "三", "四", "五", "六", "七", "八", "九", "十",
    "大", "小", "中", "山", "川", "日", "月", "水", "火", "木",
    "の", "き", "す", "ア", "カ", "タ", "가", "나", "다", "ก",
    "ข", "ไ")

  /** 26-letter lower-case Cyrillic / Arabic target alphabets for the
    * t42/t43 transliteration fixture — the parquet corpus is
    * Latin-only, so alphabetic non-Latin sources are synthesized by a
    * letter-for-letter `translate` of the Latin text: word structure
    * (and therefore the merge/vocabulary structure the trainers must
    * learn) is preserved EXACTLY, making "the Cyrillic source trains
    * the transliterated image of the Latin vocabulary" a checkable
    * property rather than a hope. Both `translate`s are
    * codepoint-for-codepoint in Spark and DuckDB alike. */
  private val CyrAlphabet: String = "абвгдеёжзийклмнопрстуфхцчш"
  private val AraAlphabet: String = "ابتثجحخدذرزسشصضطظعغفقكلمنه"
  require(CyrAlphabet.length == 26 && AraAlphabet.length == 26,
    "transliteration alphabets must map all 26 Latin letters")

  /** The t42/t43 fixture: thirds of the corpus by doc_id — Latin
    * kept, Cyrillic-transliterated, Arabic-transliterated — with the
    * class as the `source` column the coverage census groups by. */
  private def scriptFixture(docs: DataFrame): DataFrame = {
    val cls = pmod(col("doc_id"), lit(3L))
    docs.select(col("doc_id"),
      when(cls === 0, lower(col("text")))
        .when(cls === 1, translate(lower(col("text")),
          "abcdefghijklmnopqrstuvwxyz", CyrAlphabet))
        .otherwise(translate(lower(col("text")),
          "abcdefghijklmnopqrstuvwxyz", AraAlphabet))
        .as("text"),
      when(cls === 0, lit("lat")).when(cls === 1, lit("cyr"))
        .otherwise(lit("ara")).as("source"))
  }

  /** DuckDB twin of [[scriptFixture]] (a CTE named `fix`). */
  private def sqlScriptFixCte: String = s"""
      fix AS (SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN lower(text)
          WHEN 1 THEN translate(lower(text),
            'abcdefghijklmnopqrstuvwxyz', '$CyrAlphabet')
          ELSE translate(lower(text),
            'abcdefghijklmnopqrstuvwxyz', '$AraAlphabet')
        END AS text,
        CASE doc_id % 3 WHEN 0 THEN 'lat' WHEN 1 THEN 'cyr'
          ELSE 'ara' END AS source
        FROM documents)"""

  /** Script-tier tokens of `e` — the oracle-side twin of
    * [[TextAnalysis.tokensScript]] (the literal-range pattern is
    * valid RE2). */
  private def sqlToksScript(e: String): String =
    s"regexp_extract_all(lower($e), " +
      s"'${graft.operators.TextAnalysis.ScriptTokenPattern}', 0)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // mixed-script tokenization census: a third of the corpus keeps
    // its Latin text, a third becomes pure CJK/kana/hangul/Thai
    // (no-whitespace scripts), a third mixes both — the whitespace
    // tier tokenizes the pure-CJK class to ONE token per document
    // (fertility 1.0) while the codepoint-class tier emits one token
    // per codepoint; the per-class fertility ratio is the census that
    // shows non-Latin sources tokenize sanely
    "t41_mixed_script_tokens" -> { (s, d) =>
      val cjArr = array(MixedScriptChars.map(lit): _*)
      def cjRun(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat_ws("",
        transform(sequence(lit(0L), n - 1),
          i => element_at(cjArr,
            (pmod(col("doc_id") * 7 + i, lit(32L)) + 1).cast("int"))))
      documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("cls", pmod(col("doc_id"), lit(3L)))
        .withColumn("mtext",
          when(col("cls") === 0, col("text"))
            .when(col("cls") === 1,
              cjRun(pmod(col("doc_id"), lit(20L)) + 5))
            .otherwise(concat(lit("alpha "), cjRun(lit(5L)),
              lit(" 42 beta"))))
        .select(col("cls"),
          size(TextAnalysis.tokensScript(col("mtext"))).cast("long")
            .as("nts"),
          size(TextAnalysis.tokens(col("mtext"))).cast("long").as("ntw"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_docs"),
          sum("nts").as("n_tok_script"),
          sum("ntw").as("n_tok_ws"),
          expr("sum(nts) * 1000000 div sum(ntw)").as("fertility_ppm"))
        .orderBy("cls")
    },
    // script-tier BPE training (round 19): the trainers' Latin-only
    // ^[a-z]+$ word gate trained an EMPTY vocabulary on alphabetic
    // non-Latin corpora — scriptTier lifts it to "any single-script
    // letter run" over the tokensScript stream; the fixture
    // transliterates thirds of the corpus into Cyrillic and Arabic
    // letter-for-letter, so the learned merge list must contain the
    // transliterated images of the Latin merges (same counts, mapped
    // pairs) — the oracle replays the full trajectory
    "t42_script_bpe_train" -> { (s, d) =>
      graft.operators.Tokenizer.bpeTrain(scriptFixture(documents(s, d)),
        merges = 8, scriptTier = true)
    },
    // script-tier unigram training + per-script coverage census
    // (round 19): unigram trains over the same multilingual fixture,
    // then the t36 census — grouped by script class — proves the
    // Cyrillic/Arabic sources get a NON-EMPTY vocabulary (fertility
    // and whole-word rate in the same sane band as the Latin class,
    // not the all-opaque 1e6/1e6 degrade the old gate produced)
    "t43_script_coverage" -> { (s, d) =>
      // census over the memoized script-tier trained vocab (t42/t33
      // train; this query is the serving census)
      graft.operators.Tokenizer.tokenizerCoverage(
        scriptFixture(documents(s, d)), unigramVocabScript(s, d),
        scriptTier = true).orderBy("source")
    },
    "t01_token_count" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    "t02_quality_score" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopwordHits(col("text")).as("n_stopwords"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
    "t03_lang_id" -> { (s, d) =>
      documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .withColumn("correct", col("lang") === col("lang_pred"))
        .orderBy("doc_id")
    },
    "t04_fingerprint" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.fingerprint(substring(col("text"), 1, 16)).as("fp_prefix"))
        .orderBy("doc_id")
    },
    "t05_tfidf" -> { (s, d) =>
      TextAnalysis.topTfidfTerm(documents(s, d)).orderBy("doc_id")
    },
    "t06_term_freq" -> { (s, d) =>
      documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(20)
    },
    "t07_lang_trigram" -> { (s, d) =>
      documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.langIdTrigram(col("text")).as("lang_pred3"))
        .orderBy("doc_id")
    },
    // widened: CPU-heavy per-row n-gram pipeline, single consumer,
    // downstream of the 1-partition scan — the r19 widen rule's
    // winning shape (dc6's)
    "t08_repetition" -> { (s, d) =>
      TextAnalysis.repetitionScores(graft.Tables.widen(documents(s, d)))
        .orderBy("doc_id")
    },
    "t09_pmi_pairs" -> { (s, d) =>
      CorpusStats.pmiTopPairs(documents(s, d), minPairDocs = 5, topN = 20)
    },
    // feature-hashed bag of words, 32 buckets — classifier features
    "t12_hashed_bow" -> { (s, d) =>
      TextAnalysis.hashedBow(documents(s, d), dim = 32).orderBy("doc_id")
    },
    // linear classifier inference over t12's features: broadcast
    // weights, integer margins, zero corpus shuffle (verdict #6).
    // The weight table stands in for a trained model; its values are
    // a fixed arithmetic formula so the oracle reproduces them.
    "t15_classifier_score" -> { (s, d) =>
      val weights = s.range(32).select(col("id").cast("int").as("bucket"),
        ((col("id") * 37 + 11) % 21 - 10).cast("long").as("weight"))
      TextAnalysis.classifierScore(documents(s, d), weights,
        dim = 32, bias = -3L).orderBy("doc_id")
    },
    // the trained filter's OPERATING POINT as a measured table: 21
    // evenly spaced thresholds across the margin range, confusion
    // counts + precision/recall/F1 ppm at each (map-side sweep, no
    // global sort) — read the recall you pay for a precision bar
    "t31_classifier_calibration" -> { (s, d) =>
      val all = documents(s, d)
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val labeled = all.withColumn("y",
        when(size(filter(TextAnalysis.tokens(col("text")),
          t => t.isin(stop: _*))) >= 4, 1L).otherwise(-1L))
      // the model is t30's trained standing artifact (memoized —
      // classifierModel); the timed content is the declared operator:
      // the calibration sweep over it
      TextAnalysis.classifierCalibration(labeled, classifierModel(s, d),
        dim = 64, gridN = 20)
        .orderBy("i")
    },
    // TRAINED classifier end-to-end: 8 full-batch POCKET-perceptron
    // rounds over the t12 hashed BoW at dim 64 (labels = stopword
    // count >= 4 — the quality-floor signal; lang is independent of
    // text in this fixture, so it is unlearnable by construction),
    // then the t15 scorer serves the pocket-best table — the oracle
    // replays every round AND the pocket argmin as unrolled CTEs
    "t30_classifier_train" -> { (s, d) =>
      val all = documents(s, d)
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      val model = TextAnalysis.classifierTrain(
        all.withColumn("y",
          when(size(filter(TextAnalysis.tokens(col("text")),
            t => t.isin(stop: _*))) >= 4, 1L).otherwise(-1L)),
        dim = 64, rounds = 8)
        .localCheckpoint(eager = false) // trained once, scores the corpus
      TextAnalysis.classifierScore(all, model, dim = 64)
        .orderBy("doc_id")
    },
    // overlapping chunk manifest (64-token chunks, 16 overlap) — the
    // pre-embedding/RAG split, with per-chunk fingerprints
    // intra-doc repeated-trigram runs — the localizer for t08's
    // aggregate repetition fractions (which token ranges to cut)
    "t16_repeat_spans" -> { (s, d) =>
      TextAnalysis.repetitionSpans(documents(s, d), k = 3, minGrams = 2)
        .orderBy("doc_id", "start_pos")
    },
    // per-source encoding hygiene: control / replacement / non-ASCII
    // counting over closed-form-injected probe chars (the corpus is
    // clean ASCII by construction; the m4/m6 fixture pattern)
    "t17_encoding" -> { (s, d) =>
      TextAnalysis.encodingReport(documents(s, d)).orderBy("source")
    },
    // reproducible training-order shuffle: seeded hash -> shard +
    // within-shard position, re-runnable byte-identically
    "tp6_global_shuffle" -> { (s, d) =>
      Packing.globalShuffle(documents(s, d), "doc_id", nShards = 8,
        seed = 42L).orderBy("shard", "pos")
    },
    // exact per-stratum 80/10/10 split on the seeded-hash order —
    // quotas met exactly (vs mx2's in-expectation hash coin); rank
    // via the same two-phase range-bucket cumsum as tp7
    "mx6_exact_split" -> { (s, d) =>
      Mixture.exactStratifiedSplit(documents(s, d), seed = 43L,
        pctTrain = Mx6PctTrain, pctVal = Mx6PctVal)
        .orderBy("doc_id")
    },
    // source-interleaved epoch order: per-source seeded rank via the
    // two-phase range-bucket cumsum (no per-source single-reducer
    // sort), slot = rank * n_sources + source index
    "tp7_interleave" -> { (s, d) =>
      Packing.interleaveSources(documents(s, d), seed = 42L)
        .orderBy("slot")
    },
    // BPE tokenizer-merge training: one corpus scan to word
    // frequencies, then 8 merge rounds over the vocabulary frame —
    // the oracle replays the identical trajectory as unrolled CTEs
    "t18_bpe_merges" -> { (s, d) =>
      graft.operators.Tokenizer.bpeTrain(documents(s, d), merges = 8)
    },
    // soft dedup: keep every doc, weight_ppm = 1e6 div near-dup
    // cluster size — the sampling-weight formulation of dd8's
    // clusters; corpus pass is one broadcast left join
    // the trained merges APPLIED back to every document: per-doc real
    // token counts + a fingerprint of the exact encoded symbol stream
    // (the model is the 8-row merge list, folded into the map)
    "t23_bpe_encode" -> { (s, d) =>
      graft.operators.Tokenizer
        .bpeEncode(graft.Tables.widen(documents(s, d)), bpeRules(s, d))
        .orderBy("doc_id")
    },
    // unigram-LM (SentencePiece-style) trainer: substring candidates,
    // 2 Viterbi-EM rounds under the log-free integer objective
    // (fewest pieces, then highest summed count, then seg string) —
    // the oracle enumerates ALL segmentations recursively and picks
    // the same total-order argmin, replaying the trajectory exactly
    "t33_unigram_train" -> { (s, d) =>
      graft.operators.Tokenizer
        .unigramTrain(documents(s, d), rounds = 2, maxPiece = 4,
          minCount = 2, maxWordLen = 12)
        .orderBy("piece")
    },
    // tokenizer-fit census over the trained unigram vocab: per-source
    // fertility / whole-word rate / compression in exact ppm — the
    // under-served source is the one to retrain with
    "t36_tokenizer_coverage" -> { (s, d) =>
      // the vocab is t33's trained standing artifact (memoized —
      // unigramVocab); the census over it is the declared operator
      graft.operators.Tokenizer
        .tokenizerCoverage(documents(s, d), unigramVocab(s, d))
        .orderBy("source")
    },
    // soft-count EM upgrade of t33: every segmentation credits its
    // pieces by fixed-point ppm posterior weight (left-to-right
    // floored folds, Z=0 Viterbi fallback) — the oracle replays the
    // weighted enumeration and both EM rounds exactly
    "t38_unigram_soft" -> { (s, d) =>
      graft.operators.Tokenizer
        .unigramTrainSoft(documents(s, d), rounds = 2, maxPiece = 4,
          minCount = 2, maxWordLen = 12)
        .orderBy("piece")
    },
    // the trained unigram vocab applied back to every document: the
    // same DP segments each distinct word once, docs roll up real
    // token counts + the fingerprint of the exact piece stream
    "t34_unigram_encode" -> { (s, d) =>
      // encode under t33's memoized trained vocab (unigramVocab) —
      // the bpeRules/t23 discipline for the unigram family
      graft.operators.Tokenizer
        .unigramEncode(documents(s, d), unigramVocab(s, d))
        .orderBy("doc_id")
    },
    "dd18_soft_dedup" -> { (s, d) =>
      Dedup.softDedupWeights(documents(s, d)).orderBy("doc_id")
    },
    // the bare CMS counter grid as a query: the SAME aggregation
    // maintains the sketch over a readStream with O(depth×width)
    // state (proven live in StreamingSpec) — this is its batch twin
    "st9_cms_sketch" -> { (s, d) =>
      graft.operators.Profile.cmsSketch(events(s, d), "user_id")
        .orderBy("j", "bucket")
    },
    // per-user running profile kept in transformWithState's typed
    // ValueState over RocksDB (proven live, multi-batch, in
    // StreamingSpec) — this is its batch twin: the final state any
    // run of the stream must converge to
    "st10_stateful_profile" -> { (s, d) =>
      graft.streaming.StatefulProfile.statefulProfileBatch(events(s, d))
        .orderBy("user_id")
    },
    // Count-Min sketch frequency report: exact top-20 event users
    // probed against the 4×256 counter grid — deterministic, so the
    // oracle recomputes the very same sketch
    "q59_cms_freq" -> { (s, d) =>
      graft.operators.Profile.cmsHeavyHitters(events(s, d), "user_id",
        topN = 20)
    },
    // HyperLogLog registers as mergeable data: per event_type, 256
    // max-rank registers + integer-only raw estimate, probed against
    // the exact distinct count (see Profile.hllRegisters)
    "q64_hll_registers" -> { (s, d) =>
      graft.operators.Profile.hllRegisters(events(s, d),
        "event_type", "user_id")
    },
    "tp2_chunk_manifest" -> { (s, d) =>
      Packing.chunkManifest(documents(s, d), chunkTokens = 64,
        overlap = 16).orderBy("doc_id", "chunk_id")
    },
    // end-to-end: quality floor -> exact dedup -> decontaminate
    // against the doc_id%50 eval split -> 64/16 chunk manifest
    "tp3_clean_chunks" -> { (s, d) =>
      graft.operators.CurationPipeline.curateToChunks(documents(s, d),
        isEval = col("doc_id") % 50 === 0, minQuality = 0.2,
        minTokens = 5, evalK = 5, chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")
    },
    // per-source boilerplate mining: grams in >= 10% of a source's
    // docs, top-5 per source by within-source df
    "t11_boilerplate" -> { (s, d) =>
      CorpusStats.boilerplateGrams(documents(s, d), k = 3, minPct = 10,
        topN = 5).orderBy("source", "rank")
    },
    // MOSS winnowing: distinct window-minima of the word-3-gram hash
    // stream, window w=4 — the partial-overlap fingerprint index
    "t10_winnow" -> { (s, d) =>
      TextAnalysis.winnowFingerprints(
        graft.Tables.widen(documents(s, d)), k = 3, w = 4)
        .orderBy("doc_id")
    },
    // containment over winnowed fingerprints: |A∩B| >= 60% of the
    // SMALLER set — catches a doc embedded in a larger one, which
    // symmetric Jaccard dilutes away
    "dd12_containment" -> { (s, d) =>
      Dedup.winnowContainmentPairs(documents(s, d), k = 3, w = 4,
        pct = 60).orderBy("a_id", "b_id")
    },
    // eval set = every 50th doc_id; corpus docs flagged when any of
    // their word-5-grams appears in the (broadcast) eval gram set
    "dc1_decontaminate" -> { (s, d) =>
      Decontaminate.ngramOverlap(documents(s, d),
        isEval = col("doc_id") % 50 === 0, k = 5)
        .orderBy("doc_id")
    },
    // surgical decontamination: excise only the eval-matching spans
    // (dd17's rewrite applied to dc1's broadcast gram probe) — a long
    // clean doc that quotes one benchmark item keeps everything else
    "dc7_strip_eval_spans" -> { (s, d) =>
      Decontaminate.stripEvalSpans(documents(s, d),
        isEval = col("doc_id") % 50 === 0, k = 5)
        .orderBy("doc_id")
    },
    // NEAR-DUP contamination (what exact 5-grams miss once the
    // benchmark item was paraphrased/truncated): dd9's eval-broadcast
    // banding + verify, one best-match row per flagged corpus doc
    "dc4_fuzzy_contamination" -> { (s, d) =>
      Decontaminate.fuzzyContamination(documents(s, d),
        isEval = col("doc_id") % 50 === 0)
        .orderBy("doc_id")
    },
    // filtered vector search: top-k restricted to label = 3 — the
    // predicate lands in the parquet scan (PushedFilters), queries
    // broadcast, corpus scanned once
    "ss11_filtered_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("label") === 3),
        e.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    },
    // the WRITER behind ss11's serving mode: materialize the
    // label-partitioned layout, then serve the same filtered top-k
    // THROUGH it — label=3 is a directory PartitionFilter on the
    // read-back scan (PlanCheck pins it), and the result must equal
    // serving straight off the source table (same oracle as ss11)
    "q67_label_layout" -> { (s, d) =>
      val e = embeddings(s, d)
      // app-unique path: two sessions running this query on the same
      // machine must not clobber each other's layout mid-scan
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_label_layout_${s.sparkContext.applicationId}").getPath
      graft.operators.Layout.partitionByLabel(e, "label", out)
      Similarity.bruteForceTopK(
        s.read.parquet(out).filter(col("label") === 3),
        e.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    },
    // SEMANTIC contamination (what dc1/dc4 miss once the benchmark
    // item was fully rewritten but kept its meaning): eval embedding
    // probes against the guarded corpus LSH index, one best-match
    // row per flagged corpus vector
    "dc5_semantic_contamination" -> { (s, d) =>
      Decontaminate.semanticContamination(embeddings(s, d),
        isEval = col("vec_id") % 50 === 0, threshold = 0.4)
        .orderBy("vec_id")
    },
    // RETRIEVAL contamination: each eval doc runs as a BM25 query
    // against the standing TRAIN-only index; training members that
    // surface in its lexical top-5 above the score floor are the
    // contamination suspects — what embedding probes (dc5) miss when
    // the leak is exact terminology, and n-gram overlap (dc1/dc4)
    // misses when it is scattered rather than contiguous
    // eval split 1/500: the fixture vocabulary is deliberately tiny
    // (31 terms, all common), so EVERY query term matches most of the
    // corpus — the worst-case density for lexical scoring, where the
    // probe cost is |eval|·|corpus| termScores rows; a real Zipfian
    // corpus would instead engage `dfCapPpm` to drop stopword-grade
    // terms (pinned in the unit test), which this fixture cannot
    // (capping 31 universal terms zeroes the output), so the gate
    // keeps the eval batch small instead
    "dc6_bm25_contamination" -> { (s, d) =>
      val all = documents(s, d)
      Retrieval.bm25TopKAgainst(
        // a STANDING index is materialized once — that is its
        // contract; memoized + prewarmed (dc6IndexFrame), and its
        // frozen df/totals stats are memoized beside it
        dc6IndexFrame(s, d),
        all.filter(col("doc_id") % 500 === 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 5,
        statsOpt = Some(dc6IdxStats(s, d)))
        .filter(col("score_ppm") >= 5000000L)
        .orderBy("query_id", "rank")
    },
    // same output as dc1 by construction (Bloom prefilter has no
    // false negatives; exact confirm removes false positives), but
    // the eval set is probed via a broadcast BITMAP instead of a
    // broadcast hash set — the shape that survives an eval corpus
    // too big to hash-join map-side
    "dc2_decontaminate_bloom" -> { (s, d) =>
      Decontaminate.bloomNgramOverlap(documents(s, d),
        isEval = col("doc_id") % 50 === 0, k = 5)
        .orderBy("doc_id")
    },
    // the reverse contamination report: per EVAL doc, how many corpus
    // docs share a 5-gram with it (which benchmark items are already
    // memorizable — the direction published with eval results)
    "dc3_eval_overlap" -> { (s, d) =>
      Decontaminate.evalOverlapReport(documents(s, d),
        isEval = col("doc_id") % 50 === 0, k = 5)
        .orderBy("eval_id")
    },
    // one row per sampled frame (every 2nd 16-byte window), with a
    // per-frame content hash — the frame-embedding input shape
    "m3_frame_sample" -> { (s, d) =>
      Multimodal.sampleFrames(s, documents(s, d), frameBytes = 16,
        everyN = 2).orderBy("media_id", "frame_idx")
    },
    "mx1_mixture_rebalance" -> { (s, d) =>
      Mixture.rebalanceUniform(documents(s, d)).orderBy("doc_id")
    },
    // temperature-flattened mixture (α=1/2 — sqrt keeps the rate
    // IEEE-exact cross-engine): dominant langs shrink toward the
    // geometric mean of their size and the smallest lang's
    "mx5_mixture_sqrt" -> { (s, d) =>
      Mixture.rebalanceSqrt(documents(s, d)).orderBy("doc_id")
    },
    // dedup-DISCOUNTED mixture: each source loses its worst
    // containment vs a larger source (the t20 audit composed into
    // the planner), then α=1/2 weights over EFFECTIVE tokens
    "mx8_effective_mixture" -> { (s, d) =>
      Mixture.effectiveMixture(documents(s, d)).orderBy("source")
    },
    // corpus-bigram-LM predictability score (integer perplexity
    // surrogate): mean per-mille conditional estimate over each doc's
    // bigram occurrences — CCNet-style quality signal
    "t14_lm_score" -> { (s, d) =>
      CorpusStats.lmScore(documents(s, d)).orderBy("doc_id")
    },
    "mx2_split_assign" -> { (s, d) =>
      Mixture.splitAssign(documents(s, d)).orderBy("doc_id")
    },
    // split-leakage audit: minhash near-dup pairs whose endpoints fell
    // in different train/val/test splits
    "mx3_split_leakage" -> { (s, d) =>
      Mixture.splitLeakage(documents(s, d)).orderBy("a_id", "b_id")
    },
    // the repair: split hashed from the near-dup CLUSTER id — whole
    // clusters land in one split, unpaired docs keep the mx2 rule
    "mx4_cluster_split" -> { (s, d) =>
      Mixture.clusterAwareSplit(documents(s, d)).orderBy("doc_id")
    },
    // incremental dedup: every 10th doc is the incoming batch, the
    // rest the standing index; pairs only cross the boundary
    "dd9_dedup_incremental" -> { (s, d) =>
      val all = documents(s, d)
      Dedup.minhashPairsAgainst(
        all.filter(col("doc_id") % 10 === 0),
        all.filter(col("doc_id") % 10 =!= 0))
        .orderBy("new_id", "index_id")
    },
    "q52_zorder_stats" -> { (s, d) =>
      Layout.zorderStats(lineitem(s, d), "l_partkey", "l_suppkey")
        .orderBy("z_bucket")
    },
    // the WRITER behind q52's layout stats: materialize the z-order
    // clustered layout, then serve a (partkey, suppkey) box query
    // THROUGH it — per-file min/max stay tight in both dims so the
    // scan prunes files (BucketingSpec measures files-read vs a
    // linear twin); results must equal serving off the source table
    "q68_zorder_layout" -> { (s, d) =>
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_zorder_layout_${s.sparkContext.applicationId}").getPath
      Layout.zorderWrite(
        lineitem(s, d).select("l_partkey", "l_suppkey", "l_quantity"),
        "l_partkey", "l_suppkey", out)
      s.read.parquet(out)
        .filter(col("l_partkey").between(10, 40) &&
          col("l_suppkey").between(2, 12))
        .groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_partkey", "l_suppkey")
    },
    // heavy-hitter profile of the event stream's user key — the
    // measurement that sizes salting factors before a skewed join
    "q54_key_skew" -> { (s, d) =>
      Profile.keySkew(events(s, d), "user_id", topN = 20)
    },
    // EXACT percentiles without a global sort: value-domain histogram
    // + targeted bucket re-rank — the shape that replaces the
    // single-reducer row_number at 100 TB; returns real elements, so
    // the compare is bit-exact
    "q69_exact_quantiles" -> { (s, d) =>
      Profile.exactQuantiles(lineitem(s, d), "l_extendedprice",
        Seq(250000L, 500000L, 750000L, 990000L))
        .orderBy("q_ppm")
    },
    // training-sequence packing manifest: which sequence and offset
    // each document's tokens land at, after bucket-parallel
    // concat-and-chop packing
    "tp1_sequence_pack" -> { (s, d) =>
      Packing.packManifest(documents(s, d), seqLen = 512, buckets = 32)
        .orderBy("doc_id")
    },
    // shard audit: per output sequence, contributing docs + token
    // total — every pack must be exactly full except each bucket's
    // ragged tail (manifest ↔ loader agreement proof)
    "tp5_shard_audit" -> { (s, d) =>
      Packing.packShardAudit(documents(s, d), seqLen = 512, buckets = 32)
        .orderBy("bucket", "pack")
    },
    // quality-annealed curriculum manifest: fixed quality bands →
    // seeded within-stage shuffle → global training position; the
    // rank is the two-phase range-bucket cumsum, no global sort
    "tp9_curriculum" -> { (s, d) =>
      Packing.curriculumOrder(documents(s, d), stages = 4, seed = 42L)
        .orderBy("doc_id")
    },
    // the loader-facing mask manifest over tp1's packs: per packed
    // sequence, each document span's in-sequence offset and length —
    // the block-diagonal attention/loss-mask boundaries
    "tp10_pack_masks" -> { (s, d) =>
      Packing.packMasks(documents(s, d), seqLen = 512)
        .orderBy("bucket", "pack", "slot")
    },
    // FIM transform as a deterministic manifest: half the docs split
    // at two seeded cuts into (prefix, middle, suffix) with per-part
    // content fingerprints — pure per-row, zero shuffles
    "tp13_fim_split" -> { (s, d) =>
      Packing.fimSplit(documents(s, d), fimMil = 500L, seed = 42L)
        .orderBy("doc_id")
    },
    // T5/UL2 denoising as a deterministic manifest: 15% of each doc's
    // tokens in mean-3 spans, each span seeded-hash-placed inside its
    // own segment — pure per-row arithmetic, zero shuffles
    "tp12_span_corruption" -> { (s, d) =>
      Packing.spanCorruptionPlan(documents(s, d), rateMil = 150,
        meanSpan = 3, seed = 42L)
        .orderBy("doc_id", "span_no")
    },
    // the OTHER packing strategy: whole documents, length-banded
    // batches padded to the band ceiling — the finetuning/inference
    // shape, with per-row padding waste reported
    "tp11_length_batches" -> { (s, d) =>
      Packing.lengthBatches(documents(s, d), batchTokens = 2048,
        bandWidth = 64, seed = 42L)
        .orderBy("doc_id")
    },
    // pack EXECUTION proof: per output sequence, doc/token counts AND
    // a rolling fingerprint of the token stream in placement order —
    // tp5 checks the counts, this checks the bytes
    "tp8_pack_execute" -> { (s, d) =>
      Packing.packExecute(documents(s, d), seqLen = 512, buckets = 32)
        .orderBy("bucket", "pack_id")
    },
    // small-files compaction plan: per-source doc_id-ordered byte
    // bins at 4 KB target (sized so the toy SFs produce several bins) — the rewrite work-list
    "q57_compaction_bins" -> { (s, d) =>
      Layout.compactionBins(documents(s, d), "source", "doc_id",
        "n_chars", targetBytes = 4096L)
        .orderBy("part", "bin")
    },
    // fill a 12k-token training budget with the best-quality docs:
    // histogram-refined cumulative sum (no global single-reducer
    // window), selection identical to the naive global-order answer
    "tp4_token_budget" -> { (s, d) =>
      Packing.tokenBudgetSelect(documents(s, d), budget = 12000L)
        .orderBy("pick_rank")
    },
    // PII audit + scrub over deterministically PII-seeded text (the
    // fixture corpus carries no PII, so both engines append the same
    // synthetic email/IP/phone per doc before scrubbing)
    "t13_pii_scrub" -> { (s, d) =>
      val id = col("doc_id")
      val seeded = concat(col("text"),
        lit(" contact user"), id.cast("string"),
        lit("@mail.example.com from 10."), (id % 256).cast("string"),
        lit(".0."), (id % 254 + 1).cast("string"),
        lit(" call 555-"), lpad((id * 7 % 10000).cast("string"), 4, "0"))
      TextAnalysis.piiReport(graft.Tables.widen(documents(s, d)), seeded)
        .orderBy("doc_id")
    },
    // small-edit near-dup: MinHash-banded candidates verified by
    // bounded-prefix Levenshtein (threshold form — the DP abandons a
    // pair once its distance provably exceeds the cap)
    "dd13_dedup_editdist" -> { (s, d) =>
      Dedup.editDistancePairs(documents(s, d), maxDist = 60,
        prefixLen = 160).orderBy("a_id", "b_id")
    },
    // top-k over int8-quantized codes (scales cancel in cosine):
    // the 4x-smaller serving index, same broadcast-queries plan as ss1
    "ss5_topk_quantized" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.int8TopK(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    },
    // recall@5 of the int8 index against the float truth — the
    // "did 4x compression cost recall" readout that pairs with ve4's
    // per-vector reconstruction error (same shape as ss4's report)
    "ss7_recall_int8" -> { (s, d) =>
      val e = embeddings(s, d)
      val qs = e.filter(col("vec_id") < 3)
      val truth = Similarity.bruteForceTopK(e, qs, k = 5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager = false) // semi join + totals scan
      val got = Similarity.int8TopK(e, qs, k = 5)
        .select("query_id", "neighbor_id")
      truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit("int8").as("method"), col("n_truth"), col("n_hits"),
          expr("CASE WHEN n_truth = 0 THEN 0L " +
            "ELSE n_hits * 1000 div n_truth END").as("recall_x1000"))
    },
    "ve1_label_centroids" -> { (s, d) =>
      VectorStats.labelCentroids(embeddings(s, d)).orderBy("label", "dim")
    },
    // the raw int8 array is serialized to CSV for the gate: the
    // pandas-based comparator cannot hash numpy arrays (q33 does the
    // same for its collected lists)
    "ve2_quantize_int8" -> { (s, d) =>
      VectorStats.quantizeInt8(embeddings(s, d))
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_csv"))
        .orderBy("vec_id")
    },
    // recall@5 of the LSH and IVF ANN paths vs exact brute force on
    // the same 3-query sample ss1-ss3 use — integer per-mille recall
    "ss4_ann_recall" -> { (s, d) =>
      val all = embeddings(s, d)
      Similarity.annRecallReport(all, all.filter(col("vec_id") < 3),
        k = 5, nBits = 4, numCentroids = 16, nprobe = 2)
    },
    // recall@5 for EVERY serving index family vs its own exact-metric
    // brute truth: lsh/ivf vs cosine (as ss4), pq/ivfpq vs the L2
    // distance their ADC ranking targets, mips vs raw inner product
    // (round-9 verdict #5; params pinned to ss2/ss3/ss8/ss9/ss10)
    // kNN GRAPH: every vector's top-3 cosine neighbors via TRAINED
    // coarse-IVF probes (2-round Lloyd quantizer, L2 home argmin +
    // top-2 probe lists by the training metric, shuffle-equi on list
    // id, bounded-heap per-vector top-k) — the semantic-clustering
    // backbone; the oracle replays training, assignment, probing, and
    // ranking bit-for-bit
    "ss14_knn_graph" -> { (s, d) =>
      Similarity.knnGraph(embeddings(s, d), k = 3, numCentroids = 16,
        nprobe = 2, cents = Some(kgCents(s, d)))
        .orderBy("vec_id", "rank")
    },
    // INCREMENTAL graph maintenance: the vec_id≡0 (mod 10) batch
    // probes a standing index trained WITHOUT it (the dd9/dd19/m11
    // standing-index discipline for vectors); the candidate stage is
    // streaming-legal (in-row probe pick, stream-static equi-join)
    "ss16_knn_incremental" -> { (s, d) =>
      val e = embeddings(s, d)
      // the standing index's quantizer (trained WITHOUT the arriving
      // batch) is the memoized offline artifact — kgCentsRef
      Similarity.knnGraphAgainst(e.filter(col("vec_id") % 10 === 0),
        e.filter(col("vec_id") % 10 =!= 0), k = 3, numCentroids = 16,
        nprobe = 2, centsIn = Some(kgCentsRef(s, d)))
        .orderBy("vec_id", "rank")
    },
    // CDF maintenance of the standing kNN index (the bm25ApplyCdf
    // contract for vectors): a delete + insert batch folds into the
    // trained home lists — departures via one anti-join, arrivals by
    // the in-row frozen-centroid argmin — then the maintained index
    // SERVES a query batch without retraining
    "ss20_knn_cdf" -> { (s, d) =>
      val e = embeddings(s, d)
      val (cents, home) = Similarity.knnIndex(e, numCentroids = 16,
        centsIn = Some(kgCents(s, d)))
      val maintained = Similarity.knnApplyCdf(cents, home, ss20Cdf(e))
        .localCheckpoint(eager = false) // the standing frame
      Similarity.knnTopKAgainst(e.filter(col("vec_id") < 3),
        cents, maintained, k = 3, nprobe = 2)
        .orderBy("vec_id", "rank")
    },
    // the MAINTAINED index made durable (the ss21/ss22 discipline for
    // the family that actually gets maintained): the home lists land
    // cid-partitioned, the SAME CDF batch as ss20 folds in as a
    // partition-grain rewrite (only touched cid= directories change),
    // and the query batch serves through the pruned layout — rows
    // must equal ss20's in-memory fold bit-for-bit (verbatim oracle)
    "ss23_knn_layout" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = knnLayout(s, d)
      Similarity.knnTopKFromLayout(s, out, e.filter(col("vec_id") < 3),
        k = 3, nprobe = 2).orderBy("vec_id", "rank")
    },
    // census of the graph's inverted lists at a deliberately tiny
    // maxList: the mega-list cap's cost as a NUMBER (which lists cap,
    // how many rows each would drop) — guard observability, not a
    // serving path
    "ss15_knn_census" -> { (s, d) =>
      Similarity.knnGraphCensus(embeddings(s, d), numCentroids = 16,
        maxList = 8, cents = Some(kgCents(s, d))).orderBy("cid")
    },
    // NOT widened: the nine family probes each add several stages over
    // the corpus, and a widened source makes every one of them pay
    // 32-task scheduling (measured r20: steady 6.9 -> 7.5 s with
    // widen, job wall 8.9 -> 17.5 s) — the wave-1 r19 widen rule again
    "ss12_recall_families" -> { (s, d) =>
      val e = embeddings(s, d)
      // every trained artifact the scoreboard's serving rows probe is
      // the memoized offline one (kgCents / pqBooks / ivfPqArts) —
      // the scoreboard measures SERVING recall, and each family's
      // training is deterministic so rows are unchanged
      val (coarse, books) = ivfPqArts(s, d)
      Similarity.annRecallReportAll(e, e.filter(col("vec_id") < 3),
        k = 5, nBits = 4, numCentroids = 16, nprobe = 2,
        m = 4, ksub = 8, iters = 2, pqCoarse = 8, pqNprobe = 2,
        mipsBits = 6, mipsTables = 3, rerankShortlist = 20,
        knnCents = Some(kgCents(s, d)),
        pqBooksIn = Some(pqBooks.frames(s, d)),
        ivfCoarseIn = Some(coarse),
        ivfPqBooksIn = Some(books))
    },
    // JL random projection 64→16 dims (sparse Achlioptas planes) with
    // per-vector norm-preservation QA — the map-side dimension
    // reduction run before expensive indexing; rows are
    // (vec_id, dim, coord, norm_ratio_ppm) so the compare is flat
    // Matryoshka truncation recall: brute cosine top-5 over 16/32/64
    // prefix dims vs the full-dim truth (full-dim row pins 1000)
    "ve12_mrl_recall" -> { (s, d) =>
      val e = embeddings(s, d)
      VectorStats.mrlRecall(e, e.filter(col("vec_id") < 3),
        dims = Seq(16, 32, 64), k = 5)
    },
    "ve10_jl_project" -> { (s, d) =>
      VectorStats.jlProject(embeddings(s, d), outDims = 16)
        .select(col("vec_id"),
          posexplode(col("proj")).as(Seq("dim", "coord")),
          col("norm_ratio_ppm"))
        .withColumn("dim", col("dim").cast("long"))
        .select("vec_id", "dim", "coord", "norm_ratio_ppm")
        .orderBy("vec_id", "dim")
    },
    // token-budget epoch plan: temperature-flattened (α=1/2) source
    // weights over a fixed training budget; epochs_ppm > 1e6 marks
    // sources the plan repeats (the data-constrained regime)
    "mx7_epoch_plan" -> { (s, d) =>
      Mixture.epochPlan(documents(s, d), targetTokens = Mx7TargetTokens)
        .orderBy("source")
    },
    // int8 reconstruction-error QA: max/mean abs error per vector
    "ve4_quant_error" -> { (s, d) =>
      VectorStats.quantError(embeddings(s, d)).orderBy("vec_id")
    },
    // corpus second-moment (Gram) matrix, upper triangle — the d x d
    // input PCA/whitening/OPQ eigendecompose driver-side
    "ve5_gram_matrix" -> { (s, d) =>
      VectorStats.gramMatrix(embeddings(s, d)).orderBy("i", "j")
    },
    // top-principal-component projection: distributed covariance,
    // driver-side fixed-point power iteration, map-side projection
    "ve6_pca_project" -> { (s, d) =>
      VectorStats.pcaProject(embeddings(s, d)).orderBy("vec_id")
    },
    // whitened 2-D PCA map: top-2 eigenvectors via Hotelling
    // deflation, unit-variance coordinates
    "ve7_pca_whiten" -> { (s, d) =>
      VectorStats.pcaWhiten2(embeddings(s, d)).orderBy("vec_id")
    },
    // 2-component Mahalanobis surrogate: top-20 embedding outliers in
    // the whitened plane — the pre-index distribution filter
    "ve9_whiten_outliers" -> { (s, d) =>
      VectorStats.whitenOutliers(embeddings(s, d))
    },
    // snapshot drift report: per-dim histogram L1 distance (ppm)
    // between the even-id "reference" half and the odd-id "current"
    // half — integer-exact total-variation, no transcendental PSI
    "ve8_drift" -> { (s, d) =>
      VectorStats.histogramDrift(embeddings(s, d),
        isRef = col("vec_id") % 2 === 0).orderBy("dim")
    },
    // the second-moment companion of ve8: per-dim histograms cannot
    // see a correlation shift; the d×d covariance delta can
    "ve11_cov_drift" -> { (s, d) =>
      VectorStats.covDrift(embeddings(s, d),
        isRef = col("vec_id") % 2 === 0).orderBy("i", "j")
    },
    // two deterministic Lloyd rounds from the k-lowest-id seed, then
    // the final assignment under the trained centroids
    "ve3_kmeans" -> { (s, d) =>
      VectorStats.kmeansAssign(embeddings(s, d), k = 8, iters = 2)
        .orderBy("vec_id")
    },
    "dd1_dedup_exact" -> { (s, d) =>
      Dedup.exact(documents(s, d)).orderBy("keep_id")
    },
    "dd2_dedup_jaccard" -> { (s, d) =>
      Dedup.jaccardPairs(documents(s, d), k = 3, pct = 85)
        .orderBy("a_id", "b_id")
    },
    "dd3_dedup_minhash" -> { (s, d) =>
      Dedup.minhashPairs(documents(s, d), k = 3, numHashes = 16,
        bands = 4, pct = 80).orderBy("a_id", "b_id")
    },
    "dd4_dedup_simhash" -> { (s, d) =>
      Dedup.simhashPairs(documents(s, d), maxDist = 3)
        .orderBy("a_id", "b_id")
    },
    "dd6_dedup_embedding_lsh" -> { (s, d) =>
      Similarity.lshCosinePairs(graft.Tables.widen(embeddings(s, d)),
        threshold = 0.4, nBits = 6, tables = 3).orderBy("a_id", "b_id")
    },
    // LSH-routed (wide buckets: 4 bits × 4 tables for recall), exact
    // cosine verify — the brute all-pairs cross join
    // (Similarity.cosinePairs) is test-only: a corpus×corpus cartesian
    // must never be a declared, benched operator (see GuardrailsSpec,
    // "no declared query plans a CartesianProduct").
    "dd5_dedup_embedding" -> { (s, d) =>
      Similarity.lshCosinePairs(graft.Tables.widen(embeddings(s, d)),
        threshold = 0.4, nBits = 4, tables = 4).orderBy("a_id", "b_id")
    },
    "dd7_curation_pipeline" -> { (s, d) =>
      graft.operators.CurationPipeline
        .curate(documents(s, d), minQuality = 0.2, minTokens = 5,
          jaccardPct = 92)
        .orderBy("doc_id")
    },
    // DSIR importance selection: src0 is the high-quality target
    // exemplar set; every other doc is scored by its hashed
    // unigram+bigram bag's target-vs-raw rate ratio and sampled
    // ∝ weight with a deterministic hash coin
    "ds1_dsir_select" -> { (s, d) =>
      val all = documents(s, d)
      Mixture.dsirSelect(all.filter(col("source") =!= "src0"),
        all.filter(col("source") === "src0"), buckets = 1024)
        .orderBy("doc_id")
    },
    // topic-balanced mixture: top-1 tf·idf keyword as the topic
    // label, then the α = ½ temperature flatten over topics
    "mx9_topic_mixture" -> { (s, d) =>
      Mixture.topicMixture(documents(s, d)).orderBy("doc_id")
    },
    // DSIR bucket-collision census at ds1's bucket count: the hash
    // width's silent gram-merging cost as a NUMBER (occupancy, worst
    // load, collided-gram ppm) — the ss15 discipline for feature
    // hashing; high collision_ppm = raise buckets and retrain
    "ds3_dsir_census" -> { (s, d) =>
      Mixture.dsirBucketCensus(documents(s, d), buckets = 1024)
    },
    // standing-model DSIR: the bucket weight table trains WITHOUT the
    // arriving batch (every 10th raw doc), which is then scored at
    // pure probe cost — per-row map lookups over a 1-row broadcast,
    // streaming-legal (live run in StreamingSpec)
    "ds2_dsir_incremental" -> { (s, d) =>
      val all = documents(s, d)
      val raw = all.filter(col("source") =!= "src0")
      // the frozen rate model is the memoized standing frame; the
      // timed content is the batch-cost scoring of arrivals
      Mixture.dsirScoreAgainst(dsirModelFrame(s, d),
        raw.filter(col("doc_id") % 10 === 0), buckets = 1024)
        .orderBy("doc_id")
    },
    // per-source frequency caps: no source contributes more than `cap`
    // docs, keeping its highest-quality ones — the C4/RefinedWeb
    // anti-domination rule, ranked skew-safely (two-phase
    // quality-bucket cumsum, never one reducer per hot domain)
    // DoReMi-style mixture reweighting: Group-DRO multiplicative
    // per-source weight updates from the frozen chars-per-token proxy
    // loss — integer rounds, the whole trajectory replayed by the
    // oracle as unrolled CTEs
    "mx10_doremi_reweight" -> { (s, d) =>
      Mixture.doremiWeights(documents(s, d), rounds = Mx10Rounds,
        etaPpm = Mx10EtaPpm, smoothPpm = Mx10SmoothPpm)
        .orderBy("round", "source")
    },
    // the composition the reweighting exists for: mx10's final-round
    // alpha splits the fixed token budget (mx7's plan under DRO
    // weights instead of sqrt-temperature) — epochs_ppm > 1e6 marks
    // the sources DRO asks to repeat
    "mx11_doremi_plan" -> { (s, d) =>
      Mixture.doremiEpochPlan(documents(s, d),
        targetTokens = Mx7TargetTokens, rounds = Mx10Rounds,
        etaPpm = Mx10EtaPpm, smoothPpm = Mx10SmoothPpm)
        .orderBy("source")
    },
    "cr1_source_caps" -> { (s, d) =>
      graft.operators.CurationPipeline.sourceCaps(documents(s, d),
        cap = 10L).orderBy("source", "src_rank")
    },
    // adaptive per-source quality floors: each source drops its own
    // bottom quartile by the EXACT grouped quantile (q69's histogram
    // trick per group — no per-source sort)
    "cr2_quality_floor" -> { (s, d) =>
      graft.operators.CurationPipeline.qualityFloor(documents(s, d),
        pctPpm = 250000L).orderBy("source", "doc_id")
    },
    // incremental embedding dedup: every 10th vector is the incoming
    // batch, the rest the standing index; candidates only from
    // new×index bucket collisions (vector twin of dd9)
    "dd11_embedding_incremental" -> { (s, d) =>
      val all = embeddings(s, d)
      Similarity.lshCosinePairsAgainst(
        all.filter(col("vec_id") % 10 === 0),
        all.filter(col("vec_id") % 10 =!= 0),
        threshold = 0.4, nBits = 6, tables = 3)
        .orderBy("new_id", "index_id")
    },
    // incremental SimHash dedup: the SimHash member of the
    // incremental family (dd9 shingles, dd11 embeddings) — every
    // 10th doc is the incoming batch, pairs only cross the boundary
    "dd19_simhash_incremental" -> { (s, d) =>
      val all = documents(s, d)
      Dedup.simhashPairsAgainst(
        all.filter(col("doc_id") % 10 === 0),
        all.filter(col("doc_id") % 10 =!= 0))
        .orderBy("new_id", "index_id")
    },
    // survivor POLICY over dd8's clusters: keep each cluster's
    // best-quality copy (tie → lower id), not the arbitrary min id
    "dd14_dedup_keep_best" -> { (s, d) =>
      Dedup.keepBestPerCluster(documents(s, d)).orderBy("doc_id")
    },
    // the full semantic-dedup composition over embeddings: LSH
    // candidates → exact cosine verify → transitive clusters →
    // keep-largest-norm survivor, one pipeline (round-8 verdict #5)
    "dd15_dedup_semantic" -> { (s, d) =>
      Similarity.semanticDedup(embeddings(s, d), threshold = 0.4,
        nBits = 6, tables = 3).orderBy("vec_id")
    },
    // SemDeDup over the kNN graph: thresholded graph edges as the
    // candidate source (k-degree volume, not bucket-quadratic), star
    // components, keep-largest-norm — the dd15 contract with ss14 as
    // the generator
    "dd20_semdedup_graph" -> { (s, d) =>
      // candidate edges come from the STANDING kNN graph (ss14's
      // memoized frame, same params); the dedup policy — threshold,
      // star components, keep-largest-norm — is the timed content
      Similarity.semDeDupGraph(embeddings(s, d), threshold = 0.4,
        k = 3, numCentroids = 16, nprobe = 2,
        graphIn = Some(knnGraphFrame(s, d))).orderBy("vec_id")
    },
    // substring-LEVEL exact dedup: maximal cross-document duplicated
    // 5-gram runs — the spans a span-cutting rewrite would remove
    "dd16_dup_spans" -> { (s, d) =>
      Dedup.duplicateSpans(documents(s, d), k = 5, minGrams = 1)
        .orderBy("doc_id", "start_pos")
    },
    // the rewrite: cut every cross-document duplicate span out of the
    // normalized token stream, keep the unique prose
    "dd17_strip_spans" -> { (s, d) =>
      Dedup.stripSpans(documents(s, d), k = 5, minGrams = 1)
        .orderBy("doc_id")
    },
    // transitive duplicate groups over the MinHash pair stream:
    // min-label propagation (see Dedup.resolveClusters) — the step a
    // pair-at-a-time drop rule gets wrong on chains a–b–c
    "dd8_dedup_clusters" -> { (s, d) =>
      Dedup.resolveClusters(
        Dedup.minhashPairs(documents(s, d), k = 3, numHashes = 16,
          bands = 4, pct = 80))
        .orderBy("doc_id")
    },
    // same cluster contract as dd8, resolved by large-star/small-star
    // contraction (O(log^2 n) rounds independent of chain depth) over
    // the denser SimHash pair stream
    "dd10_dedup_clusters_stars" -> { (s, d) =>
      Dedup.resolveClustersStars(
        Dedup.simhashPairs(documents(s, d), maxDist = 3)
          .select("a_id", "b_id"))
        .orderBy("doc_id")
    },
    // per-language quota for training-mix balancing: deterministic
    // pseudo-random order (polynomial hash of doc_id), salted
    // two-phase top-k so one dominant language can't pin the whole
    // sort on a single reducer
    "q49_quota_sample" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val quota = 100
      val hashed = documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.fingerprint(col("doc_id").cast("string")).as("h"))
      // phase 1: top-`quota` per (lang, input split) — the split id in
      // the window key spreads a skewed language over every partition;
      // the local top-k is a superset of the global top-k
      val wLocal = Window.partitionBy("lang", "pid")
        .orderBy(col("h"), col("doc_id"))
      val pruned = hashed.withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(wLocal))
        .filter(col("lrn") <= quota).drop("pid", "lrn")
      // phase 2: exact rank over ≤ quota×splits rows per language
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      pruned.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= quota)
        .orderBy("lang", "rn")
    },
    "ss1_cosine_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 10)
        .orderBy("query_id", "rank")
    },
    "ss2_ann_lsh" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 3), k = 5, nBits = 4)
        .orderBy("query_id", "rank")
    },
    // maximum-inner-product top-k through the cosine LSH tables via
    // the norm-augmentation reduction (every augmented corpus vector
    // has norm M, so augmented-cosine order = raw-dot order)
    "ss10_mips_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.mipsTopK(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    },
    // SQ8 serving: per-dim affine int8 codes (the 4×-smaller standing
    // index), queries score asymmetrically against the dequantized
    // codes by inner product
    "ss17_sq8_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.sq8TopK(e, e.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    },
    // contrastive training pairs: kNN-graph hard negatives + pool-
    // drawn deterministic random negatives, reproducible end-to-end
    "ss19_hard_negatives" -> { (s, d) =>
      // the hard leg mines the STANDING kNN graph (ss14's memoized
      // frame — identical params k=3/16 cents/nprobe=2)
      Similarity.hardNegatives(embeddings(s, d), kHard = 3, kRand = 2,
        numCentroids = 16, nprobe = 2, poolSize = 64,
        graphIn = Some(knnGraphFrame(s, d)))
        .orderBy("vec_id", "kind", "neg_rank")
    },
    // IVF-SQ8 composite: trained coarse lists route the query, SQ8
    // codes rank the probed candidates by dequantized L2
    "ss18_ivfsq8_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      // the coarse quantizer is the SAME kmeansCentroids(corpus, 8, 2)
      // chain ivfPqArts memoizes — share the offline artifact
      Similarity.ivfSq8TopK(e, e.filter(col("vec_id") < 3), k = 5,
        numCentroids = 8, iters = 2, nprobe = 2,
        centsOpt = Some(ivfPqArts(s, d)._1))
        .orderBy("query_id", "rank")
    },
    // the WRITER behind ss17/ss18's materialize-once claim: persist
    // the SQ8 code frame cid-PARTITIONED (one directory per inverted
    // list) plus the tiny stats/centroid artifacts, then serve the
    // SAME ivf-sq8 top-k THROUGH the layout — the probe joins on the
    // partition column so only the probed lists' files are read
    // (PlanCheck pins the pruning), and the result must equal
    // serving straight off the source (same oracle as ss18)
    "ss21_sq8_layout" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = sq8Layout(s, d)
      Similarity.ivfSq8TopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    // CDF maintenance of the WRITTEN quantized index: the ss20 batch
    // folds into the sq8 layout as a partition-grain rewrite —
    // departures leave their cid= directory, arrivals encode under
    // the FROZEN stats and assign under the frozen centroids — then
    // the maintained layout serves; the oracle re-derives stats +
    // training from the ORIGINAL corpus and encodes the modified
    // membership under them
    "ss24_sq8_layout_cdf" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = sq8CdfLayout(s, d)
      Similarity.ivfSq8TopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    // the scheduled OFFLINE stats refresh the frozen-grid docs point
    // at: a DRIFTED batch folds in under the frozen stats (clamped,
    // ss26's trigger condition), then sq8StatsRefresh re-derives the
    // grid from the CURRENT membership's raw vectors, re-encodes
    // every member under it (homes frozen), rewrites the layout, and
    // serving goes through the refreshed artifacts — the oracle
    // derives stats from the MODIFIED membership and training from
    // the ORIGINAL corpus
    "ss27_sq8_stats_refresh" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = sq8RefreshLayout(s, d)
      Similarity.ivfSq8TopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    // the scheduled OFFLINE centroid retrain the list-census docs
    // point at (the coarse-quantizer twin of ss27's grid refresh):
    // the ss23 CDF batch folds into the written kNN layout under the
    // FROZEN centroids, then knnCentroidRetrain re-runs Lloyd over
    // the layout's current membership, reassigns every member, and
    // rewrites the layout — the oracle replays the retrain chain over
    // the MODIFIED membership from scratch (the original training
    // never matters: retrain derives everything from membership)
    "ss28_knn_centroid_retrain" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = knnRetrainLayout(s, d)
      Similarity.knnTopKFromLayout(s, out, e.filter(col("vec_id") < 3),
        k = 3, nprobe = 2).orderBy("vec_id", "rank")
    },
    // margin-based bitext mining (the CCMatrix/LASER max-margin
    // criterion): label-1 vectors probe a quantizer trained on
    // label-2 and vice versa; pairs score by cosine relative to both
    // endpoints' top-k neighborhood averages, mutual pairs flagged
    "ss31_bitext_margin" -> { (s, d) =>
      val e = embeddings(s, d)
      // both sides' coarse quantizers are memoized offline artifacts
      // (bitextCents); the timed content is the declared mining —
      // cross-probes, rank-ordered margins, mutual flags
      Similarity.bitextMarginMine(
        e.filter(col("label") === 1).select("vec_id", "embedding"),
        e.filter(col("label") === 2).select("vec_id", "embedding"),
        k = 4, numCentroids = 8, nprobe = 2,
        marginPpmMin = 1000000L,
        centsAIn = Some(bitextCents(1)(s, d)),
        centsBIn = Some(bitextCents(2)(s, d)))
        .orderBy("src_id", "rank")
    },
    // small-file compaction of the streamed-into kNN layout: three
    // frozen-centroid append batches fragment the cid= directories,
    // compact rewrites only the fragmented lists to one file each,
    // and serving equals the full-corpus probe under the same trained
    // quantizer
    "ss30_knn_compact" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = knnCompactLayout(s, d)
      Similarity.knnTopKFromLayout(s, out, e.filter(col("vec_id") < 3),
        k = 3, nprobe = 2).orderBy("vec_id", "rank")
    },
    // the drift monitor that SCHEDULES the ss28 retrain, as a
    // declared query: per-list sizes + cap report computed from the
    // written layout alone (no retraining, no raw corpus) — shares
    // ss28's memoized layout build
    "ss29_knn_layout_census" -> { (s, d) =>
      val out = knnRetrainLayout(s, d)
      Similarity.knnLayoutCensus(s, out, maxList = 32).orderBy("cid")
    },
    // CDF maintenance of the WRITTEN residual-coded index: the ss20
    // batch folds into the pq layout as a partition-grain rewrite —
    // arrivals residual-encode under the FROZEN coarse quantizer and
    // codebooks — then the maintained layout serves
    "ss25_pq_layout_cdf" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = pqCdfLayout(s, d)
      Similarity.ivfPqTopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2, m = 4)
        .orderBy("query_id", "rank")
    },
    // per-list size census of the WRITTEN (and CDF-maintained) sq8
    // layout — the ss29 skew monitor for the quantized family: a list
    // share drifting toward 1e6 means probes read an ever-larger
    // corpus fraction; the scheduled event it points at is the
    // fresh-coarse rebuild (new centroids re-home every member)
    "ss34_sq8_list_census" -> { (s, d) =>
      val out = sq8CdfLayout(s, d)
      Similarity.vecListCensus(s, out, "cid").orderBy("list_id")
    },
    // the same monitor over the WRITTEN pq layout (lcid lists); for
    // the residual-coded family a coarse refresh re-encodes every
    // residual, so here too the scheduled event is the rebuild
    "ss35_pq_list_census" -> { (s, d) =>
      val out = pqCdfLayout(s, d)
      Similarity.vecListCensus(s, out, "lcid").orderBy("list_id")
    },
    // residual-distortion DRIFT census for the frozen IVF-PQ index
    // (the ss26 discipline for the residual-coded family): a
    // deterministically drifted batch assigns to its frozen coarse
    // lists and its residual slices score against the frozen
    // codebooks — the per-subspace nearest-codeword distortion is the
    // number that schedules the ss33 codebook retrain; runs off the
    // WRITTEN ss22 artifacts alone (no raw-corpus read, no retraining)
    "ss32_pq_drift_census" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = pqLayout(s, d)
      val booksAll = s.read.parquet(out + "_books")
      val batch = graft.Tables.widen(e).select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(1.25) + lit(0.1)).as("embedding"))
      Similarity.pqDriftCensus(s.read.parquet(out + "_coarse"),
        (0 until 4).map(sid => booksAll.filter(col("sid") === sid)
          .select("cid", "cemb", "cc")),
        batch).orderBy("sid")
    },
    // the scheduled OFFLINE codebook retrain ss32's census points at
    // (completing the maintenance trilogy: ss27 refreshes the SQ8
    // grid, ss28 the kNN coarse quantizer, ss33 the PQ codebooks):
    // the ss25 CDF batch folds in under FROZEN books, then
    // pqCodebookRetrain re-trains the m per-subspace codebooks over
    // the CURRENT membership's residuals (coarse quantizer frozen —
    // every member keeps its home list) and re-encodes every member;
    // the oracle replays coarse training on the ORIGINAL corpus and
    // codebook training + codes on the MODIFIED membership
    "ss33_pq_codebook_retrain" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = pqRetrainLayout(s, d)
      Similarity.ivfPqTopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2, m = 4)
        .orderBy("query_id", "rank")
    },
    // quantizer DRIFT census: the frozen SQ8 grid probed by a
    // deterministically drifted batch — per-dim frozen vs observed
    // bounds plus the out-of-grid counts that trigger the scheduled
    // stats refresh (the guard behind ss24's frozen-stats arrivals)
    "ss26_sq8_drift_census" -> { (s, d) =>
      val e = embeddings(s, d)
      val batch = e.select(col("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(1.25) + lit(0.1)).as("embedding"))
      Similarity.sq8DriftCensus(Similarity.sq8Stats(e), batch)
        .orderBy("pos")
    },
    // the same layout discipline for the residual-coded family: the
    // encoded corpus persists lcid-partitioned with its coarse
    // quantizer + codebooks beside it, and the ADC probe serves
    // through the pruned directories — same oracle as ss9
    "ss22_pq_layout" -> { (s, d) =>
      val e = embeddings(s, d)
      val out = pqLayout(s, d)
      Similarity.ivfPqTopKFromLayout(s, out,
        e.filter(col("vec_id") < 3), k = 5, nprobe = 2, m = 4)
        .orderBy("query_id", "rank")
    },
    // IVF under a TRAINED quantizer: the ve3 k-means centroids serve
    // as the coarse index; probe metric = training metric (L2).
    // The quantizer is the SAME kmeansCentroids(corpus, 8, 2) chain
    // ivfPqArts memoizes (the ss18 shared-offline-artifact
    // discipline) — serving, not training, is the timed content
    "ss6_ivf_trained" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.ivfTopKTrained(e, e.filter(col("vec_id") < 3), k = 5,
        numCentroids = 8, iters = 2, nprobe = 2,
        centsOpt = Some(ivfPqArts(s, d)._1))
        .orderBy("query_id", "rank")
    },
    // product-quantized ANN: 4 per-subspace codebooks, m-byte codes,
    // asymmetric-distance ranking from broadcast lookup tables
    "ss8_pq_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 3), k = 5,
        m = 4, ksub = 8, iters = 2, booksIn = Some(pqBooks.frames(s, d)))
        .orderBy("query_id", "rank")
    },
    // IVF-PQ: coarse lists + residual PQ codes, probed ADC ranking —
    // the composed billion-scale serving index; the trained quantizer
    // + books are the memoized offline artifact (ivfPqArts)
    "ss9_ivfpq_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      val (coarse, books) = ivfPqArts(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 3), k = 5,
        numCentroids = 8, nprobe = 2, m = 4, ksub = 8, iters = 2,
        cents = Some(coarse), booksIn = Some(books))
        .orderBy("query_id", "rank")
    },
    // two-stage serving: ADC shortlist (code lookups, cheap) → EXACT
    // re-rank of only those candidates with full vectors — re-rank
    // cost is nq×shortlist id-probes, independent of corpus size
    "ss13_pq_rerank" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.pqRerankTopK(e, e.filter(col("vec_id") < 3), k = 5,
        shortlist = 20, m = 4, ksub = 8, iters = 2,
        booksIn = Some(pqBooks.frames(s, d)))
        .orderBy("query_id", "rank")
    },
    "ss3_ivf_topk" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 3), k = 5,
        numCentroids = 16, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    // near-dup IMAGE detection: 64-bit dHash pairs within Hamming 3
    // via the guarded pigeonhole block join (four 16-bit blocks) —
    // media bytes never reach an exchange, only (id, hash) rows
    "m10_image_neardup" -> { (s, d) =>
      Multimodal.imageNearDup(s, documents(s, d))
        .orderBy("a_id", "b_id")
    },
    // cross-codec near-dup: the corpus renders PNG except the planted
    // variants, which encode baseline JPEG — decode through the real
    // JRE codecs, block-averaged dHash, guarded pigeonhole pairing.
    // The pair set is codec-stable by margin (noise ≤ 4 bits vs an
    // unrelated floor of 17), so the oracle replays the planted
    // closed form; distances are spec-asserted (JPEG pixels are
    // deterministic per JRE, not SQL-expressible)
    "m14_image_codec_neardup" -> { (s, d) =>
      Multimodal.imageNearDupAcrossCodecs(s, documents(s, d))
        .orderBy("a_id", "b_id")
    },
    // incremental image near-dup: arriving media (even ids) probe the
    // standing index's guarded dHash blocks — every planted variant
    // pair (id-1, id) is consecutive, so every one crosses the parity
    // boundary and the gate sees real cross-boundary hits
    "m11_image_incremental" -> { (s, d) =>
      val all = documents(s, d)
      Multimodal.imageNearDupAgainst(s,
        all.filter(col("doc_id") % 2 === 0),
        all.filter(col("doc_id") % 2 =!= 0))
        .orderBy("new_id", "index_id")
    },
    // near-dup AUDIO detection: 64-bit energy-delta fingerprints via
    // the real WAV codec, paired through the guarded pigeonhole —
    // audio bytes never reach an exchange
    "m12_audio_neardup" -> { (s, d) =>
      Multimodal.audioNearDup(s, documents(s, d))
        .orderBy("a_id", "b_id")
    },
    // cross-codec audio near-dup: even ids render real WAV (RIFF,
    // LE), odd ids real AIFF (IFF, BE) — m12's planted pairs are
    // adjacent, so every pair crosses the codec boundary; PCM16 is
    // lossless in both, so the oracle replays the closed form
    // EXACTLY, distances included (stronger than m14's JPEG leg)
    "m15_audio_codec_neardup" -> { (s, d) =>
      Multimodal.audioNearDupAcrossCodecs(s, documents(s, d))
        .orderBy("a_id", "b_id")
    },
    // LAION-style pair curation: image dHash near-dups ∪ caption
    // MinHash near-dups → transitive clusters → ONE (image, caption)
    // survivor per cluster under the dd14 quality rule; media bytes
    // never reach an exchange (the m10 contract), captions ride the
    // banded MinHash shuffle (the dd3 contract)
    "m13_pair_curation" -> { (s, d) =>
      Multimodal.pairCuration(s, documents(s, d))
        .orderBy("doc_id")
    },
    "m1_multimodal_features" -> { (s, d) =>
      Multimodal.features(s, documents(s, d)).orderBy("media_id")
    },
    "m2_multimodal_transform" -> { (s, d) =>
      Multimodal.transform(s, documents(s, d)).orderBy("media_id")
    },
    // REAL javax.imageio decode: per-doc deterministic 4x4 PNG,
    // encoded and decoded back in the executor; the oracle recomputes
    // the channel sums from the same closed form
    "m4_image_decode" -> { (s, d) =>
      Multimodal.imageDecode(s, documents(s, d)).orderBy("media_id")
    },
    // perceptual dHash through the REAL PNG codec; the oracle
    // recomputes the 64 pixel comparisons from the closed form
    "m5_image_dhash" -> { (s, d) =>
      Multimodal.imageDHash(s, documents(s, d)).orderBy("media_id")
    },
    // REAL javax.sound WAV round-trip: per-doc deterministic PCM16
    // clip, encoded+parsed in the executor; the oracle recomputes the
    // per-frame energies from the same closed form
    "m6_audio_energy" -> { (s, d) =>
      Multimodal.audioEnergy(s, documents(s, d))
        .orderBy("media_id", "frame")
    },
    // silence-trim manifest off the decoded bytes: active frame range
    // + silent counts per clip (deterministic gated synth clips)
    "m9_audio_trim" -> { (s, d) =>
      Multimodal.audioTrim(s, documents(s, d)).orderBy("media_id")
    },
    // video scene-cut detection: per-media deterministic frame stream
    // dHashed through the REAL PNG codec, consecutive-frame Hamming
    // jumps >= 10 bits mark cuts; the oracle recomputes hashes from
    // the closed form and replays the same lag/cumsum windows
    "m7_scene_cuts" -> { (s, d) =>
      Multimodal.sceneCuts(s, graft.Tables.widen(documents(s, d)))
        .orderBy("media_id", "frame_idx")
    },
    // one representative frame per detected scene — the
    // one-embedding-per-shot manifest a video embedding stage consumes
    "m8_keyframes" -> { (s, d) =>
      Multimodal.keyframes(s, graft.Tables.widen(documents(s, d)))
        .orderBy("media_id", "scene_no")
    },
    // per-source Zipf/Heaps vocabulary health: token/type counts,
    // TTR, top-word share, hapax share — all integer ppm
    "t19_corpus_health" -> { (s, d) =>
      CorpusStats.corpusHealth(documents(s, d))
    },
    // cross-source 5-gram overlap matrix: the redundancy audit run
    // before fixing a mixture — two "independent" sources with high
    // containment are the same crawl twice
    "t20_source_overlap" -> { (s, d) =>
      CorpusStats.sourceOverlap(documents(s, d))
        .orderBy("source_a", "source_b")
    },
    // BM25 lexical top-10 per query (queries = the first 3 docs'
    // texts) — exact integer Okapi surrogates, inverted-index plan
    "t22_bm25_topk" -> { (s, d) =>
      val all = documents(s, d)
      Retrieval.bm25TopK(all,
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 10)
        .orderBy("query_id", "rank")
    },
    // small-file COMPACTION of the streamed-into postings layout (the
    // third scheduled maintenance executor): three append batches
    // fragment the bucket directories, compactBm25 rewrites only the
    // fragmented partitions to one file each, and serving through the
    // compacted layout equals the plain full-corpus BM25 — the t39
    // oracle IS t22's verbatim
    "t39_bm25_compact" -> { (s, d) =>
      val out = bm25CompactLayout(s, d)
      Retrieval.bm25TopKFromLayout(s, out,
        documents(s, d).filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 10)
        .orderBy("query_id", "rank")
    },
    // TF-IDF keywords: each doc's top-5 terms by the integer tf·idf
    // surrogate — the corpus-labeling primitive before topic
    // bucketing / mixture design
    "t26_tfidf_keywords" -> { (s, d) =>
      Retrieval.tfidfKeywords(documents(s, d), k = 5)
        .orderBy("doc_id", "rank")
    },
    // RM3 pseudo-relevance feedback: expansion terms mined from each
    // query's top-5 feedback docs re-score with the original terms —
    // both passes share one checkpointed standing index
    "t27_rm3_expansion" -> { (s, d) =>
      val all = documents(s, d)
      // rm3 over the memoized standing index — both scoring passes
      // and the feedback mining are the timed content
      Retrieval.rm3Expand(bm25IndexFrame(s, d),
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")),
        k = 10, fbDocs = 5, fbTerms = 3,
        statsOpt = Some(bm25IdxStats(s, d)))
        .orderBy("query_id", "rank")
    },
    // the FULL retrieval stack through the written layout: both RM3
    // scoring passes prune to the active terms' buckets (DPP) and the
    // feedback-term mining reads the doc-bucketed _fwd forward copy —
    // doc-major access a term-partitioned layout cannot serve — so no
    // leg ever scans the whole index; rows must equal t27's in-memory
    // chain bit-for-bit (verbatim oracle)
    "t35_rm3_layout" -> { (s, d) =>
      val all = documents(s, d)
      val out = bm25pLayout(s, d)
      Retrieval.rm3TopKFromLayout(s, out,
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")),
        k = 10, fbDocs = 5, fbTerms = 3)
        .orderBy("query_id", "rank")
    },
    // standing TF-IDF tagger: the df model freezes on the 9/10
    // reference split, every 10th doc arrives and is tagged in-row
    // against it above a score floor (streaming-legal)
    "t28_tfidf_standing" -> { (s, d) =>
      val all = documents(s, d)
      // the frozen df model is the memoized standing frame; the timed
      // content is the in-row tagging of the arriving 1/10 split
      Retrieval.tfidfTagsAgainst(tfidfModelFrame(s, d),
        all.filter(col("doc_id") % 10 === 0),
        floorPpm = 1000000L)
        .orderBy("doc_id", "term")
    },
    // STANDING BM25 index: per-row postings (no cross-row state —
    // streaming-legal), a CDF batch folded in with one doc-keyed
    // anti-join + new-doc postings (the dd9 incremental discipline),
    // then an index probe — identical scoring arithmetic to t22
    "t25_bm25_standing" -> { (s, d) =>
      val all = documents(s, d)
      val cdf = all.filter(col("doc_id") % 97 === 5)
        .select(col("doc_id"), col("text"),
          lit("delete").as("_change_type"))
        .unionByName(all.filter(col("doc_id") % 31 === 7)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"),
            lit("insert").as("_change_type")))
      // the base index is the memoized standing frame; the timed
      // content is the declared operator — the CDF fold + the probe
      val idx = Retrieval.bm25ApplyCdf(bm25IndexFrame(s, d), cdf)
        .localCheckpoint(eager = false) // the maintained frame
      Retrieval.bm25TopKAgainst(idx,
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 10)
        .orderBy("query_id", "rank")
    },
    // the standing postings made DURABLE (the ss23 discipline for the
    // lexical index): postings land term-bucket-partitioned, the SAME
    // CDF batch as t25 folds in as a partition-grain rewrite (only
    // the changed docs' term buckets are rewritten), and the probe
    // reads only the query terms' buckets (DPP-pinned) — rows must
    // equal t25's in-memory fold bit-for-bit (verbatim oracle)
    // df-CAPPED serving through the written layout: query-term df
    // comes from the _df dictionary (bucket-pruned, vocabulary-sized)
    // and stopword-grade terms drop BEFORE the postings pruning —
    // their corpus-sized posting buckets never open, the serving
    // shape that stays flat at 10x data (GuardrailsSpec pins the
    // bytes skipped; stored df == derived df by the fold maintenance
    // invariant). Cap = 78% of docs: the synthetic fixture draws from
    // a small word pool, so every term is common — the cap sits
    // inside the fixture's df band to exercise both branches at
    // every scale factor
    "t40_bm25_layout_dfcap" -> { (s, d) =>
      val all = documents(s, d)
      val out = bm25pLayout(s, d)
      Retrieval.bm25TopKFromLayout(s, out,
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")),
        k = 10, dfCapPpm = Some(780000L))
        .orderBy("query_id", "rank")
    },
    "t32_bm25_layout" -> { (s, d) =>
      val all = documents(s, d)
      val out = bm25Layout(s, d)
      Retrieval.bm25TopKFromLayout(s, out,
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 10)
        .orderBy("query_id", "rank")
    },
    // the SERVING-ERA hybrid: both RRF legs come THROUGH written
    // layouts — BM25 reads only the query terms' bkt= directories,
    // the vector leg reads only the probed cid= home lists (both
    // DPP-pinned) — so the fusion never touches a corpus-sized scan;
    // fusion itself stays ≤ k·|queries| rows per leg
    "t37_hybrid_layout" -> { (s, d) =>
      val all = documents(s, d)
      val e = embeddings(s, d)
      val bmOut = bm25pLayout(s, d)
      val knnOut = knnpLayout(s, d)
      val queries = all.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("text"))
      val bm = Retrieval.bm25TopKFromLayout(s, bmOut, queries, k = 10)
        .select("query_id", "doc_id", "rank")
      val ann = Similarity.knnTopKFromLayout(s, knnOut,
        e.filter(col("vec_id") < 3), k = 10, nprobe = 2)
        .select(col("vec_id").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(bm, ann), k = 10)
        .orderBy("query_id", "rank")
    },
    // HYBRID retrieval: BM25 lexical top-10 and brute cosine top-10
    // for the same 3 query docs (doc_id ≡ vec_id in the fixture id
    // space), fused by reciprocal-rank — both input rankings reuse
    // their existing plans untouched; fusion is a tiny rank-keyed
    // union + one aggregation + per-query window
    "t24_hybrid_rrf" -> { (s, d) =>
      val all = documents(s, d)
      // the lexical leg probes the memoized standing index — one
      // postings frame serves t24/t25/t27/t29 (bm25TopKAgainst ≡
      // bm25TopK on the same corpus: the t22 ≡ t25 pinned
      // equivalence); the timed content is the fusion contract
      val bm = Retrieval.bm25TopKAgainst(bm25IndexFrame(s, d),
        all.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text")), k = 10,
        statsOpt = Some(bm25IdxStats(s, d)))
        .select("query_id", "doc_id", "rank")
      val e = embeddings(s, d)
      val ann = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
        k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      Retrieval.rrfFuse(Seq(bm, ann), k = 10)
        .orderBy("query_id", "rank")
    },
    // retrieval-quality scoreboard: BM25 / RM3 / RRF-hybrid ranked
    // against semantic qrels (the brute cosine top-20 — vec_id ≡
    // doc_id in the fixture id space), MRR + capped recall +
    // reciprocal-discount nDCG in exact ppm integers; ONE truth scan
    // feeds both the qrels and the RRF's ANN leg (rank ≤ 10 prefix)
    "t29_retrieval_quality" -> { (s, d) =>
      val all = documents(s, d)
      val e = embeddings(s, d)
      // 3-token STUBS of the query docs: a full document as its own
      // query saturates BM25 and leaves expansion nothing to add;
      // the stub is the vocabulary-mismatch regime RM3 exists for,
      // and the report shows it (RM3 doubles MRR on the fixture)
      val qdocs = all.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.operators.TextAnalysis.tokens(col("text")), 1, 3))
            .as("text"))
      val truth = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 3), k = 20)
        .localCheckpoint(eager = false) // qrels + the ANN fusion leg
      val qrels = truth
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      // ONE postings build serves both lexical legs: bm25TopKAgainst
      // over the shared index is bit-identical to bm25TopK over the
      // raw corpus (t22 ≡ t25's pinned equivalence — same scoring
      // tail, same totals census), so the second corpus tokenize +
      // postings aggregation the old body paid is gone; the index
      // itself is the memoized standing frame
      val idx = bm25IndexFrame(s, d)
      val bm = Retrieval.bm25TopKAgainst(idx, qdocs, k = 10,
        statsOpt = Some(bm25IdxStats(s, d)))
        .localCheckpoint(eager = false) // scored on its own + inside rrf
      val rm3 = Retrieval.rm3Expand(idx,
        qdocs, k = 10, fbDocs = 10, fbTerms = 5,
        statsOpt = Some(bm25IdxStats(s, d)))
      val ann = truth.filter(col("rank") <= 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      val rrf = Retrieval.rrfFuse(Seq(
        bm.select("query_id", "doc_id", "rank"), ann), k = 10)
      Retrieval.qualityReport(Seq(
        "bm25" -> bm, "rm3" -> rm3, "rrf" -> rrf), qrels, k = 10)
        .orderBy("system")
    },
    "st7_click_attribution" -> { (s, d) =>
      EventStreams.clickToPurchaseBatch(events(s, d))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    // LEFT OUTER stream-stream join's batch twin: every click, with
    // its purchases or NULLs — the streaming side (watermark-driven
    // null emission on state eviction) is proven in StreamingSpec
    "st8_click_outer" -> { (s, d) =>
      EventStreams.clickToPurchaseOuterBatch(events(s, d))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    "st1_tumbling_hourly" -> { (s, d) =>
      EventStreams.tumblingCountsBatch(events(s, d))
        .orderBy("hour_start", "event_type")
    },
    "st2_sessionize" -> { (s, d) =>
      EventStreams.sessionAggBatch(events(s, d))
        .orderBy("user_id", "session_start")
    },
    "st3_sliding_windows" -> { (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    },
    "st4_dedup_distinct" -> { (s, d) =>
      events(s, d).dropDuplicates("user_id", "event_type")
        .groupBy("user_id").agg(count(lit(1)).as("n_types"))
        .orderBy("user_id")
    }
  )

  /** mx6's split percentages — ONE definition drives both the
    * declared query and its oracle, so changing the configuration
    * keeps the gate honest (round-9 advice). */
  private val Mx6PctTrain = 80
  private val Mx6PctVal = 10

  /** mx7's training token budget — one definition for query + oracle. */
  private val Mx7TargetTokens = 10L * 1000 * 1000

  /** mx10's DoReMi round count / step / smoothing — one definition
    * drives the query AND the unrolled-CTE oracle. */
  private val Mx10Rounds = 8
  private val Mx10EtaPpm = 500000L
  private val Mx10SmoothPpm = 100000L

  /** The shared mx10/mx11 CTE chain: the per-source frozen proxy loss
    * (plus the doc/token census mx11's plan tail reads), then
    * `Mx10Rounds` UNROLLED multiplicative-weights rounds — every
    * division a `//` floor on non-negative BIGINTs, so the trajectory
    * replays the Scala driver loop bit-for-bit. Every CTE
    * MATERIALIZED: the rounds reference their predecessors several
    * times, and DuckDB's default CTE inlining would expand the
    * 8-round chain into an exponential tree of document scans. */
  private lazy val sqlDoremiCtes: String = {
    val S = 1000000L
    val eta = Mx10EtaPpm
    val c = Mx10SmoothPpm
    val roundCtes = (1 to Mx10Rounds).map { t =>
      val p = s"a${t - 1}"
      s"""m$t AS MATERIALIZED (SELECT
          (sum(alpha * loss_ppm) // $S)::BIGINT AS mean FROM $p),
      u$t AS MATERIALIZED (SELECT source, loss_ppm,
          greatest(loss_ppm - (SELECT mean FROM m$t), 0)::BIGINT AS excess,
          ((lam * ($S + ($eta *
            greatest(loss_ppm - (SELECT mean FROM m$t), 0)) // $S)) // $S)
            ::BIGINT AS lamu
        FROM $p),
      a$t AS MATERIALIZED (SELECT source, loss_ppm, excess,
          ((lamu * $S) // (SELECT sum(lamu) FROM u$t))::BIGINT AS lam,
          (((${S - c} * ((lamu * $S) // (SELECT sum(lamu) FROM u$t)))
            + $c * (SELECT uk FROM kk)) // $S)::BIGINT AS alpha
        FROM u$t)"""
    }.mkString(",\n      ")
    s"""src AS MATERIALIZED (SELECT source,
          ((sum(length(text))::BIGINT * $S)
            // greatest(sum(len($toks))::BIGINT, 1))::BIGINT AS loss_ppm,
          count(*)::BIGINT AS n_docs,
          sum(len($toks))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      kk AS MATERIALIZED (SELECT ($S // count(*))::BIGINT AS uk FROM src),
      a0 AS MATERIALIZED (SELECT source, loss_ppm, 0::BIGINT AS excess,
          ${S}::BIGINT AS lam, (SELECT uk FROM kk) AS alpha FROM src),
      $roundCtes"""
  }

  /** Oracle twin of [[Mixture.doremiWeights]] (mx10). */
  private lazy val sqlMx10Doremi: String = {
    val unions = (1 to Mx10Rounds).map { t =>
      s"SELECT $t::BIGINT AS round, source, loss_ppm," +
        s" excess AS excess_ppm, alpha AS alpha_ppm FROM a$t"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH $sqlDoremiCtes
      $unions
      ORDER BY round, source"""
  }

  /** Oracle twin of [[Mixture.doremiEpochPlan]] (mx11): the final
    * round's α splits the fixed token budget. */
  private lazy val sqlMx11DoremiPlan: String = s"""
      WITH $sqlDoremiCtes
      SELECT s.source, s.n_docs, s.n_tokens, s.loss_ppm,
        a.alpha AS alpha_ppm,
        (($Mx7TargetTokens * a.alpha) // 1000000)::BIGINT
          AS target_tokens,
        (CASE WHEN s.n_tokens = 0 THEN 0
          ELSE ((($Mx7TargetTokens * a.alpha) // 1000000) * 1000000)
            // s.n_tokens END)::BIGINT AS epochs_ppm
      FROM a${Mx10Rounds} a JOIN src s USING (source)
      ORDER BY s.source"""

  /** The ss20 CDF batch over the embeddings corpus: every
    * vec_id ≡ 5 (mod 97) deletes, and every vec_id ≡ 7 (mod 31)
    * re-arrives under a fresh id (+100000) — the one batch the kNN,
    * SQ8 and PQ maintenance queries and their layouts all fold. */
  private def ss20Cdf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 97 === 5)
      .select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type"))
      .unionByName(e.filter(col("vec_id") % 31 === 7)
        .select((col("vec_id") + 100000).as("vec_id"),
          col("embedding"), lit("insert").as("_change_type")))

  // ---- standing artifacts: each declared once in [[Artifacts]],
  // which memoizes, times and prewarms it ----

  /** The ss14-family trained coarse quantizer (16 centroids, 2 Lloyd
    * rounds over the full embeddings corpus) — the offline artifact
    * ss14/ss15/dd20 all probe: repeated invocations — bench passes,
    * verify re-runs — reuse the 16-row frame instead of re-running the
    * training jobs. Training is deterministic, so the shared frame is
    * bit-identical to per-query training (each oracle still replays
    * the full Lloyd chain independently). */
  private val kgCents = Artifacts.collected("kgCents") { (s, d) =>
    Seq(VectorStats.kmeansCentroids(embeddings(s, d), 16, 2))
  }

  /** ss16's standing-index quantizer: kgCents' training chain over
    * the REFERENCE 9/10 split (the corpus the standing index froze
    * on, without the arriving batch). */
  private val kgCentsRef = Artifacts.collected("kgCentsRef") { (s, d) =>
    Seq(VectorStats.kmeansCentroids(
      embeddings(s, d).filter(col("vec_id") % 10 =!= 0), 16, 2))
  }

  /** ss31's per-side coarse quantizers (trained on each label split
    * alone — the bitext miner's offline artifacts), by label. */
  private val bitextCents = Seq(1, 2).map { label =>
    label -> Artifacts.collected(s"bitextCents$label") { (s, d) =>
      Seq(VectorStats.kmeansCentroids(
        embeddings(s, d).filter(col("label") === label)
          .select("vec_id", "embedding"), 8, 2))
    }
  }.toMap

  /** The trained unigram vocabulary at the t33 params — the standing
    * model frame t34's encode and t36's coverage census PROBE (t33
    * itself remains the training query and keeps the training in its
    * timed window, exactly as t18 trains while t23 probes the
    * memoized [[bpeRules]]). Deterministic EM ⇒ identical rows. */
  private val unigramVocab = Artifacts.collected("unigramVocab") {
    (s, d) => Seq(graft.operators.Tokenizer.unigramTrain(documents(s, d),
      rounds = 2, maxPiece = 4, minCount = 2, maxWordLen = 12))
  }

  /** t43's twin over the multilingual script fixture (script tier). */
  private val unigramVocabScript = Artifacts.collected("unigramVocabScript") {
    (s, d) => Seq(graft.operators.Tokenizer.unigramTrain(
      scriptFixture(documents(s, d)), rounds = 2, maxPiece = 4,
      minCount = 2, maxWordLen = 12, scriptTier = true))
  }

  /** The trained pocket-perceptron model at the t30 params — the
    * standing artifact t31's CALIBRATION probes (t30 remains the
    * training query). Deterministic full-batch rounds ⇒ identical
    * 1-row model. */
  private val classifierModel = Artifacts.collected("classifierModel") {
    (s, d) =>
      val stop = Seq("the", "a", "of", "and", "to", "in", "is")
      Seq(TextAnalysis.classifierTrain(
        documents(s, d).withColumn("y",
          when(size(filter(TextAnalysis.tokens(col("text")),
            t => t.isin(stop: _*))) >= 4, 1L).otherwise(-1L)),
        dim = 64, rounds = 8))
  }

  /** Trained PQ codebooks over the full embeddings corpus (m=4,
    * ksub=8, iters=2) — the PQ family's offline artifact: ss8, ss12
    * and ss13 all rank under the SAME deterministic training, so each
    * pass was re-running 4× per-subspace Lloyd chains per query for
    * bit-identical 8-row books. Results are unchanged by kmeans
    * determinism — the oracle replays training independently. */
  private val pqBooks = Artifacts.collected("pqBooks") { (s, d) =>
    Similarity.pqCodebooks(embeddings(s, d), m = 4, ksub = 8, iters = 2)
  }

  /** The trained IVF-PQ offline state at the ss9 params (coarse=8,
    * m=4, ksub=8, iters=2): the coarse quantizer (with self-dots) and
    * the m RESIDUAL codebooks — shared by ss9 and ss12's ivfpq row,
    * and the coarse frame alone by ss12's ivfsq8 row and ss18 (whose
    * quantizer is the same kmeansCentroids(corpus, 8, 2) chain).
    * Deterministic training ⇒ identical results. */
  private val ivfPqTrained = Artifacts.collected("ivfPqArts") { (s, d) =>
    val (coarse, books) = Similarity.ivfPqTrain(embeddings(s, d),
      numCentroids = 8, m = 4, ksub = 8, iters = 2)
    coarse +: books
  }
  private def ivfPqArts(s: SparkSession, d: String)
    : (DataFrame, Seq[DataFrame]) = {
    val frames = ivfPqTrained.frames(s, d)
    (frames.head, frames.tail)
  }

  /** t23's merge model: the encode query's input is the TRAINED rule
    * list (t18 gates the training itself), so repeated invocations —
    * bench passes, verify re-runs — reuse the 8-row artifact instead
    * of re-running the 8 training jobs. */
  private val bpeRuleRows = Artifacts.collected("bpeRules") { (s, d) =>
    Seq(graft.operators.Tokenizer.bpeTrain(documents(s, d), merges = 8)
      .orderBy("rnd"))
  }
  private def bpeRules(s: SparkSession, d: String): Seq[(String, String)] =
    bpeRuleRows(s, d).collect().map(r => (r.getString(1), r.getString(2)))
      .toSeq

  /** The k=3 kNN GRAPH over the embeddings corpus — the standing
    * structure ss14 documents as "what semantic clustering,
    * SemDeDup-style pruning and graph community detection all start
    * from", a corpus-sized derived frame like the copurchase edge
    * list. dd20 and ss19 consume it; ss14 itself stays the LIVE-BUILD
    * query (the family's construction member, like q70 for LPA), so
    * the build cost remains a measured number. */
  private val knnGraphFrame = Artifacts.checkpointed("knnGraph") { (s, d) =>
    Similarity.knnGraph(embeddings(s, d), k = 3, numCentroids = 16,
      nprobe = 2, cents = Some(kgCents(s, d)))
  }

  /** The STANDING in-memory BM25 index over the full corpus — t25's
    * fold base, t27/t29's rm3 index ("a standing index is
    * materialized once — that is its contract"). t22 remains the
    * family's live-build query. NOT widened: the checkpoint keeps the
    * corpus's natural scan partitioning (measured: a forced
    * 32-partition checkpoint made every one of t29's ~8 reader stages
    * pay 32-task scheduling overhead — +1.6 s across three runs —
    * while the memoization itself, not the parallelism, carried the
    * win; at cluster scale the index inherits the corpus's real
    * multi-split partitioning anyway). */
  private val bm25IndexFrame = Artifacts.checkpointed("bm25Index") {
    (s, d) => Retrieval.bm25Index(documents(s, d))
  }

  /** dc6's standing index over the TRAIN split (eval docs held out).
    * WIDENED, unlike [[bm25IndexFrame]]: dc6 is a single-chain
    * consumer whose cost is one CPU-heavy scoring pass over the whole
    * postings frame (10 eval queries × full vocabulary, wide-decimal
    * Okapi math) — measured 2.7 s SERIAL on a 1-partition checkpoint,
    * 2.6 s total with the widened one vs 4.1 s baseline; the
    * many-cheap-reader t25/t27/t29 frame stays natural (see
    * bm25IndexFrame's doc for that measurement). */
  private val dc6IndexFrame = Artifacts.checkpointed("bm25IndexDc6") {
    (s, d) => Retrieval.bm25Index(graft.Tables
      .widen(documents(s, d).filter(col("doc_id") % 500 =!= 3)))
  }

  /** A frozen standing index's collection statistics — the
    * vocabulary-sized df table and the 1-row corpus census — memoized
    * BESIDE the index (they are pure functions of the frozen frame,
    * so probe results are bit-identical): every t24/t27/t29/dc6 probe
    * was re-aggregating the full postings for the same two artifacts.
    * t25 keeps deriving both from its CDF-folded rows — a MAINTAINED
    * index's stats must track its current membership. */
  private def frozenIdxStats(name: String,
      idx: (SparkSession, String) => DataFrame)
    : (SparkSession, String) => (DataFrame, DataFrame) = {
    val df = Artifacts.checkpointed(s"$name.df") { (s, d) =>
      idx(s, d).groupBy("fp").agg(count(lit(1)).as("df"))
    }
    val totals = Artifacts.checkpointed(s"$name.totals") { (s, d) =>
      idx(s, d).select("doc_id", "len").distinct()
        .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len"))
    }
    (s, d) => (df(s, d), totals(s, d))
  }
  private val bm25IdxStats = frozenIdxStats("bm25Index", bm25IndexFrame)
  private val dc6IdxStats = frozenIdxStats("bm25IndexDc6", dc6IndexFrame)

  /** t28's standing TF-IDF df model (frozen on the 9/10 split). */
  private val tfidfModelFrame = Artifacts.checkpointed("tfidfModel") {
    (s, d) => Retrieval.tfidfModel(
      documents(s, d).filter(col("doc_id") % 10 =!= 0))
  }

  /** ds2's standing DSIR rate model (frozen on the 9/10 raw split vs
    * the src0 target exemplars). */
  private val dsirModelFrame = Artifacts.checkpointed("dsirModel") {
    (s, d) =>
      val all = documents(s, d)
      Mixture.dsirModel(
        all.filter(col("source") =!= "src0")
          .filter(col("doc_id") % 10 =!= 0),
        all.filter(col("source") === "src0"), buckets = 1024)
  }

  // ---- written layouts: one write closure per kind; the queries
  // named above each kind serve through its one written path ----

  // ss23
  private val knnLayout = Artifacts.layout("knn_layout") { (s, d, p) =>
    val e = embeddings(s, d)
    Similarity.knnIndexWrite(e, p, numCentroids = 16,
      centsIn = Some(kgCents(s, d)))
    Similarity.knnLayoutApplyCdf(s, p, ss20Cdf(e))
  }

  // ss28, ss29
  private val knnRetrainLayout = Artifacts.layout("knnretrain_layout") {
    (s, d, p) =>
      val e = embeddings(s, d)
      Similarity.knnIndexWrite(e, p, numCentroids = 16,
        centsIn = Some(kgCents(s, d)))
      Similarity.knnLayoutApplyCdf(s, p, ss20Cdf(e))
      Similarity.knnCentroidRetrain(s, p, numCentroids = 16, iters = 2)
  }

  // ss30
  private val knnCompactLayout = Artifacts.layout("knncompact_layout") {
    (s, d, p) =>
      val e = embeddings(s, d)
      Similarity.knnIndexWrite(e.filter(col("vec_id") % 10 =!= 0), p,
        numCentroids = 16, centsIn = Some(kgCents(s, d)))
      val cents = s.read.parquet(p + "_cents")
      (0L until 3L).foreach { i =>
        Similarity.homeRowsAgainst(
          e.filter(col("vec_id") % 10 === 0 &&
            pmod(col("vec_id") / 10, lit(3)) === i)
            .select("vec_id", "embedding"), cents)
          .write.mode("append").partitionBy("cid").parquet(p)
      }
      graft.operators.LayoutMaintenance.compact(s, p, "cid")
  }

  // t37
  private val knnpLayout = Artifacts.layout("knnp_layout") { (s, d, p) =>
    Similarity.knnIndexWrite(embeddings(s, d), p, numCentroids = 16,
      centsIn = Some(kgCents(s, d)))
  }

  // ss21
  private val sq8Layout = Artifacts.layout("sq8_layout") { (s, d, p) =>
    Similarity.sq8IndexWrite(embeddings(s, d), p, numCentroids = 8,
      iters = 2)
  }

  // ss24, ss34
  private val sq8CdfLayout = Artifacts.layout("sq8cdf_layout") {
    (s, d, p) =>
      val e = embeddings(s, d)
      Similarity.sq8IndexWrite(e, p, numCentroids = 8, iters = 2)
      Similarity.sq8LayoutApplyCdf(s, p, ss20Cdf(e))
  }

  // ss27
  private val sq8RefreshLayout = Artifacts.layout("sq8refresh_layout") {
    (s, d, p) =>
      val e = embeddings(s, d)
      val drifted = e.filter(col("vec_id") % 31 === 7)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            x => x.cast("double") * lit(1.25) + lit(0.1)).as("embedding"))
      Similarity.sq8IndexWrite(e, p, numCentroids = 8, iters = 2)
      val cdf = e.filter(col("vec_id") % 97 === 5)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"),
          lit("delete").as("_change_type"))
        .unionByName(drifted.select(col("vec_id"), col("embedding"),
          lit("insert").as("_change_type")))
      Similarity.sq8LayoutApplyCdf(s, p, cdf)
      val membership = e.filter(col("vec_id") % 97 =!= 5)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
        .unionByName(drifted)
      Similarity.sq8StatsRefresh(s, p, membership)
  }

  // ss22, ss32
  private val pqLayout = Artifacts.layout("pq_layout") { (s, d, p) =>
    Similarity.pqIndexWrite(embeddings(s, d), p, numCentroids = 8, m = 4,
      ksub = 8, iters = 2)
  }

  // ss25, ss35
  private val pqCdfLayout = Artifacts.layout("pqcdf_layout") { (s, d, p) =>
    val e = embeddings(s, d)
    Similarity.pqIndexWrite(e, p, numCentroids = 8, m = 4, ksub = 8,
      iters = 2)
    Similarity.pqLayoutApplyCdf(s, p, ss20Cdf(e), m = 4)
  }

  // ss33
  private val pqRetrainLayout = Artifacts.layout("pqretrain_layout") {
    (s, d, p) =>
      val e = embeddings(s, d)
      Similarity.pqIndexWrite(e, p, numCentroids = 8, m = 4, ksub = 8,
        iters = 2)
      Similarity.pqLayoutApplyCdf(s, p, ss20Cdf(e), m = 4)
      val membership = e.filter(col("vec_id") % 97 =!= 5)
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 31 === 7)
          .select((col("vec_id") + 100000).as("vec_id"),
            col("embedding")))
      Similarity.pqCodebookRetrain(s, p, membership, m = 4, ksub = 8,
        iters = 2)
  }

  // t35, t37, t40
  private val bm25pLayout = Artifacts.layout("bm25p_layout") { (s, d, p) =>
    Retrieval.bm25IndexWrite(documents(s, d), p, buckets = 64)
  }

  // t32
  private val bm25Layout = Artifacts.layout("bm25_layout") { (s, d, p) =>
    val all = documents(s, d)
    Retrieval.bm25IndexWrite(all, p, buckets = 64)
    val cdf = all.filter(col("doc_id") % 97 === 5)
      .select(col("doc_id"), col("text"),
        lit("delete").as("_change_type"))
      .unionByName(all.filter(col("doc_id") % 31 === 7)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          lit("insert").as("_change_type")))
    Retrieval.bm25LayoutApplyCdf(s, p, cdf)
  }

  // t39
  private val bm25CompactLayout = Artifacts.layout("bm25compact_layout") {
    (s, d, p) =>
      val all = documents(s, d).select("doc_id", "text")
      Retrieval.bm25IndexWrite(all.filter(col("doc_id") % 10 =!= 0),
        p, buckets = 64)
      (0L until 3L).foreach { i =>
        Retrieval.bm25LayoutAppend(s, p,
          all.filter(col("doc_id") % 10 === 0 &&
            pmod(col("doc_id") / 10, lit(3)) === i))
      }
      graft.operators.LayoutMaintenance.compactBm25(s, p)
  }

  private val toks = sqlToks("text")

  /** Composite quality score over raw `text` — twin of
    * [[TextAnalysis.qualityScore]], whose exact term ORDER is
    * load-bearing for bit-exact doubles. Shared by every oracle that
    * scores inline (dd7, dd14, tp3); t02/tp4 keep their staged
    * two-CTE form because they also emit the intermediate counts. */
  private val sqlQuality: String =
    s"(len(list_intersect($toks, ['the','a','of','and','to','in','is']))::DOUBLE" +
      s" / len($toks)::DOUBLE)" +
      " - ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE" +
      " / length(text)::DOUBLE)" +
      s" + least(len($toks)::DOUBLE / 100.0, 1.0)"

  /** Oracle twin of [[graft.operators.Multimodal.sceneCuts]] as a CTE
    * chain ending in `scenes(media_id, frame_idx, hash_hi, hash_lo,
    * dist, is_cut, scene_no)` — shared by the m7 query and the m8
    * keyframe rollup. */
  /** Shared m5/m10 oracle CTEs replaying
    * `Multimodal.dhashPixel` closed-form: per-doc Lehmer pixel
    * stream (the `Multimodal.DHashPlanes` power table inlined as a
    * literal list — DuckDB has no modpow) with the planted-variant
    * rule (id ≡ 1 mod 101 renders id−1's raster with one pixel +64),
    * then the 64 dHash comparisons → per-media (hi, lo). */
  private def sqlDHashCtes: String = {
    val planes = graft.operators.Multimodal.DHashPlanes.mkString(", ")
    s"""pl AS (SELECT [$planes] AS planes),
      pu AS (
        SELECT d.doc_id AS media_id,
          CASE WHEN d.doc_id % 101 = 1 AND d.doc_id >= 101
            THEN d.doc_id - 1 ELSE d.doc_id END AS eff,
          CASE WHEN d.doc_id % 101 = 1 AND d.doc_id >= 101
            THEN 1 ELSE 0 END AS isv,
          t.p AS p
        FROM documents d, unnest(range(0, 72)) AS t(p)),
      pv AS (
        SELECT media_id, p,
          ((((eff*2654435761 + 12345) % 2147483647)
              * (SELECT planes[p::INT + 1] FROM pl)
              % 2147483647) % 256
            + CASE WHEN isv = 1 AND p = eff % 72 THEN 64 ELSE 0 END)
            % 256 AS v
        FROM pu),
      b AS (
        SELECT l.media_id, (l.p//9)*8 + (l.p%9) AS i,
          CASE WHEN r.v > l.v THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM pv l JOIN pv r
          ON r.media_id = l.media_id AND r.p = l.p + 1
        WHERE l.p % 9 < 8),
      h AS (SELECT media_id,
          sum(CASE WHEN i >= 32 THEN bit << (i - 32) ELSE 0 END)::BIGINT
            AS hi,
          sum(CASE WHEN i < 32 THEN bit << i ELSE 0 END)::BIGINT AS lo
        FROM b GROUP BY media_id)"""
  }

  private def sqlSceneCtes: String = """b AS (
        SELECT d.doc_id AS media_id, f.f AS frame_idx, t.i AS i,
          CASE WHEN ((d.doc_id*7 + (f.f // (2 + d.doc_id % 3))*101
                      + (((t.i//8)*9 + (t.i%8)) + 1)*13) % 256) >
                    ((d.doc_id*7 + (f.f // (2 + d.doc_id % 3))*101
                      + ((t.i//8)*9 + (t.i%8))*13) % 256)
            THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM documents d, unnest(range(0, 12)) AS f(f),
          unnest(range(0, 64)) AS t(i)),
      h AS (SELECT media_id, frame_idx,
          sum(CASE WHEN i >= 32 THEN bit << (i - 32) ELSE 0 END)::BIGINT
            AS hash_hi,
          sum(CASE WHEN i < 32 THEN bit << i ELSE 0 END)::BIGINT AS hash_lo
        FROM b GROUP BY media_id, frame_idx),
      l AS (SELECT media_id, frame_idx, hash_hi, hash_lo,
          lag(hash_hi) OVER win AS ph, lag(hash_lo) OVER win AS pl
        FROM h WINDOW win AS (PARTITION BY media_id ORDER BY frame_idx)),
      d2 AS (SELECT media_id, frame_idx, hash_hi, hash_lo,
          CAST(bit_count(xor(hash_hi, ph)) + bit_count(xor(hash_lo, pl))
            AS BIGINT) AS dist
        FROM l),
      scenes AS (SELECT media_id, frame_idx, hash_hi, hash_lo, dist,
        coalesce(dist >= 10, false) AS is_cut,
        CAST(sum(CASE WHEN coalesce(dist >= 10, false) THEN 1 ELSE 0 END)
          OVER (PARTITION BY media_id ORDER BY frame_idx
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_no
        FROM d2)"""

  /** Oracle twin of [[graft.operators.Tokenizer.bpeTrain]]: the merge
    * trajectory unrolled as one CTE triple per round — pair counts
    * from the previous vocabulary, the (cnt DESC, pair ASC) argmax,
    * and the double-space-expanded substring rewrite. Both engines'
    * `replace` scans left-to-right over the same expansion, so every
    * round — not just the final merge list — is bit-identical. */
  private def sqlBpe(merges: Int): String = {
    val sel = (1 to merges)
      .map(r => s"SELECT rnd, pair, merged, cnt FROM b$r")
      .mkString("\n      UNION ALL ")
    s"""
      WITH ${sqlBpeCtes(merges)}
      $sel ORDER BY rnd"""
  }

  /** The t18 training CTE chain alone (w, v0, p_r/b_r/v_r rounds) —
    * shared by the t18 merge-list oracle, the t23 encode oracle
    * (which applies the b_r merges back to every document), and —
    * parameterized over (corpus CTE, token expression, word gate) —
    * the t42 script-tier trainer oracle. */
  private def sqlBpeCtes(merges: Int, corpus: String = "documents",
      wordsOf: String = toks, gate: String = "^[a-z]+$"): String = {
    val rounds = (1 to merges).map { r =>
      s"""p$r AS (SELECT list_extract(l, i) || ' ' || list_extract(l, i+1)
            AS pair, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT freq, string_split(sym, ' ') AS l FROM v${r - 1}),
            unnest(range(1, len(l))) AS t(i)
          GROUP BY 1),
      b$r AS (SELECT $r::INT AS rnd, pair, replace(pair, ' ', '') AS merged,
            cnt
          FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
      v$r AS (SELECT freq, trim(regexp_replace(
            replace(' ' || replace(v.sym, ' ', '  ') || ' ',
                    ' ' || replace(b.pair, ' ', '  ') || ' ',
                    ' ' || b.merged || ' '),
            ' +', ' ', 'g')) AS sym
          FROM v${r - 1} v, b$r b)"""
    }.mkString(",\n      ")
    s"""w AS (SELECT t.w AS w, count(*)::BIGINT AS freq FROM (
          SELECT unnest($wordsOf) AS w FROM $corpus) t
        WHERE regexp_matches(t.w, '$gate')
          AND len(t.w) BETWEEN 2 AND 20
        GROUP BY t.w),
      v0 AS (SELECT freq,
          trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM w),
      $rounds"""
  }

  /** t23 oracle: retrain the t18 merges, then fold every document's
    * tokens through them in training order — the same expand/replace/
    * collapse rewrite per merge, NULL-safe for early-exhausted
    // training via a never-matching chr(1) sentinel.
    */
  private def sqlBpeEncode(merges: Int): String = {
    val scalars = (1 to merges).map(r =>
      s"coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM b$r), chr(1)) AS p$r,\n" +
      s"        coalesce((SELECT ' ' || merged || ' ' FROM b$r), chr(1)) AS m$r")
      .mkString(",\n        ")
    val fold = (1 to merges).foldLeft(
      "(CASE WHEN regexp_matches(tok, '^[a-z]+$$') " +
        "THEN trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) ELSE tok END)"
    ) { (acc, r) =>
      s"trim(regexp_replace(replace(' ' || replace($acc, ' ', '  ') || ' ', p$r, m$r), ' +', ' ', 'g'))"
    }
    s"""
      WITH ${sqlBpeCtes(merges)},
      ms AS (SELECT $scalars),
      enc AS (SELECT d.doc_id,
          list_transform($toks, tok -> $fold) AS enc
        FROM documents d, ms)
      SELECT doc_id, len(enc)::BIGINT AS n_words,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(enc, e9 -> len(string_split(e9, ' '))::BIGINT)),
          (a9, x9) -> a9 + x9) AS n_tokens,
        ${sqlFp("array_to_string(enc, ' ')")} AS enc_fp
      FROM enc ORDER BY doc_id"""
  }

  /** Unigram-LM trainer replay (twin of [[graft.operators.Tokenizer
    * .unigramTrain]]): substring candidates from the word table, then
    * per EM round a RECURSIVE enumeration of every segmentation of
    * every distinct word under the round's vocabulary, the
    * (n, s DESC, seg) total-order argmin per word — exactly the
    * engine DP's objective, so both pick identical segmentations —
    * counts, prune, coverage union. Ends at `uv{rounds}`; `best{r}`
    * exposes the round-r segmentations (t34 reuses the final one).
    * MATERIALIZED on every multiply-referenced CTE (the t30 lesson:
    * inlined unrolled chains blow up exponentially). */
  private def sqlUnigramCtes(rounds: Int = 2, maxPiece: Int = 4,
      minCount: Long = 2, maxWordLen: Int = 12,
      corpus: String = "documents", wordsOf: String = toks,
      gate: String = "^[a-z]+$"): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""useg$r AS (
        SELECT w, freq, 0::BIGINT AS pos, 0 AS n, 0::BIGINT AS s,
          '' AS seg FROM w0
        UNION ALL
        SELECT g.w, g.freq, g.pos + t.l, g.n + 1, g.s + v.cnt,
          CASE WHEN g.seg = '' THEN v.piece
            ELSE g.seg || ' ' || v.piece END
        FROM useg$r g, unnest(range(1, $maxPiece + 1)) AS t(l),
          uv${r - 1} v
        WHERE g.pos + t.l <= length(g.w)
          AND length(v.piece) = t.l
          AND v.piece = substring(g.w, (g.pos + 1)::INT, t.l::INT)),
      ubest$r AS MATERIALIZED (
        SELECT w, freq, seg FROM useg$r WHERE pos = length(w)
        QUALIFY row_number() OVER (PARTITION BY w
          ORDER BY n, s DESC, seg) = 1),
      ucnt$r AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM (
          SELECT freq, unnest(string_split(seg, ' ')) AS piece
          FROM ubest$r) GROUP BY piece),
      ukeep$r AS MATERIALIZED (SELECT piece, cnt FROM ucnt$r
        WHERE cnt >= $minCount OR length(piece) = 1),
      uv$r AS MATERIALIZED (
        SELECT c.piece, 0::BIGINT AS cnt FROM uchars c
        WHERE c.piece NOT IN (SELECT piece FROM ukeep$r)
        UNION ALL SELECT piece, cnt FROM ukeep$r)"""
    }.mkString(",\n      ")
    s"""w0 AS MATERIALIZED (SELECT t.w AS w, count(*)::BIGINT AS freq
        FROM (SELECT unnest($wordsOf) AS w FROM $corpus) t
      WHERE regexp_matches(t.w, '$gate')
        AND len(t.w) BETWEEN 2 AND $maxWordLen
      GROUP BY t.w),
      usubs AS MATERIALIZED (
        SELECT substring(w, st.s1::INT, l.l1::INT) AS piece,
          sum(freq)::BIGINT AS cnt
        FROM w0, unnest(range(1, $maxWordLen + 1)) AS st(s1),
          unnest(range(1, $maxPiece + 1)) AS l(l1)
        WHERE st.s1 + l.l1 - 1 <= length(w)
        GROUP BY 1),
      uchars AS MATERIALIZED (SELECT piece FROM usubs
        WHERE length(piece) = 1),
      uv0 AS MATERIALIZED (SELECT piece, cnt FROM usubs
        WHERE cnt >= $minCount OR length(piece) = 1),
      $roundCtes"""
  }

  /** Oracle twin of [[graft.operators.Tokenizer.unigramTrainSoft]]
    * (t38): t33's recursive segmentation enumeration extended with
    * the running fixed-point weight `wt ← (wt·p) // 1e6` (p = the
    * max-normalized piece score), per-word posterior credits with the
    * Z=0 Viterbi fallback, and the shared keep/coverage tail — every
    * floor division on the same operands in the same order as the
    * Scala round. */
  private def sqlUnigramSoftCtes(rounds: Int = 2, maxPiece: Int = 4,
      minCount: Long = 2, maxWordLen: Int = 12,
      corpus: String = "documents", wordsOf: String = toks,
      gate: String = "^[a-z]+$"): String = {
    val S = 1000000L
    val roundCtes = (1 to rounds).map { r =>
      s"""mxS$r AS MATERIALIZED (
        SELECT max(greatest(cnt, 1))::BIGINT AS mx FROM uvS${r - 1}),
      usegS$r AS (
        SELECT w, freq, 0::BIGINT AS pos, 0 AS n, 0::BIGINT AS s,
          '' AS seg, ${S}::BIGINT AS wt FROM w0
        UNION ALL
        SELECT g.w, g.freq, g.pos + t.l, g.n + 1, g.s + v.cnt,
          CASE WHEN g.seg = '' THEN v.piece
            ELSE g.seg || ' ' || v.piece END,
          (g.wt * ((greatest(v.cnt, 1) * $S)
            // (SELECT mx FROM mxS$r))) // $S
        FROM usegS$r g, unnest(range(1, $maxPiece + 1)) AS t(l),
          uvS${r - 1} v
        WHERE g.pos + t.l <= length(g.w)
          AND length(v.piece) = t.l
          AND v.piece = substring(g.w, (g.pos + 1)::INT, t.l::INT)),
      udoneS$r AS MATERIALIZED (
        SELECT w, freq, n, s, seg, wt FROM usegS$r
        WHERE pos = length(w)),
      uzS$r AS MATERIALIZED (
        SELECT w, freq, sum(wt) AS z FROM udoneS$r GROUP BY w, freq),
      ucntS$r AS (SELECT piece, sum(c)::BIGINT AS cnt FROM (
          SELECT e.piece,
            (z.freq * ((e.contrib * $S) // z.z)) // $S AS c
          FROM (SELECT w, piece, sum(wt) AS contrib FROM (
              SELECT w, wt, unnest(string_split(seg, ' ')) AS piece
              FROM udoneS$r) GROUP BY w, piece) e
          JOIN uzS$r z USING (w) WHERE z.z > 0
          UNION ALL
          SELECT t.piece, t.freq AS c FROM (
            SELECT b.freq, unnest(string_split(b.seg, ' ')) AS piece
            FROM (SELECT w, freq, seg FROM udoneS$r
              QUALIFY row_number() OVER (PARTITION BY w
                ORDER BY n, s DESC, seg) = 1) b
            JOIN uzS$r z USING (w) WHERE z.z = 0) t)
        GROUP BY piece),
      ukeepS$r AS MATERIALIZED (SELECT piece, cnt FROM ucntS$r
        WHERE cnt >= $minCount OR length(piece) = 1),
      uvS$r AS MATERIALIZED (
        SELECT c.piece, 0::BIGINT AS cnt FROM uchars c
        WHERE c.piece NOT IN (SELECT piece FROM ukeepS$r)
        UNION ALL SELECT piece, cnt FROM ukeepS$r)"""
    }.mkString(",\n      ")
    s"""w0 AS MATERIALIZED (SELECT t.w AS w, count(*)::BIGINT AS freq
        FROM (SELECT unnest($wordsOf) AS w FROM $corpus) t
      WHERE regexp_matches(t.w, '$gate')
        AND len(t.w) BETWEEN 2 AND $maxWordLen
      GROUP BY t.w),
      usubs AS MATERIALIZED (
        SELECT substring(w, st.s1::INT, l.l1::INT) AS piece,
          sum(freq)::BIGINT AS cnt
        FROM w0, unnest(range(1, $maxWordLen + 1)) AS st(s1),
          unnest(range(1, $maxPiece + 1)) AS l(l1)
        WHERE st.s1 + l.l1 - 1 <= length(w)
        GROUP BY 1),
      uchars AS MATERIALIZED (SELECT piece FROM usubs
        WHERE length(piece) = 1),
      uvS0 AS MATERIALIZED (SELECT piece, cnt FROM usubs
        WHERE cnt >= $minCount OR length(piece) = 1),
      $roundCtes"""
  }

  /** Shared MinHash-LSH pair pipeline (twin of [[Dedup.minhashPairs]]
    * with k=3, 16 hashes, 4 bands) as a CTE chain ending in
    * `verified(a_id, b_id, common, union_size)` — used by the dd3
    * pair oracle and the dd8 cluster oracle; `cond` selects which
    * band-collision pairs become candidates (dd9 swaps the
    * within-corpus `a < b` for the new×index cross condition). */
  private def sqlMinhashCtes: String =
    sqlMinhashCtesCond("a.doc_id < b.doc_id")

  private def sqlMinhashCtesCond(cond: String): String = s"""
      ds AS (SELECT doc_id, ${sqlShingles(toks)} AS sh FROM documents),
      dn AS (SELECT doc_id, sh, len(sh) AS n FROM ds),
      sig AS (SELECT doc_id, sh, n,
        list_transform(range(0,16), i1 -> list_min(list_transform(sh,
          fp0 -> (fp0*(2*i1+1) + i1*12345 + 1) % 1000000007))) AS sg
        FROM dn),
      banded AS (SELECT doc_id, sh, n, bd,
        list_reduce(list_prepend(0::BIGINT, sg[bd*4+1:bd*4+4]),
          (a1,x1) -> (a1*31+x1)%1000000007) AS bkey
        FROM sig, (SELECT unnest(range(0,4)) AS bd)),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.bd = b.bd AND a.bkey = b.bkey AND ($cond)),
      verified AS (
        SELECT c.a_id, c.b_id,
          len(list_intersect(da.sh, db.sh)) AS common,
          da.n + db.n - len(list_intersect(da.sh, db.sh)) AS union_size
        FROM cand c
        JOIN dn da ON da.doc_id = c.a_id
        JOIN dn db ON db.doc_id = c.b_id)"""

  /** SQL twin of one Lloyd ASSIGNMENT round: nearest `cs` centroid
    * per vector by (dist², cid) — fixed association
    * `(x·x − 2·x·c) + c·c`, matching
    * [[graft.operators.VectorStats.assignToCentroids]]. */
  private def sqlKmAsg(cs: String, an: String,
      ex: String = "ex"): String = s"""
        $an AS (SELECT * FROM (
            SELECT x.vec_id, c.cid,
              (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
                + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
            FROM $ex x, $cs c)
          QUALIFY row_number() OVER (PARTITION BY vec_id
            ORDER BY dist2, cid) = 1)"""

  /** SQL twin of one Lloyd UPDATE round: per-(cid, dim) fixed-point
    * DECIMAL means (the ve1 arithmetic) rebuilt into centroid lists. */
  private def sqlKmUpd(a: String, cn: String,
      e: String = "e"): String = {
    val S = "1099511627776.0"
    s"""
        $cn AS (SELECT cid, list(cv ORDER BY dim) AS cemb FROM (
            SELECT a.cid, t.i0 AS dim,
              sum(floor($e.emb[t.i0+1] * $S)::BIGINT::DECIMAL(38,0))::DOUBLE
                / $S / count(*)::DOUBLE AS cv
            FROM $a a JOIN $e USING (vec_id),
              unnest(range(0, len($e.emb))) AS t(i0)
            GROUP BY a.cid, t.i0)
          GROUP BY cid)"""
  }

  /** Oracle twin of [[Retrieval.bm25TopK]] (k = 10 over the doc_id<3
    * query docs) — self-contained WITH … SELECT, nestable in parens
    * and shared by the t22 standalone oracle, the t24 RRF fusion and
    * (with a CDF-modified `corpus`) the t25 standing-index probe.
    * Emits `(query_id, rank, doc_id, score_ppm, n_terms_hit)` with no
    * trailing ORDER BY. */
  private def sqlBm25TopK(
      corpus: String = "SELECT doc_id, text FROM documents",
      queries: String =
        "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 3",
      k: Int = 10, dfCapPpm: Option[Long] = None): String = s"""
      WITH tk AS (SELECT doc_id, ${sqlToks("text")} AS t FROM ($corpus)),
      gx AS (SELECT doc_id, len(t)::BIGINT AS len,
          ${sqlGrams("t", 1)} AS fps FROM tk),
      p AS (SELECT fp, doc_id, count(*)::BIGINT AS tf FROM
          (SELECT doc_id, unnest(fps) AS fp FROM gx) GROUP BY 1, 2),
      dl AS (SELECT doc_id, len FROM gx),
      nn AS (SELECT count(*)::BIGINT AS n_docs,
          sum(len)::BIGINT AS total_len FROM dl),
      dfq AS (SELECT fp, count(*)::BIGINT AS df FROM p GROUP BY 1),
      qg AS (SELECT query_id, ${sqlGrams(s"(${sqlToks("text")})", 1)} AS fps
        FROM ($queries)),
      qt AS (SELECT query_id, fp,
          (2 * nn.n_docs - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)
            AS idf_ppm
        FROM (SELECT query_id, unnest(list_distinct(fps)) AS fp
              FROM qg) q
        JOIN dfq USING (fp), nn
        ${dfCapPpm.map(c =>
          s"WHERE dfq.df * 1000000 <= $c * nn.n_docs").getOrElse("")}),
      sc AS (SELECT qt.query_id, p.doc_id,
          count(*)::BIGINT AS n_terms_hit,
          sum(qt.idf_ppm::HUGEINT *
              (22::HUGEINT * nn.total_len * p.tf * 1000000 //
               (10::HUGEINT * nn.total_len * p.tf + 3::HUGEINT * nn.total_len
                + 9::HUGEINT * dl.len * nn.n_docs))
              // 1000000)::BIGINT AS score_ppm
        FROM qt JOIN p USING (fp) JOIN dl ON dl.doc_id = p.doc_id, nn
        GROUP BY 1, 2)
      SELECT query_id, rank, doc_id, score_ppm, n_terms_hit FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score_ppm DESC, doc_id) AS rank FROM sc)
      WHERE rank <= $k"""


  /** Oracle twin of [[Retrieval.rm3Expand]] over the standing index
    * of the full `documents` corpus and the doc_id<3 query docs —
    * self-contained WITH … SELECT, nestable in parens (shared by the
    * t27 standalone oracle and the t29 quality report). The t22 chain
    * run twice: pass-1 ranks pick the feedback docs, fw/ex mine the
    * Σ tf·1e6 div len expansion terms, pass 2 scores the distinct
    * original ∪ expansion term set. Emits
    * `(query_id, rank, doc_id, score_ppm, n_terms_hit)`, no trailing
    * ORDER BY. */
  /** Oracle twin of [[TextAnalysis.classifierTrain]]'s POCKET
    * perceptron trajectory over the t12 feature chain: `f` carries
    * doc_id, y (the stopword-count >= 4 label), n_tokens, bow; one
    * CTE trio per round — margins `m_r` under the previous weights,
    * the misclassified bucket gradient `g_r` (full-domain list), the
    * bias gradient `gb_r` — plus per-candidate misclassification
    * counts `cnt_r` and the pocket argmin (`mis` asc, round asc)
    * ending in `best(w, b)`. Pure integers; every round's weight
    * vector and the pocket pick are bit-identical to Spark's. */
  private def sqlPerceptronCtes(dim: Int, rounds: Int): String = {
    val label = "CASE WHEN len(list_filter(" + sqlToks("text") +
      ", t0 -> list_contains(['the','a','of','and','to','in','is'], t0)" +
      ")) >= 4 THEN 1 ELSE -1 END"
    val base = s"""
      t AS (SELECT doc_id, ${sqlToks("text")} AS toks, $label AS y
        FROM documents),
      f AS MATERIALIZED (SELECT doc_id, y, len(toks)::BIGINT AS n_tokens,
        list_transform(range(0, $dim), b0 ->
          len(list_filter(list_transform(toks, t0 -> ${sqlFp("t0")} % $dim),
            f0 -> f0 = b0))::BIGINT) AS bow FROM t),
      w0 AS MATERIALIZED (SELECT list_transform(range(0, $dim), x -> 0::BIGINT) AS w,
        0::BIGINT AS b)"""
    val rds = (1 to rounds).map { r =>
      val p = r - 1
      s"""
      m$r AS MATERIALIZED (SELECT f.doc_id, f.y, f.bow,
          (list_sum(list_transform(range(0, $dim), i0 ->
            f.bow[i0+1] * w$p.w[i0+1])) + w$p.b)::BIGINT AS margin
        FROM f, w$p),
      g$r AS (SELECT list(g ORDER BY bucket) AS gl FROM (
          SELECT t2.i0 AS bucket,
            coalesce(sum(CASE WHEN m.y * m.margin <= 0
              THEN m.y * m.bow[t2.i0+1] END), 0)::BIGINT AS g
          FROM range(0, $dim) t2(i0) LEFT JOIN m$r m ON true
          GROUP BY 1)),
      gb$r AS (SELECT coalesce(sum(y), 0)::BIGINT AS gb FROM m$r
        WHERE y * margin <= 0),
      w$r AS MATERIALIZED (SELECT list_transform(range(0, $dim), i0 ->
          w$p.w[i0+1] + g$r.gl[i0+1]) AS w, w$p.b + gb$r.gb AS b
        FROM w$p, g$r, gb$r)"""
    }.mkString(",")
    // one extra margin pass under the final weights, then the pocket
    val fin = rounds + 1
    val p = rounds
    val tail = s"""
      m$fin AS MATERIALIZED (SELECT f.doc_id, f.y, f.bow,
          (list_sum(list_transform(range(0, $dim), i0 ->
            f.bow[i0+1] * w$p.w[i0+1])) + w$p.b)::BIGINT AS margin
        FROM f, w$p),
      ${(1 to fin).map(r =>
        s"""cnt$r AS (SELECT count(*)::BIGINT AS c FROM m$r
        WHERE y * margin <= 0)""").mkString(",\n      ")},
      cand AS (${(0 to rounds).map(r =>
        s"""SELECT $r AS rnd, cnt${r + 1}.c AS mis, w$r.w AS w, w$r.b AS b
          FROM w$r, cnt${r + 1}""").mkString("\n        UNION ALL ")}),
      best AS (SELECT w, b FROM (
          SELECT *, row_number() OVER (ORDER BY mis, rnd) AS prn
          FROM cand) WHERE prn = 1)"""
    base + "," + rds + "," + tail
  }

  /** The t29 scoreboard's 3-token query stubs (twin of the Spark
    * `concat_ws(" ", slice(tokens(text), 1, 3))` — both engines
    * re-tokenize the stub, and a single-space join of tokens
    * round-trips identically). */
  private val sqlStubQueries: String =
    s"SELECT doc_id AS query_id, " +
      s"array_to_string((${sqlToks("text")})[1:3], ' ') AS text " +
      "FROM documents WHERE doc_id < 3"

  private def sqlRm3TopK(k: Int = 10, fbDocs: Int = 5,
      fbTerms: Int = 3,
      queries: String =
        "SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 3")
      : String = s"""
      WITH tk AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      gx AS (SELECT doc_id, len(t)::BIGINT AS len,
          ${sqlGrams("t", 1)} AS fps FROM tk),
      p AS (SELECT fp, doc_id, count(*)::BIGINT AS tf FROM
          (SELECT doc_id, unnest(fps) AS fp FROM gx) GROUP BY 1, 2),
      dl AS (SELECT doc_id, len FROM gx),
      nn AS (SELECT count(*)::BIGINT AS n_docs,
          sum(len)::BIGINT AS total_len FROM dl),
      dfq AS (SELECT fp, count(*)::BIGINT AS df FROM p GROUP BY 1),
      q1 AS (SELECT query_id, unnest(list_distinct(fps)) AS fp FROM
        (SELECT query_id,
            ${sqlGrams(s"(${sqlToks("text")})", 1)} AS fps
          FROM ($queries))),
      qt1 AS (SELECT query_id, fp,
          (2 * nn.n_docs - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)
            AS idf_ppm
        FROM q1 JOIN dfq USING (fp), nn),
      sc1 AS (SELECT qt1.query_id, p.doc_id,
          sum(qt1.idf_ppm::HUGEINT *
              (22::HUGEINT * nn.total_len * p.tf * 1000000 //
               (10::HUGEINT * nn.total_len * p.tf + 3::HUGEINT * nn.total_len
                + 9::HUGEINT * dl.len * nn.n_docs))
              // 1000000)::BIGINT AS score_ppm
        FROM qt1 JOIN p USING (fp) JOIN dl ON dl.doc_id = p.doc_id, nn
        GROUP BY 1, 2),
      fb AS (SELECT query_id, doc_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score_ppm DESC, doc_id) AS r FROM sc1)
        WHERE r <= $fbDocs),
      fw AS (SELECT fb.query_id, p.fp,
          sum(p.tf * 1000000 // dl.len)::BIGINT AS fb_w_ppm
        FROM fb JOIN p ON p.doc_id = fb.doc_id
        JOIN dl ON dl.doc_id = fb.doc_id GROUP BY 1, 2),
      ex AS (SELECT query_id, fp FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY fb_w_ppm DESC, fp) AS er FROM fw)
        WHERE er <= $fbTerms),
      q2 AS (SELECT DISTINCT query_id, fp FROM (
          SELECT query_id, fp FROM q1
          UNION ALL SELECT query_id, fp FROM ex)),
      qt2 AS (SELECT query_id, fp,
          (2 * nn.n_docs - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)
            AS idf_ppm
        FROM q2 JOIN dfq USING (fp), nn),
      sc2 AS (SELECT qt2.query_id, p.doc_id,
          count(*)::BIGINT AS n_terms_hit,
          sum(qt2.idf_ppm::HUGEINT *
              (22::HUGEINT * nn.total_len * p.tf * 1000000 //
               (10::HUGEINT * nn.total_len * p.tf + 3::HUGEINT * nn.total_len
                + 9::HUGEINT * dl.len * nn.n_docs))
              // 1000000)::BIGINT AS score_ppm
        FROM qt2 JOIN p USING (fp) JOIN dl ON dl.doc_id = p.doc_id, nn
        GROUP BY 1, 2)
      SELECT query_id, rank, doc_id, score_ppm, n_terms_hit FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score_ppm DESC, doc_id) AS rank FROM sc2)
      WHERE rank <= $k"""

  /** Oracle twin of [[Similarity.bruteForceTopK]] over the vec_id<`nq`
    * query sample — nestable, shared by ss1 and the t24 RRF fusion.
    * Emits `(query_id, rank, neighbor_id, score)`, no trailing
    * ORDER BY. */
  private def sqlCosineTopK(k: Int, nq: Int): String = s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        FROM e WHERE vec_id < $nq),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("q.qe", "e.embedding")} / (q.qn * e.nrm) AS score
        FROM e, q WHERE q.query_id <> e.vec_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= $k"""

  /** Oracle twin of [[Similarity.sq8TopK]] (self-contained WITH …
    * SELECT, nestable in parens, no trailing ORDER BY): per-dim
    * affine [min,max] → [0,255] codes, fixed-order dequantized dot,
    * `rank <= k` over the `vec_id < nq` query sample. */
  private def sqlSq8TopK(k: Int, nq: Int): String = s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      x AS (SELECT u.pos, min(u.v) AS mn, max(u.v) AS mx FROM
          (SELECT unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS pos FROM e) u
        GROUP BY 1),
      st AS (SELECT list(mn ORDER BY pos) AS mns,
          list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY pos)
            AS spans FROM x),
      cd AS (SELECT vec_id AS neighbor_id,
          list_transform(range(1, len(embedding) + 1), i ->
            CASE WHEN st.spans[i] > 0 THEN least(255,
              floor((embedding[i]::DOUBLE - st.mns[i]) * 255.0
                / st.spans[i])::BIGINT)
            ELSE 0 END) AS codes
        FROM e, st),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM e
        WHERE vec_id < $nq),
      sc AS (SELECT q.query_id, cd.neighbor_id,
          ${sqlFold("list_transform(range(1, len(cd.codes) + 1), i -> " +
            "q.qe[i]::DOUBLE * (st.mns[i] + cd.codes[i]::DOUBLE " +
            "* st.spans[i] / 255.0))")} AS score
        FROM cd, q, st WHERE q.query_id <> cd.neighbor_id)
      SELECT query_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY score DESC, neighbor_id) AS rank FROM sc)
      WHERE rank <= $k"""

  /** Oracle twin of [[Similarity.ivfSq8TopK]] (self-contained WITH …
    * SELECT, nestable in parens, no trailing ORDER BY): the trained
    * Lloyd chain routes `vec_id < nq` queries to their top-`nprobe`
    * lists; probed candidates rank by the fixed-order L2 fold against
    * their dequantized SQ8 codes. */
  private def sqlIvfSq8TopK(k: Int, numCentroids: Int, nprobe: Int,
      nq: Int): String = {
    val dq = "st.mns[i] + cd.codes[i]::DOUBLE * st.spans[i] / 255.0"
    s"""
      WITH ${sqlKmeansCtes(numCentroids)},
      ${sqlKmAsg("c2", "a2")},
      sx AS (SELECT u.pos, min(u.v) AS mn, max(u.v) AS mx FROM
          (SELECT unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS pos FROM embeddings) u
        GROUP BY 1),
      st AS (SELECT list(mn ORDER BY pos) AS mns,
          list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY pos)
            AS spans FROM sx),
      cd AS (SELECT vec_id AS neighbor_id,
          list_transform(range(1, len(embedding) + 1), i ->
            CASE WHEN st.spans[i] > 0 THEN greatest(0, least(255,
              floor((embedding[i]::DOUBLE - st.mns[i]) * 255.0
                / st.spans[i])::BIGINT))
            ELSE 0 END) AS codes
        FROM embeddings, st),
      qprobe AS (SELECT * FROM (
          SELECT x.vec_id AS query_id, c.cid,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM ex x, c2 c WHERE x.vec_id < $nq)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= $nprobe),
      -- no DISTINCT: a2 assigns each vector ONE home list, so a
      -- (query, neighbor) pair arises at most once (mirrors the
      -- engine dropping its no-op dedup exchange)
      cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
        FROM qprobe q JOIN a2 a USING (cid)
        WHERE q.query_id <> a.vec_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
          ${sqlFold("list_transform(range(1, len(cd.codes) + 1), i -> " +
            s"(xq.emb[i] - ($dq)) * (xq.emb[i] - ($dq)))")} AS dist2
        FROM cand c
        JOIN ex xq ON xq.vec_id = c.query_id
        JOIN cd ON cd.neighbor_id = c.neighbor_id, st)
      SELECT query_id, rank, neighbor_id, dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist2 ASC, neighbor_id ASC) AS rank FROM scored)
      WHERE rank <= $k"""
  }

  /** Oracle twin of [[Similarity.knnGraph]] (self-contained WITH …
    * SELECT, nestable in parens): the trained Lloyd chain at
    * `numCentroids`, L2 home argmin + top-`nprobe` probes by the
    * training metric, cosine pair scores, per-vector `rank <= k`.
    * Emits `(vec_id, rank, neighbor_id, score)` with NO trailing
    * ORDER BY so callers can wrap or append one. */
  private def sqlKnnGraph(k: Int, numCentroids: Int, nprobe: Int): String =
    s"""
      WITH ${sqlKmeansCtes(numCentroids)},
      ranked AS (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY dist2, cid) AS r
        FROM (SELECT x.vec_id, c.cid,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM ex x, c2 c)),
      home AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE r = 1),
      probes AS (SELECT vec_id AS query_id, cid FROM ranked
        WHERE r <= $nprobe),
      kgsc AS (SELECT p.query_id AS vec_id, h.neighbor_id,
          ${sqlDot("q.emb", "n.emb")} / (sqrt(q.xx) * sqrt(n.xx)) AS score
        FROM probes p JOIN home h USING (cid)
        JOIN ex q ON q.vec_id = p.query_id
        JOIN ex n ON n.vec_id = h.neighbor_id
        WHERE p.query_id <> h.neighbor_id)
      SELECT vec_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, neighbor_id) AS rank FROM kgsc)
      WHERE rank <= $k"""

  /** The two-round Lloyd training chain (k = 8, lowest-id seed) ending
    * in trained centroids `c2` — shared by the ve3 k-means oracle and
    * the ss6 trained-IVF oracle so the bit-exact trajectory arithmetic
    * exists once. Also exposes `e` (double embeddings) and `ex`
    * (embeddings + self-dot). */
  private def sqlKmeansCtes(k: Int = 8,
      src: String = "embeddings", sfx: String = ""): String =
    s"""e$sfx AS (SELECT vec_id,
          list_transform(embedding, x0 -> x0::DOUBLE) AS emb FROM $src),
      ex$sfx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM e$sfx),
      c0$sfx AS (SELECT vec_id::BIGINT AS cid, emb AS cemb FROM e$sfx
        ORDER BY vec_id LIMIT $k),
      ${sqlKmAsg(s"c0$sfx", s"a0$sfx", s"ex$sfx")},
      ${sqlKmUpd(s"a0$sfx", s"c1$sfx", s"e$sfx")},
      ${sqlKmAsg(s"c1$sfx", s"a1$sfx", s"ex$sfx")},
      ${sqlKmUpd(s"a1$sfx", s"c2$sfx", s"e$sfx")}"""

  /** Shared duplicate-span pipeline (twin of [[Dedup.duplicateSpans]]
    * at k = 5) ending in `sp(doc_id, pos, grp)` — the gaps-and-islands
    * frame the dd16 span report and the dd17 strip rewrite both
    * aggregate; also exposes `t(doc_id, toks)`. */
  private def sqlDupSpanCtes: String = s"""
      t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      g AS (SELECT doc_id, CAST(x.pos AS INT) AS pos, x.h AS h FROM
        (SELECT doc_id, unnest(list_transform(
           range(0, greatest(len(toks)-5,0)+1),
           i0 -> {'pos': i0,
             'h': ${sqlFp("array_to_string((toks)[i0+1:i0+5], ' ')")}})) AS x
         FROM t)),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
      sp AS (SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM m)"""

  /** Oracle twin of [[Similarity.pqTopK]]: per-subspace codebook
    * training (the [[sqlKmAsg]]/[[sqlKmUpd]] Lloyd arithmetic over
    * embedding slices), corpus codes from the final assignments, and
    * ADC ranking via a fixed-order `list_reduce` over the subspace
    * subdistances — the identical trajectory and association as the
    * Scala plan. */
  /** The ss8 ADC CTE chain (per-subspace Lloyd training, corpus
    * codes, per-query lookup tables, `scored` = full ADC ranking
    * input) — shared by [[sqlPqTopK]] and [[sqlPqRerank]]. */
  private def sqlPqScoredCtes(m: Int, len: Int, ksub: Int,
      nq: Int): String = {
    def sub(s: Int): String = {
      val off = s * len
      s"""e$s AS (SELECT vec_id,
          list_transform(embedding[${off + 1}:${off + len}],
            x0 -> x0::DOUBLE) AS emb FROM embeddings),
      ex$s AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM e$s),
      c0$s AS (SELECT vec_id::BIGINT AS cid, emb AS cemb FROM e$s
        ORDER BY vec_id LIMIT $ksub),
      ${sqlKmAsg(s"c0$s", s"a0$s", s"ex$s")},
      ${sqlKmUpd(s"a0$s", s"c1$s", s"e$s")},
      ${sqlKmAsg(s"c1$s", s"a1$s", s"ex$s")},
      ${sqlKmUpd(s"a1$s", s"c2$s", s"e$s")},
      ${sqlKmAsg(s"c2$s", s"asg$s", s"ex$s")},
      qt$s AS (SELECT q.vec_id AS query_id, $s AS sid, c.cid,
          (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
            + ${sqlDot("c.cemb", "c.cemb")}) AS dq
        FROM ex$s q, c2$s c WHERE q.vec_id < $nq)"""
    }
    val subs = (0 until m).map(sub).mkString(",\n      ")
    val codes = (0 until m)
      .map(s => s"SELECT vec_id, $s AS sid, cid FROM asg$s")
      .mkString(" UNION ALL ")
    val qt = (0 until m).map(s => s"SELECT * FROM qt$s")
      .mkString(" UNION ALL ")
    s"""$subs,
      codes AS ($codes),
      qt AS ($qt),
      scored AS (SELECT t.query_id, c.vec_id AS neighbor_id,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(t.dq ORDER BY t.sid)), (sa, sx) -> sa + sx) AS adist
        FROM codes c JOIN qt t ON t.sid = c.sid AND t.cid = c.cid
        WHERE t.query_id <> c.vec_id
        GROUP BY t.query_id, c.vec_id)"""
  }

  private def sqlPqTopK(m: Int, len: Int, ksub: Int, k: Int,
      nq: Int): String =
    s"""
      WITH ${sqlPqScoredCtes(m, len, ksub, nq)}
      SELECT query_id, rank, neighbor_id, adist FROM (
        SELECT query_id, neighbor_id, adist,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= $k ORDER BY query_id, rank"""

  /** Oracle twin of [[Similarity.pqRerankTopK]]: the ss8 ADC chain
    * widened to `shortlist` candidates, then an exact full-vector
    * re-rank of only those — the same two-stage trajectory. */
  private def sqlPqRerank(m: Int, len: Int, ksub: Int, shortlist: Int,
      k: Int, nq: Int): String =
    s"""
      WITH ${sqlPqScoredCtes(m, len, ksub, nq)},
      short AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adist, neighbor_id) AS srank
          FROM scored)
        WHERE srank <= $shortlist),
      fx AS (SELECT vec_id,
          list_transform(embedding, xf -> xf::DOUBLE) AS fd
        FROM embeddings),
      rr AS (SELECT s.query_id, s.neighbor_id,
          (${sqlDot("q.fd", "q.fd")} - 2.0*${sqlDot("q.fd", "n.fd")}
            + ${sqlDot("n.fd", "n.fd")}) AS dist
        FROM short s
        JOIN fx q ON q.vec_id = s.query_id
        JOIN fx n ON n.vec_id = s.neighbor_id)
      SELECT query_id, rank, neighbor_id, dist FROM (
        SELECT query_id, neighbor_id, dist,
          row_number() OVER (PARTITION BY query_id
            ORDER BY dist, neighbor_id) AS rank
        FROM rr)
      WHERE rank <= $k ORDER BY query_id, rank"""

  /** Oracle twin of [[Similarity.ivfPqTopK]]: the ss6 coarse-training
    * chain ([[sqlKmeansCtes]]), residuals against the assigned list
    * centroid, per-subspace residual codebooks (the same Lloyd
    * arithmetic over residual slices), and probed ADC ranking — the
    * full IVF-PQ trajectory replayed bit-for-bit. */
  /** The per-subspace codebook-training CTE chain (`re$s` … `rc2$s`,
    * the 2-round Lloyd of [[Similarity.pqCodebooks]] over slices of
    * the `resid` CTE) — shared by the IVF-PQ serving oracles and the
    * ss32 distortion census. */
  private def sqlPqBookTrain(s: Int, len: Int, ksub: Int): String = {
    val off = s * len
    s"""re$s AS (SELECT vec_id, r[${off + 1}:${off + len}] AS emb
        FROM resid),
      rex$s AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM re$s),
      rc0$s AS (SELECT vec_id::BIGINT AS cid, emb AS cemb FROM re$s
        ORDER BY vec_id LIMIT $ksub),
      ${sqlKmAsg(s"rc0$s", s"ra0$s", s"rex$s")},
      ${sqlKmUpd(s"ra0$s", s"rc1$s", s"re$s")},
      ${sqlKmAsg(s"rc1$s", s"ra1$s", s"rex$s")},
      ${sqlKmUpd(s"ra1$s", s"rc2$s", s"re$s")}"""
  }

  /** The CDF-modified membership every maintenance oracle folds —
    * deletes at `vec_id % 97 = 5`, offset arrivals at
    * `vec_id % 31 = 7` (shared with [[sqlSs28Ctes]]). */
  private val sqlCdfMembership: String =
    """(SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 97 <> 5
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
        WHERE vec_id % 31 = 7)"""

  private def sqlIvfPqTopK(m: Int, len: Int, ksub: Int, k: Int,
      nq: Int, nprobe: Int, cdfMod: Boolean = false,
      retrainMod: Boolean = false): String = {
    require(!(cdfMod && retrainMod))
    def sub(s: Int): String = {
      val off = s * len
      val newAsg = if (!cdfMod) "" else s""",
      nre$s AS (SELECT vec_id, r[${off + 1}:${off + len}] AS emb
        FROM newresid),
      nrex$s AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM nre$s),
      ${sqlKmAsg(s"rc2$s", s"nasg$s", s"nrex$s")}"""
      s"""${sqlPqBookTrain(s, len, ksub)},
      ${sqlKmAsg(s"rc2$s", s"rasg$s", s"rex$s")}$newAsg"""
    }
    def qts(s: Int): String = {
      val off = s * len
      val qs = s"q.r[${off + 1}:${off + len}]"
      s"""qt$s AS (SELECT q.query_id, q.lcid, $s AS sid, b.cid AS bcid,
          (${sqlDot(qs, qs)} - 2.0*${sqlDot(qs, "b.cemb")}
            + ${sqlDot("b.cemb", "b.cemb")}) AS dq
        FROM qr q, rc2$s b)"""
    }
    val subs = (0 until m).map(sub).mkString(",\n      ")
    // with cdfMod: original rows minus the fixture's deletes, plus
    // the arrivals' codes (frozen coarse quantizer + frozen books)
    val origFilter = if (cdfMod) " WHERE a.vec_id % 97 <> 5" else ""
    val codes = ((0 until m).map(s =>
      s"SELECT a.vec_id, rd.lcid, $s AS sid, a.cid AS bcid " +
        s"FROM rasg$s a JOIN resid rd USING (vec_id)$origFilter") ++
      (if (!cdfMod) Seq.empty else (0 until m).map(s =>
        s"SELECT a.vec_id, nd.lcid, $s AS sid, a.cid AS bcid " +
          s"FROM nasg$s a JOIN newresid nd USING (vec_id)")))
      .mkString(" UNION ALL ")
    val newCtes = if (!cdfMod) "" else s"""
      newv AS (SELECT vec_id + 100000 AS vec_id,
          list_transform(embedding, xn -> xn::DOUBLE) AS emb
        FROM embeddings WHERE vec_id % 31 = 7),
      newx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM newv),
      ${sqlKmAsg("c2", "newasg", "newx")},
      newresid AS (SELECT a.vec_id, a.cid AS lcid,
          list_transform(list_zip(n.emb, c.cemb), z7 -> z7[1] - z7[2])
            AS r
        FROM newasg a JOIN newv n USING (vec_id)
        JOIN c2 c ON c.cid = a.cid),"""
    val qtAll = (0 until m).map(s => s"SELECT * FROM qt$s")
      .mkString(" UNION ALL ")
    // coarse quantizer ALWAYS trains on the original corpus (frozen
    // under every maintenance event); with retrainMod the codebooks
    // train on — and the codes cover — the CDF-modified membership's
    // residuals instead (the ss33 retrain replay)
    val residCtes = if (!retrainMod)
      s"""${sqlKmAsg("c2", "casg")},
      resid AS (SELECT a.vec_id, a.cid AS lcid,
          list_transform(list_zip(e.emb, c.cemb), z9 -> z9[1] - z9[2]) AS r
        FROM casg a JOIN e USING (vec_id) JOIN c2 c ON c.cid = a.cid)"""
    else
      s"""em AS (SELECT vec_id,
          list_transform(embedding, x0 -> x0::DOUBLE) AS emb
        FROM $sqlCdfMembership),
      exm AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM em),
      ${sqlKmAsg("c2", "masgm", "exm")},
      resid AS (SELECT a.vec_id, a.cid AS lcid,
          list_transform(list_zip(em.emb, c.cemb), z9 -> z9[1] - z9[2])
            AS r
        FROM masgm a JOIN em USING (vec_id) JOIN c2 c ON c.cid = a.cid)"""
    s"""
      WITH ${sqlKmeansCtes()},
      $residCtes,$newCtes
      $subs,
      codes AS ($codes),
      qpb AS (SELECT * FROM (SELECT x.vec_id AS query_id, c.cid AS lcid,
            c.cemb,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS pdist
          FROM ex x, c2 c WHERE x.vec_id < $nq)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY pdist, lcid) <= $nprobe),
      qr AS (SELECT p.query_id, p.lcid,
          list_transform(list_zip(e.emb, p.cemb), z8 -> z8[1] - z8[2]) AS r
        FROM qpb p JOIN e ON e.vec_id = p.query_id),
      ${(0 until m).map(qts).mkString(",\n      ")},
      qt AS ($qtAll),
      scored AS (SELECT t.query_id, c.vec_id AS neighbor_id,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(t.dq ORDER BY t.sid)), (sa, sx) -> sa + sx) AS adist
        FROM codes c
        JOIN qt t ON t.lcid = c.lcid AND t.sid = c.sid AND t.bcid = c.bcid
        WHERE t.query_id <> c.vec_id
        GROUP BY t.query_id, c.vec_id)
      SELECT query_id, rank, neighbor_id, adist FROM (
        SELECT query_id, neighbor_id, adist,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Oracle twin of [[Similarity.pqDriftCensus]] (ss32): coarse
    * quantizer + per-subspace codebooks replayed from the ORIGINAL
    * corpus (the frozen write-time artifacts), the drifted batch
    * assigned to its coarse list, and each residual slice's
    * nearest-codeword distance aggregated per subspace in fixed-point
    * `floor(dist2 · 2^20)` units (HUGEINT-exact sums, integral-divide
    * mean — the decimal arithmetic of the engine's census). */
  private def sqlPqDriftCensus(m: Int, len: Int, ksub: Int): String = {
    val subs = (0 until m).map(sqlPqBookTrain(_, len, ksub))
      .mkString(",\n      ")
    def bsub(s: Int): String = {
      val off = s * len
      s"""bs$s AS (SELECT vec_id, r[${off + 1}:${off + len}] AS emb
        FROM bres),
      bsx$s AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM bs$s),
      ${sqlKmAsg(s"rc2$s", s"bd$s", s"bsx$s")}"""
    }
    val all = (0 until m).map(s =>
      s"SELECT $s AS sid, dist2 FROM bd$s").mkString(" UNION ALL ")
    s"""
      WITH ${sqlKmeansCtes()},
      ${sqlKmAsg("c2", "casg")},
      resid AS (SELECT a.vec_id, a.cid AS lcid,
          list_transform(list_zip(e.emb, c.cemb), z9 -> z9[1] - z9[2]) AS r
        FROM casg a JOIN e USING (vec_id) JOIN c2 c ON c.cid = a.cid),
      $subs,
      bv AS (SELECT vec_id,
          list_transform(embedding, x0 -> x0::DOUBLE * 1.25 + 0.1) AS emb
        FROM embeddings),
      bx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx FROM bv),
      ${sqlKmAsg("c2", "basg", "bx")},
      bres AS (SELECT a.vec_id,
          list_transform(list_zip(b.emb, c.cemb), z9 -> z9[1] - z9[2]) AS r
        FROM basg a JOIN bv b USING (vec_id) JOIN c2 c ON c.cid = a.cid),
      ${(0 until m).map(bsub).mkString(",\n      ")},
      alld AS ($all)
      SELECT sid::INT AS sid, count(*) AS n_rows,
        (sum(floor(dist2 * 1048576.0)::BIGINT) // count(*))::BIGINT
          AS avg_dist2_fp,
        max(floor(dist2 * 1048576.0)::BIGINT) AS max_dist2_fp
      FROM alld GROUP BY sid ORDER BY sid"""
  }

  /** Oracle twin of [[Similarity.vecListCensus]] over the maintained
    * sq8/pq layouts (ss34/ss35): every member's home list is its raw
    * vector's assignment under the coarse quantizer trained on the
    * ORIGINAL corpus (write-time members at write time, CDF arrivals
    * under the same frozen centroids — identical by construction), so
    * the census replays as one assignment of the CDF-modified
    * membership, counted per list with exact ppm shares. Both
    * fixtures train k=8 coarse quantizers on the same corpus, so the
    * two layouts' censuses share this replay verbatim. */
  private lazy val sqlVecListCensus: String = s"""
      WITH ${sqlKmeansCtes()},
      em AS (SELECT vec_id,
          list_transform(embedding, x0 -> x0::DOUBLE) AS emb
        FROM $sqlCdfMembership),
      exm AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM em),
      ${sqlKmAsg("c2", "masgm", "exm")},
      tot AS (SELECT count(*) AS t FROM masgm)
      SELECT cid::BIGINT AS list_id, count(*) AS n_rows,
        ((count(*) * 1000000) // (SELECT t FROM tot))::BIGINT
          AS share_ppm
      FROM masgm GROUP BY cid ORDER BY list_id"""

  /** Shared SimHash pair pipeline (twin of [[Dedup.simhashPairs]]
    * with four 15-bit blocks of the 60-bit hash) as a CTE chain
    * ending in `cand(a_id, b_id, a_sh, b_sh)` — used by the dd4 pair
    * oracle and the dd10 star-cluster oracle. The engine's
    * distinct-hash join + pair expansion and this direct doc-level
    * block join produce the same pair set (the oversized-bucket
    * sub-split never triggers at oracle scale — GuardrailsSpec covers
    * that path); per-token fp bit extraction stays < 2^30 so
    * `floor(fp / 2^j) % 2` is exact in doubles. */
  /** The 60-bit SimHash as a DuckDB expression (twin of
    * `HashOps.simHash60`) — shared by the pair CTEs and the dd19
    * incremental oracle. */
  private def sqlSimhash60: String = {
    def votes(fps: String, shiftBase: Int) =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(range(0,30), " +
        s"j0 -> CASE WHEN list_reduce(list_prepend(0::BIGINT, " +
        s"list_transform($fps, fp1 -> ((floor(fp1 / 2^j0)::BIGINT) % 2)*2 - 1)), " +
        s"(a2,x2) -> a2+x2) > 0 THEN (2^(j0+$shiftBase))::BIGINT ELSE 0 END)), " +
        s"(a3,x3) -> a3+x3)"
    val fps1 = s"list_transform($toks, t1 -> ${sqlFp("t1")})"
    val fps2 = s"list_transform($toks, t1 -> ${sqlFp2("t1")})"
    s"${votes(fps1, 0)} + ${votes(fps2, 30)}"
  }

  private def sqlSimhashPairCtes: String = {
    s"""h AS (SELECT doc_id, $sqlSimhash60 AS sh FROM documents),
      blocked AS (SELECT doc_id, sh, x.bid AS bid, x.bkey AS bkey
        FROM (SELECT doc_id, sh, unnest([
            {'bid': 0, 'bkey': sh & 32767},
            {'bid': 1, 'bkey': (sh >> 15) & 32767},
            {'bid': 2, 'bkey': (sh >> 30) & 32767},
            {'bid': 3, 'bkey': (sh >> 45) & 32767}]) AS x FROM h)),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
          a.sh AS a_sh, b.sh AS b_sh
        FROM blocked a JOIN blocked b
          ON a.bid = b.bid AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
  }

  /** Exact n-gram decontamination manifest — the oracle for BOTH dc1
    * (broadcast hash set) and dc2 (Bloom bitmap + exact confirm):
    * the two engines' plans differ, their output must not. */
  private def sqlDecontaminate: String = s"""
      WITH sh AS (SELECT doc_id, unnest(${sqlShinglesK(toks, 5)}) AS s
        FROM documents),
      ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
      hits AS (SELECT doc_id, count(*) AS n_hits FROM sh
        WHERE doc_id % 50 <> 0 AND s IN (SELECT s FROM ev)
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        coalesce(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 50 <> 0
      ORDER BY d.doc_id"""

  /** Shared CTE chain of the ss4 recall oracle: cosine brute-force
    * truth (`bt`), LSH top-k (`lt`) and IVF top-k (`vt`) candidate
    * sets — reused by ss12, which adds the PQ / IVF-PQ / MIPS
    * families against their own exact-metric truths. */
  private def sqlAnnRecallCtes: String = s"""e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
        ${sqlLshBucket("embedding")} AS bucket FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
        FROM e WHERE vec_id < 3),
      bs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("q.qe", "e.embedding")} / (q.qn * e.nrm) AS score
        FROM e, q WHERE q.query_id <> e.vec_id),
      bt AS (SELECT query_id, neighbor_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM bs)
        WHERE rank <= 5),
      ls AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("q.qe", "e.embedding")} / (q.qn * e.nrm) AS score
        FROM e JOIN q ON e.bucket = q.bucket
        WHERE q.query_id <> e.vec_id),
      lt AS (SELECT query_id, neighbor_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM ls)
        WHERE rank <= 5),
      cents AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        FROM e WHERE vec_id < 16),
      cassign AS (SELECT neighbor_id, nemb, nnrm, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS nemb, e.nrm AS nnrm,
          c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ${sqlDot("e.embedding", "c.cemb")} / (e.nrm * c.cnrm)
              DESC, c.cid ASC) AS rn
        FROM e, cents c) WHERE rn = 1),
      qassign AS (SELECT query_id, qemb, qnrm, cid FROM (
        SELECT q2.vec_id AS query_id, q2.embedding AS qemb, q2.nrm AS qnrm,
          c.cid,
          ROW_NUMBER() OVER (PARTITION BY q2.vec_id
            ORDER BY ${sqlDot("q2.embedding", "c.cemb")} / (q2.nrm * c.cnrm)
              DESC, c.cid ASC) AS rn
        FROM e q2, cents c WHERE q2.vec_id < 3) WHERE rn <= 2),
      vcand AS (SELECT DISTINCT a.query_id, b.neighbor_id,
          a.qemb, a.qnrm, b.nemb, b.nnrm
        FROM qassign a JOIN cassign b
          ON a.cid = b.cid AND a.query_id <> b.neighbor_id),
      vs AS (SELECT query_id, neighbor_id,
          ${sqlDot("qemb", "nemb")} / (qnrm * nnrm) AS score FROM vcand),
      vt AS (SELECT query_id, neighbor_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM vs)
        WHERE rank <= 5)"""

  /** Oracle twin of [[Similarity.mipsTopK]] (ss10) — also embedded as
    * a subquery by the ss12 recall oracle. */
  private def sqlMipsTopKSql: String = {
      val buckets = (0 until 3).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("aug", 6, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH mx AS (SELECT max(${sqlDot("embedding", "embedding")}) AS m2
        FROM embeddings),
      c AS (SELECT vec_id, embedding,
          list_append(list_transform(embedding, x -> x::DOUBLE),
            sqrt(greatest(mx.m2 - ${sqlDot("embedding", "embedding")},
              0.0))) AS aug
        FROM embeddings, mx),
      q AS (SELECT vec_id, embedding,
          list_append(list_transform(embedding, x -> x::DOUBLE),
            0.0::DOUBLE) AS aug
        FROM embeddings WHERE vec_id < 3),
      cb AS (SELECT vec_id, embedding, x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, unnest($buckets) AS x FROM c)),
      qb AS (SELECT vec_id, embedding, x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, unnest($buckets) AS x FROM q)),
      cand AS (SELECT DISTINCT q.vec_id AS query_id,
          c.vec_id AS neighbor_id,
          ${sqlDot("q.embedding", "c.embedding")} AS score
        FROM cb c JOIN qb q
          ON c.tid = q.tid AND c.bkey = q.bkey AND q.vec_id <> c.vec_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM cand)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank"""
    }

  /** Oracle of the filtered top-k (ss11) — shared verbatim by q67,
    * whose label-partitioned layout must be result-invariant. */
  private def sqlFilteredTopKSql: String = s"""
      WITH e AS (SELECT vec_id, label, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        FROM e WHERE vec_id < 3),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("q.qe", "e.embedding")} / (q.qn * e.nrm) AS score
        FROM e, q WHERE q.query_id <> e.vec_id AND e.label = 3),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank"""

  /** ss20's full train→assign→CDF-fold→probe→rank replay, shared
    * verbatim with ss23: the written layout must serve the maintained
    * index bit-identically to the in-memory fold. */
  private lazy val sqlSs20KnnCdf: String = s"""
      WITH ${sqlKmeansCtes(16)},
      ${sqlKmAsg("c2", "homea")},
      newv AS (SELECT vec_id + 100000 AS vec_id,
          list_transform(embedding, xn -> xn::DOUBLE) AS emb
        FROM embeddings WHERE vec_id % 31 = 7),
      newx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM newv),
      ${sqlKmAsg("c2", "newasg", "newx")},
      kept AS (SELECT vec_id, cid FROM homea WHERE vec_id % 97 <> 5
        UNION ALL SELECT vec_id, cid FROM newasg),
      exu AS (SELECT vec_id, emb, xx FROM ex
        UNION ALL SELECT vec_id, emb, xx FROM newx),
      qx AS (SELECT vec_id, emb, xx FROM ex WHERE vec_id < 3),
      probes AS (SELECT * FROM (
          SELECT q.vec_id AS query_id, c.cid,
            (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM qx q, c2 c)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      kisc AS (SELECT p.query_id AS vec_id, h.vec_id AS neighbor_id,
          ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx)) AS score
        FROM probes p JOIN kept h USING (cid)
        JOIN qx q ON q.vec_id = p.query_id
        JOIN exu x ON x.vec_id = h.vec_id
        WHERE p.query_id <> h.vec_id)
      SELECT vec_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, neighbor_id) AS rank FROM kisc)
      WHERE rank <= 3 ORDER BY vec_id, rank"""

  /** ss28's retrain replay: the CDF-modified membership trained from
    * SCRATCH — the retrain derives centroids, homes and probes
    * entirely from the current membership, so the original write-time
    * quantizer never enters the oracle — then the probe→rank serving
    * tail of [[sqlSs20KnnCdf]]. */
  /** The shared ss28/ss29 retrain CTEs: the CDF-modified membership
    * trained from scratch, assignments in `rhome`. */
  private lazy val sqlSs28Ctes: String = {
    val memb = """(SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 97 <> 5
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
        WHERE vec_id % 31 = 7)"""
    s"""${sqlKmeansCtes(16, memb)},
      ${sqlKmAsg("c2", "rhome")}"""
  }

  private lazy val sqlSs28Retrain: String = {
    s"""
      WITH $sqlSs28Ctes,
      qx AS (SELECT vec_id, emb, xx FROM ex WHERE vec_id < 3),
      probes AS (SELECT * FROM (
          SELECT q.vec_id AS query_id, c.cid,
            (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM qx q, c2 c)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      kisc AS (SELECT p.query_id AS vec_id, h.vec_id AS neighbor_id,
          ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx)) AS score
        FROM probes p JOIN rhome h USING (cid)
        JOIN qx q ON q.vec_id = p.query_id
        JOIN ex x ON x.vec_id = h.vec_id
        WHERE p.query_id <> h.vec_id)
      SELECT vec_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, neighbor_id) AS rank FROM kisc)
      WHERE rank <= 3 ORDER BY vec_id, rank"""
  }

  /** t27's full two-pass RM3 replay, shared verbatim with t35: the
    * layout-served expansion must equal the in-memory chain. */
  private lazy val sqlT27Rm3: String = s"""${sqlRm3TopK()}
      ORDER BY query_id, rank"""

  /** t25's full CDF-modified-corpus BM25 replay, shared verbatim with
    * t32: the written bucket layout must serve the maintained
    * postings bit-identically to the in-memory fold. */
  private lazy val sqlT25Bm25Standing: String = s"""${sqlBm25TopK(
      """SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 5
         UNION ALL
         SELECT doc_id + 100000 AS doc_id, text FROM documents
         WHERE doc_id % 31 = 7""")}
      ORDER BY query_id, rank"""

  /** Shared m12/m15 oracle CTEs: the energy-delta fingerprint closed
    * form (per-doc Lehmer frame seeds → per-frame energies → 64
    * energy-trend bits), ending in `h(media_id, hi, lo)`. */
  private lazy val sqlAudioFpCtes: String = s"""pl AS (SELECT [${
      graft.operators.Multimodal.DHashPlanes.take(65).mkString(", ")
    }] AS planes),
      base AS (SELECT d.doc_id AS media_id,
          CASE WHEN d.doc_id % 103 = 1 AND d.doc_id >= 103
            THEN d.doc_id - 1 ELSE d.doc_id END AS eff,
          CASE WHEN d.doc_id % 103 = 1 AND d.doc_id >= 103
            THEN 1 ELSE 0 END AS isv
        FROM documents d),
      sfr AS (SELECT media_id, t.f AS f,
          (((eff*2654435761 + 54321) % 2147483647)
             * (SELECT planes[t.f::INT + 1] FROM pl) % 2147483647
           + CASE WHEN isv = 1 AND t.f = eff % 65 THEN 999 ELSE 0 END)
          % 2147483647 AS sd
        FROM base, unnest(range(0, 65)) AS t(f)),
      en AS (SELECT media_id, f,
          sum(((sd*(2*j.j+1) + j.j*977) % 2147483647 % 65536 - 32768)
            * ((sd*(2*j.j+1) + j.j*977) % 2147483647 % 65536 - 32768))
            ::BIGINT AS e
        FROM sfr, unnest(range(0, 16)) AS j(j) GROUP BY 1, 2),
      bb AS (SELECT a.media_id, a.f AS i,
          CASE WHEN b2.e > a.e THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM en a JOIN en b2
          ON b2.media_id = a.media_id AND b2.f = a.f + 1
        WHERE a.f < 64),
      h AS (SELECT media_id,
          sum(CASE WHEN i >= 32 THEN bit << (i - 32) ELSE 0 END)::BIGINT
            AS hi,
          sum(CASE WHEN i < 32 THEN bit << i ELSE 0 END)::BIGINT AS lo
        FROM bb GROUP BY media_id)"""

  val oracle: Map[String, String] = Map(
    // the same codepoint table, fixture synthesis, and segmentation
    // pattern (literal char ranges are valid RE2 as well as
    // java.util.regex) replayed in DuckDB
    "t41_mixed_script_tokens" -> s"""
      WITH cj AS (SELECT [${MixedScriptChars
        .map(c => s"'$c'").mkString(", ")}] AS a),
      m AS (SELECT doc_id, doc_id % 3 AS cls,
        CASE doc_id % 3
          WHEN 0 THEN text
          WHEN 1 THEN array_to_string(list_transform(
            range(0, doc_id % 20 + 5),
            i -> a[CAST((doc_id * 7 + i) % 32 + 1 AS INT)]), '')
          ELSE 'alpha ' || array_to_string(list_transform(range(0, 5),
            i -> a[CAST((doc_id * 7 + i) % 32 + 1 AS INT)]), '')
            || ' 42 beta'
        END AS mtext
        FROM documents, cj),
      tok AS (SELECT cls,
        len(regexp_extract_all(lower(mtext),
          '${graft.operators.TextAnalysis.ScriptTokenPattern}', 0))::BIGINT
          AS nts,
        len(${sqlToks("mtext")})::BIGINT AS ntw
        FROM m)
      SELECT cls, count(*)::BIGINT AS n_docs,
        sum(nts)::BIGINT AS n_tok_script,
        sum(ntw)::BIGINT AS n_tok_ws,
        (sum(nts)::BIGINT * 1000000 // sum(ntw)::BIGINT)::BIGINT
          AS fertility_ppm
      FROM tok GROUP BY cls ORDER BY cls""",
    // the t18 trajectory replay, parameterized over the
    // transliterated fixture + script-tier word source/gate
    "t42_script_bpe_train" -> {
      val sel = (1 to 8)
        .map(r => s"SELECT rnd, pair, merged, cnt FROM b$r")
        .mkString("\n      UNION ALL ")
      s"""
      WITH $sqlScriptFixCte,
      ${sqlBpeCtes(8, corpus = "fix", wordsOf = sqlToksScript("text"),
          gate = graft.operators.TextAnalysis.ScriptWordGate)}
      $sel ORDER BY rnd"""
    },
    // the t36 coverage replay over the fixture: 2 training rounds +
    // the census E-step, tokens/gate from the script tier, grouped by
    // the fixture's script class
    "t43_script_coverage" -> s"""
      WITH RECURSIVE $sqlScriptFixCte,
      ${sqlUnigramCtes(3, corpus = "fix",
          wordsOf = sqlToksScript("text"),
          gate = graft.operators.TextAnalysis.ScriptWordGate)},
      tl AS MATERIALIZED (SELECT doc_id, source,
        ${sqlToksScript("text")} AS tk FROM fix),
      tokpos AS (SELECT doc_id, source, t.p AS pos, tk[t.p] AS tok
        FROM tl, unnest(range(1, len(tk) + 1)) AS t(p)),
      encp AS (SELECT doc_id, source,
          coalesce(len(string_split(b.seg, ' '))::BIGINT, 1::BIGINT)
            AS np,
          length(tok)::BIGINT AS nc
        FROM tokpos LEFT JOIN ubest3 b ON b.w = tok),
      wagg AS (SELECT source, count(*)::BIGINT AS n_words,
          sum(np)::BIGINT AS n_tokens,
          sum(CASE WHEN np = 1 THEN 1 ELSE 0 END)::BIGINT AS n_whole,
          sum(nc)::BIGINT AS n_chars
        FROM encp GROUP BY source),
      census AS (SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM fix GROUP BY source)
      SELECT source, n_docs,
        coalesce(n_words, 0)::BIGINT AS n_words,
        coalesce(n_tokens, 0)::BIGINT AS n_tokens,
        (CASE WHEN coalesce(n_words, 0) = 0 THEN 0
          ELSE n_tokens * 1000000 // n_words END)::BIGINT
          AS fertility_ppm,
        (CASE WHEN coalesce(n_words, 0) = 0 THEN 0
          ELSE n_whole * 1000000 // n_words END)::BIGINT
          AS whole_word_ppm,
        (CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
          ELSE n_chars * 1000000 // n_tokens END)::BIGINT
          AS chars_per_token_ppm
      FROM census LEFT JOIN wagg USING (source) ORDER BY source""",
    "dc3_eval_overlap" -> s"""
      WITH sh AS (SELECT doc_id, unnest(${sqlShinglesK(toks, 5)}) AS s
        FROM documents),
      ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
      m AS (SELECT ev.eval_id, sh.doc_id AS corpus_id, ev.s
        FROM sh JOIN ev USING (s) WHERE sh.doc_id % 50 <> 0),
      rep AS (SELECT eval_id,
          count(DISTINCT corpus_id)::BIGINT AS n_corpus_docs,
          count(DISTINCT s)::BIGINT AS n_shared_grams
        FROM m GROUP BY eval_id)
      SELECT d.doc_id AS eval_id,
        coalesce(r.n_corpus_docs, 0)::BIGINT AS n_corpus_docs,
        coalesce(r.n_shared_grams, 0)::BIGINT AS n_shared_grams,
        coalesce(r.n_corpus_docs, 0) > 0 AS compromised
      FROM documents d LEFT JOIN rep r ON r.eval_id = d.doc_id
      WHERE d.doc_id % 50 = 0
      ORDER BY eval_id""",
    "t01_token_count" -> s"""
      SELECT doc_id, len($toks) AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
      FROM documents ORDER BY doc_id""",
    "t02_quality_score" -> s"""
      WITH q AS (SELECT doc_id,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        len(list_intersect($toks, ['the','a','of','and','to','in','is'])) AS n_stopwords,
        len($toks) AS n_tokens, length(text) AS n_ch
      FROM documents)
      SELECT doc_id, n_punct, n_stopwords,
        (n_stopwords::DOUBLE / n_tokens::DOUBLE)
          - (n_punct::DOUBLE / n_ch::DOUBLE)
          + least(n_tokens::DOUBLE / 100.0, 1.0) AS quality
      FROM q ORDER BY doc_id""",
    "t03_lang_id" -> s"""
      WITH langs(lang_c, stops) AS (VALUES
        ('de', ['der','die','und','das','ist','ein','zu']),
        ('en', ['the','a','of','and','to','in','is']),
        ('es', ['el','la','de','y','que','en','un']),
        ('fr', ['le','la','de','et','les','un','une']),
        ('zh', ['de','le','shi','bu','wo','ni','ta'])),
      scored AS (
        SELECT doc_id, lang, lang_c,
          len(list_intersect($toks, stops)) AS hits
        FROM documents, langs),
      best AS (
        SELECT doc_id, lang, lang_c AS lang_pred,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY hits DESC, lang_c ASC) AS rn
        FROM scored)
      SELECT doc_id, lang, lang_pred, (lang = lang_pred) AS correct
      FROM best WHERE rn = 1 ORDER BY doc_id""",
    "t04_fingerprint" -> s"""
      SELECT doc_id, ${sqlFp("text")} AS fp,
        ${sqlFp("substring(text, 1, 16)")} AS fp_prefix
      FROM documents ORDER BY doc_id""",
    "t07_lang_trigram" -> s"""
      WITH g AS (SELECT doc_id, lang,
        list_distinct(list_transform(
          range(1, greatest(len(list_filter(string_split_regex(lower(text), ''),
            c5 -> c5 <> '')) - 2, 1) + 1),
          i5 -> array_to_string(
            (list_filter(string_split_regex(lower(text), ''), c6 -> c6 <> ''))[i5:i5+2],
            ''))) AS grams
        FROM documents),
      profiles(lang_c, grams_p) AS (VALUES
        ('de', ['der','ein','ich','sch','und','en ',' ge']),
        ('en', ['the','ing','and','ion','ent','er ',' th']),
        ('es', ['que','ión','ent','ar ',' de','la ','os ']),
        ('fr', ['les','ent','ion','de ',' le','es ','une']),
        ('zh', ['shi','zho','ong','ang','ian','eng','uan'])),
      scored AS (SELECT g.doc_id, g.lang, p.lang_c,
          len(list_intersect(g.grams, p.grams_p)) AS hits
        FROM g, profiles p),
      best AS (SELECT doc_id, lang, lang_c AS lang_pred3,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY hits DESC, lang_c ASC) AS rn
        FROM scored)
      SELECT doc_id, lang, lang_pred3 FROM best WHERE rn = 1
      ORDER BY doc_id""",
    "t05_tfidf" -> s"""
      WITH terms AS (SELECT doc_id, unnest($toks) AS term FROM documents),
      n AS (SELECT COUNT(*) AS total FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
          tf.tf * (((SELECT total FROM n) + 1) * 1000 // (df.df + 1)) AS score
        FROM tf JOIN df ON tf.term = df.term),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term ASC) AS rn FROM scored)
      SELECT doc_id, term AS top_term, tf, df, score
      FROM ranked WHERE rn = 1 ORDER BY doc_id""",
    "t06_term_freq" -> s"""
      SELECT term, COUNT(*) AS n
      FROM (SELECT unnest($toks) AS term FROM documents)
      GROUP BY term ORDER BY n DESC, term LIMIT 20""",
    "t08_repetition" -> s"""
      WITH g2 AS (SELECT doc_id, unnest(${sqlGrams(toks, 2)}) AS g FROM documents),
      c2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
      s2 AS (SELECT doc_id, sum(n)::BIGINT AS bg_total, max(n) AS bg_top,
          sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS bg_dup
        FROM c2 GROUP BY doc_id),
      g3 AS (SELECT doc_id, unnest(${sqlGrams(toks, 3)}) AS g FROM documents),
      c3 AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2),
      s3 AS (SELECT doc_id, sum(n)::BIGINT AS tg_total,
          sum(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS tg_dup
        FROM c3 GROUP BY doc_id)
      SELECT s2.doc_id, bg_total AS n_bigrams, bg_top AS top_bigram_n,
        bg_top::DOUBLE / bg_total::DOUBLE AS top_bigram_frac,
        tg_dup::DOUBLE / tg_total::DOUBLE AS dup_trigram_frac
      FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id
      ORDER BY s2.doc_id""",
    "t09_pmi_pairs" -> s"""
      WITH dw AS (SELECT DISTINCT doc_id, w FROM
          (SELECT doc_id, unnest($toks) AS w FROM documents)),
      n AS (SELECT count(*) AS n_docs FROM documents),
      wc AS (SELECT w, count(*) AS nw FROM dw GROUP BY w),
      p AS (SELECT a.w AS wa, b.w AS wb, count(*) AS n_ab
        FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT wa, wb, n_ab, ca.nw AS n_a, cb.nw AS n_b,
        (n_ab * (SELECT n_docs FROM n) * 1000) // (ca.nw * cb.nw) AS pmi_x1000
      FROM p JOIN wc ca ON ca.w = wa JOIN wc cb ON cb.w = wb
      ORDER BY pmi_x1000 DESC, wa, wb LIMIT 20""",
    "t12_hashed_bow" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      f AS (SELECT doc_id, len(toks) AS n_tokens,
        list_transform(toks, t0 -> ${sqlFp("t0")} % 32) AS fps FROM t)
      SELECT doc_id, n_tokens,
        array_to_string(list_transform(range(0, 32),
          b0 -> len(list_filter(fps, f0 -> f0 = b0))), ',') AS bow_csv
      FROM f ORDER BY doc_id""",
    // t12's bucket counts dotted with the same (b*37+11)%21-10 weight
    // formula the Spark query builds, bias -3 — integer margins
    "t15_classifier_score" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      f AS (SELECT doc_id, len(toks) AS n_tokens,
        list_transform(toks, t0 -> ${sqlFp("t0")} % 32) AS fps FROM t),
      m AS (SELECT doc_id, n_tokens,
        CAST(list_sum(list_transform(range(0, 32),
          b0 -> len(list_filter(fps, f0 -> f0 = b0)) *
            ((b0 * 37 + 11) % 21 - 10))) + (-3) AS BIGINT) AS margin
        FROM f)
      SELECT doc_id, n_tokens, margin,
        CASE WHEN margin >= 0 THEN 'keep' ELSE 'drop' END AS label
      FROM m ORDER BY doc_id""",
    // the same trained trajectory, margins under the pocket weights,
    // then the fixed 21-point threshold grid and zero-guarded
    // integer precision/recall/F1
    "t31_classifier_calibration" -> s"""
      WITH ${sqlPerceptronCtes(64, 8)},
      sc AS (SELECT f.y,
          (list_sum(list_transform(range(0, 64), i0 ->
            f.bow[i0+1] * best.w[i0+1])) + best.b)::BIGINT AS margin
        FROM f, best),
      bd AS (SELECT min(margin)::BIGINT AS mn, max(margin)::BIGINT AS mx
        FROM sc),
      sw AS (SELECT s.y, s.margin, t.i0::BIGINT AS i,
          (bd.mn + t.i0 * (bd.mx - bd.mn)::HUGEINT // 20)::BIGINT AS thr
        FROM sc s, bd, range(0, 21) t(i0)),
      cf AS (SELECT i, thr,
          sum(CASE WHEN y = 1 AND margin >= thr THEN 1 ELSE 0 END)::BIGINT
            AS tp,
          sum(CASE WHEN y <> 1 AND margin >= thr THEN 1 ELSE 0 END)::BIGINT
            AS fp,
          sum(CASE WHEN y = 1 AND margin < thr THEN 1 ELSE 0 END)::BIGINT
            AS fn,
          sum(CASE WHEN y <> 1 AND margin < thr THEN 1 ELSE 0 END)::BIGINT
            AS tn
        FROM sw GROUP BY 1, 2),
      pr AS (SELECT i, thr, tp, fp, fn, tn,
          (CASE WHEN tp + fp = 0 THEN 0
            ELSE tp * 1000000 // (tp + fp) END)::BIGINT AS precision_ppm,
          (CASE WHEN tp + fn = 0 THEN 0
            ELSE tp * 1000000 // (tp + fn) END)::BIGINT AS recall_ppm
        FROM cf)
      SELECT i, thr, tp, fp, fn, tn, precision_ppm, recall_ppm,
        (CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
          ELSE 2 * precision_ppm * recall_ppm //
            (precision_ppm + recall_ppm) END)::BIGINT AS f1_ppm
      FROM pr ORDER BY i""",
    // five unrolled perceptron rounds, then the t15 scorer under the
    // final weights — the whole trained trajectory is the oracle
    "t30_classifier_train" -> s"""
      WITH ${sqlPerceptronCtes(64, 8)},
      sc AS (SELECT f.doc_id, f.n_tokens,
          (list_sum(list_transform(range(0, 64), i0 ->
            f.bow[i0+1] * best.w[i0+1])) + best.b)::BIGINT AS margin
        FROM f, best)
      SELECT doc_id, n_tokens, margin,
        CASE WHEN margin >= 0 THEN 'keep' ELSE 'drop' END AS label
      FROM sc ORDER BY doc_id""",
    // within-doc gram multiplicity via a window, then the same
    // gaps-and-islands merge as dd16
    // seed:id polynomial hash -> shard; per-shard rank = position
    "tp6_global_shuffle" -> s"""
      WITH h AS (SELECT doc_id,
        ${sqlFp("concat(42, ':', doc_id)")} AS h FROM documents)
      SELECT doc_id, h, h % 8 AS shard,
        (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1)::BIGINT
          AS pos
      FROM h ORDER BY shard, pos""",
    // the naive per-stratum window again — the engine's two-phase
    // rank must reproduce it; thresholds are integer products
    "mx6_exact_split" -> s"""
      WITH h AS (SELECT doc_id, lang,
        ${sqlFp("concat(43, ':', doc_id)")} AS h FROM documents),
      r AS (SELECT doc_id, lang,
          (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
            - 1)::BIGINT AS strat_rank
        FROM h),
      s AS (SELECT lang, count(*)::BIGINT AS strat_size
        FROM documents GROUP BY lang)
      SELECT r.doc_id, r.lang, r.strat_rank, s.strat_size,
        CASE WHEN r.strat_rank * 100 < s.strat_size * $Mx6PctTrain THEN 'train'
             WHEN r.strat_rank * 100 < s.strat_size * ${Mx6PctTrain + Mx6PctVal}
               THEN 'val'
             ELSE 'test' END AS split
      FROM r JOIN s USING (lang)
      ORDER BY r.doc_id""",
    // the oracle uses the NAIVE per-source window — the engine's
    // two-phase range-bucket rank must equal it exactly
    "tp7_interleave" -> s"""
      WITH h AS (SELECT doc_id, source,
        ${sqlFp("concat(42, ':', doc_id)")} AS h FROM documents),
      r AS (SELECT doc_id, source,
          (row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
            - 1)::BIGINT AS src_rank
        FROM h),
      si AS (SELECT source,
          (row_number() OVER (ORDER BY source) - 1)::BIGINT AS src_idx
        FROM (SELECT DISTINCT source FROM documents)),
      n AS (SELECT count(*)::BIGINT AS n_src FROM si)
      SELECT r.doc_id, r.source, r.src_rank,
        (r.src_rank * n.n_src + si.src_idx)::BIGINT AS slot
      FROM r JOIN si USING (source), n
      ORDER BY slot""",
    "t18_bpe_merges" -> sqlBpe(8),
    "t23_bpe_encode" -> sqlBpeEncode(8),
    // the full 2-round Viterbi-EM trajectory replayed by recursive
    // enumeration — final vocabulary with coverage-zero chars
    "t33_unigram_train" -> s"""
      WITH RECURSIVE ${sqlUnigramCtes(2)}
      SELECT piece, cnt FROM uv2 ORDER BY piece""",
    // the weighted enumeration of every segmentation, two EM rounds
    "t38_unigram_soft" -> s"""
      WITH RECURSIVE ${sqlUnigramSoftCtes(2)}
      SELECT piece, cnt FROM uvS2 ORDER BY piece""",
    // the trained-vocab segmentations rolled up per source
    "t36_tokenizer_coverage" -> s"""
      WITH RECURSIVE ${sqlUnigramCtes(3)},
      tl AS MATERIALIZED (SELECT doc_id, source, $toks AS tk
        FROM documents),
      tokpos AS (SELECT doc_id, source, t.p AS pos, tk[t.p] AS tok
        FROM tl, unnest(range(1, len(tk) + 1)) AS t(p)),
      encp AS (SELECT doc_id, source,
          coalesce(len(string_split(b.seg, ' '))::BIGINT, 1::BIGINT)
            AS np,
          length(tok)::BIGINT AS nc
        FROM tokpos LEFT JOIN ubest3 b ON b.w = tok),
      wagg AS (SELECT source, count(*)::BIGINT AS n_words,
          sum(np)::BIGINT AS n_tokens,
          sum(CASE WHEN np = 1 THEN 1 ELSE 0 END)::BIGINT AS n_whole,
          sum(nc)::BIGINT AS n_chars
        FROM encp GROUP BY source),
      census AS (SELECT source, count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM documents GROUP BY source)
      SELECT source, n_docs,
        coalesce(n_words, 0)::BIGINT AS n_words,
        coalesce(n_tokens, 0)::BIGINT AS n_tokens,
        (CASE WHEN coalesce(n_words, 0) = 0 THEN 0
          ELSE n_tokens * 1000000 // n_words END)::BIGINT
          AS fertility_ppm,
        (CASE WHEN coalesce(n_words, 0) = 0 THEN 0
          ELSE n_whole * 1000000 // n_words END)::BIGINT
          AS whole_word_ppm,
        (CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
          ELSE n_chars * 1000000 // n_tokens END)::BIGINT
          AS chars_per_token_ppm
      FROM census LEFT JOIN wagg USING (source) ORDER BY source""",
    // one more enumeration under the FINAL vocabulary segments every
    // distinct word; docs roll up counts + the ordered piece stream
    "t34_unigram_encode" -> s"""
      WITH RECURSIVE ${sqlUnigramCtes(3)},
      tl AS MATERIALIZED (SELECT doc_id, $toks AS tk FROM documents),
      tokpos AS (SELECT doc_id, t.p AS pos, tk[t.p] AS tok
        FROM tl, unnest(range(1, len(tk) + 1)) AS t(p)),
      encp AS (SELECT doc_id, pos,
          coalesce(b.seg, tok) AS seg,
          coalesce(len(string_split(b.seg, ' '))::BIGINT, 1::BIGINT)
            AS np
        FROM tokpos LEFT JOIN ubest3 b ON b.w = tok)
      SELECT doc_id, count(*)::BIGINT AS n_words,
        sum(np)::BIGINT AS n_tokens,
        ${sqlFp("string_agg(seg, ' ' ORDER BY pos)")} AS enc_fp
      FROM encp GROUP BY doc_id ORDER BY doc_id""",
    // distinct (source, 5-gram-fp) pairs, self-joined per gram (the
    // source dimension is dozens-sized, so the per-gram fanout is
    // bounded), then the double-floor containment ppm
    // inverted-index BM25 twin: postings/df/lengths from the same
    // tokens+fp chain, identical integer idf and tf-saturation
    // surrogates (HUGEINT casts mirror the Spark DECIMAL(38,0) lane)
    "t22_bm25_topk" -> s"""${sqlBm25TopK()}
      ORDER BY query_id, rank""",
    // compaction moves bytes between files, never rows between
    // partitions — serving must equal the plain full-corpus BM25
    "t39_bm25_compact" -> s"""${sqlBm25TopK()}
      ORDER BY query_id, rank""",
    // the t22 chain run twice: pass-1 ranks pick the feedback docs,
    // fw/ex mine the Σ tf·1e6 div len expansion terms, pass 2 scores
    // the distinct original ∪ expansion term set
    "t27_rm3_expansion" -> sqlT27Rm3,
    // the LAYOUT-served RM3 must match the in-memory two-pass chain
    // bit-for-bit, so t35's oracle is t27's VERBATIM
    "t35_rm3_layout" -> sqlT27Rm3,
    // the frozen-df model replayed: df/n_docs from the reference
    // split only, arriving docs' tf joined in, same integer idf
    "t28_tfidf_standing" -> s"""
      WITH m AS (SELECT term, count(*)::BIGINT AS df FROM (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, unnest(${sqlToks("text")}) AS term
            FROM documents WHERE doc_id % 10 <> 0)) GROUP BY 1),
      nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents
        WHERE doc_id % 10 <> 0),
      tfx AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
          SELECT doc_id, unnest(${sqlToks("text")}) AS term
          FROM documents WHERE doc_id % 10 = 0) GROUP BY 1, 2),
      sc AS (SELECT tfx.doc_id, tfx.term, tfx.tf,
          tfx.tf * ((2*nn.n_docs - 2*m.df + 1) * 1000000
            // (2*m.df + 1)) AS score_ppm
        FROM tfx JOIN m USING (term), nn)
      SELECT doc_id, term, tf, score_ppm FROM sc
      WHERE score_ppm >= 1000000 ORDER BY doc_id, term""",
    // same tokenize → tf → df → integer idf trajectory per doc
    "t26_tfidf_keywords" -> s"""
      WITH tk AS (SELECT doc_id, unnest(${sqlToks("text")}) AS term
        FROM documents),
      tfx AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk
        GROUP BY 1, 2),
      dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY 1),
      nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      sc AS (SELECT tfx.doc_id, tfx.term,
          tfx.tf * ((2*nn.n_docs - 2*dfq.df + 1) * 1000000
            // (2*dfq.df + 1)) AS score_ppm
        FROM tfx JOIN dfq USING (term), nn)
      SELECT doc_id, rank, term, score_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score_ppm DESC, term) AS rank FROM sc)
      WHERE rank <= 5 ORDER BY doc_id, rank""",
    // dc1's broadcast eval-gram probe at gram POSITIONS, dd16's
    // gaps-and-islands merge, dd17's rewrite tail — verbatim
    "dc7_strip_eval_spans" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks
        FROM documents WHERE doc_id % 50 <> 0),
      ev AS (SELECT DISTINCT unnest(${sqlGrams(
          s"(${sqlToks("text")})", 5)}) AS h
        FROM documents WHERE doc_id % 50 = 0),
      g AS (SELECT doc_id, CAST(x.pos AS INT) AS pos, x.h AS h FROM
        (SELECT doc_id, unnest(list_transform(
           range(0, greatest(len(toks)-5,0)+1),
           i0 -> {'pos': i0,
             'h': ${sqlFp("array_to_string((toks)[i0+1:i0+5], ' ')")}})) AS x
         FROM t)),
      m AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM ev)),
      sp AS (SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM m),
      spx AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        FROM sp GROUP BY doc_id, grp),
      spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans
        FROM spx GROUP BY doc_id)
      SELECT t.doc_id, len(t.toks)::INT AS n_tokens,
        (len(t.toks) - len(CASE WHEN l.spans IS NULL THEN t.toks
          ELSE list_filter(t.toks, (x0, i0) -> len(list_filter(l.spans,
            sp0 -> i0-1 >= sp0.s AND i0-1 <= sp0.e)) = 0) END))::INT
          AS n_removed,
        coalesce(array_to_string(CASE WHEN l.spans IS NULL THEN t.toks
          ELSE list_filter(t.toks, (x1, i1) -> len(list_filter(l.spans,
            sp1 -> i1-1 >= sp1.s AND i1-1 <= sp1.e)) = 0) END, ' '), '')
          AS clean_text
      FROM t LEFT JOIN spl l USING (doc_id)
      ORDER BY t.doc_id""",
    // the t22 chain with a train-only corpus and the eval split as
    // the query set, floored at the contamination score
    "dc6_bm25_contamination" -> s"""
      SELECT * FROM (${sqlBm25TopK(
        "SELECT doc_id, text FROM documents WHERE doc_id % 500 <> 3",
        "SELECT doc_id AS query_id, text FROM documents WHERE doc_id % 500 = 3",
        k = 5)})
      WHERE score_ppm >= 5000000
      ORDER BY query_id, rank""",
    // the t22 chain over the CDF-modified corpus — the maintained
    // index must score exactly as a fresh build over the same docs
    "t25_bm25_standing" -> sqlT25Bm25Standing,
    // the LAYOUT round-trip must serve the maintained postings
    // bit-identically, so t32's oracle is t25's VERBATIM
    "t32_bm25_layout" -> sqlT25Bm25Standing,
    // the capped layout serve must equal the t22 chain with the SAME
    // df cap computed corpus-wide — stored dictionary df and derived
    // df are interchangeable by the maintenance invariant
    "t40_bm25_layout_dfcap" -> s"""${sqlBm25TopK(
      dfCapPpm = Some(780000L))}
      ORDER BY query_id, rank""",
    // RRF hybrid fusion: the full t22 BM25 chain and the full ss1
    // cosine chain replayed as nested subqueries, fused by the same
    // integer 1e6 div (60+rank) contributions
    // the layout-served legs replayed: the lexical leg is t22's BM25
    // chain (the clean layout serves the plain postings), the vector
    // leg is the trained kNN probe (the ss20 serving shape, k = 10,
    // no CDF), fused by the same per-term integer reciprocal ranks
    "t37_hybrid_layout" -> s"""
      WITH bm AS (SELECT query_id, doc_id, rank FROM (${sqlBm25TopK()})),
      ann AS (SELECT query_id, doc_id, rank FROM (
        WITH ${sqlKmeansCtes(16)},
        ${sqlKmAsg("c2", "homea")},
        qx AS (SELECT vec_id, emb, xx FROM ex WHERE vec_id < 3),
        probes AS (SELECT * FROM (
            SELECT q.vec_id AS query_id, c.cid,
              (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
                + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
            FROM qx q, c2 c)
          QUALIFY row_number() OVER (PARTITION BY query_id
            ORDER BY dist2, cid) <= 2),
        kisc AS (SELECT p.query_id, h.vec_id AS doc_id,
            ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx))
              AS score
          FROM probes p JOIN homea h USING (cid)
          JOIN qx q ON q.vec_id = p.query_id
          JOIN ex x ON x.vec_id = h.vec_id
          WHERE p.query_id <> h.vec_id)
        SELECT query_id, doc_id, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS rank FROM kisc)
        WHERE rank <= 10)),
      u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann),
      f AS (SELECT query_id, doc_id,
          sum(1000000 // (60 + rank))::BIGINT AS rrf_ppm,
          count(*)::BIGINT AS n_lists
        FROM u GROUP BY 1, 2)
      SELECT query_id, rank, doc_id, rrf_ppm, n_lists FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_ppm DESC, doc_id) AS rank FROM f)
      WHERE rank <= 10 ORDER BY query_id, rank""",
    "t24_hybrid_rrf" -> s"""
      WITH bm AS (SELECT query_id, doc_id, rank FROM (${sqlBm25TopK()})),
      ann AS (SELECT query_id, neighbor_id AS doc_id, rank
        FROM (${sqlCosineTopK(10, 3)})),
      u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann),
      f AS (SELECT query_id, doc_id,
          sum(1000000 // (60 + rank))::BIGINT AS rrf_ppm,
          count(*)::BIGINT AS n_lists
        FROM u GROUP BY 1, 2)
      SELECT query_id, rank, doc_id, rrf_ppm, n_lists FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_ppm DESC, doc_id) AS rank FROM f)
      WHERE rank <= 10 ORDER BY query_id, rank""",
    // the three retrieval chains replayed as nested subqueries and
    // scored against the cosine-top-20 qrels with the same integer
    // MRR / capped-recall / reciprocal-discount-nDCG surrogates
    "t29_retrieval_quality" -> s"""
      WITH qr0 AS (SELECT query_id, neighbor_id AS doc_id, rank
        FROM (${sqlCosineTopK(20, 3)})),
      qr AS (SELECT query_id, doc_id FROM qr0),
      rc AS (SELECT query_id, count(*)::BIGINT AS n_rel,
          list_sum(list_transform(range(1, least(count(*), 10) + 1),
            i -> 1000000 // (i + 1)))::BIGINT AS ideal_ppm
        FROM qr GROUP BY 1),
      nqx AS (SELECT count(DISTINCT query_id)::BIGINT AS n_queries
        FROM qr),
      rrf AS (
        WITH u AS (SELECT query_id, doc_id, rank
              FROM (${sqlBm25TopK(queries = sqlStubQueries)})
            UNION ALL
            SELECT query_id, doc_id, rank FROM qr0 WHERE rank <= 10),
        f AS (SELECT query_id, doc_id,
            sum(1000000 // (60 + rank))::BIGINT AS rrf_ppm
          FROM u GROUP BY 1, 2)
        SELECT query_id, doc_id, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_ppm DESC, doc_id) AS rank FROM f)
        WHERE rank <= 10),
      sys AS (
        SELECT 'bm25' AS system, query_id, doc_id, rank
          FROM (${sqlBm25TopK(queries = sqlStubQueries)})
        UNION ALL
        SELECT 'rm3' AS system, query_id, doc_id, rank
          FROM (${sqlRm3TopK(10, 10, 5, sqlStubQueries)})
        UNION ALL
        SELECT 'rrf' AS system, query_id, doc_id, rank FROM rrf),
      h AS (SELECT s.system, s.query_id, s.rank
        FROM sys s JOIN qr USING (query_id, doc_id)),
      pq AS (SELECT system, query_id, min(rank)::BIGINT AS first_rel,
          count(*)::BIGINT AS n_hits,
          sum(1000000 // (rank::BIGINT + 1))::BIGINT AS dcg_ppm
        FROM h GROUP BY 1, 2),
      base AS (SELECT sy.system, rc.query_id, rc.n_rel, rc.ideal_ppm
        FROM rc, (SELECT DISTINCT system FROM sys) sy),
      f2 AS (SELECT b.system,
          coalesce(1000000 // pq.first_rel, 0)::BIGINT AS rr_ppm,
          coalesce(pq.n_hits, 0)::BIGINT AS n_hits,
          coalesce(pq.dcg_ppm * 1000000 // b.ideal_ppm, 0)::BIGINT
            AS ndcg_q_ppm,
          least(b.n_rel, 10)::BIGINT AS cap
        FROM base b LEFT JOIN pq
          ON pq.system = b.system AND pq.query_id = b.query_id)
      SELECT system, nqx.n_queries,
        (sum(rr_ppm) // nqx.n_queries)::BIGINT AS mrr_ppm,
        (sum(n_hits) * 1000000 // sum(cap))::BIGINT AS recall_ppm,
        (sum(ndcg_q_ppm) // nqx.n_queries)::BIGINT AS ndcg_ppm
      FROM f2, nqx GROUP BY 1, 2 ORDER BY system""",
    "t20_source_overlap" -> s"""
      WITH g AS (SELECT DISTINCT source, fp FROM
          (SELECT source, unnest(${sqlShinglesK(toks, 5)}) AS fp
           FROM documents)),
      t AS (SELECT source, count(*)::BIGINT AS n FROM g GROUP BY source),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
          count(*)::BIGINT AS overlap
        FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, ta.n AS grams_a, tb.n AS grams_b,
        p.overlap,
        floor(p.overlap::DOUBLE * 1000000.0
          / least(ta.n, tb.n)::DOUBLE)::BIGINT AS containment_ppm
      FROM p
      JOIN t ta ON ta.source = p.source_a
      JOIN t tb ON tb.source = p.source_b
      ORDER BY source_a, source_b""",
    // same unigram-fp multiset; the two-level rollup keeps every
    // ratio in integer ppm (outer casts undo HUGEINT widening)
    "t19_corpus_health" -> s"""
      WITH w AS (SELECT source, unnest(${sqlGrams(toks, 1)}) AS fp
        FROM documents),
      wc AS (SELECT source, fp, count(*)::BIGINT AS n
        FROM w GROUP BY source, fp),
      r AS (SELECT source,
          CAST(sum(n) AS BIGINT) AS n_tokens,
          count(*)::BIGINT AS n_types,
          CAST(max(n) AS BIGINT) AS top_count,
          CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hapax
        FROM wc GROUP BY source)
      SELECT source, n_tokens, n_types,
        CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
        CAST(top_count * 1000000 // n_tokens AS BIGINT) AS top_share_ppm,
        CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm
      FROM r ORDER BY source""",
    // same injection rule, same regex classes; the outer casts undo
    // DuckDB's HUGEINT widening
    "t17_encoding" -> """
      WITH s AS (SELECT source,
          (CASE WHEN doc_id % 7 = 0 THEN chr(1) || chr(2) ELSE '' END)
          || text
          || (CASE WHEN doc_id % 5 = 0 THEN chr(65533) ELSE '' END)
          || (CASE WHEN doc_id % 3 = 0 THEN chr(233) || chr(237) ELSE '' END)
          AS t
        FROM documents)
      SELECT source, count(*)::BIGINT AS n_docs,
        CAST(sum(CASE WHEN regexp_matches(t,
          '[\x01-\x08\x0B\x0C\x0E-\x1F]') THEN 1 ELSE 0 END) AS BIGINT)
          AS ctl_docs,
        CAST(sum(length(t) - length(regexp_replace(t,
          '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))) AS BIGINT) AS ctl_chars,
        CAST(sum(length(t) - length(regexp_replace(t, chr(65533), '', 'g')))
          AS BIGINT) AS fffd_chars,
        CAST(sum(length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '',
          'g'))) * 1000 // sum(length(t)) AS BIGINT) AS nonascii_pm
      FROM s GROUP BY source ORDER BY source""",
    "t16_repeat_spans" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      g AS (SELECT doc_id, CAST(x.pos AS INT) AS pos, x.h AS h FROM
        (SELECT doc_id, unnest(list_transform(
           range(0, greatest(len(toks)-3,0)+1),
           i0 -> {'pos': i0,
             'h': ${sqlFp("array_to_string((toks)[i0+1:i0+3], ' ')")}})) AS x
         FROM t)),
      m AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
          count(*) OVER (PARTITION BY doc_id, h) AS occ FROM g)
        WHERE occ >= 2),
      sp AS (SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM m)
      SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos,
        count(*)::BIGINT AS n_grams, (max(pos) - min(pos) + 3)::INT AS n_tokens
      FROM sp GROUP BY doc_id, grp
      HAVING count(*) >= 2
      ORDER BY doc_id, start_pos""",
    "tp3_clean_chunks" -> s"""
      WITH base AS (SELECT doc_id, text, len($toks) AS n_tokens,
        ${sqlQuality} AS quality
        FROM documents WHERE doc_id % 50 <> 0),
      q AS (SELECT * FROM base WHERE quality >= 0.2 AND n_tokens >= 5),
      keepids AS (SELECT min(doc_id) AS doc_id FROM q
        GROUP BY array_to_string($toks, ' ')),
      ex AS (SELECT q.* FROM q JOIN keepids k ON q.doc_id = k.doc_id),
      ev AS (SELECT DISTINCT s FROM (SELECT
          unnest(${sqlShinglesK(toks, 5)}) AS s
        FROM documents WHERE doc_id % 50 = 0)),
      dirty AS (SELECT DISTINCT doc_id FROM (SELECT doc_id,
          unnest(${sqlShinglesK(toks, 5)}) AS s FROM ex) x
        WHERE x.s IN (SELECT s FROM ev)),
      clean AS (SELECT * FROM ex
        WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
      t3 AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM clean),
      d3 AS (SELECT doc_id, toks, len(toks) AS n,
        greatest(1, (len(toks) - 16 + 47) // 48) AS n_chunks FROM t3),
      c3 AS (SELECT doc_id, toks, n, t4.i0 AS chunk_id,
          t4.i0 * 48 AS start_tok,
          least(64, n - t4.i0 * 48) AS n_tok
        FROM d3, unnest(range(0, n_chunks)) AS t4(i0))
      SELECT doc_id, chunk_id, start_tok, n_tok,
        ${sqlFp("array_to_string(toks[start_tok+1:start_tok+n_tok], ' ')")}
          AS chunk_fp
      FROM c3 ORDER BY doc_id, chunk_id""",
    "st9_cms_sketch" -> s"""
      WITH r AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events)
      SELECT t.j::INT AS j, ${sqlFp("t.j || ':' || key")} % 256 AS bucket,
        count(*)::BIGINT AS c
      FROM r, unnest(range(0, 4)) AS t(j)
      GROUP BY 1, 2 ORDER BY j, bucket""",
    // per-row cents quantization BEFORE the sum, exactly as the
    // stream accumulates; the outer cast undoes DuckDB's HUGEINT
    // widening (the q36 lesson)
    "st10_stateful_profile" -> """
      SELECT user_id, count(*)::BIGINT AS n_events,
        CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS sum_cents
      FROM events GROUP BY user_id ORDER BY user_id""",
    // q64 twin: same register/rank hashes (base-31 fingerprint with
    // 'r:'/'z:' seed prefixes), same trailing-zero CASE ladder, same
    // pure-integer α·m²·2^16/s estimate — HLL registers are
    // deterministic and max-mergeable, so the sketch is replayable
    "q64_hll_registers" -> s"""
      WITH r AS (SELECT DISTINCT event_type AS grp,
          CAST(user_id AS VARCHAR) AS key FROM events),
      h AS (SELECT grp, ${sqlFp("'r:' || key")} % 256 AS reg,
          ${sqlFp("'z:' || key")} AS z FROM r),
      rk AS (SELECT grp, reg, max(CASE
          WHEN z % 32768 = 0 THEN 16
          WHEN z % 16384 = 0 THEN 15
          WHEN z % 8192 = 0 THEN 14
          WHEN z % 4096 = 0 THEN 13
          WHEN z % 2048 = 0 THEN 12
          WHEN z % 1024 = 0 THEN 11
          WHEN z % 512 = 0 THEN 10
          WHEN z % 256 = 0 THEN 9
          WHEN z % 128 = 0 THEN 8
          WHEN z % 64 = 0 THEN 7
          WHEN z % 32 = 0 THEN 6
          WHEN z % 16 = 0 THEN 5
          WHEN z % 8 = 0 THEN 4
          WHEN z % 4 = 0 THEN 3
          WHEN z % 2 = 0 THEN 2 ELSE 1 END) AS rnk
        FROM h GROUP BY grp, reg),
      t AS (SELECT grp, count(*)::BIGINT AS registers_used,
          CAST(sum(1::BIGINT << (16 - rnk))
            + (256 - count(*)) * 65536 AS BIGINT) AS s
        FROM rk GROUP BY grp),
      x AS (SELECT grp, count(DISTINCT key)::BIGINT AS n_exact
        FROM r GROUP BY grp)
      SELECT t.grp, registers_used, s,
        CAST(718353 * 4294967296 // (1000000 * s) AS BIGINT) AS n_est,
        n_exact
      FROM t JOIN x USING (grp) ORDER BY grp""",
    // q59 twin: same 4×256 grid, same base-31 bucket hash — CMS is
    // deterministic/additive, so the whole sketch is SQL-replayable
    "q59_cms_freq" -> s"""
      WITH r AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
      sk AS MATERIALIZED (
        SELECT t.j AS j, ${sqlFp("t.j || ':' || key")} % 256 AS bucket,
          count(*)::BIGINT AS c
        FROM r, unnest(range(0, 4)) AS t(j)
        GROUP BY 1, 2),
      top AS (SELECT key, count(*)::BIGINT AS n_true FROM r GROUP BY key
        ORDER BY n_true DESC, key LIMIT 20),
      pr AS (SELECT t2.key, t2.n_true, u.j,
          ${sqlFp("u.j || ':' || t2.key")} % 256 AS bucket
        FROM top t2, unnest(range(0, 4)) AS u(j))
      SELECT p.key, max(p.n_true) AS n_true,
        min(coalesce(s.c, 0))::BIGINT AS n_est
      FROM pr p LEFT JOIN sk s ON s.j = p.j AND s.bucket = p.bucket
      GROUP BY p.key ORDER BY n_true DESC, key""",
    "tp2_chunk_manifest" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      d AS (SELECT doc_id, toks, len(toks) AS n,
        greatest(1, (len(toks) - 16 + 47) // 48) AS n_chunks FROM t),
      c AS (SELECT doc_id, toks, n, t2.i0 AS chunk_id,
          t2.i0 * 48 AS start_tok,
          least(64, n - t2.i0 * 48) AS n_tok
        FROM d, unnest(range(0, n_chunks)) AS t2(i0))
      SELECT doc_id, chunk_id, start_tok, n_tok,
        ${sqlFp("array_to_string(toks[start_tok+1:start_tok+n_tok], ' ')")}
          AS chunk_fp
      FROM c ORDER BY doc_id, chunk_id""",
    "t11_boilerplate" -> s"""
      WITH ex AS (SELECT source,
          unnest(${sqlShingles(sqlToks("text"))}) AS s FROM documents),
      d AS (SELECT source, s, count(*) AS df FROM ex GROUP BY 1, 2),
      n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      SELECT source, rank, s, df, n_docs FROM (
        SELECT d.source, d.s, d.df, n.n_docs,
          row_number() OVER (PARTITION BY d.source
            ORDER BY d.df DESC, d.s) AS rank
        FROM d JOIN n USING (source)
        WHERE d.df * 100 >= n.n_docs * 10)
      WHERE rank <= 5 ORDER BY source, rank""",
    "t10_winnow" -> s"""
      WITH g0 AS (SELECT doc_id,
          ${sqlGrams(sqlToks("text"), 3)} AS gs FROM documents),
      g AS (SELECT doc_id, t.i0 AS pos, gs[t.i0+1] AS h, len(gs) AS n_g
        FROM g0, unnest(range(0, len(gs))) AS t(i0)),
      m AS (SELECT doc_id, pos, n_g,
          min(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn FROM g),
      d AS (SELECT DISTINCT doc_id, mn FROM m
        WHERE pos >= least(3, n_g - 1)),
      f AS (SELECT doc_id, list(mn ORDER BY mn) AS fps FROM d GROUP BY doc_id)
      SELECT doc_id, len(fps) AS n_fp, array_to_string(fps, ',') AS fp_csv
      FROM f ORDER BY doc_id""",
    "dd12_containment" -> s"""
      WITH g0 AS (SELECT doc_id,
          ${sqlGrams(sqlToks("text"), 3)} AS gs FROM documents),
      g AS (SELECT doc_id, t.i0 AS pos, gs[t.i0+1] AS h, len(gs) AS n_g
        FROM g0, unnest(range(0, len(gs))) AS t(i0)),
      m AS (SELECT doc_id, pos, n_g,
          min(h) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn FROM g),
      d AS (SELECT DISTINCT doc_id, mn FROM m
        WHERE pos >= least(3, n_g - 1)),
      nf AS (SELECT doc_id, count(*) AS n_fp FROM d GROUP BY doc_id),
      dfc AS (SELECT mn, count(*) AS df FROM d GROUP BY mn),
      -- candidates share at least one sub-cap fingerprint; the shared
      -- count is then exact over ALL fingerprints (cap only limits
      -- candidate generation, mirroring the Spark plan)
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM d a JOIN d b USING (mn) JOIN dfc USING (mn)
        WHERE dfc.df <= 100 AND a.doc_id < b.doc_id),
      p AS (SELECT c.a_id, c.b_id, count(*) AS shared
        FROM cand c
          JOIN d a ON a.doc_id = c.a_id
          JOIN d b ON b.doc_id = c.b_id AND b.mn = a.mn
        GROUP BY 1, 2)
      SELECT p.a_id, p.b_id, p.shared,
        least(na.n_fp, nb.n_fp) AS min_fp
      FROM p
        JOIN nf na ON na.doc_id = p.a_id
        JOIN nf nb ON nb.doc_id = p.b_id
      WHERE p.shared * 100 >= least(na.n_fp, nb.n_fp) * 60
      ORDER BY p.a_id, p.b_id""",
    "dc1_decontaminate" -> sqlDecontaminate,
    // the Bloom prefilter is exact end-to-end (no false negatives,
    // false positives removed by the confirm join), so dc2 shares
    // dc1's oracle verbatim
    "dc2_decontaminate_bloom" -> sqlDecontaminate,
    "mx1_mixture_rebalance" -> s"""
      WITH s AS (SELECT lang, count(*) AS n_grp FROM documents GROUP BY lang),
      t AS (SELECT sum(n_grp)::BIGINT AS total, count(*)::BIGINT AS n_grps
        FROM s)
      SELECT d.doc_id, d.lang,
        least(1000, (t.total * 1000) // (t.n_grps * s.n_grp))::BIGINT
          AS rate_mil
      FROM documents d JOIN s USING (lang) CROSS JOIN t
      WHERE ${sqlFp("d.doc_id::VARCHAR")} % 1000 <
        least(1000, (t.total * 1000) // (t.n_grps * s.n_grp))
      ORDER BY d.doc_id""",
    "mx5_mixture_sqrt" -> s"""
      WITH s AS (SELECT lang, count(*) AS n_grp FROM documents GROUP BY lang),
      t AS (SELECT min(n_grp)::BIGINT AS n_min FROM s),
      r AS (SELECT s.lang, floor(1000.0 *
          sqrt(t.n_min::DOUBLE / s.n_grp::DOUBLE))::BIGINT AS rate_mil
        FROM s CROSS JOIN t)
      SELECT d.doc_id, d.lang, r.rate_mil
      FROM documents d JOIN r USING (lang)
      WHERE ${sqlFp("d.doc_id::VARCHAR")} % 1000 < r.rate_mil
      ORDER BY d.doc_id""",
    "t14_lm_score" -> s"""
      WITH g AS (SELECT doc_id, ${sqlGrams(toks, 2)} AS g2s,
          ${sqlGrams(toks, 1)} AS g1s FROM documents),
      -- first token of bigram i = unigram i, so zip the bigram list
      -- with the unigram list truncated to the same length
      o AS (SELECT doc_id, z0[1] AS g2, z0[2] AS g1
        FROM (SELECT doc_id,
          unnest(list_zip(g2s, g1s[1:len(g2s)])) AS z0 FROM g)),
      c2 AS (SELECT g2, count(*) AS c2 FROM o GROUP BY g2),
      c1 AS (SELECT g1, count(*) AS c1 FROM o GROUP BY g1),
      sc AS (SELECT o.doc_id, (c2.c2 * 1000) // c1.c1 AS s
        FROM o JOIN c2 USING (g2) JOIN c1 USING (g1))
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        (sum(s) // count(*))::BIGINT AS lm_score_pm
      FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "dd9_dedup_incremental" -> s"""
      WITH ${sqlMinhashCtesCond(
        "a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")}
      SELECT a_id AS new_id, b_id AS index_id, common, union_size
      FROM verified
      WHERE common * 100 >= union_size * 80
      ORDER BY new_id, index_id""",
    // dd9's cross-split CTEs with the dc1 eval split at 60% Jaccard;
    // the window argmax replays the engine's max_by tie-break
    "dc4_fuzzy_contamination" -> s"""
      WITH ${sqlMinhashCtesCond(
        "a.doc_id % 50 = 0 AND b.doc_id % 50 <> 0")},
      p AS (SELECT b_id AS doc_id, a_id AS eval_id,
          CAST(common * 1000000 // union_size AS BIGINT) AS score_ppm
        FROM verified
        WHERE common * 100 >= union_size * 60),
      r AS (SELECT doc_id, eval_id, score_ppm,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score_ppm DESC, eval_id ASC) AS rn,
          count(*) OVER (PARTITION BY doc_id) AS n_matches
        FROM p)
      SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches, eval_id,
        score_ppm
      FROM r WHERE rn = 1 ORDER BY doc_id""",
    "ss11_filtered_topk" -> sqlFilteredTopKSql,
    // q67 serves the identical filtered top-k THROUGH the
    // label-partitioned layout: the layout must not change results,
    // only the scan's pruning — so the oracle is ss11's, verbatim
    "q67_label_layout" -> sqlFilteredTopKSql,
    "q52_zorder_stats" -> {
      val z = (0 until 16).map { i =>
        s"(((l_partkey >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)})"
      }.mkString("(", " + ", ")")
      s"""
      WITH z AS (SELECT l_partkey AS a, l_suppkey AS b, $z AS z
        FROM lineitem)
      SELECT z // 16384 AS z_bucket, count(*) AS n,
        min(a) AS a_min, max(a) AS a_max,
        min(b) AS b_min, max(b) AS b_max,
        sum(CASE WHEN a < 0 OR a >= 65536 OR b < 0 OR b >= 65536
          THEN 1 ELSE 0 END)::BIGINT AS n_clipped
      FROM z GROUP BY 1 ORDER BY z_bucket"""
    },
    "tp1_sequence_pack" -> s"""
      WITH d AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens,
        ${sqlFp("doc_id::VARCHAR")} % 32 AS bucket FROM documents),
      c AS (SELECT doc_id, n_tokens, bucket,
        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM d)
      SELECT doc_id, n_tokens, bucket,
        (cum - n_tokens) // 512 AS pack_id,
        (cum - n_tokens) % 512 AS tok_off,
        CASE WHEN n_tokens = 0 THEN 0
          ELSE (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 END AS n_packs
      FROM c ORDER BY doc_id""",
    // tp1's placement arithmetic, re-exploded per token; the ordered
    // list() + fold replays the engine's sorted-struct aggregate
    "tp8_pack_execute" -> s"""
      WITH d AS (SELECT doc_id, $toks AS tk,
        len($toks)::BIGINT AS n_tokens,
        ${sqlFp("doc_id::VARCHAR")} % 32 AS bucket FROM documents),
      c AS (SELECT doc_id, tk, n_tokens, bucket,
        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM d),
      m AS (SELECT doc_id, tk, n_tokens, bucket,
          cum - n_tokens AS start0
        FROM c WHERE n_tokens > 0),
      placed AS (SELECT doc_id, bucket, start0 + t.i AS gpos,
          ${sqlFp("tk[t.i + 1]")} AS fp
        FROM m, unnest(range(0, n_tokens)) AS t(i))
      SELECT bucket, gpos // 512 AS pack_id,
        count(DISTINCT doc_id)::BIGINT AS n_docs,
        count(*)::BIGINT AS n_tokens,
        list_reduce(list_prepend(0::BIGINT, list(fp ORDER BY gpos)),
          (a0, x0) -> (a0 * 31 + x0) % 1000000007) AS seq_fp
      FROM placed GROUP BY bucket, pack_id
      ORDER BY bucket, pack_id""",
    "tp5_shard_audit" -> s"""
      WITH d AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens,
        ${sqlFp("doc_id::VARCHAR")} % 32 AS bucket FROM documents),
      c AS (SELECT doc_id, n_tokens, bucket,
        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM d
        ),
      m AS (SELECT bucket, n_tokens, cum,
        (cum - n_tokens) // 512 AS pack_id,
        (cum - 1) // 512 AS pack_last FROM c WHERE n_tokens > 0),
      x AS (SELECT bucket, n_tokens, cum,
        unnest(range(pack_id, pack_last + 1)) AS pack FROM m),
      contrib AS (SELECT bucket, pack,
        least(cum, (pack + 1) * 512) -
          greatest(cum - n_tokens, pack * 512) AS contrib FROM x)
      SELECT bucket, pack, count(*)::BIGINT AS n_docs,
        sum(contrib)::BIGINT AS n_toks,
        sum(contrib) = 512 AS is_full
      FROM contrib GROUP BY bucket, pack
      ORDER BY bucket, pack""",
    // naive per-stage window twin of the two-phase engine rank; the
    // quality expression is t02's verbatim
    "tp9_curriculum" -> s"""
      WITH q AS (SELECT doc_id,
        (len(list_intersect($toks,
            ['the','a','of','and','to','in','is']))::DOUBLE
          / len($toks)::DOUBLE)
        - ((length(text) - length(regexp_replace(text, '[.,!?;:]', '',
            'g')))::DOUBLE / length(text)::DOUBLE)
        + least(len($toks)::DOUBLE / 100.0, 1.0) AS quality
      FROM documents),
      s AS (SELECT doc_id, quality,
        least(3, greatest(0, floor((2.0 - quality) * 4 / 3.0)::INT))
          AS stage FROM q),
      h AS (SELECT s.*, ${sqlFp("concat(42, ':', doc_id)")} AS h FROM s),
      r AS (SELECT doc_id, quality, stage,
          (row_number() OVER (PARTITION BY stage ORDER BY h, doc_id)
            - 1)::BIGINT AS stage_rank
        FROM h),
      sz AS (SELECT stage, count(*)::BIGINT AS n FROM s GROUP BY stage),
      o AS (SELECT stage,
          (sum(n) OVER (ORDER BY stage) - n)::BIGINT AS base FROM sz)
      SELECT r.doc_id, r.quality, r.stage, r.stage_rank,
        (o.base + r.stage_rank)::BIGINT AS curriculum_pos
      FROM r JOIN o USING (stage)
      ORDER BY r.doc_id""",
    // t20's overlap CTEs + the discount/sqrt-weight arithmetic
    "mx8_effective_mixture" -> s"""
      WITH g AS (SELECT DISTINCT source, fp FROM
          (SELECT source, unnest(${sqlShinglesK(toks, 5)}) AS fp
           FROM documents)),
      t AS (SELECT source, count(*)::BIGINT AS n FROM g GROUP BY source),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
          count(*)::BIGINT AS overlap
        FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2),
      ov AS (SELECT p.source_a, p.source_b, ta.n AS grams_a,
          tb.n AS grams_b,
          floor(p.overlap::DOUBLE * 1000000.0
            / least(ta.n, tb.n)::DOUBLE)::BIGINT AS containment_ppm
        FROM p JOIN t ta ON ta.source = p.source_a
        JOIN t tb ON tb.source = p.source_b),
      disc AS (SELECT CASE WHEN grams_a < grams_b
            OR (grams_a = grams_b AND source_a > source_b)
            THEN source_a ELSE source_b END AS source,
          max(containment_ppm)::BIGINT AS dup_ppm
        FROM ov GROUP BY 1),
      s AS (SELECT source, sum(len($toks))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      e AS (SELECT s.source, s.n_tokens,
          coalesce(d.dup_ppm, 0)::BIGINT AS dup_ppm,
          (s.n_tokens - floor(s.n_tokens::DOUBLE
            * coalesce(d.dup_ppm, 0)::DOUBLE / 1000000.0))::BIGINT
            AS eff_tokens
        FROM s LEFT JOIN disc d ON d.source = s.source),
      w AS (SELECT *, floor(sqrt(eff_tokens::DOUBLE)
          * 1000000.0)::BIGINT AS w_micro FROM e),
      tot AS (SELECT sum(w_micro)::BIGINT AS w_total FROM w)
      SELECT w.source, w.n_tokens, w.dup_ppm, w.eff_tokens,
        CASE WHEN tot.w_total = 0 THEN 0::BIGINT
             ELSE floor(w.w_micro::DOUBLE * 1000000.0
               / tot.w_total::DOUBLE)::BIGINT END AS weight_ppm
      FROM w, tot ORDER BY source""",
    // naive per-band window twin of the two-phase engine rank
    "tp11_length_batches" -> s"""
      WITH d AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens,
        len($toks)::BIGINT // 64 AS band FROM documents),
      h AS (SELECT d.*, ${sqlFp("concat(42, ':', doc_id)")} AS h FROM d),
      r AS (SELECT doc_id, n_tokens, band,
          (row_number() OVER (PARTITION BY band ORDER BY h, doc_id)
            - 1)::BIGINT AS band_rank
        FROM h),
      x AS (SELECT *, (band + 1) * 64 AS band_ceil,
          greatest(1, 2048 // ((band + 1) * 64)) AS per_batch FROM r)
      SELECT doc_id, n_tokens, band, band_rank,
        (band_rank // per_batch)::BIGINT AS batch_no,
        (band_rank % per_batch)::BIGINT AS slot,
        (band_ceil - n_tokens)::BIGINT AS pad_tokens
      FROM x ORDER BY doc_id""",
    // tp5's interval arithmetic kept per (doc, pack) span instead of
    // aggregated — slot numbers the spans in token order
    "tp10_pack_masks" -> s"""
      WITH d AS (SELECT doc_id, len($toks)::BIGINT AS n_tokens,
        ${sqlFp("doc_id::VARCHAR")} % 32 AS bucket FROM documents),
      c AS (SELECT doc_id, n_tokens, bucket,
        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM d),
      m AS (SELECT doc_id, bucket, n_tokens, cum,
        (cum - n_tokens) // 512 AS pack_id,
        (cum - 1) // 512 AS pack_last FROM c WHERE n_tokens > 0),
      x AS (SELECT doc_id, bucket, n_tokens, cum,
        unnest(range(pack_id, pack_last + 1)) AS pack FROM m),
      sp AS (SELECT bucket, pack, doc_id,
        (greatest(cum - n_tokens, pack * 512) - pack * 512)::BIGINT
          AS start,
        (least(cum, (pack + 1) * 512)
          - greatest(cum - n_tokens, pack * 512))::BIGINT AS len
        FROM x)
      SELECT bucket, pack,
        (row_number() OVER (PARTITION BY bucket, pack
          ORDER BY start, doc_id) - 1)::BIGINT AS slot,
        doc_id, start, len
      FROM sp ORDER BY bucket, pack, slot""",
    // same coin/cuts/mode arithmetic; part fingerprints over the
    // 1-based token slices (empty slice → '' → fp 0, coalesced)
    "tp13_fim_split" -> s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks
        FROM documents),
      b AS (SELECT doc_id, toks, len(toks)::BIGINT AS n,
          ${sqlFp("concat(42, ':', doc_id, ':', 0)")} % 1000 < 500 AS fim
        FROM t),
      c AS (SELECT *,
          CASE WHEN fim THEN ${sqlFp(
            "concat(42, ':', doc_id, ':', 1)")} % (n + 1) ELSE n END AS c1,
          CASE WHEN fim THEN ${sqlFp(
            "concat(42, ':', doc_id, ':', 2)")} % (n + 1) ELSE n END AS c2
        FROM b),
      d AS (SELECT doc_id, toks, n, fim,
          least(c1, c2) AS cut1, greatest(c1, c2) AS cut2 FROM c)
      SELECT doc_id, n AS n_tokens, cut1, cut2,
        CASE WHEN NOT fim THEN 'none'
          WHEN ${sqlFp("concat(42, ':', doc_id, ':', 3)")} % 2 = 0
            THEN 'psm' ELSE 'spm' END AS mode,
        ${sqlFp("coalesce(array_to_string(toks[1:cut1], ' '), '')")}
          AS prefix_fp,
        ${sqlFp(
          "coalesce(array_to_string(toks[cut1+1:cut2], ' '), '')")}
          AS middle_fp,
        ${sqlFp("coalesce(array_to_string(toks[cut2+1:n], ' '), '')")}
          AS suffix_fp
      FROM d ORDER BY doc_id""",
    // same deterministic segment/length/offset arithmetic per doc
    "tp12_span_corruption" -> s"""
      WITH b AS (SELECT doc_id, len(${sqlToks("text")})::BIGINT AS n
        FROM documents),
      c AS (SELECT doc_id, n, n * 150 // 1000 AS masked FROM b
        WHERE n * 150 // 1000 >= 1),
      d AS (SELECT doc_id, n, masked,
          greatest(1, masked // 3)::BIGINT AS spans FROM c),
      e AS (SELECT doc_id, n, masked, spans,
          unnest(range(0, spans))::BIGINT AS span_no FROM d),
      f AS (SELECT *, span_no * n // spans AS seg_start,
          (span_no + 1) * n // spans - span_no * n // spans AS seg_len,
          masked // spans + CASE WHEN span_no < masked % spans
            THEN 1 ELSE 0 END AS len0 FROM e),
      g AS (SELECT doc_id, n AS n_tokens, span_no, seg_start, seg_len,
          least(len0, seg_len) AS mask_len FROM f)
      SELECT doc_id, n_tokens, span_no,
        (seg_start + ${sqlFp("concat(42, ':', doc_id, ':', span_no)")}
          % (seg_len - mask_len + 1))::BIGINT AS start_tok,
        mask_len
      FROM g ORDER BY doc_id, span_no""",
    // naive single-sort twin of the histogram-refined engine plan;
    // the rank arithmetic is the same exact integer split
    "q69_exact_quantiles" -> """
      WITH v AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem),
      n AS (SELECT count(*)::BIGINT AS total FROM v),
      q AS (SELECT q_ppm::BIGINT AS q_ppm FROM (VALUES (250000),
        (500000), (750000), (990000)) t(q_ppm)),
      r AS (SELECT q_ppm,
          ((total - 1) // 1000000 * q_ppm
            + ((total - 1) % 1000000) * q_ppm // 1000000)::BIGINT AS r
        FROM q, n),
      s AS (SELECT v, (row_number() OVER (ORDER BY v) - 1)::BIGINT AS rn
        FROM v)
      SELECT r.q_ppm, s.v AS value FROM r JOIN s ON s.rn = r.r
      ORDER BY q_ppm""",
    // the layout must not change results, only the scan's pruning —
    // so the oracle is the plain box query on the source table
    "q68_zorder_layout" -> """
      SELECT l_partkey, l_suppkey, count(*)::BIGINT AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_partkey BETWEEN 10 AND 40 AND l_suppkey BETWEEN 2 AND 12
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "q57_compaction_bins" -> """
      WITH c AS (SELECT source AS part, doc_id AS ord,
        n_chars::BIGINT AS bytes,
        sum(n_chars::BIGINT) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM documents)
      SELECT part, (cum - bytes) // 4096 AS bin,
        count(*)::BIGINT AS n_docs, sum(bytes)::BIGINT AS bytes
      FROM c GROUP BY part, (cum - bytes) // 4096
      ORDER BY part, bin""",
    // naive global-window twin of the histogram-refined Spark plan —
    // same selection by construction (monotone cumsum, total order)
    "tp4_token_budget" -> s"""
      WITH q AS (SELECT doc_id,
        length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
        len(list_intersect($toks, ['the','a','of','and','to','in','is'])) AS n_stopwords,
        len($toks)::BIGINT AS n_tokens, length(text) AS n_ch
      FROM documents),
      s AS (SELECT doc_id, n_tokens,
        (n_stopwords::DOUBLE / n_tokens::DOUBLE)
          - (n_punct::DOUBLE / n_ch::DOUBLE)
          + least(n_tokens::DOUBLE / 100.0, 1.0) AS quality FROM q),
      r AS (SELECT doc_id, quality, n_tokens,
        row_number() OVER (ORDER BY quality DESC, doc_id) AS pick_rank,
        sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM s)
      SELECT doc_id, quality, n_tokens, pick_rank, cum_tokens FROM r
      WHERE cum_tokens <= 12000 ORDER BY pick_rank""",
    "t13_pii_scrub" -> s"""
      WITH p AS (SELECT doc_id,
        text || ' contact user' || doc_id::VARCHAR
          || '@mail.example.com from 10.' || (doc_id % 256)::VARCHAR
          || '.0.' || (doc_id % 254 + 1)::VARCHAR
          || ' call 555-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS t
        FROM documents),
      r AS (SELECT doc_id, t,
        regexp_replace(regexp_replace(regexp_replace(t,
          '${graft.operators.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
          '${graft.operators.TextAnalysis.Ipv4Re}', '<IP>', 'g'),
          '${graft.operators.TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS red
        FROM p)
      SELECT doc_id,
        len(regexp_extract_all(t, '${graft.operators.TextAnalysis.EmailRe}')) AS n_emails,
        len(regexp_extract_all(t, '${graft.operators.TextAnalysis.Ipv4Re}')) AS n_ipv4,
        len(regexp_extract_all(t, '${graft.operators.TextAnalysis.PhoneRe}')) AS n_phones,
        ${sqlFp("red")} AS redacted_fp,
        length(red) AS redacted_len
      FROM r ORDER BY doc_id""",
    "dd13_dedup_editdist" -> s"""
      WITH $sqlMinhashCtes,
      pre AS (SELECT doc_id, substring(text, 1, 160) AS pre FROM documents),
      dists AS (SELECT c.a_id, c.b_id, levenshtein(pa.pre, pb.pre) AS dist
        FROM cand c
        JOIN pre pa ON pa.doc_id = c.a_id
        JOIN pre pb ON pb.doc_id = c.b_id)
      SELECT a_id, b_id, dist FROM dists
      WHERE dist <= 60 ORDER BY a_id, b_id""",
    "ss5_topk_quantized" -> s"""
      WITH s AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding, v0 -> abs(v0::DOUBLE))) AS scale
        FROM embeddings),
      qc AS (SELECT vec_id,
        CASE WHEN scale > 0 THEN list_transform(embedding,
            v1 -> floor(v1::DOUBLE * 127.0 / scale + 0.5)::BIGINT)
          ELSE list_transform(embedding, v2 -> 0::BIGINT) END AS q
        FROM s),
      n AS (SELECT vec_id, q,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(q, x0 -> x0*x0)), (a0,b0) -> a0+b0) AS qq
        FROM qc),
      qry AS (SELECT vec_id AS query_id, q AS qe, qq AS qqq FROM n
        WHERE vec_id < 3),
      scored AS (SELECT qry.query_id, c.vec_id AS neighbor_id,
        CASE WHEN qry.qqq > 0 AND c.qq > 0 THEN
          list_reduce(list_prepend(0::BIGINT,
            list_transform(list_zip(qry.qe, c.q), z0 -> z0[1]*z0[2])),
            (a1,b1) -> a1+b1)::DOUBLE
            / (sqrt(qry.qqq::DOUBLE) * sqrt(c.qq::DOUBLE))
        ELSE 0.0 END AS score
        FROM n c, qry WHERE qry.query_id <> c.vec_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // float truth (ss1 arithmetic, k=5) ∩ int8 top-5 (ss5 arithmetic)
    "ss7_recall_int8" -> s"""
      WITH fe AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      fq AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
        FROM fe WHERE vec_id < 3),
      fs AS (SELECT fq.query_id, fe.vec_id AS neighbor_id,
          ${sqlDot("fq.qe", "fe.embedding")} / (fq.qn * fe.nrm) AS score
        FROM fe, fq WHERE fq.query_id <> fe.vec_id),
      ft AS (SELECT query_id, neighbor_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM fs)
        WHERE rank <= 5),
      qs AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding, v0 -> abs(v0::DOUBLE))) AS scale
        FROM embeddings),
      qc AS (SELECT vec_id,
        CASE WHEN scale > 0 THEN list_transform(embedding,
            v1 -> floor(v1::DOUBLE * 127.0 / scale + 0.5)::BIGINT)
          ELSE list_transform(embedding, v2 -> 0::BIGINT) END AS q
        FROM qs),
      qn AS (SELECT vec_id, q,
        list_reduce(list_prepend(0::BIGINT,
          list_transform(q, x0 -> x0*x0)), (a0,b0) -> a0+b0) AS qq
        FROM qc),
      qqry AS (SELECT vec_id AS query_id, q AS qe, qq AS qqq FROM qn
        WHERE vec_id < 3),
      qscored AS (SELECT qqry.query_id, c.vec_id AS neighbor_id,
        CASE WHEN qqry.qqq > 0 AND c.qq > 0 THEN
          list_reduce(list_prepend(0::BIGINT,
            list_transform(list_zip(qqry.qe, c.q), z0 -> z0[1]*z0[2])),
            (a1,b1) -> a1+b1)::DOUBLE
            / (sqrt(qqry.qqq::DOUBLE) * sqrt(c.qq::DOUBLE))
        ELSE 0.0 END AS score
        FROM qn c, qqry WHERE qqry.query_id <> c.vec_id),
      qt AS (SELECT query_id, neighbor_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM qscored)
        WHERE rank <= 5)
      SELECT 'int8' AS method,
        (SELECT count(*) FROM ft)::BIGINT AS n_truth,
        (SELECT count(*) FROM ft JOIN qt
          USING (query_id, neighbor_id))::BIGINT AS n_hits,
        (SELECT count(*) FROM ft JOIN qt USING (query_id, neighbor_id))
          * 1000 // (SELECT count(*) FROM ft) AS recall_x1000""",
    "q54_key_skew" -> s"""
      WITH c AS (SELECT user_id AS key, count(*) AS n FROM events
        GROUP BY 1),
      t AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_keys
        FROM c)
      SELECT key, n, (n * 1000000) // total AS share_ppm, total, n_keys
      FROM c CROSS JOIN t
      ORDER BY n DESC, key LIMIT 20""",
    "mx2_split_assign" -> s"""
      WITH h AS (SELECT doc_id, lang,
        ${sqlFp("doc_id::VARCHAR")} % 1000 AS h FROM documents)
      SELECT doc_id, lang, h,
        CASE WHEN h < 900 THEN 'train' WHEN h < 950 THEN 'val'
          ELSE 'test' END AS split
      FROM h ORDER BY doc_id""",
    "mx4_cluster_split" -> s"""
      WITH RECURSIVE $sqlMinhashCtes,
      pairs AS (SELECT a_id, b_id FROM verified
        WHERE common * 100 >= union_size * 80),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      cl AS (SELECT d.doc_id,
          coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
      SELECT doc_id, cluster_id,
        CASE WHEN h < 900 THEN 'train' WHEN h < 950 THEN 'val'
          ELSE 'test' END AS split
      FROM (SELECT doc_id, cluster_id,
        ${sqlFp("cluster_id::VARCHAR")} % 1000 AS h FROM cl)
      ORDER BY doc_id""",
    "mx3_split_leakage" -> s"""
      WITH $sqlMinhashCtes,
      pairs AS (SELECT a_id, b_id, common, union_size FROM verified
        WHERE common * 100 >= union_size * 80),
      sp AS (SELECT doc_id,
        CASE WHEN h < 900 THEN 'train' WHEN h < 950 THEN 'val'
          ELSE 'test' END AS split
        FROM (SELECT doc_id, ${sqlFp("doc_id::VARCHAR")} % 1000 AS h
          FROM documents))
      SELECT p.a_id, p.b_id, sa.split AS a_split, sb.split AS b_split,
        p.common, p.union_size
      FROM pairs p
        JOIN sp sa ON sa.doc_id = p.a_id
        JOIN sp sb ON sb.doc_id = p.b_id
      WHERE sa.split <> sb.split
      ORDER BY p.a_id, p.b_id""",
    "ve1_label_centroids" -> s"""
      WITH x AS (SELECT label, i0 AS dim,
          floor(embedding[i0+1]::DOUBLE * 1099511627776.0)::BIGINT
            ::DECIMAL(38,0) AS v
        FROM embeddings, unnest(range(0, len(embedding))) AS t(i0))
      SELECT label, dim, count(*) AS n,
        sum(v)::DOUBLE / 1099511627776.0 / count(*)::DOUBLE AS centroid
      FROM x GROUP BY label, dim ORDER BY label, dim""",
    "ve2_quantize_int8" -> s"""
      WITH s AS (SELECT vec_id, embedding,
        list_max(list_transform(embedding, v0 -> abs(v0::DOUBLE))) AS scale
        FROM embeddings)
      SELECT vec_id, scale,
        array_to_string(CASE WHEN scale > 0 THEN list_transform(embedding,
            v1 -> floor(v1::DOUBLE * 127.0 / scale + 0.5)::INT)
          ELSE list_transform(embedding, v2 -> 0) END, ',') AS q_csv
      FROM s ORDER BY vec_id""",
    "ve5_gram_matrix" -> s"""
      WITH x AS (SELECT CAST(t.i0 AS INT) AS i, CAST(u.j0 AS INT) AS j,
          floor(embedding[t.i0+1]::DOUBLE * embedding[u.j0+1]::DOUBLE
            * 1099511627776.0)::BIGINT::DECIMAL(38,0) AS p
        FROM embeddings,
          unnest(range(0, len(embedding))) AS t(i0),
          unnest(range(0, len(embedding))) AS u(j0)
        WHERE u.j0 >= t.i0)
      SELECT i, j, count(*) AS n, sum(p)::DOUBLE / 1099511627776.0 AS gram
      FROM x GROUP BY i, j ORDER BY i, j""",
    // ve5's fixed-point moment cells split by half; means from the
    // diagonal, covariance and delta in the same double op order
    "ve11_cov_drift" -> s"""
      WITH x AS (SELECT (vec_id % 2 = 0) AS is_ref,
          CAST(t.i0 AS INT) AS i, CAST(u.j0 AS INT) AS j,
          floor(embedding[t.i0+1]::DOUBLE * embedding[u.j0+1]::DOUBLE
            * 1099511627776.0)::BIGINT::DECIMAL(38,0) AS p,
          (CASE WHEN t.i0 = u.j0 THEN
            floor(embedding[t.i0+1]::DOUBLE * 1099511627776.0)::BIGINT
            ELSE NULL END)::DECIMAL(38,0) AS p1
        FROM embeddings,
          unnest(range(0, len(embedding))) AS t(i0),
          unnest(range(0, len(embedding))) AS u(j0)
        WHERE u.j0 >= t.i0),
      m AS (SELECT is_ref, i, j, count(*)::BIGINT AS n,
          sum(p) AS s, sum(p1) AS s1
        FROM x GROUP BY 1, 2, 3),
      mu AS (SELECT is_ref, i AS d,
          s1::DOUBLE / 1099511627776.0 / n::DOUBLE AS mu
        FROM m WHERE i = j),
      c AS (SELECT m.is_ref, m.i, m.j,
          (m.s::DOUBLE / 1099511627776.0 / m.n::DOUBLE
            - mi.mu * mj.mu) AS cov
        FROM m
        JOIN mu mi ON mi.is_ref = m.is_ref AND mi.d = m.i
        JOIN mu mj ON mj.is_ref = m.is_ref AND mj.d = m.j)
      SELECT r.i, r.j, r.cov AS cov_ref, q.cov AS cov_cur,
        abs(r.cov - q.cov) AS drift
      FROM c r JOIN c q ON q.i = r.i AND q.j = r.j
        AND r.is_ref AND NOT q.is_ref
      ORDER BY r.i, r.j""",
    "ve6_pca_project" -> sqlPcaProject(24),
    "ve7_pca_whiten" -> sqlPcaWhiten2(24),
    // same whitened coordinates, scored w1^2+w2^2 (exact double
    // products of oracle-exact coords) and top-20 by distance
    "ve9_whiten_outliers" -> s"""
      WITH ${sqlWhitenCoordCtes(24)}
      SELECT vec_id, w1, w2, w1*w1 + w2*w2 AS dist2
      FROM wcoords
      ORDER BY dist2 DESC, vec_id LIMIT 20""",
    // ve8 twin: same clamped equi-width binning (scale 4.0 is a power
    // of two, so the double multiply-and-floor is bit-equal), BIGINT
    // casts on the sums (DuckDB widens sum(BIGINT) to HUGEINT)
    "ve8_drift" -> """
      WITH x AS (
        SELECT vec_id, t.i0 AS dim, embedding[t.i0+1]::DOUBLE AS x
        FROM embeddings, unnest(range(0, len(embedding))) AS t(i0)),
      h AS MATERIALIZED (
        SELECT dim,
          CAST(least(greatest(floor((x + 1.0) * 4.0), 0.0), 7.0) AS BIGINT)
            AS bin,
          sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS c_ref,
          sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS c_cur
        FROM x GROUP BY 1, 2),
      t AS (SELECT dim, sum(c_ref)::BIGINT AS n_ref,
          sum(c_cur)::BIGINT AS n_cur
        FROM h GROUP BY 1)
      SELECT h.dim::INT AS dim, max(t.n_ref) AS n_ref,
        max(t.n_cur) AS n_cur,
        sum(abs(c_ref * 1000000 // n_ref - c_cur * 1000000 // n_cur))
          ::BIGINT AS l1_ppm
      FROM h JOIN t USING (dim)
      GROUP BY h.dim ORDER BY dim""",
    "ss8_pq_topk" -> sqlPqTopK(m = 4, len = 16, ksub = 8, k = 5, nq = 3),
    "ss13_pq_rerank" -> sqlPqRerank(m = 4, len = 16, ksub = 8,
      shortlist = 20, k = 5, nq = 3),
    "ss9_ivfpq_topk" -> sqlIvfPqTopK(m = 4, len = 16, ksub = 8, k = 5,
      nq = 3, nprobe = 2),
    // the layout round-trip must serve EXACTLY what direct ivf-pq
    // serving computes — one oracle states both semantics
    "ss22_pq_layout" -> sqlIvfPqTopK(m = 4, len = 16, ksub = 8, k = 5,
      nq = 3, nprobe = 2),
    // frozen coarse quantizer + frozen books from the ORIGINAL
    // corpus, the CDF-modified membership residual-encoded and served
    // under them — the layout rewrite must equal this replay
    "ss25_pq_layout_cdf" -> sqlIvfPqTopK(m = 4, len = 16, ksub = 8,
      k = 5, nq = 3, nprobe = 2, cdfMod = true),
    // frozen coarse + frozen books probed by the drifted batch — the
    // per-subspace residual distortion that schedules the ss33 retrain
    "ss32_pq_drift_census" -> sqlPqDriftCensus(m = 4, len = 16,
      ksub = 8),
    // maintained-layout list sizes ≡ one assignment replay of the
    // modified membership under the frozen coarse quantizer
    "ss34_sq8_list_census" -> sqlVecListCensus,
    "ss35_pq_list_census" -> sqlVecListCensus,
    // coarse quantizer frozen from the ORIGINAL corpus, codebooks
    // RE-TRAINED on the CDF-modified membership's residuals and every
    // member re-encoded under them — the layout retrain must equal
    // this replay
    "ss33_pq_codebook_retrain" -> sqlIvfPqTopK(m = 4, len = 16,
      ksub = 8, k = 5, nq = 3, nprobe = 2, retrainMod = true),
    "ve4_quant_error" -> s"""
      WITH s AS (SELECT vec_id,
        list_transform(embedding, v0 -> v0::DOUBLE) AS emb,
        list_max(list_transform(embedding, v1 -> abs(v1::DOUBLE))) AS scale
        FROM embeddings),
      qz AS (SELECT vec_id, emb, scale,
        CASE WHEN scale > 0 THEN list_transform(emb,
            v2 -> floor(v2 * 127.0 / scale + 0.5)::INT)
          ELSE list_transform(emb, v3 -> 0) END AS q FROM s),
      er AS (SELECT vec_id, scale, len(emb) AS n,
        list_transform(list_zip(emb, q),
          z1 -> abs(z1[1] - z1[2]::DOUBLE * scale / 127.0)) AS errs
        FROM qz)
      SELECT vec_id, scale, list_max(errs) AS max_err,
        ${sqlFold("errs")} / n::DOUBLE AS mean_err
      FROM er ORDER BY vec_id""",
    "ss4_ann_recall" -> s"""
      WITH $sqlAnnRecallCtes
      SELECT method, n_truth, n_hits, n_hits * 1000 // n_truth AS recall_x1000
      FROM (
        SELECT 'ivf' AS method,
          (SELECT count(*) FROM bt) AS n_truth,
          (SELECT count(*) FROM bt JOIN vt
            USING (query_id, neighbor_id)) AS n_hits
        UNION ALL
        SELECT 'lsh' AS method,
          (SELECT count(*) FROM bt) AS n_truth,
          (SELECT count(*) FROM bt JOIN lt
            USING (query_id, neighbor_id)) AS n_hits)
      ORDER BY method""",
    "ss12_recall_families" -> s"""
      WITH $sqlAnnRecallCtes,
      ed AS (SELECT vec_id, list_transform(embedding, x9 -> x9::DOUBLE) AS xd
        FROM embeddings),
      edx AS (SELECT vec_id, xd, ${sqlDot("xd", "xd")} AS xx FROM ed),
      l2s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          (c.xx - 2.0*${sqlDot("q.xd", "c.xd")} + q.xx) AS dist
        FROM edx c, edx q WHERE q.vec_id < 3 AND q.vec_id <> c.vec_id),
      l2t AS (SELECT query_id, neighbor_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY dist ASC, neighbor_id ASC) AS rank FROM l2s)
        WHERE rank <= 5),
      dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${sqlDot("q.xd", "c.xd")} AS score
        FROM edx c, edx q WHERE q.vec_id < 3 AND q.vec_id <> c.vec_id),
      dott AS (SELECT query_id, neighbor_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) AS rank FROM dots)
        WHERE rank <= 5),
      pqk AS (SELECT query_id, neighbor_id FROM (${sqlPqTopK(4, 16, 8, 5, 3)})),
      pqrk AS (SELECT query_id, neighbor_id
        FROM (${sqlPqRerank(4, 16, 8, 20, 5, 3)})),
      ipqk AS (SELECT query_id, neighbor_id
        FROM (${sqlIvfPqTopK(4, 16, 8, 5, 3, 2)})),
      mipsk AS (SELECT query_id, neighbor_id FROM ($sqlMipsTopKSql)),
      sq8k AS (SELECT query_id, neighbor_id FROM (${sqlSq8TopK(5, 3)})),
      isq8k AS (SELECT query_id, neighbor_id
        FROM (${sqlIvfSq8TopK(5, 8, 2, 3)})),
      knng AS (SELECT vec_id AS query_id, neighbor_id
        FROM (${sqlKnnGraph(5, 16, 2)}))
      SELECT method, n_truth, n_hits, n_hits * 1000 // n_truth AS recall_x1000
      FROM (
        SELECT 'lsh' AS method, (SELECT count(*) FROM bt) AS n_truth,
          (SELECT count(*) FROM bt JOIN lt
            USING (query_id, neighbor_id)) AS n_hits
        UNION ALL SELECT 'ivf', (SELECT count(*) FROM bt),
          (SELECT count(*) FROM bt JOIN vt USING (query_id, neighbor_id))
        UNION ALL SELECT 'knn_graph', (SELECT count(*) FROM bt),
          (SELECT count(*) FROM bt JOIN knng USING (query_id, neighbor_id))
        UNION ALL SELECT 'pq', (SELECT count(*) FROM l2t),
          (SELECT count(*) FROM l2t JOIN pqk USING (query_id, neighbor_id))
        UNION ALL SELECT 'pq_rerank', (SELECT count(*) FROM l2t),
          (SELECT count(*) FROM l2t JOIN pqrk USING (query_id, neighbor_id))
        UNION ALL SELECT 'ivfpq', (SELECT count(*) FROM l2t),
          (SELECT count(*) FROM l2t JOIN ipqk USING (query_id, neighbor_id))
        UNION ALL SELECT 'ivfsq8', (SELECT count(*) FROM l2t),
          (SELECT count(*) FROM l2t JOIN isq8k USING (query_id, neighbor_id))
        UNION ALL SELECT 'mips', (SELECT count(*) FROM dott),
          (SELECT count(*) FROM dott JOIN mipsk
            USING (query_id, neighbor_id))
        UNION ALL SELECT 'sq8', (SELECT count(*) FROM dott),
          (SELECT count(*) FROM dott JOIN sq8k
            USING (query_id, neighbor_id)))
      ORDER BY method""",
    // per-truncation brute cosine over prefix slices, identical
    // fixed-order folds; truth = the full 64-dim ranking
    // trained coarse-IVF kNN graph twin: the full Lloyd training
    // chain, L2 home argmin (rank-1 window = the min_by total order),
    // top-2 probes by the training metric, cosine pair scores,
    // rank <= 3 — all the same fixed-order folds
    "ss14_knn_graph" -> s"""${sqlKnnGraph(3, 16, 2)}
      ORDER BY vec_id, rank""",
    // the Lloyd chain trained on the INDEX subset only, new batch
    // probed by the same (dist2, cid) order as the in-row pick
    "ss16_knn_incremental" -> s"""
      WITH ${sqlKmeansCtes(16,
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0)")},
      ${sqlKmAsg("c2", "homea")},
      newv AS (SELECT vec_id,
          list_transform(embedding, xn -> xn::DOUBLE) AS emb
        FROM embeddings WHERE vec_id % 10 = 0),
      newx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM newv),
      probes AS (SELECT * FROM (
          SELECT n.vec_id AS query_id, c.cid,
            (n.xx - 2.0*${sqlDot("n.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM newx n, c2 c)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      kisc AS (SELECT p.query_id AS vec_id, h.vec_id AS neighbor_id,
          ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx)) AS score
        FROM probes p JOIN homea h USING (cid)
        JOIN newx q ON q.vec_id = p.query_id
        JOIN ex x ON x.vec_id = h.vec_id
        WHERE p.query_id <> h.vec_id)
      SELECT vec_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, neighbor_id) AS rank FROM kisc)
      WHERE rank <= 3 ORDER BY vec_id, rank""",
    // the full-corpus Lloyd chain frozen, membership modified by the
    // CDF (deletes filtered, inserts argmin-assigned under the SAME
    // c2), queries probe top-2 lists and rank exact cosine
    "ss20_knn_cdf" -> sqlSs20KnnCdf,
    // the LAYOUT round-trip must serve the maintained index
    // bit-identically, so ss23's oracle is ss20's VERBATIM
    "ss23_knn_layout" -> sqlSs20KnnCdf,
    "ss28_knn_centroid_retrain" -> sqlSs28Retrain,
    // both directions' trained probes, rank-ordered neighborhood
    // averages, the max-margin filter, and the mutual flag — the
    // full CCMatrix-style mining chain replayed
    "ss31_bitext_margin" -> {
      val srcA = "(SELECT vec_id, embedding FROM embeddings WHERE label = 1)"
      val srcB = "(SELECT vec_id, embedding FROM embeddings WHERE label = 2)"
      def leg(qx: String, cs: String, home: String, ex: String,
          out: String): String = s"""
      ${out}p AS (SELECT * FROM (
          SELECT q.vec_id AS query_id, c.cid,
            (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM $qx q, $cs c)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      ${out}c AS (SELECT p.query_id AS vec_id, h.vec_id AS neighbor_id,
          ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx)) AS score
        FROM ${out}p p JOIN $home h USING (cid)
        JOIN $qx q ON q.vec_id = p.query_id
        JOIN $ex x ON x.vec_id = h.vec_id),
      $out AS (SELECT vec_id, neighbor_id, score, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY score DESC, neighbor_id) AS rank FROM ${out}c)
        WHERE rank <= 4)"""
      s"""
      WITH ${sqlKmeansCtes(8, srcB, "B")},
      ${sqlKmAsg("c2B", "homeB", "exB")},
      ${sqlKmeansCtes(8, srcA, "A")},
      ${sqlKmAsg("c2A", "homeA", "exA")},
      ${leg("exA", "c2B", "homeB", "exB", "fwd")},
      ${leg("exB", "c2A", "homeA", "exA", "bwd")},
      avga AS (SELECT vec_id,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(score ORDER BY rank)), (a1, x1) -> a1 + x1)
            / count(*)::DOUBLE AS avg_src
        FROM fwd GROUP BY vec_id),
      avgb AS (SELECT vec_id,
          list_reduce(list_prepend(0.0::DOUBLE,
            list(score ORDER BY rank)), (a1, x1) -> a1 + x1)
            / count(*)::DOUBLE AS avg_tgt
        FROM bwd GROUP BY vec_id),
      m AS (SELECT f.vec_id AS src_id, f.neighbor_id AS tgt_id,
          f.rank, f.score,
          floor(f.score * 2.0 / (a.avg_src + b.avg_tgt)
            * 1000000.0)::BIGINT AS margin_ppm
        FROM fwd f JOIN avga a USING (vec_id)
        JOIN avgb b ON b.vec_id = f.neighbor_id)
      SELECT m.src_id, m.tgt_id, m.rank, m.score, m.margin_ppm,
        coalesce(mu.mutual0, false) AS mutual
      FROM m LEFT JOIN (SELECT neighbor_id AS src_id,
          vec_id AS tgt_id, true AS mutual0 FROM bwd) mu
        USING (src_id, tgt_id)
      WHERE m.margin_ppm >= 1000000
      ORDER BY m.src_id, m.rank"""
    },
    // compaction preserves rows exactly: the compacted streamed-into
    // layout serves the full corpus under the shared trained
    // quantizer — train, assign, probe, rank with no CDF leg
    "ss30_knn_compact" -> s"""
      WITH ${sqlKmeansCtes(16)},
      ${sqlKmAsg("c2", "home")},
      qx AS (SELECT vec_id, emb, xx FROM ex WHERE vec_id < 3),
      probes AS (SELECT * FROM (
          SELECT q.vec_id AS query_id, c.cid,
            (q.xx - 2.0*${sqlDot("q.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM qx q, c2 c)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      kisc AS (SELECT p.query_id AS vec_id, h.vec_id AS neighbor_id,
          ${sqlDot("q.emb", "x.emb")} / (sqrt(q.xx) * sqrt(x.xx)) AS score
        FROM probes p JOIN home h USING (cid)
        JOIN qx q ON q.vec_id = p.query_id
        JOIN ex x ON x.vec_id = h.vec_id
        WHERE p.query_id <> h.vec_id)
      SELECT vec_id, rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY score DESC, neighbor_id) AS rank FROM kisc)
      WHERE rank <= 3 ORDER BY vec_id, rank""",
    // the same retrained assignment, aggregated per list with the
    // cap report columns
    "ss29_knn_layout_census" -> s"""
      WITH $sqlSs28Ctes
      SELECT cid, count(*)::BIGINT AS list_size,
        count(*) > 32 AS capped,
        greatest(count(*) - 32, 0)::BIGINT AS rows_dropped
      FROM rhome GROUP BY cid ORDER BY cid""",
    // the same trained home assignment, aggregated per list
    "ss15_knn_census" -> s"""
      WITH ${sqlKmeansCtes(16)},
      ${sqlKmAsg("c2", "homea")}
      SELECT cid, count(*) AS list_size, (count(*) > 8) AS capped,
        greatest(count(*) - 8, 0) AS rows_dropped
      FROM homea GROUP BY cid ORDER BY cid""",
    "ve12_mrl_recall" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      ${Seq(16, 32, 64).map { d =>
        s"""s$d AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${sqlDot(s"q.embedding[1:$d]", s"c.embedding[1:$d]")} /
          (sqrt(${sqlDot(s"q.embedding[1:$d]", s"q.embedding[1:$d]")}) *
           sqrt(${sqlDot(s"c.embedding[1:$d]", s"c.embedding[1:$d]")}))
            AS s
        FROM e c, e q WHERE q.vec_id < 3 AND q.vec_id <> c.vec_id),
      t$d AS (SELECT query_id, neighbor_id FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY s DESC, neighbor_id ASC) AS rank FROM s$d)
        WHERE rank <= 5)"""
      }.mkString(",\n      ")}
      SELECT d.dims, (SELECT count(*) FROM t64)::BIGINT AS n_truth,
        CASE d.dims
          WHEN 16 THEN (SELECT count(*) FROM t64 JOIN t16
            USING (query_id, neighbor_id))
          WHEN 32 THEN (SELECT count(*) FROM t64 JOIN t32
            USING (query_id, neighbor_id))
          ELSE (SELECT count(*) FROM t64 t JOIN t64 u
            USING (query_id, neighbor_id))
        END::BIGINT AS n_hits,
        CASE WHEN (SELECT count(*) FROM t64) = 0 THEN 0
          ELSE (CASE d.dims
            WHEN 16 THEN (SELECT count(*) FROM t64 JOIN t16
              USING (query_id, neighbor_id))
            WHEN 32 THEN (SELECT count(*) FROM t64 JOIN t32
              USING (query_id, neighbor_id))
            ELSE (SELECT count(*) FROM t64 t JOIN t64 u
              USING (query_id, neighbor_id))
          END) * 1000 // (SELECT count(*) FROM t64)
        END::BIGINT AS recall_x1000
      FROM (VALUES (16::BIGINT), (32::BIGINT), (64::BIGINT)) AS d(dims)
      ORDER BY d.dims""",
    "ve10_jl_project" -> s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, x8 -> x8::DOUBLE) AS xd
        FROM embeddings),
      p AS (SELECT vec_id, xd, list_transform(range(0, 16), j8 ->
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(list_zip(xd, range(0, len(xd))), z8 ->
              CASE (((((z8[2]*1000003 + j8 + 715827883) % 1000000007)
                      * ((z8[2]*1000003 + j8 + 715827883) % 1000000007)
                      + ((z8[2]*1000003 + j8 + 715827883) % 1000000007))
                     % 1000000007) % 6)
                WHEN 0 THEN z8[1] WHEN 1 THEN -z8[1]
                ELSE 0.0::DOUBLE END)),
            (a8,v8) -> a8+v8) * sqrt(3.0/16.0)) AS proj
        FROM e),
      n AS (SELECT vec_id, proj,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(proj, v9 -> v9*v9)), (a9,w9) -> a9+w9) AS pn,
          list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(xd, v7 -> v7*v7)), (a7,w7) -> a7+w7) AS xn
        FROM p)
      SELECT vec_id, x.dim AS dim, x.coord AS coord,
        CASE WHEN xn > 0 THEN floor(1000000.0 * pn / xn)::BIGINT
             ELSE 1000000::BIGINT END AS norm_ratio_ppm
      FROM (SELECT vec_id, pn, xn,
          unnest(list_transform(list_zip(proj, range(0, len(proj))),
            z6 -> {'dim': z6[2]::BIGINT, 'coord': z6[1]})) AS x
        FROM n)
      ORDER BY vec_id, dim""",
    "mx7_epoch_plan" -> s"""
      WITH t AS (SELECT source, count(*)::BIGINT AS n_docs,
          sum(len($toks))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      w AS (SELECT *, floor(sqrt(n_tokens::DOUBLE) * 1000000.0)::BIGINT
          AS w_micro FROM t),
      tot AS (SELECT sum(w_micro)::BIGINT AS w_total FROM w),
      p AS (SELECT w.source, w.n_docs, w.n_tokens,
          -- double-floor ppm surrogate, NOT integer a*1000000 // b:
          -- the integer product wraps BIGINT at trillion-token scale
          -- (mirrors Mixture.epochPlan exactly — one IEEE product,
          -- one quotient, one floor)
          CASE WHEN tot.w_total = 0 THEN 0::BIGINT
               ELSE floor(w.w_micro::DOUBLE * 1000000.0
                 / tot.w_total::DOUBLE)::BIGINT END AS weight_ppm
        FROM w, tot),
      q AS (SELECT *, floor($Mx7TargetTokens::DOUBLE
            * weight_ppm::DOUBLE / 1000000.0)::BIGINT
          AS target_tokens FROM p)
      SELECT source, n_docs, n_tokens, weight_ppm, target_tokens,
        (CASE WHEN n_tokens = 0 THEN 0
              ELSE floor(target_tokens::DOUBLE * 1000000.0
                / n_tokens::DOUBLE) END)::BIGINT
          AS epochs_ppm
      FROM q ORDER BY source""",
    "ve3_kmeans" -> s"""
      WITH ${sqlKmeansCtes()},
      ${sqlKmAsg("c2", "a2")}
      SELECT vec_id, cid AS cluster_id, dist2 FROM a2 ORDER BY vec_id""",
    // trained-quantizer IVF: the SAME two-round Lloyd chain yields c2;
    // corpus assigns under it, queries probe nprobe=2 lists by the
    // training metric (L2), candidates rank by exact cosine
    "ss6_ivf_trained" -> s"""
      WITH ${sqlKmeansCtes()},
      ${sqlKmAsg("c2", "a2")},
      qprobe AS (SELECT * FROM (
          SELECT x.vec_id AS query_id, c.cid,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM ex x, c2 c WHERE x.vec_id < 3)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      -- no DISTINCT: each vector has ONE home cid in a2, so a
      -- (query, neighbor) pair arises at most once (engine matches)
      cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
        FROM qprobe q JOIN a2 a USING (cid)
        WHERE q.query_id <> a.vec_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
          ${sqlDot("xq.emb", "xn.emb")}
            / (sqrt(xq.xx) * sqrt(xn.xx)) AS score
        FROM cand c
        JOIN ex xq ON xq.vec_id = c.query_id
        JOIN ex xn ON xn.vec_id = c.neighbor_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    "dd1_dedup_exact" -> s"""
      SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY array_to_string($toks, ' ')
      ORDER BY keep_id""",
    "dd2_dedup_jaccard" -> s"""
      WITH ds AS (SELECT doc_id, ${sqlShingles(toks)} AS sh FROM documents),
      dn AS (SELECT doc_id, sh, len(sh) AS n FROM ds),
      -- twin of the engine's df-capped candidate generation: pairs
      -- must share at least one shingle in <= 100 documents; the
      -- Jaccard itself is then exact over ALL shingles
      occ AS (SELECT doc_id, unnest(sh) AS s FROM ds),
      hot AS (SELECT s FROM occ GROUP BY s HAVING count(*) > 100),
      rare AS (SELECT doc_id, s FROM occ
        WHERE s NOT IN (SELECT s FROM hot)),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT c.a_id, c.b_id,
          len(list_intersect(da.sh, db.sh)) AS common,
          da.n + db.n - len(list_intersect(da.sh, db.sh)) AS union_size
        FROM cand c
        JOIN dn da ON da.doc_id = c.a_id
        JOIN dn db ON db.doc_id = c.b_id)
      SELECT a_id, b_id, common, union_size FROM pairs
      WHERE common * 100 >= union_size * 85
      ORDER BY a_id, b_id""",
    "dd3_dedup_minhash" -> s"""
      WITH $sqlMinhashCtes
      SELECT a_id, b_id, common, union_size FROM verified
      WHERE common * 100 >= union_size * 80
      ORDER BY a_id, b_id""",
    "dd8_dedup_clusters" -> s"""
      WITH RECURSIVE $sqlMinhashCtes,
      pairs AS (SELECT a_id, b_id FROM verified
        WHERE common * 100 >= union_size * 80),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
      SELECT id AS doc_id, cluster_id, (id = cluster_id) AS keep
      FROM labels ORDER BY doc_id""",
    "dd14_dedup_keep_best" -> s"""
      WITH RECURSIVE $sqlMinhashCtes,
      pairs AS (SELECT a_id, b_id FROM verified
        WHERE common * 100 >= union_size * 80),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      q AS (SELECT doc_id,
        ${sqlQuality} AS quality
        FROM documents),
      cl AS (SELECT q.doc_id, q.quality,
          coalesce(l.cluster_id, q.doc_id) AS cluster_id
        FROM q LEFT JOIN labels l ON l.id = q.doc_id),
      best AS (SELECT cluster_id, doc_id AS keep_id FROM (
        SELECT cluster_id, doc_id, row_number() OVER (
          PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT c.doc_id, c.cluster_id, b.keep_id,
        c.doc_id = b.keep_id AS keep, c.quality
      FROM cl c JOIN best b USING (cluster_id)
      ORDER BY c.doc_id""",
    // dd8's recursive closure + a size count over the (paired-only)
    // label frame; unpaired docs take n=1 via the left join
    "dd18_soft_dedup" -> s"""
      WITH RECURSIVE $sqlMinhashCtes,
      pairs AS (SELECT a_id, b_id FROM verified
        WHERE common * 100 >= union_size * 80),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      sz AS (SELECT cluster_id, count(*)::BIGINT AS n_copies
        FROM labels GROUP BY cluster_id),
      lab AS (SELECT l.id, l.cluster_id, s.n_copies
        FROM labels l JOIN sz s USING (cluster_id))
      SELECT d.doc_id,
        coalesce(l.cluster_id, d.doc_id) AS cluster_id,
        CAST(coalesce(l.n_copies, 1) AS BIGINT) AS n_copies,
        CAST(1000000 // coalesce(l.n_copies, 1) AS BIGINT) AS weight_ppm
      FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
      ORDER BY d.doc_id""",
    "q49_quota_sample" -> s"""
      WITH h AS (SELECT doc_id, lang,
        ${sqlFp("doc_id::VARCHAR")} AS h FROM documents),
      r AS (SELECT doc_id, lang, h,
        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        FROM h)
      SELECT doc_id, lang, h, rn FROM r WHERE rn <= 100
      ORDER BY lang, rn""",
    "dd19_simhash_incremental" -> s"""
      WITH h AS (SELECT doc_id, $sqlSimhash60 AS sh FROM documents),
      n AS (SELECT doc_id, sh FROM h WHERE doc_id % 10 = 0),
      i AS (SELECT doc_id, sh FROM h WHERE doc_id % 10 <> 0),
      nb AS (SELECT doc_id, sh, x.bid AS bid, x.bkey AS bkey
        FROM (SELECT doc_id, sh, unnest([
            {'bid': 0, 'bkey': sh & 32767},
            {'bid': 1, 'bkey': (sh >> 15) & 32767},
            {'bid': 2, 'bkey': (sh >> 30) & 32767},
            {'bid': 3, 'bkey': (sh >> 45) & 32767}]) AS x FROM n)),
      ib AS (SELECT doc_id, sh, x.bid AS bid, x.bkey AS bkey
        FROM (SELECT doc_id, sh, unnest([
            {'bid': 0, 'bkey': sh & 32767},
            {'bid': 1, 'bkey': (sh >> 15) & 32767},
            {'bid': 2, 'bkey': (sh >> 30) & 32767},
            {'bid': 3, 'bkey': (sh >> 45) & 32767}]) AS x FROM i)),
      cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id,
          a.sh AS new_sh, b.sh AS index_sh
        FROM nb a JOIN ib b ON a.bid = b.bid AND a.bkey = b.bkey)
      SELECT new_id, index_id, new_sh, index_sh,
        bit_count(xor(new_sh, index_sh)) AS dist
      FROM cand WHERE bit_count(xor(new_sh, index_sh)) <= 3
      ORDER BY new_id, index_id""",
    "dd4_dedup_simhash" -> s"""
      WITH $sqlSimhashPairCtes
      SELECT a_id, b_id, a_sh, b_sh, bit_count(xor(a_sh, b_sh)) AS dist
      FROM cand
      WHERE bit_count(xor(a_sh, b_sh)) <= 3
      ORDER BY a_id, b_id""",
    // same cluster contract as dd8 (min-id labels over the transitive
    // closure), so the oracle is the identical recursive-reach shape —
    // only the pair stream (SimHash, not MinHash) differs
    "dd10_dedup_clusters_stars" -> s"""
      WITH RECURSIVE $sqlSimhashPairCtes,
      pairs AS (SELECT a_id, b_id FROM cand
        WHERE bit_count(xor(a_sh, b_sh)) <= 3),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
      SELECT id AS doc_id, cluster_id, (id = cluster_id) AS keep
      FROM labels ORDER BY doc_id""",
    "dd6_dedup_embedding_lsh" -> {
      val buckets = (0 until 3).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("embedding", 6, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      bucketed AS (SELECT vec_id, embedding, nrm,
          x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, nrm, unnest($buckets) AS x FROM e)),
      cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
          a.embedding AS ae, a.nrm AS an, b.embedding AS be, b.nrm AS bn
        FROM bucketed a JOIN bucketed b
          ON a.tid = b.tid AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
      SELECT a_id, b_id, ${sqlDot("ae", "be")} / (an * bn) AS score
      FROM cand
      WHERE ${sqlDot("ae", "be")} / (an * bn) >= 0.4
      ORDER BY a_id, b_id"""
    },
    // dd6's bucket pipeline + dd8's recursive closure + dd14's
    // keep-best window, composed — the oracle of the full semantic
    // dedup. Survivor quality is the vector norm (same fixed-order
    // dot as the verify scores, so the DESC ordering is bit-exact).
    "dd15_dedup_semantic" -> {
      val buckets = (0 until 3).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("embedding", 6, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH RECURSIVE e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      bucketed AS (SELECT vec_id, embedding, nrm,
          x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, nrm, unnest($buckets) AS x FROM e)),
      cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
          a.embedding AS ae, a.nrm AS an, b.embedding AS be, b.nrm AS bn
        FROM bucketed a JOIN bucketed b
          ON a.tid = b.tid AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      pairs AS (SELECT a_id, b_id FROM cand
        WHERE ${sqlDot("ae", "be")} / (an * bn) >= 0.4),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      cl AS (SELECT e.vec_id, e.nrm,
          coalesce(l.cluster_id, e.vec_id) AS cluster_id
        FROM e LEFT JOIN labels l ON l.id = e.vec_id),
      best AS (SELECT cluster_id, vec_id AS keep_id FROM (
        SELECT cluster_id, vec_id, row_number() OVER (
          PARTITION BY cluster_id ORDER BY nrm DESC, vec_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT c.vec_id, c.cluster_id, b.keep_id,
        c.vec_id = b.keep_id AS keep
      FROM cl c JOIN best b USING (cluster_id) ORDER BY vec_id"""
    },
    // the full trained kNN-graph chain as the candidate source,
    // thresholded, then the dd15 closure + survivor arithmetic
    "dd20_semdedup_graph" -> s"""
      WITH RECURSIVE g AS (SELECT vec_id, neighbor_id, score
          FROM (${sqlKnnGraph(3, 16, 2)})),
      pairs AS (SELECT vec_id AS a_id, neighbor_id AS b_id FROM g
        WHERE score >= 0.4),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      en AS (SELECT vec_id,
          sqrt(${sqlDot("embedding", "embedding")}) AS nrm
        FROM embeddings),
      cl AS (SELECT en.vec_id, en.nrm,
          coalesce(l.cluster_id, en.vec_id) AS cluster_id
        FROM en LEFT JOIN labels l ON l.id = en.vec_id),
      best AS (SELECT cluster_id, vec_id AS keep_id FROM (
        SELECT cluster_id, vec_id, row_number() OVER (
          PARTITION BY cluster_id ORDER BY nrm DESC, vec_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT c.vec_id, c.cluster_id, b.keep_id,
        c.vec_id = b.keep_id AS keep
      FROM cl c JOIN best b USING (cluster_id) ORDER BY vec_id""",
    // positional 5-grams → cross-doc duplicated fingerprints →
    // gaps-and-islands span merge, all integer-exact
    "dd16_dup_spans" -> s"""
      WITH $sqlDupSpanCtes
      SELECT doc_id, min(pos) AS start_pos, max(pos) AS end_pos,
        count(*)::BIGINT AS n_grams, (max(pos) - min(pos) + 5)::INT AS n_tokens
      FROM sp GROUP BY doc_id, grp
      ORDER BY doc_id, start_pos""",
    "dd17_strip_spans" -> s"""
      WITH $sqlDupSpanCtes,
      spx AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        FROM sp GROUP BY doc_id, grp),
      spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans
        FROM spx GROUP BY doc_id)
      SELECT t.doc_id, len(t.toks)::INT AS n_tokens,
        (len(t.toks) - len(CASE WHEN l.spans IS NULL THEN t.toks
          ELSE list_filter(t.toks, (x0, i0) -> len(list_filter(l.spans,
            sp0 -> i0-1 >= sp0.s AND i0-1 <= sp0.e)) = 0) END))::INT
          AS n_removed,
        -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
        -- concat_ws over an empty array is '' — a fully-stripped doc
        -- reads as the empty string on both engines
        coalesce(array_to_string(CASE WHEN l.spans IS NULL THEN t.toks
          ELSE list_filter(t.toks, (x1, i1) -> len(list_filter(l.spans,
            sp1 -> i1-1 >= sp1.s AND i1-1 <= sp1.e)) = 0) END, ' '), '')
          AS clean_text
      FROM t LEFT JOIN spl l USING (doc_id)
      ORDER BY t.doc_id""",
    "dd11_embedding_incremental" -> {
      // dd6's bucket pipeline with the within-corpus a<b condition
      // swapped for the new×index cross condition (twin of dd9's)
      val buckets = (0 until 3).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("embedding", 6, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      bucketed AS (SELECT vec_id, embedding, nrm,
          x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, nrm, unnest($buckets) AS x FROM e)),
      cand AS (SELECT DISTINCT a.vec_id AS new_id, b.vec_id AS index_id,
          a.embedding AS ae, a.nrm AS an, b.embedding AS be, b.nrm AS bn
        FROM bucketed a JOIN bucketed b
          ON a.tid = b.tid AND a.bkey = b.bkey
          AND a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0)
      SELECT new_id, index_id, ${sqlDot("ae", "be")} / (an * bn) AS score
      FROM cand
      WHERE ${sqlDot("ae", "be")} / (an * bn) >= 0.4
      ORDER BY new_id, index_id"""
    },
    // dd11's bucket replay with the eval/corpus condition, then the
    // dc4 best-match window on top
    "dc5_semantic_contamination" -> {
      val buckets = (0 until 3).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("embedding", 6, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      bucketed AS (SELECT vec_id, embedding, nrm,
          x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, nrm, unnest($buckets) AS x FROM e)),
      cand AS (SELECT DISTINCT a.vec_id AS eval_id, b.vec_id AS vec_id,
          a.embedding AS ae, a.nrm AS an, b.embedding AS be, b.nrm AS bn
        FROM bucketed a JOIN bucketed b
          ON a.tid = b.tid AND a.bkey = b.bkey
          AND a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0),
      p AS (SELECT vec_id, eval_id,
          ${sqlDot("ae", "be")} / (an * bn) AS score
        FROM cand
        WHERE ${sqlDot("ae", "be")} / (an * bn) >= 0.4),
      r AS (SELECT vec_id, eval_id, score,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY score DESC, eval_id ASC) AS rn,
          count(*) OVER (PARTITION BY vec_id) AS n_matches
        FROM p)
      SELECT vec_id, CAST(n_matches AS BIGINT) AS n_matches, eval_id,
        score
      FROM r WHERE rn = 1 ORDER BY vec_id"""
    },
    "dd5_dedup_embedding" -> {
      // SQL twin of the LSH-routed plan: 4 tables of 4 hyperplanes
      // (disjoint plane sets via the same t*16 offsets), candidates =
      // same-bucket-in-any-table, then exact cosine verify.
      val buckets = (0 until 4).map { t =>
        s"{'tid': $t, 'bkey': ${sqlLshBucketOffset("embedding", 4, t * 16)}}"
      }.mkString("[", ", ", "]")
      s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      bucketed AS (SELECT vec_id, embedding, nrm,
          x.tid AS tid, x.bkey AS bkey
        FROM (SELECT vec_id, embedding, nrm, unnest($buckets) AS x FROM e)),
      cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
          a.embedding AS ae, a.nrm AS an, b.embedding AS be, b.nrm AS bn
        FROM bucketed a JOIN bucketed b
          ON a.tid = b.tid AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
      SELECT a_id, b_id, ${sqlDot("ae", "be")} / (an * bn) AS score
      FROM cand
      WHERE ${sqlDot("ae", "be")} / (an * bn) >= 0.4
      ORDER BY a_id, b_id"""
    },
    "dd7_curation_pipeline" -> s"""
      WITH langs(lang_c, stops) AS (VALUES
        ('de', ['der','die','und','das','ist','ein','zu']),
        ('en', ['the','a','of','and','to','in','is']),
        ('es', ['el','la','de','y','que','en','un']),
        ('fr', ['le','la','de','et','les','un','une']),
        ('zh', ['de','le','shi','bu','wo','ni','ta'])),
      base AS (SELECT doc_id, text, lang,
        len($toks) AS n_tokens,
        ${sqlQuality} AS quality
        FROM documents),
      pred AS (SELECT d.doc_id, l.lang_c AS lang_pred,
          ROW_NUMBER() OVER (PARTITION BY d.doc_id
            ORDER BY len(list_intersect($toks, l.stops)) DESC, l.lang_c ASC) AS rn
        FROM documents d, langs l),
      annotated AS (SELECT b.doc_id, b.text, b.lang, b.n_tokens, b.quality,
          p.lang_pred
        FROM base b JOIN (SELECT doc_id, lang_pred FROM pred WHERE rn = 1) p
          ON b.doc_id = p.doc_id),
      q AS (SELECT * FROM annotated WHERE quality >= 0.2 AND n_tokens >= 5),
      keepids AS (SELECT min(doc_id) AS doc_id FROM q
        GROUP BY array_to_string($toks, ' ')),
      ex AS (SELECT q.* FROM q JOIN keepids k ON q.doc_id = k.doc_id),
      dn AS (SELECT doc_id, sh, len(sh) AS n FROM
        (SELECT doc_id, ${sqlShingles(toks)} AS sh FROM ex)),
      -- df-capped candidates exactly as the engine generates them:
      -- df is counted over the exact-dedup survivors only
      occ7 AS (SELECT doc_id, unnest(sh) AS s FROM dn),
      hot7 AS (SELECT s FROM occ7 GROUP BY s HAVING count(*) > 100),
      rare7 AS (SELECT doc_id, s FROM occ7
        WHERE s NOT IN (SELECT s FROM hot7)),
      cand7 AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM rare7 a JOIN rare7 b ON a.s = b.s AND a.doc_id < b.doc_id),
      pairs AS (SELECT c.a_id, c.b_id,
          len(list_intersect(da.sh, db.sh)) AS common,
          da.n + db.n - len(list_intersect(da.sh, db.sh)) AS u
        FROM cand7 c
        JOIN dn da ON da.doc_id = c.a_id
        JOIN dn db ON db.doc_id = c.b_id),
      dropped AS (SELECT DISTINCT b_id AS doc_id FROM pairs
        WHERE common * 100 >= u * 92)
      SELECT doc_id, lang, lang_pred, n_tokens, quality
      FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id""",
    // the DSIR trajectory: hashed unigram+bigram buckets, add-one
    // smoothed ppb rates, the log-free rational score surrogate, and
    // the ∝-weight hash coin — HUGEINT mirrors the decimal lane
    // distinct gram fps, bucketed at ds1's width, rolled up to the
    // one-row collision report
    "ds3_dsir_census" -> s"""
      WITH g AS (SELECT DISTINCT fp FROM (SELECT
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents)),
      pb AS (SELECT fp % 1024 AS b, count(*)::BIGINT AS load
        FROM g GROUP BY 1)
      SELECT coalesce(sum(load), 0)::BIGINT AS n_grams,
        1024::BIGINT AS buckets,
        count(*)::BIGINT AS occupied,
        coalesce(max(load), 0)::BIGINT AS max_load,
        coalesce(sum(CASE WHEN load > 1 THEN load ELSE 0 END), 0)::BIGINT
          AS collided_grams,
        (CASE WHEN coalesce(sum(load), 0) = 0 THEN 0
          ELSE coalesce(sum(CASE WHEN load > 1 THEN load ELSE 0 END), 0)
            * 1000000 // sum(load) END)::BIGINT AS collision_ppm
      FROM pb""",
    "ds1_dsir_select" -> s"""
      WITH rg AS (SELECT doc_id,
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents WHERE source <> 'src0'),
      tg AS (SELECT doc_id,
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents WHERE source = 'src0'),
      rb AS (SELECT doc_id, fp % 1024 AS b, count(*)::BIGINT AS c
        FROM rg GROUP BY 1, 2),
      tb AS (SELECT doc_id, fp % 1024 AS b, count(*)::BIGINT AS c
        FROM tg GROUP BY 1, 2),
      rcen AS (SELECT b, sum(c)::BIGINT AS rc FROM rb GROUP BY 1),
      tcen AS (SELECT b, sum(c)::BIGINT AS tc FROM tb GROUP BY 1),
      rt AS (SELECT sum(c)::BIGINT AS rtot FROM rb),
      tt AS (SELECT sum(c)::BIGINT AS ttot FROM tb),
      w AS (SELECT b,
          greatest((coalesce(rc, 0) + 1)::HUGEINT * 1000000000
            // (rtot + 1024), 1) AS r_ppb,
          greatest((coalesce(tc, 0) + 1)::HUGEINT * 1000000000
            // (ttot + 1024), 1) AS t_ppb
        FROM rcen FULL OUTER JOIN tcen USING (b), rt, tt),
      sc AS (SELECT rb.doc_id, sum(rb.c)::BIGINT AS n_grams,
          sum(rb.c::HUGEINT * w.t_ppb) AS tm,
          sum(rb.c::HUGEINT * w.r_ppb) AS rm
        FROM rb JOIN w USING (b) GROUP BY 1),
      s2 AS (SELECT doc_id, n_grams,
          (tm * 1000000 // rm)::BIGINT AS score_ppm FROM sc),
      mx AS (SELECT max(score_ppm)::BIGINT AS m FROM s2)
      SELECT doc_id, n_grams, score_ppm,
        (${sqlFp("concat(42, ':', doc_id)")} % 1000000)::HUGEINT * mx.m
          < score_ppm::HUGEINT * 1000000 AS selected
      FROM s2, mx ORDER BY doc_id""",
    // t26's chain at rank 1 labels the topics; mx5's sqrt flatten
    // replays over them
    // eight unrolled Group-DRO rounds over the frozen per-source
    // proxy loss — the whole reweighting trajectory is the oracle
    "mx10_doremi_reweight" -> sqlMx10Doremi,
    // the same rounds, final alpha splitting the fixed token budget
    "mx11_doremi_plan" -> sqlMx11DoremiPlan,
    "mx9_topic_mixture" -> s"""
      WITH tk AS (SELECT doc_id, unnest(${sqlToks("text")}) AS term
        FROM documents),
      tfx AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk
        GROUP BY 1, 2),
      dfq AS (SELECT term, count(*)::BIGINT AS df FROM tfx GROUP BY 1),
      nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      sc AS (SELECT tfx.doc_id, tfx.term,
          tfx.tf * ((2*nn.n_docs - 2*dfq.df + 1) * 1000000
            // (2*dfq.df + 1)) AS score_ppm
        FROM tfx JOIN dfq USING (term), nn),
      topic AS (SELECT doc_id, term AS topic FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_ppm DESC, term) AS rank FROM sc)
        WHERE rank = 1),
      s AS (SELECT topic, count(*) AS n_grp FROM topic GROUP BY 1),
      t AS (SELECT min(n_grp)::BIGINT AS n_min FROM s),
      r AS (SELECT s.topic, floor(1000.0 *
          sqrt(t.n_min::DOUBLE / s.n_grp::DOUBLE))::BIGINT AS rate_mil
        FROM s CROSS JOIN t)
      SELECT d.doc_id, d.topic, r.rate_mil
      FROM topic d JOIN r USING (topic)
      WHERE ${sqlFp("d.doc_id::VARCHAR")} % 1000 < r.rate_mil
      ORDER BY d.doc_id""",
    // ds1's weight chain trained on the standing split only, scores
    // over the arriving split; the full bucket domain (range 0..1024)
    // gives unseen buckets their smoothed default exactly as the
    // engine's packed maps do
    "ds2_dsir_incremental" -> s"""
      WITH rg AS (SELECT doc_id,
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents WHERE source <> 'src0' AND doc_id % 10 <> 0),
      tg AS (SELECT doc_id,
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents WHERE source = 'src0'),
      rcen AS (SELECT fp % 1024 AS b, count(*)::BIGINT AS rc
        FROM rg GROUP BY 1),
      tcen AS (SELECT fp % 1024 AS b, count(*)::BIGINT AS tc
        FROM tg GROUP BY 1),
      rt AS (SELECT count(*)::BIGINT AS rtot FROM rg),
      tt AS (SELECT count(*)::BIGINT AS ttot FROM tg),
      dom AS (SELECT range::BIGINT AS b FROM range(0, 1024)),
      w AS (SELECT dom.b,
          greatest((coalesce(rc, 0) + 1)::HUGEINT * 1000000000
            // (rt.rtot + 1024), 1)::BIGINT AS r_ppb,
          greatest((coalesce(tc, 0) + 1)::HUGEINT * 1000000000
            // (tt.ttot + 1024), 1)::BIGINT AS t_ppb
        FROM dom LEFT JOIN rcen ON rcen.b = dom.b
        LEFT JOIN tcen ON tcen.b = dom.b, rt, tt),
      ag AS (SELECT doc_id, fp % 1024 AS b FROM (SELECT doc_id,
          unnest(${sqlGrams(toks, 1)} || ${sqlGrams(toks, 2)}) AS fp
        FROM documents WHERE source <> 'src0' AND doc_id % 10 = 0)),
      sc AS (SELECT ag.doc_id, count(*)::BIGINT AS n_grams,
          sum(w.t_ppb)::BIGINT AS tm, sum(w.r_ppb)::BIGINT AS rm
        FROM ag JOIN w ON w.b = ag.b GROUP BY 1)
      SELECT doc_id, n_grams,
        (tm::HUGEINT * 1000000 // rm)::BIGINT AS score_ppm
      FROM sc ORDER BY doc_id""",
    // the engine's two-phase (source, quality-bucket) rank collapses
    // to a plain within-source quality rank — the oracle states the
    // SEMANTICS; the bucketing is purely the skew-safe execution shape
    "cr1_source_caps" -> s"""
      WITH q AS (SELECT doc_id, source, ${sqlQuality} AS quality
        FROM documents),
      r AS (SELECT doc_id, source, quality,
          row_number() OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id)::BIGINT AS src_rank
        FROM q)
      SELECT doc_id, source, quality, src_rank FROM r
      WHERE src_rank <= 10 ORDER BY source, src_rank""",
    // naive per-source sort twin of the grouped-histogram engine
    // plan; the target rank is the same q69 split arithmetic
    "cr2_quality_floor" -> s"""
      WITH q AS (SELECT doc_id, source, ${sqlQuality} AS quality
        FROM documents),
      n AS (SELECT source, count(*)::BIGINT AS n_grp FROM q GROUP BY 1),
      r AS (SELECT source,
          ((n_grp - 1) // 1000000 * 250000
            + ((n_grp - 1) % 1000000) * 250000 // 1000000)::BIGINT AS r
        FROM n),
      s AS (SELECT doc_id, source, quality,
          (row_number() OVER (PARTITION BY source
            ORDER BY quality, doc_id) - 1)::BIGINT AS rn FROM q),
      t AS (SELECT s.source, s.quality AS thr FROM s
        JOIN r ON r.source = s.source AND s.rn = r.r)
      SELECT q.doc_id, q.source, q.quality, t.thr
      FROM q JOIN t ON t.source = q.source
      WHERE q.quality >= t.thr ORDER BY q.source, q.doc_id""",
    "ss1_cosine_topk" -> s"""${sqlCosineTopK(10, 3)}
      ORDER BY query_id, rank""",
    "ss2_ann_lsh" -> s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
        ${sqlLshBucket("embedding")} AS bucket FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
        FROM e WHERE vec_id < 3),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
          ${sqlDot("q.qe", "e.embedding")} / (q.qn * e.nrm) AS score
        FROM e JOIN q ON e.bucket = q.bucket
        WHERE q.query_id <> e.vec_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // the norm-augmentation reduction replayed: augmented corpus
    // vectors (extra coordinate sqrt(M^2 - |x|^2)) bucket through the
    // same dd6-style hyperplane tables; candidates rank by RAW dot
    "ss10_mips_topk" -> sqlMipsTopKSql,
    // per-dim affine codes + the fixed-order dequantized dot
    "ss17_sq8_topk" -> s"""SELECT * FROM (${sqlSq8TopK(5, 3)})
      ORDER BY query_id, rank""",
    // trained coarse routing + dequantized-L2 candidate ranking
    "ss18_ivfsq8_topk" -> s"""SELECT * FROM (${sqlIvfSq8TopK(5, 8, 2, 3)})
      ORDER BY query_id, rank""",
    // the layout round-trip must serve EXACTLY what direct ivf-sq8
    // serving computes — one oracle states both semantics
    // the frozen grid replayed per dim, probed by the drifted batch
    "ss26_sq8_drift_census" -> s"""
      WITH sx AS (SELECT u.pos - 1 AS pos, min(u.v) AS mn, max(u.v) AS mx
        FROM (SELECT unnest(embedding)::DOUBLE AS v,
            generate_subscripts(embedding, 1) AS pos FROM embeddings) u
        GROUP BY 1),
      fr AS (SELECT pos, mn AS mn_frozen,
          CASE WHEN mx > mn THEN mx - mn ELSE 0 END AS span_frozen
        FROM sx),
      b AS (SELECT u.pos - 1 AS pos, u.v * 1.25 + 0.1 AS v
        FROM (SELECT unnest(embedding)::DOUBLE AS v,
            generate_subscripts(embedding, 1) AS pos FROM embeddings) u)
      SELECT f.pos::BIGINT AS pos, f.mn_frozen, f.span_frozen,
        min(b.v) AS mn_new, max(b.v) AS mx_new,
        sum(CASE WHEN b.v < f.mn_frozen THEN 1 ELSE 0 END)::BIGINT
          AS n_below,
        sum(CASE WHEN b.v > f.mn_frozen + f.span_frozen
          THEN 1 ELSE 0 END)::BIGINT AS n_above,
        ((sum(CASE WHEN b.v < f.mn_frozen THEN 1 ELSE 0 END)
          + sum(CASE WHEN b.v > f.mn_frozen + f.span_frozen
              THEN 1 ELSE 0 END)) * 1000000 // count(*))::BIGINT
          AS oog_ppm
      FROM b JOIN fr f USING (pos)
      GROUP BY 1, 2, 3 ORDER BY pos""",
    // frozen stats + frozen centroids from the ORIGINAL corpus, the
    // CDF-modified membership encoded and served under them — the
    // layout rewrite must equal this from-scratch replay
    "ss24_sq8_layout_cdf" -> {
      val dq = "st.mns[i] + cd.codes[i]::DOUBLE * st.spans[i] / 255.0"
      s"""
      WITH ${sqlKmeansCtes(8)},
      ${sqlKmAsg("c2", "a2")},
      sx AS (SELECT u.pos, min(u.v) AS mn, max(u.v) AS mx FROM
          (SELECT unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS pos FROM embeddings) u
        GROUP BY 1),
      st AS (SELECT list(mn ORDER BY pos) AS mns,
          list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY pos)
            AS spans FROM sx),
      ocd AS (SELECT vec_id AS neighbor_id,
          list_transform(range(1, len(embedding) + 1), i ->
            CASE WHEN st.spans[i] > 0 THEN greatest(0, least(255,
              floor((embedding[i]::DOUBLE - st.mns[i]) * 255.0
                / st.spans[i])::BIGINT))
            ELSE 0 END) AS codes
        FROM embeddings, st),
      newv AS (SELECT vec_id + 100000 AS vec_id,
          list_transform(embedding, xn -> xn::DOUBLE) AS emb
        FROM embeddings WHERE vec_id % 31 = 7),
      newx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM newv),
      ${sqlKmAsg("c2", "newasg", "newx")},
      newcd AS (SELECT vec_id AS neighbor_id,
          list_transform(range(1, len(emb) + 1), i ->
            CASE WHEN st.spans[i] > 0 THEN greatest(0, least(255,
              floor((emb[i] - st.mns[i]) * 255.0
                / st.spans[i])::BIGINT))
            ELSE 0 END) AS codes
        FROM newv, st),
      kept AS (SELECT vec_id AS neighbor_id, cid FROM a2
          WHERE vec_id % 97 <> 5
        UNION ALL SELECT vec_id, cid FROM newasg),
      cda AS (SELECT neighbor_id, codes FROM ocd
          WHERE neighbor_id % 97 <> 5
        UNION ALL SELECT neighbor_id, codes FROM newcd),
      qprobe AS (SELECT * FROM (
          SELECT x.vec_id AS query_id, c.cid,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM ex x, c2 c WHERE x.vec_id < 3)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      cand AS (SELECT q.query_id, k2.neighbor_id
        FROM qprobe q JOIN kept k2 USING (cid)
        WHERE q.query_id <> k2.neighbor_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
          ${sqlFold("list_transform(range(1, len(cd.codes) + 1), i -> " +
            s"(xq.emb[i] - ($dq)) * (xq.emb[i] - ($dq)))")} AS dist2
        FROM cand c
        JOIN ex xq ON xq.vec_id = c.query_id
        JOIN cda cd ON cd.neighbor_id = c.neighbor_id, st)
      SELECT query_id, rank, neighbor_id, dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist2 ASC, neighbor_id ASC) AS rank FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    "ss21_sq8_layout" -> s"""SELECT * FROM (${sqlIvfSq8TopK(5, 8, 2, 3)})
      ORDER BY query_id, rank""",
    // the refreshed grid derives from the MODIFIED membership (kept
    // originals + drifted arrivals); training stays on the ORIGINAL
    // corpus (frozen centroids); every member re-encodes in-grid
    "ss27_sq8_stats_refresh" -> {
      val dq = "st.mns[i] + cd.codes[i]::DOUBLE * st.spans[i] / 255.0"
      s"""
      WITH ${sqlKmeansCtes(8)},
      ${sqlKmAsg("c2", "a2")},
      newv AS (SELECT vec_id + 100000 AS vec_id,
          list_transform(embedding, xn -> xn::DOUBLE * 1.25 + 0.1)
            AS emb
        FROM embeddings WHERE vec_id % 31 = 7),
      mem AS (SELECT vec_id,
          list_transform(embedding, xn -> xn::DOUBLE) AS emb
          FROM embeddings WHERE vec_id % 97 <> 5
        UNION ALL SELECT vec_id, emb FROM newv),
      sx AS (SELECT u.pos, min(u.v) AS mn, max(u.v) AS mx FROM
          (SELECT unnest(emb) AS v,
             generate_subscripts(emb, 1) AS pos FROM mem) u
        GROUP BY 1),
      st AS (SELECT list(mn ORDER BY pos) AS mns,
          list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END ORDER BY pos)
            AS spans FROM sx),
      cda AS (SELECT vec_id AS neighbor_id,
          list_transform(range(1, len(emb) + 1), i ->
            CASE WHEN st.spans[i] > 0 THEN greatest(0, least(255,
              floor((emb[i] - st.mns[i]) * 255.0
                / st.spans[i])::BIGINT))
            ELSE 0 END) AS codes
        FROM mem, st),
      newx AS (SELECT vec_id, emb, ${sqlDot("emb", "emb")} AS xx
        FROM newv),
      ${sqlKmAsg("c2", "newasg", "newx")},
      kept AS (SELECT vec_id AS neighbor_id, cid FROM a2
          WHERE vec_id % 97 <> 5
        UNION ALL SELECT vec_id, cid FROM newasg),
      qprobe AS (SELECT * FROM (
          SELECT x.vec_id AS query_id, c.cid,
            (x.xx - 2.0*${sqlDot("x.emb", "c.cemb")}
              + ${sqlDot("c.cemb", "c.cemb")}) AS dist2
          FROM ex x, c2 c WHERE x.vec_id < 3)
        QUALIFY row_number() OVER (PARTITION BY query_id
          ORDER BY dist2, cid) <= 2),
      cand AS (SELECT q.query_id, k2.neighbor_id
        FROM qprobe q JOIN kept k2 USING (cid)
        WHERE q.query_id <> k2.neighbor_id),
      scored AS (SELECT c.query_id, c.neighbor_id,
          ${sqlFold("list_transform(range(1, len(cd.codes) + 1), i -> " +
            s"(xq.emb[i] - ($dq)) * (xq.emb[i] - ($dq)))")} AS dist2
        FROM cand c
        JOIN ex xq ON xq.vec_id = c.query_id
        JOIN cda cd ON cd.neighbor_id = c.neighbor_id, st)
      SELECT query_id, rank, neighbor_id, dist2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY dist2 ASC, neighbor_id ASC) AS rank FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    // hard rows replay the trained graph chain; random rows replay
    // the hash-ordered pool draw with the self-collision step
    "ss19_hard_negatives" -> s"""
      WITH hard AS (SELECT vec_id, 'hard' AS kind,
          rank::BIGINT AS neg_rank, neighbor_id AS neg_id, score
        FROM (${sqlKnnGraph(3, 16, 2)})),
      pool AS (SELECT list(vec_id ORDER BY h, vec_id) AS ids FROM (
          SELECT vec_id, ${sqlFp("vec_id::VARCHAR")} AS h
          FROM embeddings ORDER BY h, vec_id LIMIT 64)),
      rj AS (SELECT e.vec_id, j,
          ${sqlFp("concat(42, ':', e.vec_id, ':', j)")} % len(pool.ids)
            AS idx
        FROM (SELECT vec_id, unnest(range(0, 2)) AS j FROM embeddings) e,
          pool),
      rnd AS (SELECT rj.vec_id, 'random' AS kind,
          (rj.j + 1)::BIGINT AS neg_rank,
          CASE WHEN pool.ids[(rj.idx + 1)::INT] = rj.vec_id
            THEN pool.ids[((rj.idx + 1) % len(pool.ids) + 1)::INT]
            ELSE pool.ids[(rj.idx + 1)::INT] END AS neg_id,
          NULL::DOUBLE AS score
        FROM rj, pool)
      SELECT * FROM (SELECT * FROM hard UNION ALL SELECT * FROM rnd)
      ORDER BY vec_id, kind, neg_rank""",
    "ss3_ivf_topk" -> s"""
      WITH e AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
      cents AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        FROM e WHERE vec_id < 16),
      cassign AS (SELECT neighbor_id, nemb, nnrm, cid FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS nemb, e.nrm AS nnrm,
          c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ${sqlDot("e.embedding", "c.cemb")} / (e.nrm * c.cnrm)
              DESC, c.cid ASC) AS rn
        FROM e, cents c) WHERE rn = 1),
      qassign AS (SELECT query_id, qemb, qnrm, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qemb, q.nrm AS qnrm,
          c.cid,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.embedding", "c.cemb")} / (q.nrm * c.cnrm)
              DESC, c.cid ASC) AS rn
        FROM e q, cents c WHERE q.vec_id < 3) WHERE rn <= 2),
      -- no DISTINCT: cassign keeps rn = 1, ONE home cid per vector,
      -- so a (query, neighbor) pair arises at most once (engine matches)
      cand AS (SELECT a.query_id, b.neighbor_id,
          a.qemb, a.qnrm, b.nemb, b.nnrm
        FROM qassign a JOIN cassign b
          ON a.cid = b.cid AND a.query_id <> b.neighbor_id),
      scored AS (SELECT query_id, neighbor_id,
          ${sqlDot("qemb", "nemb")} / (qnrm * nnrm) AS score FROM cand),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, rank, neighbor_id, score FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",
    "m3_frame_sample" -> s"""
      WITH m AS (SELECT doc_id AS media_id,
          (['image','audio','video'])[(doc_id % 3 + 1)] AS kind,
          text, octet_length(encode(text)) AS n
        FROM documents),
      f AS (SELECT media_id, kind, t.i0 AS frame_idx,
          t.i0 * 32 AS frame_offset, text
        FROM m, unnest(range(0, (n // 16 + 1) // 2)) AS t(i0))
      SELECT media_id, kind, frame_idx, frame_offset,
        ${sqlFp("substring(text, frame_offset + 1, 16)")} AS frame_hash
      FROM f ORDER BY media_id, frame_idx""",
    "m4_image_decode" -> """
      SELECT d.doc_id AS media_id,
        CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        CAST(SUM((d.doc_id * 7 + i.i * 13) % 256) AS BIGINT) AS sum_r,
        CAST(SUM((d.doc_id * 11 + i.i * 17) % 256) AS BIGINT) AS sum_g,
        CAST(SUM((d.doc_id * 13 + i.i * 19) % 256) AS BIGINT) AS sum_b
      FROM documents d
      CROSS JOIN (SELECT range AS i FROM range(16)) i
      GROUP BY d.doc_id ORDER BY media_id""",
    // closed-form audio fingerprints (per-frame Lehmer seeds over the
    // shared plane table, 16 linear samples per frame) then the plain
    // all-pairs Hamming join — the guarded block join must equal it
    "m12_audio_neardup" -> s"""
      WITH $sqlAudioFpCtes
      SELECT a.media_id AS a_id, b2.media_id AS b_id,
        (bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)))::INT
          AS dist
      FROM h a JOIN h b2 ON a.media_id < b2.media_id
      WHERE bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 3
      ORDER BY a_id, b_id""",
    // the m12 closed form verbatim (PCM16 is lossless through BOTH
    // containers, so even the distances replay) with each side's
    // codec attached by the id-parity rule the fixture renders with
    "m15_audio_codec_neardup" -> s"""
      WITH $sqlAudioFpCtes
      SELECT a.media_id AS a_id, b2.media_id AS b_id,
        (bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)))::INT
          AS dist,
        CASE WHEN a.media_id % 2 = 0 THEN 'wav' ELSE 'aiff' END
          AS a_codec,
        CASE WHEN b2.media_id % 2 = 0 THEN 'wav' ELSE 'aiff' END
          AS b_codec
      FROM h a JOIN h b2 ON a.media_id < b2.media_id
      WHERE bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 3
      ORDER BY a_id, b_id""",
    "m5_image_dhash" -> s"""
      WITH $sqlDHashCtes
      SELECT media_id, CAST(9 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        hi AS hash_hi, lo AS hash_lo
      FROM h ORDER BY media_id""",
    // m5's closed-form dHash recomputed per media, then the plain
    // all-pairs Hamming join — the pigeonhole block join is complete
    // at maxDist<blocks, so the guarded candidate path must equal it
    "m10_image_neardup" -> s"""
      WITH $sqlDHashCtes
      SELECT a.media_id AS a_id, b2.media_id AS b_id,
        (bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)))::INT
          AS dist
      FROM h a JOIN h b2 ON a.media_id < b2.media_id
      WHERE bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) <= 3
      ORDER BY a_id, b_id""",
    // the planted-pair closed form: every variant doc (id ≡ 1 mod
    // 101, id ≥ 101, base present) pairs with its base across the
    // PNG/JPEG boundary, and NOTHING else pairs (measured floor 17
    // bits vs the ≤ 3-bit radius) — the codec-stable invariant the
    // cross-codec computation must land on exactly
    "m14_image_codec_neardup" -> """
      SELECT b.doc_id AS a_id, v.doc_id AS b_id
      FROM documents v JOIN documents b ON b.doc_id = v.doc_id - 1
      WHERE v.doc_id % 101 = 1 AND v.doc_id >= 101
      ORDER BY a_id, b_id""",
    // the union of the m10 image pairs and the dd3 caption pairs,
    // closed transitively, survivor = dd14's (quality desc, id asc)
    "m13_pair_curation" -> s"""
      WITH RECURSIVE $sqlMinhashCtes,
      $sqlDHashCtes,
      ipairs AS (SELECT a.media_id AS a_id, b2.media_id AS b_id
        FROM h a JOIN h b2 ON a.media_id < b2.media_id
        WHERE bit_count(xor(a.hi, b2.hi))
          + bit_count(xor(a.lo, b2.lo)) <= 3),
      cpairs AS (SELECT a_id, b_id FROM verified
        WHERE common * 100 >= union_size * 80),
      pairs AS (SELECT a_id, b_id FROM ipairs
        UNION SELECT a_id, b_id FROM cpairs),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      labels AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      q AS (SELECT doc_id,
        ${sqlQuality} AS quality
        FROM documents),
      cl AS (SELECT q.doc_id, q.quality,
          coalesce(l.cluster_id, q.doc_id) AS cluster_id
        FROM q LEFT JOIN labels l ON l.id = q.doc_id),
      best AS (SELECT cluster_id, doc_id AS keep_id FROM (
        SELECT cluster_id, doc_id, row_number() OVER (
          PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rn
        FROM cl) WHERE rn = 1)
      SELECT c.doc_id, c.cluster_id, bb.keep_id,
        c.doc_id = bb.keep_id AS keep, c.quality
      FROM cl c JOIN best bb USING (cluster_id)
      ORDER BY c.doc_id""",
    // the same closed-form dHashes split new (even) vs index (odd),
    // then the plain all-pairs cross-boundary Hamming join — the
    // guarded probe path must equal it
    "m11_image_incremental" -> s"""
      WITH $sqlDHashCtes,
      n AS (SELECT media_id AS doc_id, hi, lo FROM h
        WHERE media_id % 2 = 0),
      ix AS (SELECT media_id AS doc_id, hi, lo FROM h
        WHERE media_id % 2 <> 0)
      SELECT n.doc_id AS new_id, ix.doc_id AS index_id,
        (bit_count(xor(n.hi, ix.hi)) + bit_count(xor(n.lo, ix.lo)))::INT
          AS dist
      FROM n, ix
      WHERE bit_count(xor(n.hi, ix.hi)) + bit_count(xor(n.lo, ix.lo)) <= 3
      ORDER BY new_id, index_id""",
    // m5's closed-form dHash bits, extended with the per-scene seed
    // term, then the same lag/xor/bit_count + running-cumsum windows
    "m7_scene_cuts" -> s"""
      WITH $sqlSceneCtes
      SELECT media_id, frame_idx, hash_hi, hash_lo, dist, is_cut,
        scene_no
      FROM scenes ORDER BY media_id, frame_idx""",
    // the m7 chain grouped to one row per detected scene; min_by picks
    // the first frame's hashes
    "m8_keyframes" -> s"""
      WITH $sqlSceneCtes
      SELECT media_id, scene_no, min(frame_idx) AS keyframe_idx,
        min_by(hash_hi, frame_idx) AS hash_hi,
        min_by(hash_lo, frame_idx) AS hash_lo,
        count(*)::BIGINT AS n_frames
      FROM scenes GROUP BY media_id, scene_no
      ORDER BY media_id, scene_no""",
    // m6's closed-form samples gated by the leading/trailing silence
    // schedule, then the endpoint rollup
    "m9_audio_trim" -> """
      WITH s AS (
        SELECT d.doc_id AS media_id, t.i // 32 AS frame,
          CASE WHEN (t.i // 32) >= d.doc_id % 3
                AND (t.i // 32) < 8 - d.doc_id % 2
            THEN ((d.doc_id * 7349 + t.i * 131 + 17) % 65536) - 32768
            ELSE 0 END AS smp
        FROM documents d, unnest(range(0, 256)) AS t(i)),
      e AS (SELECT media_id, frame, CAST(sum(smp * smp) AS BIGINT)
          AS energy
        FROM s GROUP BY 1, 2)
      SELECT media_id,
        CAST(min(CASE WHEN energy > 0 THEN frame END) AS BIGINT)
          AS first_active,
        CAST(max(CASE WHEN energy > 0 THEN frame END) AS BIGINT)
          AS last_active,
        CAST(sum(CASE WHEN energy > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_active,
        CAST(sum(CASE WHEN energy = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_silent
      FROM e GROUP BY media_id ORDER BY media_id""",
    "m6_audio_energy" -> """
      WITH s AS (
        SELECT d.doc_id AS media_id, t.i // 32 AS frame,
          ((d.doc_id * 7349 + t.i * 131 + 17) % 65536) - 32768 AS smp
        FROM documents d, unnest(range(0, 256)) AS t(i))
      SELECT media_id, CAST(frame AS BIGINT) AS frame,
        CAST(sum(smp * smp) AS BIGINT) AS energy
      FROM s GROUP BY media_id, frame ORDER BY media_id, frame""",
    "m1_multimodal_features" -> s"""
      SELECT doc_id AS media_id,
        (['image','audio','video'])[(doc_id % 3 + 1)] AS kind,
        octet_length(encode(text)) AS n_bytes,
        ord(substring(text, 1, 1)) AS first_byte,
        ${sqlFp("text")} AS byte_hash,
        (${sqlFp("text")} % 997)::DOUBLE AS hash_bucket
      FROM documents ORDER BY media_id""",
    "m2_multimodal_transform" -> """
      WITH m AS (SELECT doc_id AS media_id,
          (['image','audio','video'])[(doc_id % 3 + 1)] AS kind,
          octet_length(encode(text)) AS n_bytes,
          (n_chars % 640)::INT AS w, (n_chars % 480)::INT AS h
        FROM documents),
      r AS (SELECT media_id, kind, n_bytes, w, h,
          CASE WHEN w <= 0 OR h <= 0 THEN 0
            ELSE least(least(1000 * 320 // w, 1000 * 240 // h), 1000) END
            AS scale_mil
        FROM m),
      f AS (SELECT media_id, kind,
          CASE WHEN w <= 0 OR h <= 0 THEN 0
            ELSE (w * scale_mil // 1000)::INT END AS out_w,
          CASE WHEN w <= 0 OR h <= 0 THEN 0
            ELSE (h * scale_mil // 1000)::INT END AS out_h,
          len(list_filter(range(0, n_bytes // 16), i2 -> i2 % 2 = 0))
            AS n_frames,
          coalesce(list_max(list_transform(
            list_filter(range(0, n_bytes // 16), i3 -> i3 % 2 = 0),
            i4 -> i4 * 16)), -1) AS last_frame_offset
        FROM r)
      SELECT media_id, kind, out_w, out_h, n_frames, last_frame_offset
      FROM f ORDER BY media_id""",
    "st7_click_attribution" -> """
      WITH c AS (SELECT user_id AS c_user,
          epoch_us(date_trunc('microseconds', ts)) AS c_us,
          event_id AS click_id
        FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS p_user,
          epoch_us(date_trunc('microseconds', ts)) AS p_us,
          event_id AS purchase_id, value
        FROM events WHERE event_type = 'purchase')
      SELECT c_user AS user_id, click_id, purchase_id, value
      FROM c JOIN p ON c_user = p_user
        AND p_us >= c_us AND p_us <= c_us + 1800000000
      ORDER BY user_id, click_id, purchase_id""",
    "st8_click_outer" -> """
      WITH c AS (SELECT user_id AS c_user,
          epoch_us(date_trunc('microseconds', ts)) AS c_us,
          event_id AS click_id
        FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS p_user,
          epoch_us(date_trunc('microseconds', ts)) AS p_us,
          event_id AS purchase_id, value
        FROM events WHERE event_type = 'purchase')
      SELECT c_user AS user_id, click_id, purchase_id, value
      FROM c LEFT JOIN p ON c_user = p_user
        AND p_us >= c_us AND p_us <= c_us + 1800000000
      ORDER BY user_id, click_id, purchase_id""",
    "st1_tumbling_hourly" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "st2_sessionize" -> """
      WITH e AS (SELECT user_id, event_id,
          date_trunc('microseconds', ts) AS tsu, value FROM events),
      f AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
            OR epoch_us(tsu) - epoch_us(lag(tsu) OVER w) > 1800000000
          THEN 1 ELSE 0 END AS ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
          ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      SELECT strftime(MIN(tsu), '%Y-%m-%d %H:%M:%S') AS session_start,
        user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, session_start""",
    "st3_sliding_windows" -> """
      WITH x AS (SELECT event_type,
        (floor(epoch_us(date_trunc('microseconds', ts)) / 1800000000)
          * 1800000000)::BIGINT AS slot_us
      FROM events),
      w AS (SELECT event_type,
        unnest([slot_us, slot_us - 1800000000]) AS win_us FROM x)
      SELECT strftime(make_timestamp(win_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        event_type, COUNT(*) AS n
      FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "st4_dedup_distinct" -> """
      SELECT user_id, COUNT(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id ORDER BY user_id"""
  )
}

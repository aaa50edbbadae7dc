package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashOps
import graft.operators.{AsOfJoin, SkewJoin}
import org.apache.spark.unsafe.types.UTF8String

class OperatorEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("as-of join picks the latest right row at or before left time") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 250L), (2L, 50L)).toDF("k", "t")
    val right = Seq((1L, 90L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
      (2L, 60L, "x")).toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, "k", "k", "t", "t", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSet
    assert(out == Set(
      (1L, 100L, Some("a")), // 90 <= 100 < 200
      (1L, 250L, Some("b")), // 200 <= 250 < 300
      (2L, 50L, None)))      // no right row at or before 50
  }

  test("as-of join includes right rows at exactly the left time") {
    import spark.implicits._
    val left = Seq((1L, 200L)).toDF("k", "t")
    val right = Seq((1L, 200L, "exact")).toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, "k", "k", "t", "t", Seq("v"))
      .collect()
    assert(out.head.getString(2) == "exact")
  }

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val su = Tables.supplier(spark, "/root/testdata/sf0.001")
    val plain = li.join(su, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.salted(li, su, "l_suppkey", "s_suppkey", n = 8)
      .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("hash ops handle empty and unicode input") {
    assert(HashOps.polyHash(UTF8String.fromString("")) == 0L)
    // é is one code point (0xE9): h = 0*31 + 233
    assert(HashOps.polyHash(UTF8String.fromString("é")) == 233L)
    assert(HashOps.tokenize(UTF8String.fromString("   ")).isEmpty)
    assert(HashOps.shingleFps(UTF8String.fromString(""), 3).toSeq == Seq(0L))
    assert(HashOps.simHash(UTF8String.fromString("")) == 0L)
    assert(HashOps.dotFold(Array.empty[Float], Array.empty[Float]) == 0.0)
  }

  test("minhash of a single fingerprint is the affine map of it") {
    val sig = HashOps.minhash(Array(7L), 4)
    (0 until 4).foreach { i =>
      assert(sig(i) == (7L * (2 * i + 1) + i * 12345L + 1) % HashOps.Mod)
    }
  }

  test("gram fps keep multiplicity; their distinct set is the shingle set") {
    val s = UTF8String.fromString("a b a b a")
    val grams = HashOps.gramFps(s, 2).toSeq
    assert(grams.length == 4)              // n-1 bigrams, duplicates kept
    assert(grams(0) == grams(2) && grams(1) == grams(3))
    assert(grams.distinct.sorted == HashOps.shingleFps(s, 2).toSeq.sorted)
    // shorter than k: one gram covering the whole token list
    assert(HashOps.gramFps(UTF8String.fromString("xy"), 3).length == 1)
  }

  test("repetition of a single-token doc is one self-gram, no dups") {
    import spark.implicits._
    val r = operators.TextAnalysis.repetitionScores(
      Seq((0L, "solo")).toDF("doc_id", "text")).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)) ==
      ((1L, 1L, 1.0, 0.0)))
  }

  test("decontamination with an empty eval set flags nothing") {
    import spark.implicits._
    val in = Seq((1L, "some words here"), (2L, "more words there"))
      .toDF("doc_id", "text")
    val got = operators.Decontaminate.ngramOverlap(in, lit(false), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got == Set((1L, 0L, false), (2L, 0L, false)))
  }

  test("mixture rebalance of a single group keeps every row") {
    import spark.implicits._
    val in = (0L until 20L).map(i => (i, "en")).toDF("doc_id", "lang")
    val got = operators.Mixture.rebalanceUniform(in)
    assert(got.count() == 20)
    assert(got.select("rate_mil").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1000L))
  }

  test("bloom decontamination with an empty eval set flags nothing") {
    import spark.implicits._
    // empty eval -> empty bitmap map row; every probe must miss via
    // the coalesce(..., 0) path, not NPE on a missing word
    val in = Seq((1L, "some words here"), (2L, "more words there"))
      .toDF("doc_id", "text")
    val got = operators.Decontaminate.bloomNgramOverlap(in, lit(false), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(got == Set((1L, 0L, false), (2L, 0L, false)))
  }

  test("key-skew profile of an empty frame is empty, with no divide-by-zero") {
    import spark.implicits._
    val in = Seq.empty[Tuple1[Long]].toDF("k")
    assert(operators.Profile.keySkew(in, "k").count() == 0)
  }

  test("packing an empty corpus or a single doc is well-defined") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(operators.Packing.packManifest(empty).count() == 0)
    // one doc longer than seqLen straddles ceil(n/len) sequences
    val one = Seq((7L, ("w " * 20).trim)).toDF("doc_id", "text")
    val r = operators.Packing.packManifest(one, seqLen = 8, buckets = 4)
      .collect()(0)
    assert((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((20L, 0L, 0L, 3L)))
  }

  test("kmeans with fewer vectors than k degrades to per-vector clusters") {
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), "a"), (1L, Array(0.0f, 1.0f), "b"),
      (2L, Array(0.9f, 0.1f), "a"))
      .toDF("vec_id", "embedding", "label")
    val out = operators.VectorStats.kmeansAssign(tiny, k = 8, iters = 2)
      .collect()
    assert(out.length == 3)
    // seeds 0..2 exist; every vector sits at distance 0 from its own
    // seed, so assignment is the identity and SSE is exactly 0
    assert(out.forall(r => r.getLong(0) == r.getLong(1)))
    assert(out.forall(_.getDouble(2) == 0.0))
  }

  test("winnowing degenerate docs: empty text and docs shorter than w") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one two")).toDF("doc_id", "text")
    val byId = operators.TextAnalysis.winnowFingerprints(docs, k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
      .toMap
    // empty doc: one empty gram, fingerprint 0, one window
    assert(byId(1L) == ((1, "0")))
    // 2 tokens < k: one covering gram; fewer grams than w → one window
    val fp = HashOps.gramFps(UTF8String.fromString("one two"), 3)
    assert(byId(2L) == ((1, fp(0).toString)))
  }

  test("containment of a single doc or disjoint docs is empty") {
    import spark.implicits._
    val one = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    assert(operators.Dedup.winnowContainmentPairs(one).count() == 0)
    val disjoint = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    assert(operators.Dedup.winnowContainmentPairs(disjoint).count() == 0)
  }

  test("cluster-aware split without near-dups equals the plain rule") {
    import spark.implicits._
    val docs = Seq((100L, "entirely distinct alpha beta gamma delta"),
      (2000L, "no overlap here epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val out = operators.Mixture.clusterAwareSplit(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // no pairs → every doc is its own cluster, split = plain hash rule
    assert(out.map(r => (r._1, r._2)).sameElements(
      Seq((100L, 100L), (2000L, 2000L))))
    val plain = operators.Mixture.splitAssign(
      docs.withColumn("lang", lit("en")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.forall(r => plain(r._1) == r._3))
  }

  test("clean-chunk pipeline over an all-eval corpus is empty") {
    import spark.implicits._
    val docs = Seq((50L, "a b c d e f g h i j")).toDF("doc_id", "text")
    assert(operators.CurationPipeline.curateToChunks(docs,
      isEval = col("doc_id") % 50 === 0).count() == 0)
  }

  test("boilerplate floor at 100 pct keeps only universal grams") {
    import spark.implicits._
    val docs = Seq((1L, "x y z tail one", "s"), (2L, "x y z tail two", "s"))
      .toDF("doc_id", "text", "source")
    val out = operators.CorpusStats.boilerplateGrams(docs, k = 3,
      minPct = 100, topN = 10).collect()
    // grams present in BOTH docs: "x y z", "y z tail" (df = 2 = 100%)
    assert(out.length == 2 && out.forall(_.getLong(3) == 2L))
  }

  test("token budget edges: zero budget selects nothing, huge selects all") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"))
      .toDF("doc_id", "text")
    assert(operators.Packing.tokenBudgetSelect(docs, 0L).collect().isEmpty)
    val all = operators.Packing.tokenBudgetSelect(docs, 1000000L)
      .orderBy("pick_rank").collect()
    assert(all.length == 3)
    assert(all.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
    assert(all.last.getLong(4) == 9L) // total tokens
    // a budget that lands exactly ON a prefix boundary keeps that doc
    val total01 = all.take(2).map(_.getLong(2)).sum
    val exact = operators.Packing.tokenBudgetSelect(docs, total01)
      .collect()
    assert(exact.length == 2)
  }

  test("edit-distance pairs on identical and disjoint docs") {
    import spark.implicits._
    val twins = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words appear in this document text"))
      .toDF("doc_id", "text")
    val got = operators.Dedup.editDistancePairs(twins, maxDist = 5,
      prefixLen = 100).collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getInt(2)) ==
      ((1L, 2L, 0)))
  }

  test("int8 topk of k larger than the corpus returns what exists") {
    import spark.implicits._
    val vecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = operators.Similarity.int8TopK(vecs,
      vecs.filter(col("vec_id") === 0), k = 10).collect()
    assert(got.length == 1) // only one neighbor exists
  }

  test("lm score of a single-token doc uses the whole-doc gram convention") {
    import spark.implicits._
    // a 1-token doc's "bigram" list is the whole-text gram (= its
    // unigram), so the doc still scores — against its own frequency
    val in = Seq((1L, "hello"), (2L, "hello"), (3L, "hello world"))
      .toDF("doc_id", "text")
    val got = operators.CorpusStats.lmScore(in).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc emits exactly its bigram-occurrence count
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_._2 >= 1L))
    assert(got.forall(g => g._3 >= 0L && g._3 <= 1000L))
  }

  test("MAD of a constant group is zero and flags no outliers") {
    // degenerate distribution: every quantity identical → median = the
    // constant, MAD = 0, and since dev > 1.5·0 requires dev > 0, no
    // row may be flagged (the guard against 0-MAD divide/compare bugs)
    val dir = java.nio.file.Files.createTempDirectory("graft-q56-const")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("l_quantity", lit(7.0))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = graft.queries.ExtendedQueries
      .queries("q56_mad_outliers")(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, med, mad, nOut) =>
      assert(med == 7.0 && mad == 0.0 && nOut == 0L)
    }
  }

  test("pii redaction order: emails first, so IP-lookalikes inside stay") {
    import spark.implicits._
    // the address's digits must not be re-matched by later patterns
    val in = Seq((1L, "x 1.2.3.4@a.example.com y")).toDF("doc_id", "text")
    val red = in.select(operators.TextAnalysis.redactPii(col("text")))
      .collect()(0).getString(0)
    assert(red == "x <EMAIL> y")
  }

  test("graph ops on empty and degenerate edge lists") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(operators.Graph.triangles(empty).collect().isEmpty)
    assert(operators.Graph.kCore(empty, k = 2, rounds = 3).collect().isEmpty)
    // rounds = 0 is the identity peel: degrees of the normalized graph
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val r0 = operators.Graph.kCore(one, k = 5, rounds = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0 == Map(1L -> 1L, 2L -> 1L))
    // a single edge has no triangles but both nodes are reported
    val t = operators.Graph.triangles(one).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t == Set((1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("audio energy of zero docs is empty; sortedIntersect edge shapes") {
    import spark.implicits._
    val none = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    assert(operators.Multimodal.audioEnergy(spark, none).collect().isEmpty)
    assert(functions.HashOps.sortedIntersect(Array.empty, Array(1L)).isEmpty)
    assert(functions.HashOps.sortedIntersect(Array(1L, 2L), Array.empty).isEmpty)
    assert(functions.HashOps.sortedIntersect(
      Array(1L, 3L, 5L), Array(1L, 3L, 5L)).toSeq == Seq(1L, 3L, 5L))
  }

  test("bpe: alphabet-free corpus yields no merges; single word merges") {
    import spark.implicits._
    // no [a-z]+ words survive the filter -> every round's argmax is
    // empty -> no output rows (not an error)
    val numeric = Seq((1L, "123 456 789")).toDF("doc_id", "text")
    assert(graft.operators.Tokenizer.bpeTrain(numeric, merges = 2)
      .count() == 0L)
    val one = Seq((1L, "ab")).toDF("doc_id", "text")
    val m = graft.operators.Tokenizer.bpeTrain(one, merges = 1).collect()(0)
    assert(m.getString(1) == "a b" && m.getString(2) == "ab" &&
      m.getLong(3) == 1L)
  }

  test("transitions and retention on degenerate event streams") {
    import spark.implicits._
    // one event per user: no successors -> empty transition matrix
    val single = Seq((1L, 1L, "A"), (2L, 2L, "B"))
      .toDF("user_id", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    assert(graft.operators.Profile.eventTransitions(single).count() == 0L)
    // every user active only in its cohort week -> one row per cohort,
    // offset 0, retention exactly 1e6
    val rows = graft.operators.Profile.retentionCohorts(single)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.forall { case (off, _, ppm) => off == 0L && ppm == 1000000L })
  }

  test("interleave with one source is the bare seeded rank") {
    import spark.implicits._
    val d = Seq((1L, "x"), (2L, "y"), (3L, "z"))
      .toDF("doc_id", "text").withColumn("source", lit("only"))
    val rows = graft.operators.Packing.interleaveSources(d, seed = 7L)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    rows.foreach { case (rank, slot) => assert(slot == rank) }
    assert(rows.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("exact split degenerate strata: tiny strata round UP into train") {
    import spark.implicits._
    // rank*100 < n*80 keeps ceil(0.8n) in train: a 1- or 2-doc stratum
    // is ALL train (0 < 80, 100 < 160) — never a spurious test doc
    // from a stratum too small to split
    val d = Seq((1L, "a", "s1"), (2L, "b", "s2"), (3L, "c", "s2"))
      .toDF("doc_id", "text", "lang")
    val bySplit = graft.operators.Mixture.exactStratifiedSplit(d, seed = 1L)
      .collect().map(r => (r.getString(1), r.getString(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(bySplit("s1") == Seq("train"))
    assert(bySplit("s2") == Seq("train", "train"))
    // a 10-doc stratum splits exactly 8/1/1
    val ten = (0 until 10).map(i => (i.toLong, s"doc $i", "big"))
      .toDF("doc_id", "text", "lang")
    val counts = graft.operators.Mixture.exactStratifiedSplit(ten, seed = 1L)
      .collect().groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(counts == Map("train" -> 8, "val" -> 1, "test" -> 1))
  }

  test("corpus health on a one-type source: TTR floors, no hapaxes") {
    import spark.implicits._
    val d = Seq((1L, "x x x x", "mono")).toDF("doc_id", "text", "source")
    val r = graft.operators.CorpusStats.corpusHealth(d).collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L) // tokens, types
    assert(r.getLong(3) == 250000L)  // ttr
    assert(r.getLong(4) == 1000000L) // top share
    assert(r.getLong(5) == 0L)       // hapax
  }

  test("soft dedup of an all-unique corpus keeps full weight everywhere") {
    import spark.implicits._
    val d = Seq((1L, "first completely distinct body of words"),
      (2L, "second entirely different set of tokens"))
      .toDF("doc_id", "text")
    val rows = graft.operators.Dedup.softDedupWeights(d).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(rows.forall(_ == ((1L, 1000000L))))
  }

  test("covMoments aggregator is exact through the BigInteger spill lane") {
    import spark.implicits._
    // values large enough that every product addend floor(xi*xj*2^40)
    // exceeds the Long fast-lane bound (~4e18), forcing the spill
    // path; 64 partitions force merges of partial buffers
    val scale = 1099511627776.0d
    val vecs = (0 until 200).map { r =>
      Array(1.0e5 + r, -2.0e5 + r, 3.0e4 * (r % 3)) }
    val df = vecs.toDF("xd").repartition(64)
    val got = df.agg(udaf(graft.functions.TypedAggregators.covMoments)
        .apply(col("xd")).as("m"))
      .select(explode(col("m.cells")).as("c"))
      .select("c.i", "c.j", "c.n", "c.s", "c.s1")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), BigInt(r.getString(3)),
          Option(r.getString(4)).map(BigInt(_)))).toMap
    // exact BINARY value of the floored double (scala BigDecimal(d)
    // would string-round via Double.toString above 2^53)
    def fl(d: Double) = BigInt(new java.math.BigDecimal(math.floor(d))
      .toBigInteger)
    for (i <- 0 until 3; j <- i until 3) {
      val expS = vecs.map(v => fl(v(i) * v(j) * scale)).sum
      val expS1 = if (i == j) Some(vecs.map(v => fl(v(j) * scale)).sum)
                  else None
      val (n, s, s1) = got((i, j))
      assert(n == 200L && s == expS && s1 == expS1, s"cell ($i,$j)")
    }
  }
  test("dsir with an empty target degrades to uniform smoothing, never nulls") {
    import spark.implicits._
    val raw = Seq((0L, "alpha beta"), (1L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val empty = raw.filter(col("doc_id") < 0)
    val rows = operators.Mixture.dsirSelect(raw, empty, buckets = 64)
      .collect()
    assert(rows.length == 2)
    // every bucket's target rate is the same smoothed constant —
    // scores still differ with the docs' own raw rates, but they are
    // positive, non-null, and the arg-max doc is selected
    assert(rows.forall(r => !r.isNullAt(2) && r.getLong(2) > 0))
    val mx = rows.map(_.getLong(2)).max
    assert(rows.filter(_.getLong(2) == mx).forall(_.getBoolean(3)))
    // the standing probe degrades the same way
    val model = operators.Mixture.dsirModel(raw, empty, buckets = 64)
    val probe = operators.Mixture.dsirScoreAgainst(model, raw, buckets = 64)
      .collect()
    assert(probe.forall(r => !r.isNullAt(2)))
  }

  test("source caps and quality floor on empty/singleton frames") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(operators.CurationPipeline.sourceCaps(empty, cap = 3).count() == 0)
    assert(operators.CurationPipeline.qualityFloor(empty).count() == 0)
    val one = Seq((7L, "just one document here", "s")).toDF("doc_id", "text", "source")
    val caps = operators.CurationPipeline.sourceCaps(one, cap = 3).collect()
    assert(caps.length == 1 && caps.head.getLong(3) == 1L)
    val floor = operators.CurationPipeline.qualityFloor(one).collect()
    assert(floor.length == 1, "a singleton source keeps its only doc")
  }

  test("tfidf keywords / tags on an empty corpus are empty, no divide-by-zero") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(operators.Retrieval.tfidfKeywords(empty).count() == 0)
    val model = operators.Retrieval.tfidfModel(empty)
    assert(model.count() == 0)
    val docs = Seq((1L, "some words")).toDF("doc_id", "text")
    // tagging against an empty model drops every term (no standing idf)
    assert(operators.Retrieval.tfidfTagsAgainst(model, docs).count() == 0)
  }

  test("fim split of empty text: all cuts zero, all part fps zero") {
    import spark.implicits._
    val docs = Seq((0L, "")).toDF("doc_id", "text")
    val r = operators.Packing.fimSplit(docs, fimMil = 1000L).collect().head
    assert(r.getLong(1) >= 0 && r.getLong(2) == 0 && r.getLong(3) == 0)
    assert(r.getLong(5) == 0L || r.getLong(1) > 0)
    assert(r.getLong(6) == 0L && r.getLong(7) == 0L)
  }

  test("label propagation edges: empty graph, zero rounds, messy input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(operators.Graph.labelPropagation(empty, rounds = 3)
      .collect().isEmpty)
    // zero rounds: every node keeps itself
    val g = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r0 = operators.Graph.labelPropagation(g, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r0 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // duplicates, reversed direction, and self-loops normalize away
    val messy = Seq((2L, 1L), (1L, 2L), (1L, 2L), (1L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val clean = operators.Graph.labelPropagation(messy, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clean.keySet == Set(1L, 2L, 3L))
  }

  test("doremi weights: single source stays uniform; empty corpus " +
      "fails loudly") {
    import spark.implicits._
    val one = Seq((1L, "solo", "some text here"), (2L, "solo", "more"))
      .toDF("doc_id", "source", "text")
    val traj = operators.Mixture.doremiWeights(one, rounds = 3).collect()
    assert(traj.length == 3)
    assert(traj.forall(r => r.getLong(3) == 0L && r.getLong(4) == 1000000L),
      "one source owns the whole mixture with zero excess")
    val none = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      operators.Mixture.doremiWeights(none)
    }
    assert(e.getMessage.contains("no sources"))
  }

  test("doremi loss-table entry point: out-of-range losses fail " +
      "loudly; epoch plan at rounds = 0 degrades to uniform") {
    import spark.implicits._
    // a negative loss breaks the floor-division identity; one above
    // MaxLossPpm would wrap Long mid-product — both must throw
    Seq(-1L, operators.Mixture.MaxLossPpm + 1).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        operators.Mixture.doremiWeightsFromLosses(
          Seq(("a", 5000000L), ("b", bad)).toDF("source", "loss_ppm"))
          .collect()
      }
      assert(e.getMessage.contains("loss_ppm"), e.getMessage)
    }
    // rounds = 0: the epoch plan seeds the uniform round-0 alpha
    // instead of throwing on the empty trajectory (the same
    // no-reweighting degrade doremiWeights' empty frame implies)
    val docs = Seq((1L, "a", "aa bb cc"), (2L, "b", "dd"))
      .toDF("doc_id", "source", "text")
    val plan = operators.Mixture
      .doremiEpochPlan(docs, targetTokens = 1000L, rounds = 0)
      .orderBy("source").collect()
    assert(plan.length == 2 &&
      plan.forall(_.getLong(4) == 500000L),
      s"rounds=0 must yield the uniform alpha: ${plan.toSeq}")
  }

  test("soft unigram trainer on an untrainable corpus is empty, no NPE") {
    import spark.implicits._
    // digits only: wordFreq's [a-z]+ filter leaves nothing to train
    val nums = Seq((1L, "123 456 789"), (2L, "000 42")).toDF("doc_id", "text")
    assert(operators.Tokenizer.unigramTrainSoft(nums, rounds = 2)
      .collect().isEmpty)
    assert(operators.Tokenizer.unigramTrain(nums, rounds = 2)
      .collect().isEmpty) // the hard twin's existing contract
  }

  test("layout compaction on a missing or healthy path is a no-op") {
    import graft.operators.LayoutMaintenance
    val ghost = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ghost_${System.nanoTime()}").getPath
    assert(LayoutMaintenance.fileCensus(spark, ghost, "cid").isEmpty)
    LayoutMaintenance.compact(spark, ghost, "cid") // must not throw
  }

  test("file census tolerates string and null partition values") {
    import spark.implicits._
    import graft.operators.LayoutMaintenance
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_strpart_${System.nanoTime()}").getPath
    Seq((1L, "alpha"), (2L, "beta"), (3L, null: String))
      .toDF("id", "part")
      .write.partitionBy("part").mode("overwrite").parquet(out)
    val census = LayoutMaintenance.fileCensus(spark, out, "part")
    assert(census.map(_._1).toSet ==
      Set("alpha", "beta", LayoutMaintenance.NullPartitionDir),
      s"census must keep directory spellings: $census")
    // compaction over a string/null-partitioned layout must not
    // throw and must preserve rows (nothing fragmented -> no-op)
    LayoutMaintenance.compact(spark, out, "part")
    assert(spark.read.parquet(out).count() == 3)
  }

  test("incremental LPA: empty label table, empty batch, all-frozen batch") {
    import spark.implicits._
    import graft.operators.Graph
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "lbl")
    // empty arriving batch -> empty assignment, no NPE
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.labelPropagationAgainst(labels, noEdges).collect().isEmpty)
    // batch touching only frozen nodes -> nothing new to assign
    val frozenOnly = Seq((1L, 2L)).toDF("src", "dst")
    assert(Graph.labelPropagationAgainst(labels, frozenOnly)
      .collect().isEmpty)
    // empty FROZEN table: every arriving node is a singleton keeping
    // its own id with zero votes (the LPA init)
    val empty = Seq.empty[(Long, Long)].toDF("node", "lbl")
    val got = Graph.labelPropagationAgainst(empty,
      Seq((10L, 11L)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 10L, 0L), (11L, 11L, 0L)))
    // majority vote with tie: node 9 borders lbl-1 (x2 via nodes 1,2)
    // and lbl-3 (x1) -> adopts 1; node 8 borders 1 and 3 once each
    // -> tie to the SMALLEST label
    val votes = Graph.labelPropagationAgainst(labels,
      Seq((9L, 1L), (9L, 2L), (9L, 3L), (8L, 2L), (8L, 3L))
        .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(votes == Set((9L, 1L, 2L), (8L, 1L, 1L)), s"got $votes")
  }

  test("mixed-script tokenizer: Latin/digit runs, CJK per codepoint, " +
      "punctuation delimits, degenerate strings tokenize empty") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def toks(s: String): Seq[String] =
      Seq(s).toDF("text")
        .select(TextAnalysis.tokensScript(col("text")).as("t"))
        .collect().head.getSeq[String](0)
    assert(toks("Hello, World 42!") == Seq("hello", "world", "42"))
    assert(toks("日本語です") == Seq("日", "本", "語", "で", "す"))
    // script boundaries split WITHOUT whitespace — the case the
    // whitespace tier collapses to one token
    assert(toks("foo日本bar2000") ==
      Seq("foo", "日", "本", "bar", "2000"))
    assert(toks("한국어 텍스트") ==
      Seq("한", "국", "어", "텍", "스", "트"))
    assert(toks("") == Seq.empty)
    assert(toks("...!!! \t ") == Seq.empty)
    // the whitespace tier's degrade this tier exists to fix: one
    // token for a whole unsegmented sentence
    val ws = Seq("日本語です").toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .collect().head.getSeq[String](0)
    assert(ws.length == 1 && toks("日本語です").length == 5)
  }

  test("LPA drift census: a planted bridge between two frozen " +
      "communities registers, singletons and intra edges count") {
    import spark.implicits._
    import graft.operators.Graph
    // two frozen triangles {1,2,3} (label 1) and {10,11,12} (label 10)
    val frozenEdges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val labels = Graph.labelPropagation(frozenEdges, rounds = 3)
    // since-freeze arrivals: ONE bridge between the frozen
    // communities (invisible to the incremental vote — the census's
    // reason to exist), one intra-community edge, one new node
    // attached to a frozen one (votable), and an isolated new pair
    // (two singletons)
    val arrivals = Seq(
      (3L, 10L),   // cross-community bridge
      (2L, 1L),    // intra (normalizes onto the existing 1-2)
      (13L, 12L),  // new node 13 with a frozen neighbor
      (20L, 21L)). // two new nodes, no frozen neighbor
      toDF("src", "dst")
    val census = Graph.lpaDriftCensus(labels, arrivals).collect().head
    assert(census.getAs[Long]("n_edges") == 4L)
    assert(census.getAs[Long]("n_cross_edges") == 1L,
      "the planted bridge must register as a cross-community edge")
    assert(census.getAs[Long]("n_cross_pairs") == 1L)
    assert(census.getAs[Long]("n_intra_edges") == 1L)
    assert(census.getAs[Long]("n_new_nodes") == 3L)
    assert(census.getAs[Long]("n_new_singletons") == 2L)
    // per-pair detail: exactly the (1, 10) bridge, once
    val pairs = Graph.lpaDriftPairs(labels, arrivals)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 10L, 1L)), s"got ${pairs.toSeq}")
    // empty arrivals: all-zero census, no NPE
    val z = Graph.lpaDriftCensus(labels,
      Seq.empty[(Long, Long)].toDF("src", "dst")).collect().head
    assert((0 until 6).forall(z.getLong(_) == 0L), s"got $z")
  }

  test("byte-fed dHash rejects payloads that do not tile the 9x8 grid") {
    import spark.implicits._
    import graft.operators.Multimodal
    val img = new java.awt.image.BufferedImage(
      10, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq((1L, bos.toByteArray)).toDF("media_id", "payload")
    val e = intercept[Exception] {
      Multimodal.imageDHashFromBytes(spark, media).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("tile")), e.getMessage)
    // garbage bytes fail loudly as undecodable, not silently empty
    val junk = Seq((2L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    val e2 = intercept[Exception] {
      Multimodal.imageDHashFromBytes(spark, junk).collect()
    }
    assert(msgs(e2).exists(_.contains("undecodable")), e2.getMessage)
  }

  test("pq census/retrain edges: empty batch censuses to zero rows, " +
      "a fully-departed layout refuses to retrain") {
    import spark.implicits._
    import graft.operators.Similarity
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_pqedge_${spark.sparkContext.applicationId}").getPath
    Similarity.pqIndexWrite(embs, out, numCentroids = 4, m = 4)
    val booksAll = spark.read.parquet(out + "_books")
    val books = (0 until 4).map(s => booksAll.filter(col("sid") === s)
      .select("cid", "cemb", "cc"))
    val coarse = spark.read.parquet(out + "_coarse")
    // an empty batch is a legal no-signal census, not an error
    val empty = embs.filter(lit(false)).select("vec_id", "embedding")
    assert(Similarity.pqDriftCensus(coarse, books, empty).count() == 0)
    // drain the layout (every cid= directory drops), then retrain
    // must refuse with the no-members degrade — not a bare
    // schema-inference error from the empty directory
    Similarity.pqLayoutApplyCdf(spark, out,
      embs.select(col("vec_id"), col("embedding"),
        lit("delete").as("_change_type")), m = 4)
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodebookRetrain(spark, out, empty)
    }
    assert(e.getMessage.contains("no members"), e.getMessage)
    // a non-empty corpus against the drained layout names the
    // mismatch instead
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqCodebookRetrain(spark, out, embs)
    }
    assert(e2.getMessage.contains("membership"), e2.getMessage)
  }

  /** One written layout family under the shared CDF fold: its source
    * rows (`srcId` + the payload its CDF carries), the id column the
    * layout stores, and its write / fold / serve surface. */
  private case class LayoutFamily(name: String,
      src: org.apache.spark.sql.DataFrame, srcId: String, layoutId: String,
      write: (org.apache.spark.sql.DataFrame, String) => Unit,
      fold: (String, org.apache.spark.sql.DataFrame) => Unit,
      servedIds: String => Set[Long])

  private lazy val layoutFamilies: Seq[LayoutFamily] = {
    import spark.implicits._
    import graft.operators.{Retrieval, Similarity}
    val embs = spark.range(40).select(col("id").as("vec_id"),
      array((1 to 8).map(j => sin((col("id") + 1) * j).cast("float")): _*)
        .as("embedding"))
    val docs = (0 until 40).map(i =>
      (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} w$i w$i"))
      .toDF("doc_id", "text")
    def neighbors(served: org.apache.spark.sql.DataFrame): Set[Long] =
      served.select("neighbor_id").collect().map(_.getLong(0)).toSet
    val vecQueries = embs.filter(col("vec_id") < 3)
    Seq(
      LayoutFamily("knn", embs, "vec_id", "neighbor_id",
        (s, out) => Similarity.knnIndexWrite(s, out, numCentroids = 4),
        (out, cdf) => Similarity.knnLayoutApplyCdf(spark, out, cdf),
        out => neighbors(Similarity.knnTopKFromLayout(spark, out,
          vecQueries, k = 2))),
      LayoutFamily("sq8", embs, "vec_id", "neighbor_id",
        (s, out) => Similarity.sq8IndexWrite(s, out, numCentroids = 4),
        (out, cdf) => Similarity.sq8LayoutApplyCdf(spark, out, cdf),
        out => neighbors(Similarity.ivfSq8TopKFromLayout(spark, out,
          vecQueries, k = 2))),
      LayoutFamily("pq", embs, "vec_id", "vec_id",
        (s, out) => Similarity.pqIndexWrite(s, out, numCentroids = 4),
        (out, cdf) => Similarity.pqLayoutApplyCdf(spark, out, cdf),
        out => neighbors(Similarity.ivfPqTopKFromLayout(spark, out,
          vecQueries, k = 2))),
      LayoutFamily("bm25", docs, "doc_id", "doc_id",
        (s, out) => Retrieval.bm25IndexWrite(s, out, buckets = 8),
        (out, cdf) => Retrieval.bm25LayoutApplyCdf(spark, out, cdf),
        out => Retrieval.bm25TopKFromLayout(spark, out,
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("query_id"), col("text")), k = 2)
          .select("doc_id").collect().map(_.getLong(0)).toSet))
  }

  private def layoutIds(f: LayoutFamily, out: String): Set[Long] =
    spark.read.parquet(out).select(f.layoutId).distinct()
      .collect().map(_.getLong(0)).toSet

  private def cdfOf(rows: org.apache.spark.sql.DataFrame,
      changeType: String): org.apache.spark.sql.DataFrame =
    rows.withColumn("_change_type", lit(changeType))

  test("layout CDF folds insert into a layout an earlier fold drained") {
    layoutFamilies.foreach { f =>
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_drained_${f.name}_${spark.sparkContext.applicationId}")
        .getPath
      f.write(f.src, out)
      f.fold(out, cdfOf(f.src, "delete"))
      assert(new java.io.File(out).listFiles()
        .forall(!_.getName.contains("=")), s"${f.name}: not drained")
      val back = f.src.filter(col(f.srcId).isin(5L, 7L))
      f.fold(out, cdfOf(back, "insert"))
      assert(layoutIds(f, out) == Set(5L, 7L), f.name)
      assert(f.servedIds(out).subsetOf(Set(5L, 7L)), f.name)
    }
  }

  test("layout CDF folds reject an unknown change type before mutating") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    layoutFamilies.foreach { f =>
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_merge_${f.name}_${spark.sparkContext.applicationId}")
        .getPath
      f.write(f.src, out)
      def intent: Seq[Long] = spark.read.parquet(out + "_fold_intent")
        .collect().map(_.getLong(0)).toSeq
      val (intentBefore, idsBefore) = (intent, layoutIds(f, out))
      val cdf = cdfOf(f.src.filter(col(f.srcId) === 3L), "merge")
        .unionByName(cdfOf(f.src.filter(col(f.srcId) === 4L), "delete"))
      val e = intercept[Exception](f.fold(out, cdf))
      val expected =
        s"${f.name}LayoutApplyCdf: unknown CDF change type 'merge'"
      assert(msgs(e).exists(_.contains(expected)), e.getMessage)
      assert(intent == intentBefore, s"${f.name}: _fold_intent changed")
      assert(layoutIds(f, out) == idsBefore, s"${f.name}: layout changed")
    }
  }

  test("a delete fold on a drained BM25 layout fails the preimage check " +
      "before mutating") {
    val f = layoutFamilies.find(_.name == "bm25").get
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_drained_delete_bm25_${spark.sparkContext.applicationId}")
      .getPath
    f.write(f.src, out)
    f.fold(out, cdfOf(f.src, "delete"))
    def intent: Seq[Long] = spark.read.parquet(out + "_fold_intent")
      .collect().map(_.getLong(0)).toSeq
    val intentBefore = intent
    val e = intercept[IllegalArgumentException] {
      f.fold(out, cdfOf(f.src.filter(col("doc_id") === 3L), "delete"))
    }
    assert(e.getMessage.contains("departure preimage") &&
      e.getMessage.contains("must reference indexed documents"), e.getMessage)
    assert(intent == intentBefore, "_fold_intent changed")
  }

  test("a corrupt BM25 _meta marker fails the probe naming the marker") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_corrupt_meta_${spark.sparkContext.applicationId}").getPath
    Retrieval.bm25IndexWrite(docs, out, buckets = 4)
    val metaFiles = new java.io.File(out + "_meta").listFiles()
    val parts = metaFiles.filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(parts.nonEmpty)
    // garbage bytes under the part file's own name; its checksum goes
    // too, so the read fails in the parquet footer, not the checksum
    parts.foreach(f => java.nio.file.Files.write(f.toPath,
      "not a parquet file".getBytes("UTF-8")))
    metaFiles.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val e = intercept[IllegalStateException] {
      Retrieval.bm25TopKFromLayout(spark, out,
        docs.select(col("doc_id").as("query_id"), col("text")), k = 1)
    }
    assert(e.getMessage.contains(s"marker ${out}_meta is corrupt"),
      e.getMessage)
  }
}

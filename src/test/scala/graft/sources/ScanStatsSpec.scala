package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.SparkTestSession
import graft.sources.testing.StubSharingServer

/** Connector statistics: Catalyst should see post-pruning
  * size-in-bytes and numRows (from per-file stats) so broadcast
  * decisions work over shared tables. */
class ScanStatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private var server: StubSharingServer = _
  private var fileSize: Long = 0

  /** Deterministic property driver over seeded ScalaCheck samples. */
  private def forAll[T](gen: Gen[T], n: Int = 300)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }

  override def beforeAll(): Unit = {
    server = new StubSharingServer(expectedToken = "tok").start()
    val region = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val tmp = Files.createTempDirectory("graft-stats")
    region.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    var p: java.nio.file.Path = null
    graft.sources.testing.DirWalk.eachChild(tmp)(f =>
      if (f.getFileName.toString.endsWith(".parquet")) p = f)
    fileSize = Files.size(p)
    server.tables = Map("region" -> (region.schema.json, Seq.empty,
      Seq((p.toUri.toString, fileSize, Map.empty[String, String]))))
    // truthful stats: region has 5 rows — the connector now answers
    // COUNT(*) from numRecords, so the stub must never under-report
    server.fileStats = Map(p.toUri.toString -> """{"numRecords":5}""")
  }
  override def afterAll(): Unit = server.stop()

  test("optimized plan carries the connector's size estimate") {
    val df = spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .load("share1.schema1.region")
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(fileSize))
    // numRecords comes from the stub's per-file stats ("numRecords":5)
    assert(stats.rowCount.contains(BigInt(5)))
  }

  test("small shared tables broadcast in joins") {
    val shared = spark.read.format("deltashare")
      .option("endpoint", server.endpoint).option("bearerToken", "tok")
      .load("share1.schema1.region")
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val joined = nation.join(shared, col("n_regionkey") === col("r_regionkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
    assert(joined.count() == 25)
  }

  test("TopN pushdown prunes files outside the top-k boundary") {
    import graft.sources.v2.{TopNFilePrune, TopNSpec}
    def fa(url: String, stats: Option[String]) =
      FileAction(url, url, Map.empty, 1L, stats.flatMap(FileStats.parse),
        None, None, None)
    def st(n: Long, mn: Long, mx: Long, nulls: Long = 0L) = Some(
      s"""{"numRecords":$n,"minValues":{"k":$mn},"maxValues":{"k":$mx},
          "nullCount":{"k":$nulls}}""")
    val field = StructField("k", LongType)
    val files = Seq(
      fa("f0", st(100, 0, 99)), fa("f1", st(100, 100, 199)),
      fa("f2", st(100, 200, 299)), fa("f3", st(100, 300, 399)))
    // ASC top-20: f0's 100 rows guarantee f1..f3 out
    assert(TopNFilePrune.prune(files,
      TopNSpec(field, asc = true, nullsFirst = true, n = 20))
      .map(_.url) == Seq("f0"))
    // DESC top-20: only f3 survives
    assert(TopNFilePrune.prune(files,
      TopNSpec(field, asc = false, nullsFirst = false, n = 20))
      .map(_.url) == Seq("f3"))
    // ASC top-150: needs f0 AND f1 (f1's best could land in the top)
    assert(TopNFilePrune.prune(files,
      TopNSpec(field, asc = true, nullsFirst = true, n = 150))
      .map(_.url) == Seq("f0", "f1"))
    // overlapping ranges at the boundary are kept (strict inequality)
    val overlap = files :+ fa("f4", st(100, 99, 150))
    assert(TopNFilePrune.prune(overlap,
      TopNSpec(field, asc = true, nullsFirst = true, n = 20))
      .map(_.url).toSet == Set("f0", "f4"))
    // a stats-less file is never pruned and never helps prune others
    val noStats = Seq(fa("g0", st(100, 0, 99)), fa("g1", None))
    assert(TopNFilePrune.prune(noStats,
      TopNSpec(field, asc = true, nullsFirst = true, n = 20))
      .map(_.url).toSet == Set("g0", "g1"))
    // NULLS FIRST: a file with nulls cannot be pruned (its null rows
    // sort ahead of everything), and other files' nulls count toward
    // the guarantee
    val withNulls = Seq(
      fa("h0", st(100, 0, 99, nulls = 30)), fa("h1", st(100, 100, 199)))
    assert(TopNFilePrune.prune(withNulls,
      TopNSpec(field, asc = false, nullsFirst = true, n = 20))
      .map(_.url) == Seq("h0"),
      "h0's 30 leading nulls fill a DESC NULLS FIRST top-20 alone")
    assert(TopNFilePrune.prune(withNulls,
      TopNSpec(field, asc = false, nullsFirst = true, n = 40))
      .map(_.url).toSet == Set("h0", "h1"),
      "at n=40 the 30 nulls are not enough — h1's high values compete")
    assert(TopNFilePrune.prune(withNulls,
      TopNSpec(field, asc = true, nullsFirst = true, n = 20))
      .map(_.url) == Seq("h0"),
      "h0's 30 nulls + 70 low values guarantee h1 out at n=20")
    // and h0 itself is never prunable under NULLS FIRST: its null
    // rows sort ahead of every value any other file could hold
    assert(TopNFilePrune.prune(
      withNulls :+ fa("h2", st(1000, -500, -400)),
      TopNSpec(field, asc = true, nullsFirst = true, n = 20))
      .map(_.url).contains("h0"),
      "a file with nulls survives NULLS FIRST regardless of guarantees")
  }

  test("TopN prune of 100k files is O(F log F) and equals a brute-force prune") {
    import graft.sources.v2.{TopNFilePrune, TopNSpec}
    import com.fasterxml.jackson.databind.node.LongNode
    val rnd = new scala.util.Random(11)
    val F = 100000
    // per file: rows, nulls, [min, max], deleted rows; every 50th file
    // carries no stats
    val nr = Array.fill(F)(50L + rnd.nextInt(100))
    val nulls = Array.tabulate(F)(i => if (i % 7 == 0) rnd.nextInt(5).toLong else 0L)
    val mn = Array.fill(F)(rnd.nextInt(10000000).toLong)
    val mx = Array.tabulate(F)(i => mn(i) + rnd.nextInt(1000))
    val dvc = Array.tabulate(F)(i => if (i % 11 == 0) rnd.nextInt(10).toLong else 0L)
    def hasStats(i: Int) = i % 50 != 0
    // a List, as a parsed /query listing is
    val files = List.tabulate(F) { i =>
      FileAction(s"f$i", s"f$i", Map.empty, 1L,
        if (!hasStats(i)) None
        else Some(FileStats.Stats(Some(nr(i)), Map("k" -> LongNode.valueOf(mn(i))),
          Map("k" -> LongNode.valueOf(mx(i))), Map("k" -> nulls(i)))),
        None, None, None,
        deletionVector =
          if (dvc(i) == 0L) None
          else Some(DeletionVectors.Descriptor("i", "", 0L, 0L, dvc(i))))
    }
    // the prune's definition, file by file: O(F) per decision
    def keptByBruteForce(i: Int, spec: TopNSpec): Boolean = !hasStats(i) || {
      val best = if (spec.asc) mn(i) else mx(i)
      var better = 0L
      var nullRows = 0L
      var j = 0
      while (j < F) {
        if (hasStats(j)) {
          val worst = if (spec.asc) mx(j) else mn(j)
          if (if (spec.asc) worst < best else worst > best)
            better += math.max(0L, nr(j) - nulls(j) - dvc(j))
          nullRows += math.max(0L, nulls(j) - dvc(j))
        }
        j += 1
      }
      val ownNullsOk = !spec.nullsFirst || nulls(i) == 0L
      !(ownNullsOk &&
        better + (if (spec.nullsFirst) nullRows else 0L) >= spec.n)
    }
    val field = StructField("k", LongType)
    for (spec <- Seq(TopNSpec(field, asc = true, nullsFirst = false, n = 20000),
        TopNSpec(field, asc = false, nullsFirst = true, n = 20000))) {
      // a quadratic prune runs for hours on 100k files; the bound is
      // generous for an O(F log F) one
      val run = scala.concurrent.Future(TopNFilePrune.prune(files, spec))(
        scala.concurrent.ExecutionContext.fromExecutor((r: Runnable) => {
          val t = new Thread(r); t.setDaemon(true); t.start()
        }))
      val kept = scala.concurrent.Await.result(run,
        scala.concurrent.duration.Duration(30, "s")).map(_.url).toSet
      assert(kept.size > F / 50 && kept.size < F, s"$spec kept ${kept.size}")
      (0 until F by 97).foreach { i =>
        assert(kept.contains(s"f$i") == keptByBruteForce(i, spec), s"$spec f$i")
      }
    }
  }

  test("TopN prune soundness fuzz: pruning never changes the top-N " +
      "value multiset (deletion vectors included)") {
    import graft.sources.v2.{TopNFilePrune, TopNSpec}
    val field = StructField("k", LongType)
    // per row: (value-or-null, dvDeleted) — stats describe the FULL
    // physical rows (Delta semantics: numRecords/min/max/nullCount
    // count DV-deleted rows too), the expected top-N counts only the
    // SURVIVORS, and the prune may only use the DV's cardinality
    val genFile: Gen[Seq[(Option[Long], Boolean)]] =
      Gen.choose(0, 5).flatMap(n => Gen.listOfN(n,
        for {
          v <- Gen.oneOf(Gen.const(None), Gen.choose(-4L, 4L).map(Some(_)))
          del <- Gen.frequency(3 -> false, 1 -> true)
        } yield (v, del)))
    val genCase = for {
      nFiles <- Gen.choose(1, 5)
      files <- Gen.listOfN(nFiles, genFile)
      asc <- Gen.oneOf(true, false)
      nullsFirst <- Gen.oneOf(true, false)
      n <- Gen.choose(1, 8)
      statless <- Gen.choose(0, nFiles - 1) // one file may lack stats
      dropStats <- Gen.oneOf(true, false)
    } yield (files, asc, nullsFirst, n, statless, dropStats)
    forAll(genCase, n = 2000) {
      case (rowSets, asc, nullsFirst, n, statless, dropStats) =>
        val files = rowSets.zipWithIndex.map { case (rows, i) =>
          val present = rows.map(_._1).flatten
          val stats =
            if (dropStats && i == statless) None
            else Some(s"""{"numRecords":${rows.length},""" +
              (if (present.nonEmpty)
                s""""minValues":{"k":${present.min}},""" +
                  s""""maxValues":{"k":${present.max}},"""
              else "") +
              s""""nullCount":{"k":${rows.count(_._1.isEmpty)}}}""")
          val dvc = rows.count(_._2)
          val dv =
            if (dvc == 0) None
            else Some(graft.sources.DeletionVectors.Descriptor(
              "i", "", 0L, 0L, dvc.toLong))
          FileAction(s"f$i", s"f$i", Map.empty, 1L,
            stats.flatMap(FileStats.parse), None, None, None,
            deletionVector = dv)
        }
        val spec = TopNSpec(field, asc, nullsFirst, n)
        val kept = TopNFilePrune.prune(files, spec).map(_.url).toSet
        // row ordering under (asc, nullsFirst): nulls get an infinite
        // sentinel on the correct side
        def key(v: Option[Long]): Long = v match {
          case Some(x) => if (asc) x else -x
          case None => if (nullsFirst) Long.MinValue else Long.MaxValue
        }
        def topVals(sets: Seq[(Seq[(Option[Long], Boolean)], Int)]): Seq[Long] =
          sets.flatMap(_._1).filterNot(_._2).map(r => key(r._1))
            .sorted.take(n)
        val all = rowSets.zipWithIndex
        val surviving = all.filter { case (_, i) => kept.contains(s"f$i") }
        assert(topVals(all) == topVals(surviving),
          s"pruning changed the top-$n: files=$rowSets asc=$asc " +
            s"nullsFirst=$nullsFirst kept=$kept")
    }
  }

  test("FileStats.canSkip decides exactly the provably-matchless cases") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("d", DateType), StructField("x", DoubleType)))
    val st = FileStats.parse(
      """{"numRecords":10,
         "minValues":{"k":100,"s":"bbb","d":"2024-02-01","x":1.5},
         "maxValues":{"k":200,"s":"ddd","d":"2024-03-01","x":9.5},
         "nullCount":{"k":0,"s":3,"d":10,"x":0}}""").get
    def skip(f: Filter) = FileStats.canSkip(f, st, schema)
    // range decisions on the long column
    assert(skip(EqualTo("k", 99L)) && skip(EqualTo("k", 201L)))
    assert(!skip(EqualTo("k", 100L)) && !skip(EqualTo("k", 150L)))
    assert(skip(GreaterThan("k", 200L)) && !skip(GreaterThan("k", 199L)))
    assert(skip(GreaterThanOrEqual("k", 201L)) && !skip(GreaterThanOrEqual("k", 200L)))
    assert(skip(LessThan("k", 100L)) && !skip(LessThan("k", 101L)))
    assert(skip(LessThanOrEqual("k", 99L)) && !skip(LessThanOrEqual("k", 100L)))
    // int filter value against a long column still compares
    assert(skip(EqualTo("k", 99)) && !skip(EqualTo("k", 150)))
    // IN: only non-null members decide; all-outside skips
    assert(skip(In("k", Array(1L, 99L, 300L))))
    assert(!skip(In("k", Array(1L, 150L))))
    assert(skip(In("k", Array(null))))
    // null accounting
    assert(skip(IsNull("k")) && !skip(IsNull("s")))
    assert(skip(IsNotNull("d")) && !skip(IsNotNull("s")))
    // strings, dates, doubles
    assert(skip(EqualTo("s", "aaa")) && !skip(EqualTo("s", "ccc")))
    assert(skip(StringStartsWith("s", "a")) && skip(StringStartsWith("s", "e")))
    assert(!skip(StringStartsWith("s", "c")))
    assert(skip(EqualTo("d", java.sql.Date.valueOf("2024-01-15"))))
    assert(!skip(EqualTo("d", java.sql.Date.valueOf("2024-02-15"))))
    // (GreaterThan on a double column is never skipped — see the NaN
    // soundness block below)
    assert(!skip(GreaterThan("x", 9.4)))
    // connectives: And skips if either side does; Or needs both
    assert(skip(And(EqualTo("k", 99L), EqualTo("s", "ccc"))))
    assert(skip(Or(EqualTo("k", 99L), EqualTo("s", "aaa"))))
    assert(!skip(Or(EqualTo("k", 99L), EqualTo("s", "ccc"))))
    // conservative: unknown column / shape / missing stat keeps the file
    assert(!skip(EqualTo("zz", 1L)))
    assert(!skip(Not(EqualTo("k", 150L))))
    assert(FileStats.parse("not json").isEmpty)
    // NaN soundness: Spark orders NaN above every double while stats
    // writers may exclude it from max — an upper bound can never
    // refute x > v on a FLOATING column (a NaN row satisfies it)
    assert(!skip(GreaterThan("x", 100.0)),
      "max-based skip on a double column is NaN-unsound")
    assert(!skip(GreaterThanOrEqual("x", 100.0)))
    // lower-bound and equality decisions stay decidable on doubles
    assert(skip(LessThan("x", 1.5)) && skip(EqualTo("x", 0.5)))
    // a NaN literal keeps the file rather than crashing
    assert(!skip(EqualTo("x", Double.NaN)))
  }
}

/** Property tests over generated predicate trees (SURVEY.md §5 test
  * plan): translation must be total-or-residual, never lossy. */
class PredicateHintsPropertySpec extends AnyFunSuite {

  /** Deterministic property driver over seeded ScalaCheck samples. */
  private def forAll[T](gen: Gen[T], n: Int = 300)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)).foreach(body)
    }

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("b", BooleanType)))

  private val genLeaf: Gen[Filter] = for {
    colName <- Gen.oneOf("s", "i", "d", "b", "unknown_col")
    value <- Gen.oneOf[Any]("x", 42, 1.5, true)
    f <- Gen.oneOf[Filter](
      EqualTo(colName, value), LessThan(colName, value),
      GreaterThan(colName, value), LessThanOrEqual(colName, value),
      GreaterThanOrEqual(colName, value), IsNull(colName),
      IsNotNull(colName), In(colName, Array(value, value)),
      StringContains(colName, "z"))
  } yield f

  private def genTree(depth: Int): Gen[Filter] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      3 -> genLeaf,
      1 -> (for {
        l <- genTree(depth - 1); r <- genTree(depth - 1)
      } yield And(l, r)),
      1 -> (for {
        l <- genTree(depth - 1); r <- genTree(depth - 1)
      } yield Or(l, r)),
      1 -> genTree(depth - 1).map(Not))

  test("every filter either translates to valid JSON or is residual") {
    forAll(Gen.listOfN(5, genTree(3))) { filters =>
      val (hint, residual) = PredicateHints.buildHints(filters, schema)
      // residuals are a subset of the input
      assert(residual.forall(filters.contains))
      // hint, when present, is parseable JSON with only grammar ops
      hint.foreach { h =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(h)
        def check(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
          val op = n.get("op").asText()
          assert(Set("and", "or", "not", "equal", "lessThan", "greaterThan",
            "lessThanOrEqual", "greaterThanOrEqual", "isNull", "column",
            "literal").contains(op), s"bad op $op")
          if (n.has("children")) {
            val it = n.get("children").elements()
            while (it.hasNext) check(it.next())
          }
        }
        check(node)
      }
    }
  }

  test("translation never emits a column that is not in the schema") {
    forAll(genTree(3)) { f =>
      PredicateHints.translate(f, schema).foreach { json =>
        val txt = json.toString
        assert(!txt.contains("unknown_col"))
      }
    }
  }

  test("canSkip soundness fuzz: a skipped file never holds a matching row") {
    // rows over one long column `k` (with nulls); stats computed the
    // way a writer would; a random filter may only skip the file when
    // NO row satisfies it under SQL three-valued semantics
    val kSchema = StructType(Seq(StructField("k", LongType)))
    val genRows: Gen[Seq[Option[Long]]] = Gen.listOfN(6,
      Gen.oneOf(Gen.const(None), Gen.choose(-5L, 5L).map(Some(_))))
    val genF: Gen[Filter] = {
      val leaf = for {
        v <- Gen.choose(-6L, 6L)
        f <- Gen.oneOf[Filter](EqualTo("k", v), LessThan("k", v),
          GreaterThan("k", v), LessThanOrEqual("k", v),
          GreaterThanOrEqual("k", v), IsNull("k"), IsNotNull("k"),
          In("k", Array[Any](v, v + 2)), EqualNullSafe("k", v))
      } yield f
      for {
        a <- leaf; b <- leaf
        f <- Gen.oneOf[Filter](a, And(a, b), Or(a, b))
      } yield f
    }
    def sat(row: Option[Long], f: Filter): Boolean = f match {
      case And(l, r) => sat(row, l) && sat(row, r)
      case Or(l, r) => sat(row, l) || sat(row, r)
      case IsNull(_) => row.isEmpty
      case IsNotNull(_) => row.isDefined
      case EqualNullSafe(_, v) => row.contains(v.asInstanceOf[Long])
      case EqualTo(_, v) => row.exists(_ == v.asInstanceOf[Long])
      case LessThan(_, v) => row.exists(_ < v.asInstanceOf[Long])
      case LessThanOrEqual(_, v) => row.exists(_ <= v.asInstanceOf[Long])
      case GreaterThan(_, v) => row.exists(_ > v.asInstanceOf[Long])
      case GreaterThanOrEqual(_, v) => row.exists(_ >= v.asInstanceOf[Long])
      case In(_, vs) => row.exists(r => vs.exists(_ == r))
      case _ => true
    }
    forAll(Gen.zip(genRows, genF), n = 2000) { case (rows, f) =>
      val present = rows.flatten
      val stats = FileStats.Stats(
        numRecords = Some(rows.length.toLong),
        minValues = if (present.isEmpty) Map.empty else Map("k" ->
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(present.min.toString)),
        maxValues = if (present.isEmpty) Map.empty else Map("k" ->
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(present.max.toString)),
        nullCount = Map("k" -> rows.count(_.isEmpty).toLong))
      if (FileStats.canSkip(f, stats, kSchema))
        assert(!rows.exists(sat(_, f)),
          s"skipped a file with a matching row: rows=$rows filter=$f")
    }
  }
}

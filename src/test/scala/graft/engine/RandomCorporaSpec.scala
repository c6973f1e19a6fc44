package graft.engine

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.{Props, SparkTestBase}
import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.model.{QueryFilter, SearchHit, Turn}
import graft.oracle.Oracle
import graft.query.SearchEngine

/** Rank-identity across RANDOM corpora (SURVEY.md §5.2.4 property:
  * WAND == naive == oracle on corpora the fixtures never shaped) —
  * catches anything overfit to the seed-42 fixture corpus.
  *
  * The generated differential test draws seeded random queries over
  * every public executor entry point (MUST_NOT, SHOULD, the combined
  * BooleanQuery with boosts, filters, scopes and search_after, phrase,
  * ordered and unordered NEAR, phrase-as-clause, prefix, fuzzy and
  * wildcard) and checks each against the matching scalar
  * [[graft.oracle.Oracle]] method, scores bit-equal — on a positional
  * and a positions-free build of each corpus, so the in-walk verifier
  * and the rescan verifier are both exercised. */
class RandomCorporaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val queries = Seq(
    ("w0000 w0001", "AND", 10), ("w0002 w0003 w0004", "AND", 10),
    ("needlemid w0005", "OR", 15), ("w0000", "OR", 50),
    ("roleuser roletool", "AND", 25), ("stopish w0001", "AND", 10))

  private def dataset(corpus: Seq[Turn]) =
    spark.createDataset(corpus)(org.apache.spark.sql.Encoders.product[Turn])

  /** One build per (seed, positions), shared by the tests below. */
  private val builds =
    scala.collection.mutable.Map.empty[(Long, Boolean), (Vector[Turn], Oracle, String)]
  private def built(seed: Long, positions: Boolean): (Vector[Turn], Oracle, String) =
    builds.getOrElseUpdate((seed, positions), {
      val corpus = TranscriptGen.corpus(seed = seed, nConvs = 120)
      val root = SparkTestBase.tmpDir(s"graft-rand$seed-pos$positions")
      IndexBuilder.build(spark, dataset(corpus), root, shards = 5,
        waveSize = 3, maxChunkPostings = 37, positions = positions)
      (corpus, new Oracle(corpus), root)
    })

  test("stemmed build: rank-identical to a stemmed oracle on a random corpus") {
    val corpus = TranscriptGen.corpus(seed = 404L, nConvs = 120)
    val oracle = new Oracle(corpus, graft.analysis.Analyzer.StemVersion)
    val root = SparkTestBase.tmpDir("graft-rand-stem")
    IndexBuilder.build(spark, dataset(corpus),
      root, shards = 5, waveSize = 3, maxChunkPostings = 37, stem = true)
    queries.foreach { case (q, m, k) =>
      val expected = oracle.topK(q, m, k)
      assert(SearchEngine.query(spark, root, q, m, k) == expected,
        s"stemmed wand '$q' [$m]")
      val naive = SearchEngine.queryNaive(spark, root, q, m, k)
        .collect().map(r => SearchHit(r.getLong(0), r.getDouble(1))).toVector
      assert(naive == expected, s"stemmed naive '$q' [$m]")
    }
    // scoped query on the stemmed index also uses the stemmed analyzer
    val pre = corpus.head.conv_id.take(10)
    assert(SearchEngine.query(spark, root, "w0000", "OR", 10,
      convPrefix = Some(pre)) ==
      oracle.topK("w0000", "OR", 10, convPrefix = Some(pre)))
  }

  Seq(101L, 202L, 303L).foreach { seed =>
    test(s"seed $seed: compressed + naive paths rank-identical to oracle") {
      val (_, oracle, root) = built(seed, positions = false)
      queries.foreach { case (q, m, k) =>
        val expected = oracle.topK(q, m, k)
        assert(SearchEngine.query(spark, root, q, m, k) == expected,
          s"wand '$q' [$m] seed=$seed")
        val naive = SearchEngine.queryNaive(spark, root, q, m, k)
          .collect().map(r => SearchHit(r.getLong(0), r.getDouble(1))).toVector
        assert(naive == expected, s"naive '$q' [$m] seed=$seed")
      }
    }
  }

  test("a mode other than AND or OR is refused, never run as OR") {
    val (corpus, _, root) = built(101L, positions = false)
    val scope = corpus.head.conv_id.take(11)
    val stats = SearchEngine.statsOf(spark, root)
    val snapshot = graft.index.IndexManifest.versions(root).max
    val w = graft.model.TermStats("w0000", 1L, 1)
    Seq("and", "XOR", "SHOULD:2", "PHRASE").foreach { mode =>
      intercept[IllegalArgumentException](
        SearchEngine.query(spark, root, "w0000 w0001", mode, 10))
      intercept[IllegalArgumentException](
        SearchEngine.queryScoped(spark, root, "w0000 w0001", mode, 10, Seq(scope)))
      intercept[IllegalArgumentException](
        SearchEngine.queryAt(spark, root, snapshot, "w0000 w0001", mode, 10, Seq(scope)))
      intercept[IllegalArgumentException](
        SearchEngine.queryNaive(spark, root, "w0000 w0001", mode, 10))
      intercept[IllegalArgumentException](SearchEngine.executePlan(spark, root,
        SearchEngine.Plan(Vector(w), Vector.empty, mode, 10), stats))
    }
    // the CLI upper-cases --mode and has modes of its own (SHOULD,
    // PHRASE, …); any other mode is refused with the usage string before
    // a session starts
    Seq("XOR", "SHOULD:2").foreach { mode =>
      val e = intercept[IllegalArgumentException](graft.cli.Query.main(
        Array(root, "w0000 w0001", "--mode", mode)))
      assert(e.getMessage.contains("usage: Query"), e.getMessage)
    }
  }

  // ---- generated differential test ------------------------------------

  /** Noise and MUST_NOT vocabulary: hot and mid Zipf words, the planted
    * needles, the stop-capped `stopish`, the role tokens and one unknown
    * term. */
  private val vocab = Vector("w0000", "w0001", "w0002", "w0003", "w0005",
    "w0008", "w0013", "w0021", "needlemid", "needlerare", "stopish",
    "roleuser", "roleassistant", "roletool", "absentterm")

  /** One generated query: its label, the engine call on an index root
    * and the oracle's answer. */
  private final case class Case(label: String, run: String => Vector[SearchHit],
                                expected: Vector[SearchHit]) {
    override def toString: String = label
  }

  /** Each case is anchored on one doc of the corpus: its terms, phrases,
    * scope and filter are drawn from that doc (plus noise), so most
    * cases have hits while every clause kind still varies. */
  private final class Anchor(val turn: Turn) {
    val toks: Vector[String] = graft.analysis.Analyzer.tokensFor(
      graft.analysis.Analyzer.Version, turn.text)
    private val distinct = toks.distinct
    /** `min..max` distinct terms of the doc, sometimes plus a noise term. */
    def terms(min: Int, max: Int): Gen[String] = for {
      n <- Gen.choose(min, max)
      own <- Gen.pick(math.min(n, distinct.size), distinct)
      extra <- if (n == 0) Gen.const(Nil)
               else Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.oneOf(vocab).map(List(_)))
    } yield (own ++ extra).mkString(" ")
    /** 2–3 consecutive tokens, or a fixed edge case (an unknown or a
      * stop-capped term, a reversed pair). */
    def phrase: Gen[String] = Gen.frequency(
      4 -> (for { len <- Gen.choose(2, 3); i <- Gen.choose(0, toks.size - 2) }
            yield toks.slice(i, i + len).mkString(" ")),
      1 -> Gen.oneOf("stopish needlemid", "stopish absentterm", "w0001 w0000"))
    /** A token and a later one within 3 positions, in either order. */
    def nearPair: Gen[String] = for {
      i <- Gen.choose(0, toks.size - 2)
      j <- Gen.choose(i + 1, math.min(toks.size - 1, i + 3))
      rev <- Gen.oneOf(false, true)
    } yield (if (rev) Seq(toks(j), toks(i)) else Seq(toks(i), toks(j))).mkString(" ")
    /** No filter, a role (mostly the doc's own) or a 50-conversation ts
      * window around the doc. */
    def filter: Gen[QueryFilter] = Gen.frequency(
      3 -> Gen.const(QueryFilter.Empty),
      1 -> Gen.frequency(3 -> Gen.const(turn.role), 1 -> Gen.oneOf(TranscriptGen.Roles))
        .map(r => QueryFilter(role = Some(r))),
      1 -> Gen.choose(0L, 50L).map { back =>
        val from = turn.ts.getTime - back * 97000L
        QueryFilter(tsFrom = Some(new java.sql.Timestamp(from)),
          tsTo = Some(new java.sql.Timestamp(from + 50L * 97000L)))
      })
    /** No scope, or the doc's conversation prefix and another one. */
    def scopes(convIds: Vector[String]): Gen[Seq[String]] = Gen.frequency(
      2 -> Gen.const(Nil),
      1 -> (for { n <- Gen.choose(9, 13); other <- Gen.oneOf(convIds) }
            yield Seq(turn.conv_id.take(n), other.take(n)).distinct))
  }

  /** Oracle-side composition: post-filter (filters never re-weigh),
    * then the search_after cut, then k. `after` is taken from the
    * oracle's own ranking at position `afterAt`, so the cut is exact. */
  private def finish(full: Vector[SearchHit], f: QueryFilter, oracle: Oracle,
                     afterAt: Option[Int]): (Vector[SearchHit], Option[SearchHit]) = {
    val filtered = if (f.isEmpty) full else full.filter(h => oracle.docPasses(f)(h.docId))
    afterAt.flatMap(filtered.lift) match {
      case Some(a) => (filtered.drop(filtered.indexOf(a) + 1), Some(a))
      case None => (filtered, None)
    }
  }

  private def genCase(corpus: Vector[Turn], oracle: Oracle): Gen[Case] = {
    val anchors = corpus.map(new Anchor(_)).filter(_.toks.size >= 2)
    val convIds = corpus.map(_.conv_id).distinct
    val nots = Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))
    val boosts = Gen.frequency(2 -> Gen.const(Map.empty[String, Double]),
      1 -> Gen.oneOf(vocab).flatMap(t =>
        Gen.oneOf(0.5, 2.0, 3.25).map(b => Map(t -> b))))
    val inf = Int.MaxValue
    Gen.oneOf(anchors).flatMap { a =>
      import a.terms
      val common = for {
        k <- Gen.choose(1, 15)
        f <- a.filter
        scopes <- a.scopes(convIds)
        at <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.choose(0, 3).map(Some(_)))
      } yield (k, f, scopes, if (scopes.isEmpty) at else None)
      val not = for {
        (k, f, scopes, at) <- common; q <- terms(1, 3); nq <- nots
      } yield {
        val full = if (scopes.isEmpty) oracle.andNotTopK(q, nq, inf)
                   else oracle.andNotTopKScoped(q, nq, inf, scopes)
        val (exp, after) = finish(full, f, oracle, at)
        Case(s"queryNot('$q' -'$nq' k=$k $f scopes=$scopes after=$after)",
          root => SearchEngine.queryNot(spark, root, q, nq, k, scopes,
            filter = f, after = after), exp.take(k))
      }
      val should = for {
        (k, f, scopes, at) <- common; q <- terms(1, 4); mm <- Gen.choose(1, 3)
      } yield {
        val full = if (scopes.isEmpty) oracle.shouldTopK(q, mm, inf)
                   else oracle.shouldTopKScoped(q, mm, inf, scopes)
        val (exp, after) = finish(full, f, oracle, at)
        Case(s"queryShould('$q' >=$mm k=$k $f scopes=$scopes after=$after)",
          root => SearchEngine.queryShould(spark, root, q, mm, k, scopes,
            filter = f, after = after), exp.take(k))
      }
      val bool = for {
        (k, f, scopes, at) <- common
        must <- terms(0, 2); sh <- terms(0, 3); nq <- nots
        mm <- Gen.choose(0, 2); b <- boosts
      } yield {
        val full = if (scopes.isEmpty) oracle.boolTopK(must, sh, nq, mm, inf, None, b)
                   else oracle.boolTopKScoped(must, sh, nq, mm, inf, scopes, b)
        val (exp, after) = finish(full, f, oracle, at)
        Case(s"queryBool(+'$must' ?'$sh' -'$nq' >=$mm $b k=$k $f scopes=$scopes after=$after)",
          root => SearchEngine.queryBool(spark, root, must, sh, nq, mm, k,
            scopes, filter = f, after = after, boosts = b), exp.take(k))
      }
      val phrase = for {
        (k, f, scopes, _) <- common; ph <- a.phrase
      } yield {
        val full = if (scopes.isEmpty) oracle.phraseTopK(ph, inf)
                   else oracle.phraseTopKScoped(ph, inf, scopes)
        val (exp, _) = finish(full, f, oracle, None)
        Case(s"phraseTopK('$ph' k=$k $f scopes=$scopes)",
          root => SearchEngine.phraseTopK(spark, root, ph, k, scopes,
            filter = f), exp.take(k))
      }
      val near = for {
        (k, f, scopes, _) <- common
        q <- Gen.frequency(3 -> a.nearPair, 1 -> a.phrase)
        slop <- Gen.choose(0, 4); ordered <- Gen.oneOf(false, true)
      } yield {
        val full = (ordered, scopes.isEmpty) match {
          case (false, true) => oracle.nearTopK(q, slop, inf)
          case (false, false) => oracle.nearTopKScoped(q, slop, inf, scopes)
          case (true, true) => oracle.nearOrderedTopK(q, slop, inf)
          case (true, false) => oracle.nearOrderedTopKScoped(q, slop, inf, scopes)
        }
        val (exp, _) = finish(full, f, oracle, None)
        Case(s"nearTopK('$q'~$slop ordered=$ordered k=$k $f scopes=$scopes)",
          root => SearchEngine.nearTopK(spark, root, q, slop, k, scopes,
            ordered = ordered, filter = f), exp.take(k))
      }
      val boolPhrase = for {
        (k, f, _, _) <- common
        ph <- a.phrase; slop <- Gen.option(Gen.choose(0, 3))
        must <- terms(0, 2); sh <- terms(0, 2); nq <- nots
        mm <- Gen.choose(0, 2); b <- boosts.map(_.filter(t => !ph.contains(t._1)))
      } yield {
        val (exp, _) = finish(
          oracle.boolPhraseTopK(ph, slop, must, sh, nq, mm, inf, b), f, oracle, None)
        Case(s"queryBoolPhrase('$ph'~$slop +'$must' ?'$sh' -'$nq' >=$mm $b k=$k $f)",
          root => SearchEngine.queryBoolPhrase(spark, root, ph, slop, must,
            sh, nq, mm, k, filter = f, boosts = b), exp.take(k))
      }
      val multi = for {
        (k, f, scopes, _) <- common
        kind <- Gen.choose(0, 2)
        pat <- kind match {
          case 0 => Gen.oneOf("w000", "needle", "role", "w001", "stop")
          case 1 => Gen.oneOf("needlemd", "w0012", "stopsh", "roleusr")
          case _ => Gen.oneOf("w00?3", "*rare", "needle*", "role*", "w00*1")
        }
      } yield {
        val (full, call): (Vector[SearchHit], String => Vector[SearchHit]) =
          kind match {
            case 0 =>
              (if (scopes.isEmpty) oracle.prefixTopK(pat, inf)
               else oracle.prefixTopKScoped(pat, inf, scopes),
               root => SearchEngine.prefixTopK(spark, root, pat, k, scopes, filter = f))
            case 1 =>
              (if (scopes.isEmpty) oracle.fuzzyTopK(pat, 1, inf, prefixLength = 3)
               else oracle.fuzzyTopKScoped(pat, 1, inf, scopes, prefixLength = 3),
               root => SearchEngine.fuzzyTopK(spark, root, pat, 1, k,
                 prefixLength = 3, scopes = scopes, filter = f))
            case _ =>
              (if (scopes.isEmpty) oracle.wildcardTopK(pat, inf)
               else oracle.wildcardTopKScoped(pat, inf, scopes),
               root => SearchEngine.wildcardTopK(spark, root, pat, k, scopes, filter = f))
          }
        val (exp, _) = finish(full, f, oracle, None)
        Case(s"multiTerm#$kind('$pat' k=$k $f scopes=$scopes)", call, exp.take(k))
      }
      Gen.frequency(3 -> not, 3 -> should, 5 -> bool, 2 -> phrase, 3 -> near,
        3 -> boolPhrase, 2 -> multi)
    }
  }

  for (seed <- Seq(101L, 202L, 303L); positions <- Seq(false, true)) {
    test(s"seed $seed positions=$positions: 40 generated queries bit-equal to the oracle") {
      val (corpus, oracle, root) = built(seed, positions)
      var answered = 0
      Props.forAllSeeded(genCase(corpus, oracle), n = 40) { c =>
        val got = c.run(root)
        assert(got == c.expected, s"$c: got $got expected ${c.expected}")
        if (got.nonEmpty) answered += 1
      }
      // a differential test whose cases all answer empty shows nothing
      assert(answered >= 20, s"only $answered of 40 generated cases had hits")
    }
  }
}

package graft.query

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.ListenerBusTestDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{length, levenshtein, lit}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.Props.forAllSeeded
import graft.SparkTestBase
import graft.analysis.Analyzer
import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexMaintenance, IndexManifest, IndexSnapshot,
  Manifest, TermDictionary}
import graft.model.{CorpusStats, QuerySpec, SearchHit, TermStats, Turn}

/** The driver-resident dictionary memo ([[TermDictionary]]) behind
  * `SearchEngine.plan` and the prefix/fuzzy/wildcard expansions:
  *
  *  - a warm pinned snapshot plans with zero Spark jobs, a cold one with
  *    exactly one (the load);
  *  - maintenance commits are seen by new queries while time travel keeps
  *    the old dfs;
  *  - plan equals a Spark filter over the snapshot's term_stats on seeded
  *    random term sets (absent, df = 0 and stop-capped terms included) —
  *    an independent reference: `queryNaive` shares `plan`;
  *  - readers racing commits never fail and never mix snapshots;
  *  - every expansion equals the DataFrame predicate it replaced
  *    (startsWith / length band + levenshtein / like).
  */
class DictionarySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = new Timestamp(1700000000000L)

  private def build(turns: Seq[Turn], prefix: String): String = {
    val root = SparkTestBase.tmpDir(prefix)
    IndexBuilder.build(spark, spark.createDataset(turns), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    root
  }

  private def latest(root: String): Manifest = IndexManifest.readCached(root).get

  private def statsOf(m: Manifest): CorpusStats =
    CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion)

  private def planAt(root: String, m: Manifest, terms: Seq[String],
                     stopCap: Boolean = true): SearchEngine.Plan =
    SearchEngine.plan(spark, root, QuerySpec(terms.toVector, "AND", 10),
      statsOf(m), stopCap, Some(m))

  /** Spark jobs `body` submits from this thread (job-group scoped; the
    * listener bus is drained before counting). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"dictspec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      ListenerBusTestDrain.drain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The plan contract evaluated straight on the snapshot's term_stats:
    * (present terms under the cap, rarest first; stop-capped terms). */
  private def refPlan(root: String, m: Manifest, terms: Seq[String],
                      stopCap: Boolean = true): (Vector[TermStats], Set[String]) = {
    val found = IndexSnapshot.termStats(spark, root, m)
      .filter($"term".isin(terms: _*))
      .select($"term", $"df", $"maxTf").as[TermStats].collect().toVector
    val cap = SearchEngine.StopTermCap * m.nDocs
    val (kept, dropped) =
      if (stopCap) found.partition(_.df <= cap) else (found, Vector.empty)
    (kept.sortBy(t => (t.df, t.term)), dropped.map(_.term).toSet)
  }

  private def assertPlanMatches(root: String, m: Manifest, terms: Seq[String],
                                stopCap: Boolean = true): Unit = {
    val p = planAt(root, m, terms, stopCap)
    val (kept, dropped) = refPlan(root, m, terms, stopCap)
    assert(p.terms == kept, s"terms $terms @ v${m.snapshotId}")
    assert(p.dropped.toSet == dropped && p.dropped.size == dropped.size,
      s"dropped $terms @ v${m.snapshotId}")
  }

  /** Commit a snapshot whose dictionary is the current one plus `extra`
    * rows — dictionary states the analyzer never emits (df = 0 rows,
    * astral-plane terms) that the memo must still copy verbatim. */
  private def withExtraDictRows(root: String,
                                extra: Seq[(String, Long, Int, Long)]): Manifest = {
    val m = latest(root)
    val gen = m.statsGen + 1000003L
    IndexSnapshot.termStats(spark, root, m)
      .unionByName(extra.toDF("term", "df", "maxTf", "sumTf"))
      .write.parquet(IndexBuilder.Paths(root).termStatsGen(gen))
    val next = m.copy(snapshotId = m.snapshotId + 1, statsGen = gen)
    IndexManifest.commit(root, next, expectNew = true)
    next
  }

  test("plan: one dictionary job on first use, none on a warm snapshot") {
    val root = build(TranscriptGen.corpus(seed = 61L, nConvs = 60), "graft-dict-jobs")
    val m = latest(root)
    val terms = Vector("needlemid", "w0000", "stopish", "zzabsent")
    TermDictionary.invalidate(root)
    val (cold, coldJobs) = jobsOf(planAt(root, m, terms))
    assert(coldJobs == 1, "first plan loads the dictionary with one job")
    val (warm, warmJobs) = jobsOf(planAt(root, m, terms))
    assert(warmJobs == 0, "a warm pinned snapshot plans without Spark")
    assert(warm == cold)
    val (_, unpinnedJobs) = jobsOf(SearchEngine.plan(spark, root,
      QuerySpec(terms, "AND", 10), statsOf(m)))
    assert(unpinnedJobs == 0, "manifest resolution adds no job either")
    // both invalidation hooks drop the root's dictionaries
    IndexManifest.invalidateCache(root)
    assert(jobsOf(planAt(root, m, terms))._2 == 1)
    SearchEngine.disableServingCache(root)
    assert(jobsOf(planAt(root, m, terms))._2 == 1)
    assert(jobsOf(planAt(root, m, terms))._2 == 0)
  }

  test("a query on a half-built index does not pin its missing dictionary") {
    // wave manifests name statsGen 0 before the build writes term_stats,
    // and the finished index reuses that dictionary key
    val root = SparkTestBase.tmpDir("graft-dict-partial")
    val ds = spark.createDataset(TranscriptGen.corpus(seed = 65L, nConvs = 60))
    var waves = 0
    intercept[IndexBuilder.BuildCancelledException] {
      IndexBuilder.build(spark, ds, root, shards = 4, waveSize = 2,
        maxChunkPostings = 64, cancelCheck = () => { waves += 1; waves > 1 })
    }
    assert(SearchEngine.query(spark, root, "needlerare needlemid", "OR").isEmpty)
    IndexBuilder.build(spark, ds, root, shards = 4, waveSize = 2,
      maxChunkPostings = 64)
    assert(SearchEngine.query(spark, root, "needlerare needlemid", "OR").nonEmpty)
  }

  test("a pinned snapshot whose dictionary was reclaimed fails loudly, never reads as empty") {
    val corpus = TranscriptGen.corpus(seed = 66L, nConvs = 60)
    val root = build(corpus, "graft-dict-expired")
    val m0 = latest(root)
    IndexMaintenance.deleteConversations(spark, root, Set(corpus.head.conv_id))
    IndexSnapshot.expireSnapshots(spark, root, keepLast = 1)
    assert(!IndexManifest.versions(root).contains(m0.snapshotId))
    TermDictionary.invalidate(root)
    val e = intercept[IllegalStateException] {
      SearchEngine.withExpiryDiagnosis(root, m0.snapshotId) {
        planAt(root, m0, Vector("needlemid"))
      }
    }
    assert(e.getMessage.contains("expired by concurrent maintenance"))
  }

  test("plan sees maintenance commits; time travel keeps the old dfs") {
    IndexMaintenance.keepSnapshotsOverride = Some(10)
    try {
      val corpus = TranscriptGen.corpus(seed = 62L, nConvs = 80)
      val root = build(corpus, "graft-dict-maint")
      val m0 = latest(root)
      val terms = Vector("needlemid", "needlerare", "w0000", "zzdictnew")
      val p0 = planAt(root, m0, terms)
      val q = "needlemid w0000"
      val before = SearchEngine.query(spark, root, q, "OR", 10)
      val victim = corpus.find(t => Analyzer.tokens(t.text).contains("needlemid")).get.conv_id
      val victimHits = corpus.count(t => t.conv_id == victim &&
        Analyzer.tokens(t.text).contains("needlemid"))
      IndexMaintenance.appendConversationsDs(spark, root, Seq(
        Turn("zz-dict-new", 0, "user", "zzdictnew needlemid w0000", "", ts),
        Turn("zz-dict-new", 1, "user", "needlemid again", "", ts)).toDS())
      IndexMaintenance.deleteConversations(spark, root, Set(victim))
      val m2 = latest(root)
      assert(m2.snapshotId == m0.snapshotId + 2)
      assertPlanMatches(root, m2, terms)
      val p2 = SearchEngine.plan(spark, root, QuerySpec(terms, "AND", 10), statsOf(m2))
      def dfOf(p: SearchEngine.Plan, t: String) = p.terms.find(_.term == t).map(_.df)
      assert(dfOf(p2, "zzdictnew").contains(1L))
      assert(dfOf(p2, "needlemid") == dfOf(p0, "needlemid").map(_ + 2 - victimHits))
      // the pinned old snapshot still plans and answers with its own dfs
      assert(planAt(root, m0, terms) == p0)
      assert(dfOf(p0, "zzdictnew").isEmpty)
      assert(SearchEngine.queryAt(spark, root, m0.snapshotId, q, "OR", 10) == before)
      assert(SearchEngine.queryAt(spark, root, m0.snapshotId, "zzdictnew").isEmpty)
      assert(SearchEngine.query(spark, root, "zzdictnew").nonEmpty)
    } finally IndexMaintenance.keepSnapshotsOverride = None
  }

  test("plan equals a Spark filter over term_stats on seeded random term sets") {
    val root = build(TranscriptGen.corpus(seed = 63L, nConvs = 80), "graft-dict-rand")
    val m = withExtraDictRows(root, Seq(("zzdfzero", 0L, 0, 0L)))
    val dict = IndexSnapshot.termStats(spark, root, m)
    val vocab = dict.select($"term").as[String].collect().sorted.toVector
    val capped = dict.filter($"df" > SearchEngine.StopTermCap * m.nDocs)
      .select($"term").as[String].collect().sorted.toVector
    assert(capped.contains("stopish"), "the fixture's stop-capped term")
    val pool = Gen.frequency(
      6 -> Gen.oneOf(vocab),
      2 -> Gen.oneOf("zzabsent", "needlemidx", "w", "w00000", "ежик"),
      1 -> Gen.const("zzdfzero"),
      2 -> Gen.oneOf(capped))
    val gen = for {
      n <- Gen.chooseNum(1, 6)
      terms <- Gen.listOfN(n, pool)
      stopCap <- Gen.oneOf(true, false)
    } yield (terms.toVector, stopCap)
    forAllSeeded(gen, n = 60) { case (terms, stopCap) =>
      assertPlanMatches(root, m, terms, stopCap)
    }
    // df = 0 rows are kept verbatim, as rarest
    assert(planAt(root, m, Seq("zzdfzero", "needlemid")).terms.head ==
      TermStats("zzdfzero", 0L, 0))
  }

  test("readers racing commits never fail and never mix snapshots") {
    IndexMaintenance.keepSnapshotsOverride = Some(10)
    val corpus = TranscriptGen.corpus(seed = 64L, nConvs = 80)
    val root = build(corpus, "graft-dict-race")
    val q = "needlemid w0000 zzrace"
    val terms = Analyzer.analyzeQuery(q)
    def ask(): Vector[SearchHit] = SearchEngine.query(spark, root, q, "OR", 10)
    val valid = new ConcurrentLinkedQueue[Vector[SearchHit]]
    valid.add(ask())
    val stop = new AtomicBoolean(false)
    val plans = new ConcurrentLinkedQueue[(Manifest, SearchEngine.Plan)]
    val answers = new ConcurrentLinkedQueue[Vector[SearchHit]]
    val failures = new ConcurrentLinkedQueue[Throwable]
    val readers = (0 until 2).map { i =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val m = latest(root)
            plans.add((m, planAt(root, m, terms)))
            answers.add(ask())
          } catch { case t: Throwable => failures.add(t); stop.set(true) }
        }
      }, s"dict-reader-$i")
    }
    readers.foreach(_.start())
    try {
      IndexMaintenance.appendConversationsDs(spark, root, Seq(
        Turn("zz-race-1", 0, "user", "zzrace needlemid w0000", "", ts)).toDS())
      valid.add(ask())
      IndexMaintenance.deleteConversations(spark, root, Set(corpus.head.conv_id))
      valid.add(ask())
      IndexMaintenance.appendConversationsDs(spark, root, Seq(
        Turn("zz-race-2", 0, "user", "zzrace zzrace needlemid", "", ts)).toDS())
      valid.add(ask())
    } finally {
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    try {
      assert(failures.isEmpty, s"reader failed mid-commit: ${failures.peek()}")
      val validSet = valid.toArray.toSet
      var n = 0
      answers.forEach { a =>
        n += 1
        assert(validSet.contains(a), s"answer matches no committed snapshot: $a")
      }
      assert(n > 0, "no reader query completed — race not exercised")
      val bySnapshot = scala.collection.mutable.Map.empty[Long, SearchEngine.Plan]
      plans.forEach { case (m, p) =>
        val ref = bySnapshot.getOrElseUpdate(m.snapshotId, {
          val (kept, dropped) = refPlan(root, m, terms)
          SearchEngine.Plan(kept, dropped.toVector, "AND", 10)
        })
        assert(p.terms == ref.terms && p.dropped.toSet == ref.dropped.toSet,
          s"plan at v${m.snapshotId} mixes dictionaries: $p vs $ref")
      }
    } finally IndexMaintenance.keepSnapshotsOverride = None
  }

  // ---- expansion identity ---------------------------------------------

  /** Non-ASCII and near-duplicate terms (accents, ё-fold, Greek, CJK
    * compatibility and fullwidth letters past U+E000, ß), plus 300
    * `zqNNN` terms for the expansion refusals. */
  private lazy val expansionRoot: (String, Manifest) = {
    val texts = Seq(
      "café cafe cafè cafés caffe kafé cafeteria",
      "ёжик ежик ежики ёжики ёж",
      "λόγος λογος λόγοι λογοσ",
      "豈更 豈 更車 ａｂｃ ａｂｄ",
      "straße strasse strase strassen",
      "needle needles needel neeedle nedle needlework",
      (0 until 300).map(i => f"zq$i%03d").mkString(" "))
    val root = build(texts.zipWithIndex.map { case (t, i) =>
      Turn(f"exp-$i%03d", 0, "user", t, "", ts) }, "graft-dict-exp")
    // astral-plane terms never come out of the analyzer (surrogates are
    // separators), so they enter the dictionary directly: they order
    // AFTER U+E000..U+FFFF in UTF-8 but BEFORE it in UTF-16, and their
    // code-point length differs from String.length
    val astral = Seq("caf𝄞", "cafe𝄞", "𐐀",
      "needl𐐀", "𝄞needle", "ca𝄞f豈",
      "caf豈")
    (root, withExtraDictRows(root, astral.map(t => (t, 1L, 1, 1L))))
  }

  private def setOf(df: DataFrame): Set[TermStats] =
    df.select($"term", $"df", $"maxTf").as[TermStats].collect().toSet

  private def assertSameSet(got: Vector[TermStats], ref: DataFrame,
                            what: String): Unit = {
    val want = setOf(ref)
    assert(got.toSet == want && got.size == want.size, what)
  }

  test("prefix / fuzzy / wildcard expansions equal the DataFrame predicates") {
    val (root, m) = expansionRoot
    val dict = TermDictionary.of(spark, root, m)
    val base = IndexSnapshot.termStats(spark, root, m)
    assert(dict.size == base.count())

    Seq("caf", "café", "cafe", "ежик", "ё", "е", "λ", "λογ", "豈", "ａｂ",
        "stra", "straß", "nee", "needle", "zq1", "zq29", "zq", "c", "x",
        "zzz").foreach { pre =>
      assertSameSet(SearchEngine.prefixExpansion(dict, pre),
        base.filter($"term".startsWith(pre)), s"prefix '$pre'")
    }

    for {
      q <- Seq("cafe", "caf", "needle", "ежик", "λογος", "strasse", "zq100",
               "ａｂｃ", "豈更", "c")
      edits <- 0 to SearchEngine.MaxFuzzyEdits
      prefixLength <- Seq(0, 1, 2, 3)
    } {
      val qCp = q.codePointCount(0, q.length)
      val banded = base.filter(length($"term").between(qCp - edits, qCp + edits))
      val cut =
        if (prefixLength > 0) banded.filter($"term".startsWith(q.take(prefixLength)))
        else banded
      assertSameSet(SearchEngine.fuzzyExpansion(dict, q, edits, prefixLength),
        cut.filter(levenshtein($"term", lit(q)) <= edits),
        s"fuzzy '$q'~$edits prefixLength=$prefixLength")
    }

    Seq("caf*", "*fe", "c?fe", "caf?", "*", "?", "??", "?????", "n*e",
        "*ed*", "ежик?", "*ки", "λ*ς", "*é*", "zq1?0", "zq*9", "*9?",
        "cafe", "zzz*", "ｂ*", "*ｃ").foreach { pat =>
      val litPrefix = pat.takeWhile(c => c != '*' && c != '?')
      val cut =
        if (litPrefix.nonEmpty) base.filter($"term".startsWith(litPrefix)) else base
      assertSameSet(SearchEngine.wildcardExpansion(dict, pat),
        cut.filter($"term".like(pat.replace('*', '%').replace('?', '_'))),
        s"wildcard '$pat'")
    }
  }

  test("expansions past MaxPrefixExpansions still refuse") {
    val (root, _) = expansionRoot
    def refuses(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("expands to") &&
        e.getMessage.contains(SearchEngine.MaxPrefixExpansions.toString))
    }
    refuses(SearchEngine.prefixTopK(spark, root, "zq"))
    refuses(SearchEngine.fuzzyTopK(spark, root, "zq100", maxEdits = 2))
    refuses(SearchEngine.wildcardTopK(spark, root, "*"))
    refuses(SearchEngine.wildcardTopK(spark, root, "zq*"))
    // narrowed patterns answer
    assert(SearchEngine.prefixTopK(spark, root, "zq1").nonEmpty)
    assert(SearchEngine.fuzzyTopK(spark, root, "zq100", maxEdits = 2,
      prefixLength = 4).nonEmpty)
    assert(SearchEngine.wildcardTopK(spark, root, "zq1?0").nonEmpty)
  }
}

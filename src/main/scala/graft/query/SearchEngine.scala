package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, IndexManifest, IndexSnapshot, Manifest, PostingCodec,
  TermDictionary}
import graft.model.{CorpusStats, QueryFilter, QuerySpec, SearchHit, TermStats}

/** Query engine over a built index (SURVEY.md §3.1 Spark lifecycle, §7.5).
  *
  * Two interchangeable execution paths, rank-identical by construction and
  * by test (EngineParitySpec):
  *
  *  - `queryNaive` — declarative Catalyst plan over the uncompressed tf
  *    relation: broadcast dictionary join (J3) → stop-term cap (F4) →
  *    df-asc ordering (O1) → left-semi intersection chain (J1) → BM25
  *    per (doc, term) → deterministic canonical-order sum (A4) → top-k
  *    (O2/O4, TakeOrderedAndProject). The correctness backstop and the
  *    SQL-oracle twin.
  *
  *  - `query` — compressed path: df lookup in the snapshot's driver-
  *    resident dictionary ([[TermDictionary]], loaded once per term_stats
  *    generation — no Spark job per query) → partition-pruned posting
  *    scan (parquet row-group skipping on the sorted `term` column) →
  *    shard-local walk in `mapPartitions` (zero per-query shuffle) →
  *    per-shard top-k → driver k-way merge. Per-query work is
  *    O(postings of the query terms), network is O(shards × k); the
  *    dictionary must fit in driver memory, as the broadcast join of
  *    `queryNaive` already requires.
  *
  * Every compressed-path entry point — AND/OR, MUST_NOT, SHOULD, the
  * combined BooleanQuery, phrase/NEAR (alone or as a clause) and the
  * prefix/fuzzy/wildcard expansions — is one planner over one executor:
  *
  *  1. [[clauseQuery]] resolves clause overlaps (Lucene clause algebra)
  *     and [[fanOut]] runs the plan over the whole corpus or once per
  *     scope, each with its own (statistics, docId ranges, df lookup);
  *  2. [[execute]] runs one [[Clauses]] value: MUST terms (scored,
  *     intersected), SHOULD terms (scored, `minMatch` of them required),
  *     MUST_NOT terms (probed), FILTER field terms (weightless) and an
  *     optional positional [[Proximity]] predicate over the MUST slots;
  *  3. [[scanShards]] is the one posting-scan skeleton: pruned scan →
  *     per-shard decode → per-shard body → collect. The top-k body is
  *     the conjunctive walk ([[Wand.andAllWith]] with a per-candidate
  *     gate) when MUST is non-empty, else the disjunctive dispatch
  *     ([[Wand.orTopKSegments]] / [[Wand.shouldTopKSegments]]);
  *     [[rescanVerify]] serves proximity on a positions-free index.
  *
  * The dedicated modes are degenerate inputs of that executor, exactly:
  * AND is MUST-only, OR is SHOULD with minMatch 1, a NOT query has no
  * SHOULD slots and a plain phrase has no term clauses — an absent SHOULD
  * slot adds +0.0 to the canonical fold, so their scores stay bit-equal.
  *
  * Query-time semantics carried over from the reference:
  *  - terms analyzed with the SAME analyzer as the build
  *    (SearchServiceImpl.java:68-70);
  *  - stop-term cap df <= 0.9·N (LEMMA_FREQUENCY_PERCENT,
  *    SearchServiceImpl.java:32,151-154);
  *  - AND = intersection, rarest term first (:164-200);
  *  - deterministic order: score DESC, docId ASC (§7.0.3 — the reference
  *    leaves ties unspecified, SearchServiceImpl.java:231-245).
  */
object SearchEngine {

  /** Reference LEMMA_FREQUENCY_PERCENT (SearchServiceImpl.java:32). */
  val StopTermCap = 0.9

  final case class Plan(terms: Vector[TermStats], dropped: Vector[String],
                        mode: String, k: Int)

  /** The latest committed snapshot — resolved ONCE per query and threaded
    * through planning, the posting scan and the doc lookups, so a query
    * never mixes two snapshots' files even while maintenance commits
    * concurrently (snapshot isolation; IndexMaintenance scaladoc).
    * Resolution goes through [[IndexManifest.readCached]] (version-hint
    * file + per-(root, version) memo — VERDICT r04 item 1): repeat
    * queries on an unchanged snapshot pay one tiny hint read and one
    * exists() probe, never a directory listing or a manifest re-parse
    * (IndexManifestSpec pins the counter contract). */
  private def pinnedManifest(root: String): Manifest =
    IndexManifest.readCached(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root — index not built"))

  /** Driver-side "optimize" phase: dictionary lookup + stop cap + df-asc
    * order (SURVEY.md §3.1 step 5). The lookup probes the pinned
    * snapshot's memoized [[TermDictionary]] — no Spark job once the
    * generation is loaded. Unknown terms are absent from the plan;
    * `dropped` lists the stop-capped ones in query order. */
  def plan(spark: SparkSession, root: String, spec: QuerySpec,
           stats: CorpusStats, applyStopCap: Boolean = true,
           pinned: Option[Manifest] = None): Plan = {
    if (spec.terms.isEmpty) return Plan(Vector.empty, Vector.empty, spec.mode, spec.k)
    val m = pinned.getOrElse(pinnedManifest(root))
    val dict = TermDictionary.of(spark, root, m)
    val found = spec.terms.distinct.flatMap(dict.get)
    val cap = StopTermCap * stats.nDocs
    val (kept0, dropped) =
      if (applyStopCap) found.partition(_.df <= cap) else (found, Vector.empty)
    val kept = kept0.sortBy(t => (t.df, t.term)) // O1: rarest first
    Plan(kept, dropped.map(_.term).toVector, spec.mode, spec.k)
  }

  /** Compressed scale path. Returns exact global top-k hits.
    * `convPrefix` scopes the search to conversations whose id starts with
    * the prefix and scores with PER-SCOPE statistics — reference per-site
    * semantics: df/N/stop-cap are all per site
    * (LemmaRepository.findBySiteAndLemma, SearchServiceImpl.java:143-162). */
  def query(spark: SparkSession, root: String, queryText: String,
            mode: String = "AND", k: Int = 10,
            convPrefix: Option[String] = None,
            filter: QueryFilter = QueryFilter.Empty,
            after: Option[SearchHit] = None): Vector[SearchHit] =
    termQuery(spark, root, pinnedManifest(root), queryText, mode, k,
      convPrefix.toSeq, filter, after)

  /** `mode` is AND or OR on every mode-taking entry point — anything else
    * is refused, never run as a silent OR. */
  private def requireMode(mode: String): Unit =
    require(mode == "AND" || mode == "OR", s"mode must be AND or OR, got '$mode'")

  /** AND is the MUST-only [[clauseQuery]]; OR is SHOULD with minMatch 1
    * (the spec-pinned `queryShould(q, 1) == OR` law). */
  private def termQuery(spark: SparkSession, root: String, m: Manifest,
                        queryText: String, mode: String, k: Int,
                        scopes: Seq[String], filter: QueryFilter,
                        after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(mode)
    val terms = Analyzer.analyzeQueryFor(m.analyzerVersion, queryText)
    if (mode == "AND")
      clauseQuery(spark, root, m, terms, Vector.empty, Vector.empty, 0, k,
        scopes, filter, after)
    else clauseQuery(spark, root, m, Vector.empty, terms, Vector.empty, 1, k,
      scopes, filter, after)
  }

  /** search_after (r7) is single-walk only: a multi-scope union keeps
    * each doc's BEST-instance score, and a per-scope after-cursor walk
    * could surface a doc by a non-best instance — pagination over scoped
    * unions needs a different protocol, so it refuses instead. */
  private val ScopedAfterError =
    "search_after does not compose with scopes/conv (a scoped union " +
    "keeps best-instance scores; page the unscoped query or one scope's " +
    "results client-side)"

  /** Exact memo-key fragment for a search_after cursor (bit-exact via
    * doubleToLongBits — two cursors with equal printed scores but
    * different bits must not share a cache entry). */
  private def afterKey(after: Option[SearchHit]): String =
    after.map(h =>
      s"${java.lang.Double.doubleToLongBits(h.score)}:${h.docId}")
      .getOrElse("")

  /** Memo-key fragment for a resolved boost map (bit-exact, order-free). */
  private def boostKey(boostOf: Map[String, Double]): String =
    if (boostOf.isEmpty) ""
    else boostOf.toSeq.sortBy(_._1).map { case (t, b) =>
      s"$t^${java.lang.Double.doubleToLongBits(b)}" }.mkString(":", ",", "")

  /** Resolve a [[QueryFilter]] against one pinned snapshot: the encoded
    * field terms (weightless posting cursors) + the ts-range docId
    * segments (None = no ts constraint; Some(empty) = nothing in range).
    * REFUSES on a fields-free index — a format without field postings/ts
    * stamps cannot answer these filters exactly (and a half-appended
    * legacy index would silently exclude its legacy docs), the same loud
    * contract as the positions flag. */
  private def resolveFilter(spark: SparkSession, root: String, m: Manifest,
                            f: QueryFilter)
      : (Vector[String], Option[Vector[(Long, Long)]]) = {
    if (f.isEmpty) return (Vector.empty, None)
    if (!m.fields) throw new IllegalStateException(
      s"index at $root was built without typed fields (fields=false): " +
      "role/tool/ts filters need a fields-enabled index — rebuild with " +
      "IndexBuilder.build(fields = true) (the default)")
    val terms = f.fieldEqs.map { case (fl, v) =>
      val t = Analyzer.fieldTerm(fl, v)
      // empty-after-fold values have no postings BY CONSTRUCTION (the
      // builder skips them) — refuse rather than silently matching
      // nothing on one path and empty-string docs on another
      require(!t.endsWith(Analyzer.FieldMarker),
        s"empty $fl filter value: '${v}'")
      t
    }.toVector
    val ts =
      if (!f.hasTs) None
      else Some(tsSegments(spark, root, m,
        f.tsFrom.map(_.getTime).getOrElse(Long.MinValue),
        f.tsTo.map(_.getTime).getOrElse(Long.MaxValue)))
    (terms, ts)
  }

  /** Time travel: query a SPECIFIC committed snapshot (must still be
    * within the retention window — see IndexSnapshot.expireSnapshots;
    * expired snapshots' manifest files are deleted with their data, so
    * this throws rather than reading half-reclaimed dirs). The snapshot
    * id participates in the result-memo key, so historical and current
    * results never cross-contaminate a serving cache.
    *
    * RETENTION CONTRACT under concurrent maintenance (VERDICT r04
    * item 7): with retention K (GRAFT_KEEP_SNAPSHOTS / the programmatic
    * override; per-op auto-expire keeps K), a reader pinned `d`
    * snapshots behind the current one survives `K - 1 - d` further
    * maintenance commits — a reader on the OLDEST retained snapshot has
    * zero grace. Size K ≥ d_max + (max commits during one query) + 1.
    * If expiry does overtake a running query, the query NEVER reads a
    * mixed state (dirs are immutable and deleted whole); it fails, and
    * [[withExpiryDiagnosis]] rethrows with this contract spelled out
    * instead of a raw missing-path error. */
  def queryAt(spark: SparkSession, root: String, snapshotId: Long,
              queryText: String, mode: String = "AND",
              k: Int = 10, scopes: Seq[String] = Nil,
              filter: QueryFilter = QueryFilter.Empty,
              after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(mode)
    require(after.isEmpty || scopes.isEmpty, ScopedAfterError)
    val retained = IndexManifest.versions(root)
    require(retained.contains(snapshotId),
      s"snapshot $snapshotId not available at $root (expired or never " +
      s"committed); retained: ${retained.mkString(",")}")
    withExpiryDiagnosis(root, snapshotId) {
      // the manifest parse itself can lose the race with expiry (cold
      // cache miss after versions() listed the snapshot) — keep it
      // inside the diagnosis wrapper so it fails loudly, not raw; scope,
      // segment and df memos key by snapshot id
      val m = IndexManifest.readVersionCached(root, snapshotId)
      termQuery(spark, root, m, queryText, mode, k, scopes, filter, after)
    }
  }

  /** Rethrow scan failures against a pinned snapshot whose retention was
    * overtaken mid-query as the LOUD contract error (see [[queryAt]]).
    * Failures with the snapshot still retained pass through untouched. */
  private[graft] def withExpiryDiagnosis[A](root: String, snapshotId: Long)
                                           (body: => A): A =
    try body
    catch {
      case e: Exception =>
        val retained =
          scala.util.Try(IndexManifest.versions(root)).getOrElse(Nil)
        if (!retained.contains(snapshotId))
          throw new IllegalStateException(
            s"snapshot $snapshotId at $root was expired by concurrent " +
            s"maintenance DURING this query (retained now: " +
            s"${retained.mkString(",")}). Time-travel readers need " +
            "retention ≥ travel depth + concurrent commits + 1 — raise " +
            "GRAFT_KEEP_SNAPSHOTS or defer expireSnapshots", e)
        else throw e
    }

  /** Multi-scope search (reference multi-site: per-site results computed
    * with per-site statistics, then unioned — SearchServiceImpl.java:
    * 127-162, O5). Scopes are conv-id prefixes and expected disjoint
    * (like sites); a doc reachable through several overlapping scopes
    * keeps its highest-scoring instance. Per scope ([[fanOut]]):
    *
    *  1. one pruned docs agg resolves (docId range, N, avgdl);
    *  2. one pruned posting scan counts per-term df INSIDE the range
    *     (block-skipping cursors, decode-only);
    *  3. stop cap df <= 0.9*N_scope, df-asc order, WAND over the range
    *     with the scoped stats.
    */
  def queryScoped(spark: SparkSession, root: String, queryText: String,
                  mode: String, k: Int, scopes: Seq[String],
                  filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    requireMode(mode)
    if (scopes.isEmpty) Vector.empty
    else termQuery(spark, root, pinnedManifest(root), queryText, mode, k,
      scopes, filter)
  }

  /** One planning target: the whole corpus or one scope, with its
    * statistics, its docId ranges (None = unconstrained, already
    * intersected with the filter's ts ranges) and its df lookup. The
    * lookup omits terms unknown to the target — absent from the
    * dictionary, or with scoped df 0. */
  private final case class Target(stats: CorpusStats,
                                  ranges: Option[Seq[(Long, Long)]],
                                  dfOf: Seq[String] => Map[String, Long])

  /** THE scope fan-out behind every query: `body` runs once over the
    * whole corpus (dictionary dfs) or once per scope (scoped dfs,
    * per-scope N/avgdl/segments), and per-scope answers union keeping
    * each doc's best-scoring instance, global (score DESC, docId ASC)
    * order. Filters compose with scopes: per-scope STATISTICS stay those
    * of the whole scope (filters never re-weigh — Lucene FILTER
    * semantics); the walk runs over scope ∩ ts segments. Each caller
    * applies its own clause rule to the lookup ([[capped]] for AND/SHOULD
    * terms, exact for proximity slots, df > 0 for expansions). */
  private def fanOut(spark: SparkSession, root: String, m: Manifest,
                     scopes: Seq[String],
                     tsRanges: Option[Seq[(Long, Long)]], k: Int)
                    (body: Target => Vector[SearchHit]): Vector[SearchHit] =
    if (scopes.isEmpty) {
      val dict = TermDictionary.of(spark, root, m)
      body(Target(CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion), tsRanges,
        terms => terms.flatMap(t => dict.get(t).map(t -> _.df)).toMap))
    } else {
      val all = scopes.flatMap { pre =>
        val segs = scopeSegments(spark, root, m, pre)
        if (segs.isEmpty) Vector.empty
        else {
          val n = segs.map(_.n).sum
          val ranges = segs.map(s => (s.lo, s.hi))
          // ALL segments in ONE scan: the shard-local walk takes the
          // ascending segment list with one cursor pass and one heap — a
          // scope fragmented by out-of-order appends costs one Spark job,
          // not one per segment
          body(Target(CorpusStats(n, segs.map(_.sumDl).sum.toDouble / n,
              m.analyzerVersion),
            Some(tsRanges.fold[Seq[(Long, Long)]](ranges)(intersectRanges(ranges, _))),
            terms => scopedTermDf(spark, root, m, pre, terms, ranges)
              .filter(_._2 > 0)))
        }
      }
      unionBest(all, k)
    }

  /** Multi-scope union: overlapping scopes keep each doc's best-scoring
    * instance, global (score DESC, docId ASC) order. */
  private def unionBest(all: Seq[SearchHit], k: Int): Vector[SearchHit] =
    all.groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)

  /** The AND/SHOULD clause rule: terms unknown to the target drop
    * (reference SearchServiceImpl.java:145-148 filter(Objects::nonNull)),
    * terms above the stop cap df <= 0.9·N drop; survivors in canonical
    * (df asc, term asc) order. */
  private def capped(terms: Seq[String], dfs: Map[String, Long],
                     nDocs: Long): Vector[TermStats] =
    terms.flatMap(t => dfs.get(t).filter(_ <= StopTermCap * nDocs)
      .map(TermStats(t, _, 0))).toVector.sortBy(t => (t.df, t.term))

  /** One contiguous docId run of a scope. */
  final case class ScopeSegment(lo: Long, hi: Long, n: Long, sumDl: Long)

  // Scoped-query serving caches (VERDICT r03 items 3/8): a scope's
  // segments and its per-term dfs are pure functions of (root, snapshot,
  // prefix[, term]) — memoize them so a hot multi-tenant serving workload
  // pays the segment range-shuffle and the df posting scan ONCE per scope
  // per snapshot instead of per query.
  //
  // BOUNDED as access-order LRUs (VERDICT r04 item 6): keys carry the
  // snapshot id, so superseded snapshots' entries age out by eviction —
  // no directory listing is ever needed to prune — and a single
  // long-lived hot snapshot serving a diverse (or adversarial) tenant
  // workload cannot grow the maps past the caps. disableServingCache
  // still clears a root's entries eagerly on maintenance.
  private[graft] val ScopeSegCacheCap = 4096
  private[graft] val ScopeDfCacheCap = 65536
  /** test hook: shrink the caps to make eviction observable cheaply */
  @volatile private[graft] var scopeCacheCapOverride: Option[(Int, Int)] = None
  private def lruMap[K, V](cap: () => Int) =
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap()
    }
  private val scopeSegCache =
    lruMap[(String, Long, String), Vector[ScopeSegment]](
      () => scopeCacheCapOverride.map(_._1).getOrElse(ScopeSegCacheCap))
  // value is java.lang.Long ON PURPOSE: a scala.Long-valued java map
  // would unbox get()'s null-on-miss to 0L — a phantom "df 0" cache hit
  private val scopeDfCache =
    lruMap[(String, Long, String, String), java.lang.Long](
      () => scopeCacheCapOverride.map(_._2).getOrElse(ScopeDfCacheCap))
  private[graft] def scopeCacheSizes: (Int, Int) =
    (scopeSegCache.synchronized(scopeSegCache.size),
     scopeDfCache.synchronized(scopeDfCache.size))
  private[graft] def clearScopeCaches(): Unit = {
    scopeSegCache.synchronized(scopeSegCache.clear())
    scopeDfCache.synchronized(scopeDfCache.clear())
    tsSegCache.synchronized(tsSegCache.clear())
  }
  /** # of actual (non-cached) segment computations — test observability. */
  private[graft] val scopeSegComputes = new java.util.concurrent.atomic.AtomicLong
  /** # shards the last segment computation scanned (-1 = unpruned). */
  private[graft] val lastScopeScanShards =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private[query] def scopeSegments(spark: SparkSession, root: String,
                                   m: Manifest,
                                   prefix: String): Vector[ScopeSegment] = {
    val key = (root, m.snapshotId, prefix)
    scopeSegCache.synchronized(Option(scopeSegCache.get(key))) match {
      case Some(v) => v
      case None =>
        val v = computeScopeSegments(spark, root, m, prefix)
        scopeSegCache.synchronized(scopeSegCache.put(key, v))
        v
    }
  }

  /** Could a shard whose conv range is [mn, mx] (UTF-8 order) hold any
    * conv_id starting with `prefix`? The p-prefixed keys form the byte
    * interval [p, succ(p)) where succ increments p's last non-0xFF byte;
    * intersection ⇔ mx >= p AND mn < succ(p) (succ absent = unbounded). */
  private[query] def shardMayHoldPrefix(mn: String, mx: String,
                                        prefix: String): Boolean = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val p = prefix.getBytes(utf8)
    if (java.util.Arrays.compareUnsigned(mx.getBytes(utf8), p) < 0) return false
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) return true // no finite successor: interval unbounded above
    val succ = java.util.Arrays.copyOf(p, i + 1)
    succ(i) = (succ(i) + 1).toByte
    java.util.Arrays.compareUnsigned(mn.getBytes(utf8), succ) < 0
  }

  /** A scope's docIds as contiguous segments. Fresh builds keep conv_ids
    * docId-contiguous (one segment); out-of-order appends add further
    * segments (one per append batch, so the list stays small). The scan
    * prunes to shards whose manifest conv range intersects the prefix
    * interval (the r4 stamps); runs are detected per range-partition and
    * merged across boundaries on the driver — no docId set is ever
    * collected. */
  private def computeScopeSegments(spark: SparkSession, root: String,
                                   m: Manifest,
                                   prefix: String): Vector[ScopeSegment] = {
    import spark.implicits._
    scopeSegComputes.incrementAndGet()
    val parts = spark.sessionState.conf.numShufflePartitions
    val nonEmpty = m.shards.filter(_.minDocId >= 0)
    val docsFrame =
      if (nonEmpty.exists(e => e.minConv.isEmpty || e.maxConv.isEmpty)) {
        lastScopeScanShards.set(-1) // unstamped entries: no pruning
        IndexSnapshot.docs(spark, root, m)
      } else {
        val candidates = nonEmpty.filter(e =>
          shardMayHoldPrefix(e.minConv.get, e.maxConv.get, prefix))
          .map(_.shard)
        lastScopeScanShards.set(candidates.size)
        IndexSnapshot.docsFor(spark, root, m, candidates)
      }
    contiguousRuns(parts, docsFrame.filter(col("conv_id").startsWith(prefix)))
  }

  /** The contiguous docId runs of a filtered docs frame, as segments with
    * per-run (n, Σdl). Runs are detected per range-partition and merged
    * across boundaries on the driver — no docId set is ever collected.
    * ONE definition shared by conv-prefix scopes and ts ranges (r7). */
  private def contiguousRuns(parts: Int,
                             filtered: DataFrame): Vector[ScopeSegment] = {
    import filtered.sparkSession.implicits._
    val runs = filtered
      .select($"docId", $"dl".cast("long").as("dl"))
      .repartitionByRange(parts, $"docId")
      .sortWithinPartitions($"docId")
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[ScopeSegment]
        var lo = -1L; var prev = -2L; var n = 0L; var dl = 0L
        it.foreach { r =>
          val d = r.getLong(0)
          if (lo == -1L) { lo = d }
          else if (d != prev + 1) {
            out += ScopeSegment(lo, prev, n, dl); lo = d; n = 0L; dl = 0L
          }
          prev = d; n += 1; dl += r.getLong(1)
        }
        if (lo != -1L) out += ScopeSegment(lo, prev, n, dl)
        out.iterator
      }
      .collect().sortBy(_.lo)
    // merge runs adjacent across partition boundaries
    val merged = scala.collection.mutable.ArrayBuffer.empty[ScopeSegment]
    runs.foreach { s =>
      if (merged.nonEmpty && merged.last.hi + 1 == s.lo) {
        val l = merged.remove(merged.length - 1)
        merged += ScopeSegment(l.lo, s.hi, l.n + s.n, l.sumDl + s.sumDl)
      } else merged += s
    }
    merged.toVector
  }

  // ts-range docId segments (r7 FILTER clauses): memoized per (root,
  // snapshot, from, to) like scope segments — a hot dashboard's "last N
  // hours" window pays the docs scan once per snapshot. The scan pushes
  // the ts predicate down to parquet (PushedFilters), so row-group
  // min/max stats on ts make out-of-window shards ~free under
  // time-ordered ingest — the same prune manifest conv-stamps give
  // prefixes, without a manifest format change.
  private[graft] val TsSegCacheCap = 4096
  private val tsSegCache =
    lruMap[(String, Long, Long, Long), Vector[(Long, Long)]](() => TsSegCacheCap)

  private[query] def tsSegments(spark: SparkSession, root: String,
                                m: Manifest, from: Long,
                                to: Long): Vector[(Long, Long)] = {
    val key = (root, m.snapshotId, from, to)
    tsSegCache.synchronized(Option(tsSegCache.get(key))) match {
      case Some(v) => v
      case None =>
        val parts = spark.sessionState.conf.numShufflePartitions
        val pred = col("ts").isNotNull &&
          col("ts") >= new java.sql.Timestamp(from) &&
          col("ts") <= new java.sql.Timestamp(to)
        val v = contiguousRuns(parts,
          IndexSnapshot.docs(spark, root, m).filter(pred))
          .map(s => (s.lo, s.hi))
        tsSegCache.synchronized(tsSegCache.put(key, v))
        v
    }
  }

  /** Intersection of two ascending disjoint range lists (scope segments ∩
    * ts segments). */
  private[query] def intersectRanges(a: Seq[(Long, Long)],
                                     b: Seq[(Long, Long)]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0; var j = 0
    val av = a.sorted.toIndexedSeq
    val bv = b.sorted.toIndexedSeq
    while (i < av.length && j < bv.length) {
      val lo = math.max(av(i)._1, bv(j)._1)
      val hi = math.min(av(i)._2, bv(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (av(i)._2 < bv(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** df of each query term restricted to the segment union: pruned posting
    * scan + block-skipping counts; decode-only, no scoring, tiny result.
    * Segments are ascending, so one forward cursor pass covers them all.
    * Per-(scope, term) results are memoized per snapshot (scopeDfCache);
    * only terms missing from the cache hit the posting scan. */
  private def scopedTermDf(spark: SparkSession, root: String, m: Manifest,
                           prefix: String, terms: Seq[String],
                           segments: Seq[(Long, Long)]): Map[String, Long] = {
    val cached = scopeDfCache.synchronized(terms.flatMap(t =>
      Option(scopeDfCache.get((root, m.snapshotId, prefix, t)))
        .map(t -> _.longValue())).toMap)
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val computed = computeScopedTermDf(spark, root, m, missing, segments)
    // a term absent from the scoped postings has df 0 — cache that too,
    // or every repeat query with it would rescan
    scopeDfCache.synchronized(missing.foreach(t =>
      scopeDfCache.put((root, m.snapshotId, prefix, t),
        Long.box(computed.getOrElse(t, 0L)))))
    cached ++ missing.map(t => t -> computed.getOrElse(t, 0L))
  }

  private def computeScopedTermDf(spark: SparkSession, root: String,
                                  m: Manifest, terms: Seq[String],
                                  segments: Seq[(Long, Long)]): Map[String, Long] = {
    import spark.implicits._
    val (segs, shardPrune) = segsAndPrune(m, Some(segments))
    scanShards(spark, root, m, shardPrune, terms, withPos = false) { (_, chunks) =>
      chunks.iterator.map { case (t, cs) =>
        val cur = new Wand.TermCursor(Wand.TermPostings(t, 0L, 0, cs), 1L, 1.0,
          scored = false)
        var c = 0L
        segs.foreach { case (sLo, sHi) =>
          cur.advanceTo(sLo)
          while (!cur.exhausted && cur.docId <= sHi) { c += 1; cur.advance() }
        }
        (t, c)
      }
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Ascending disjoint docId segments scoping a query (one = the common
    * case; several = a scope fragmented by out-of-order appends) + the
    * manifest-range shard-prune transform for the posting scan
    * (partition-column pruning — the scan never lists the other shard
    * dirs). Empty segs = empty scope. */
  private def segsAndPrune(m: Manifest, ranges: Option[Seq[(Long, Long)]])
      : (Vector[(Long, Long)], DataFrame => DataFrame) = {
    val segs: Vector[(Long, Long)] = ranges match {
      case None => Vector((0L, Long.MaxValue))
      case Some(rs) => rs.filter { case (lo, hi) => lo <= hi }.sorted.toVector
    }
    val shardPrune: DataFrame => DataFrame =
      if (ranges.isEmpty) identity
      else {
        val pruned = segs.map { case (lo, hi) => shardsIntersecting(m, lo, hi) }
        if (pruned.exists(_.isEmpty)) identity // legacy manifest: no ranges
        else {
          val sh = pruned.flatMap(_.get).distinct
          df => df.filter(col("shard").isin(sh: _*))
        }
      }
    (segs, shardPrune)
  }

  /** The posting-scan projection [[decodeByTerm]] consumes — one
    * definition so the select list and the decode's positional getSeq
    * indices cannot drift apart. */
  private def postingScanColumns(withPos: Boolean): Seq[org.apache.spark.sql.Column] = {
    val base = Seq("shard", "term", "chunk", "count", "docIds", "tfs",
      "dls", "blockFirst", "docOff", "tfOff", "dlOff",
      "blockMaxTf", "blockMinDl")
    (if (withPos) base ++ Seq("positions", "posOff") else base).map(col)
  }

  /** ONE streaming pass over a task's posting rows (VERDICT r03 item 2):
    * each row decodes to its compressed BlockedList immediately and the
    * Row object drops, so task memory is exactly the selected terms'
    * compressed posting bytes. Key space is O(shards-in-task × query
    * terms) — tiny — while values hold the compressed bytes. */
  private def decodeByTerm(rows: Iterator[org.apache.spark.sql.Row],
                           withPos: Boolean)
      : scala.collection.mutable.LinkedHashMap[(Int, String),
          scala.collection.mutable.ArrayBuffer[PostingCodec.BlockedList]] = {
    val byTerm = scala.collection.mutable.LinkedHashMap
      .empty[(Int, String),
             scala.collection.mutable.ArrayBuffer[PostingCodec.BlockedList]]
    rows.foreach { r =>
      val key = (r.getInt(0), r.getString(1))
      byTerm.getOrElseUpdate(key,
        scala.collection.mutable.ArrayBuffer.empty[PostingCodec.BlockedList]) +=
        PostingCodec.BlockedList(
          r.getLong(3).toInt, r.getAs[Array[Byte]](4),
          r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6),
          r.getSeq[Long](7).toArray, r.getSeq[Int](8).toArray,
          r.getSeq[Int](9).toArray, r.getSeq[Int](10).toArray,
          r.getSeq[Int](11).toArray, r.getSeq[Int](12).toArray,
          if (withPos) r.getAs[Array[Byte]](13) else null,
          if (withPos) r.getSeq[Int](14).toArray else null)
    }
    byTerm
  }

  /** THE posting-scan skeleton: the pinned snapshot's postings scan
    * ([[resolvedPostingsScan]]), shard-pruned, filtered to `terms`, then
    * ONE `mapPartitions` pass that decodes every row ([[decodeByTerm]])
    * and hands each shard's (term, chunks) lists — chunks in
    * ascending-docId order, terms in scan order — to `perShard`.
    *
    * Per-shard grouping must be COMPLETE inside each task: posting files
    * are term-sorted, so if a shard's rows split across scan tasks at
    * row-group boundaries, term-A and term-B chunks land in different
    * tasks and a walk would silently drop or half-score the shard's hits
    * (EngineParitySpec split-scan test pins this). The aligned scan reads
    * one whole shard file per task; other layouts pay a per-query
    * `repartition($"shard")` (VERDICT r02 item 2). One partition may pack
    * several whole shards: the (few) keys group, never the rows. */
  private def scanShards[T: Encoder](spark: SparkSession, root: String,
                                     m: Manifest,
                                     shardPrune: DataFrame => DataFrame,
                                     terms: Seq[String], withPos: Boolean)
      (perShard: (Int, Seq[(String, IndexedSeq[PostingCodec.BlockedList])]) => Iterator[T])
      : Dataset[T] = {
    val (scanFrame, needShuffle) = resolvedPostingsScan(spark, root, m, withPos)
    val selected = shardPrune(scanFrame).filter(col("term").isin(terms: _*))
    (if (needShuffle) selected.repartition(col("shard")) else selected)
      .select(postingScanColumns(withPos): _*)
      .mapPartitions { rows =>
        decodeByTerm(rows, withPos).groupBy(_._1._1).iterator.flatMap {
          case (shard, termChunks) =>
            perShard(shard, termChunks.toSeq.map { case ((_, t), chunks) =>
              t -> chunks.sortBy(c => if (c.blockFirst.isEmpty) Long.MaxValue
                                      else c.blockFirst(0)).toIndexedSeq
            })
        }
      }
  }

  /** A positional predicate over the MUST slots (phrase / NEAR), with its
    * token-stream twin for indexes built without positions. `posPred`
    * reads each DISTINCT term's ascending ordinals, indexed by `slots`
    * (sorted distinct terms); `seq` and `label` key the result memo. */
  private final case class Proximity(label: String, seq: Vector[String],
                                     posPred: Array[Array[Int]] => Boolean,
                                     verify: Vector[String] => Boolean) {
    val slots: Vector[String] = seq.distinct.sorted
  }

  /** Slot of each distinct term (sorted order) and the slot of each
    * sequence position — repeated terms probe one list at several
    * offsets. */
  private def slotsOf(seq: Vector[String]): (Map[String, Int], Array[Int]) = {
    val slotOf = seq.distinct.sorted.zipWithIndex.toMap
    (slotOf, seq.map(slotOf).toArray)
  }

  private def phrase(seq: Vector[String]): Proximity = {
    val (_, seqSlots) = slotsOf(seq)
    Proximity("PHRASE", seq, pos => phraseMatchPositions(pos, seqSlots),
      toks => toks.containsSlice(seq))
  }

  /** Unordered NEAR over DISTINCT terms (see [[nearTopK]]). */
  private def near(terms: Vector[String], slop: Int): Proximity = {
    val idx = terms.zipWithIndex.toMap
    Proximity(s"NEAR:$slop", terms, pos => nearMatchPositions(pos, slop),
      toks => nearMatch(toks, idx, terms.size, slop))
  }

  private def orderedNear(seq: Vector[String], slop: Int): Proximity = {
    val (slotOf, seqSlots) = slotsOf(seq)
    Proximity(s"ONEAR:$slop", seq,
      pos => orderedNearMatchPositions(pos, seqSlots, slop),
      toks => orderedNearMatchPositions(occurrencesBySlot(toks, slotOf),
        seqSlots, slop))
  }

  /** One planned query for [[execute]]. `must` are the PLANNED survivors
    * (proximity slots first), `should` likewise; `not` and `filters`
    * (encoded field terms) are never scored. `minMatch` SHOULD terms
    * must match — at least 1 when `must` is empty. */
  private final case class Clauses(must: Vector[TermStats],
                                   should: Vector[TermStats],
                                   not: Vector[String],
                                   filters: Vector[String],
                                   minMatch: Int,
                                   boosts: Map[String, Double] = Map.empty,
                                   prox: Option[Proximity] = None) {
    /** Scored terms in the canonical (df asc, term asc) fold order. */
    val scored: Vector[TermStats] = (must ++ should).sortBy(t => (t.df, t.term))
    /** Canonical slot per term: scored terms, then the never-scored
      * MUST_NOT and FILTER slots (they always contribute 0.0). */
    val canonical: Map[String, Int] =
      (scored.map(_.term) ++ not ++ filters).zipWithIndex.toMap
    val df: Map[String, Long] = scored.map(t => t.term -> t.df).toMap
  }

  /** One shard's cursors split by clause role, in scan order. */
  private final class Roles(val must: Array[Wand.TermCursor],
                            val should: Array[Wand.TermCursor],
                            val not: Array[Wand.TermCursor],
                            val filters: Array[Wand.TermCursor])

  private def roles(c: Clauses, stats: CorpusStats,
                    chunks: Seq[(String, IndexedSeq[PostingCodec.BlockedList])]): Roles = {
    val cursors = chunks.map { case (term, cs) =>
      // typed-field terms (r7) are WEIGHTLESS (Lucene FILTER clauses):
      // zero score, zero upper bounds. Their df is the per-shard posting
      // count — the dictionary excludes the namespace, and the local
      // count is the better driver-order heuristic anyway.
      val isField = Analyzer.isFieldTerm(term)
      val df = if (isField) cs.map(_.count.toLong).sum else c.df.getOrElse(term, 0L)
      new Wand.TermCursor(Wand.TermPostings(term, df, c.canonical(term), cs),
        stats.nDocs, stats.avgdl, scored = !isField,
        boost = c.boosts.getOrElse(term, 1.0))
    }
    def of(terms: Set[String]) = cursors.filter(x => terms(x.term)).toArray
    new Roles(of(c.must.map(_.term).toSet), of(c.should.map(_.term).toSet),
      of(c.not.toSet), of(c.filters.toSet))
  }

  /** Run one planned query over `ranges` (None = the whole corpus): the
    * shard-local top-k walk on [[scanShards]], or [[rescanVerify]] for a
    * proximity clause on an index built without positions. */
  private def execute(spark: SparkSession, root: String, m: Manifest,
                      c: Clauses, stats: CorpusStats, k: Int,
                      ranges: Option[Seq[(Long, Long)]],
                      after: Option[SearchHit]): Vector[SearchHit] = {
    import spark.implicits._
    val (segs, shardPrune) = segsAndPrune(m, ranges)
    if (segs.isEmpty || c.scored.isEmpty) Vector.empty // empty scope / plan
    else if (c.prox.nonEmpty && !m.positions)
      rescanVerify(spark, root, m, c, stats, k, segs, shardPrune)
    else scanShards(spark, root, m, shardPrune, c.canonical.keys.toSeq,
        withPos = c.prox.nonEmpty) { (_, chunks) =>
        shardTopK(c, roles(c, stats, chunks), k, segs, after)
      }.collect().toVector.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Relative inflation on the conjunctive walk's admission bound:
    * covers float-association slack between `mustScore + shouldUbSum`
    * and the canonical-order total, orders of magnitude below any real
    * adjacent-score gap. Over-admission only costs probes;
    * under-admission would break exactness. */
  private val BoolBoundSlack = 1.0 + 1e-12

  /** One shard's exact top-k. A MUST term or filter absent from the
    * shard, or fewer than `minMatch` SHOULD lists present, means no doc
    * here can qualify (a doc's postings are complete within its shard);
    * an absent MUST_NOT list excludes nothing.
    *
    *  - no MUST — the disjunctive dispatch: minMatch 1 is rank-identical
    *    to OR (spec-pinned law) and takes the WAND/BMW-pruned
    *    [[Wand.orTopKSegments]]; minMatch > 1 takes the count-qualified
    *    [[Wand.shouldTopKSegments]]; filters and negatives are required /
    *    prohibited probes.
    *  - MUST present — the conjunctive walk: [[Wand.andAllWith]] over
    *    MUST + weightless filters (a rare filter list then drives), and
    *    per candidate, cheapest rejection first: the admission bound
    *    `(mustScore + Σ SHOULD upper bounds) · BoolBoundSlack ≥ heap
    *    threshold` (`>=` keeps threshold ties — exactness), the monotone
    *    MUST_NOT probes, the positional predicate on the proximity slots,
    *    then the SHOULD probes and the canonical fold. The complete
    *    intersection is enumerated — a k-cut before exclusion or
    *    verification could drop includable hits. */
  private def shardTopK(c: Clauses, r: Roles, k: Int,
                        segs: Vector[(Long, Long)],
                        after: Option[SearchHit]): Iterator[SearchHit] =
    if (r.must.length < c.must.size || r.filters.length < c.filters.size ||
        r.should.length < c.minMatch) Iterator.empty
    else if (c.must.isEmpty) {
      if (c.minMatch == 1)
        Wand.orTopKSegments(r.should.toIndexedSeq, k, segs,
          required = r.filters.toIndexedSeq, after = after,
          prohibited = r.not.toIndexedSeq).iterator
      else Wand.shouldTopKSegments(r.should.toIndexedSeq, c.minMatch, k, segs,
        required = r.filters.toIndexedSeq, prohibited = r.not.toIndexedSeq,
        after = after).iterator
    } else {
      val heap = new Wand.TopK(k, after)
      var shouldUbSum = 0.0
      r.should.foreach(x => shouldUbSum += x.upperBound)
      val contribs = new Array[Double](c.canonical.size)
      val slotOf = c.prox.map(_.slots.zipWithIndex.toMap).getOrElse(Map.empty)
      val posPred = c.prox.map(_.posPred).orNull
      val posBySlot = new Array[Array[Int]](slotOf.size) // reused per match
      val walk = Wand.andAllWith((r.must ++ r.filters).toIndexedSeq, segs) {
        (d, s, arr) =>
        if ((s + shouldUbSum) * BoolBoundSlack >= heap.threshold &&
            !Wand.presentInAny(r.not, d) &&
            (posPred == null || {
              var i = 0
              while (i < arr.length) {
                val so = slotOf.getOrElse(arr(i).term, -1)
                if (so >= 0) posBySlot(so) = arr(i).positions
                i += 1
              }
              posPred(posBySlot)
            })) {
          java.util.Arrays.fill(contribs, 0.0)
          var i = 0
          while (i < arr.length) { // must + weightless filters
            contribs(arr(i).canonical) = arr(i).score
            i += 1
          }
          var matched = 0
          i = 0
          while (i < r.should.length) {
            val x = r.should(i)
            x.advanceTo(d)
            if (!x.exhausted && x.docId == d) {
              contribs(x.canonical) = x.score
              matched += 1
            }
            i += 1
          }
          if (matched >= c.minMatch) heap.offer(d, Wand.canonicalSum(contribs))
        }
      }
      while (walk.hasNext) walk.next() // drain (lazy iterator)
      heap.results.iterator
    }

  /** Run a planned AND/OR query: AND puts the plan's terms in MUST, OR in
    * SHOULD with minMatch 1; `filters` (encoded field terms) are
    * weightless FILTER clauses. */
  def executePlan(spark: SparkSession, root: String, p: Plan,
                  stats: CorpusStats,
                  ranges: Option[Seq[(Long, Long)]] = None,
                  pinned: Option[Manifest] = None,
                  filters: Vector[String] = Vector.empty,
                  after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(p.mode)
    val c =
      if (p.mode == "AND") Clauses(p.terms, Vector.empty, Vector.empty, filters, 0)
      else Clauses(Vector.empty, p.terms, Vector.empty, filters, 1)
    execute(spark, root, pinned.getOrElse(pinnedManifest(root)), c, stats,
      p.k, ranges, after)
  }

  /** THE rescan verifier, for proximity clauses on an index built
    * without positions:
    *  1. the COMPLETE MUST ∩ FILTER intersection via [[scanShards]] with
    *     [[Wand.andAll]] — no top-k cut before the verify, else hits could
    *     be dropped — pinned (localCheckpoint) as a candidate frame;
    *  2. the docs scan prunes to the shards that produced candidates and
    *     joins them once (broadcast when the candidate count is small);
    *  3. in-task, the re-analyzed token stream decides everything: the
    *     proximity predicate, MUST_NOT, the SHOULD count and the full
    *     canonical fold — tf, dl and df are the numbers the postings hold,
    *     so scores stay bit-equal to the positional walk;
    *  4. the global top-k.
    * A proximity query over frequent terms degrades to a partial corpus
    * re-tokenize here — the positional format exists for exactly that
    * workload (VERDICT r05 item 2). */
  private def rescanVerify(spark: SparkSession, root: String, m: Manifest,
                           c: Clauses, stats: CorpusStats, k: Int,
                           segs: Vector[(Long, Long)],
                           shardPrune: DataFrame => DataFrame): Vector[SearchHit] = {
    import spark.implicits._
    val cand = scanShards(spark, root, m, shardPrune,
        c.must.map(_.term) ++ c.filters, withPos = false) { (shard, chunks) =>
        val r = roles(c, stats, chunks)
        if (r.must.length < c.must.size || r.filters.length < c.filters.size)
          Iterator.empty
        else Wand.andAll((r.must ++ r.filters).toIndexedSeq, segs)
          .map(h => (shard, h.docId))
      }.toDF("shard", "docId")
      .localCheckpoint(true) // one evaluation feeds shards, count, join
    try {
      // ONE action serves the emptiness probe and the broadcast decision
      val candCount = cand.count()
      if (candCount == 0L) return Vector.empty
      val candShards =
        cand.select($"shard").distinct().as[Int].collect().toSeq // O(shards)
      val candFrame = cand.select($"docId")
      val joinCand =
        if (candCount <= PhraseBroadcastMax) broadcast(candFrame) else candFrame
      // closure payload: tiny (query-sized) arrays
      val ver = m.analyzerVersion
      val verify = c.prox.get.verify
      val scoredTerms = c.scored.toArray
      val boostArr = scoredTerms.map(t => c.boosts.getOrElse(t.term, 1.0))
      val shouldSet = c.should.map(_.term).toSet
      val negSet = c.not.toSet
      val nDocs = stats.nDocs
      val avgdl = stats.avgdl
      val minMatch = c.minMatch
      IndexSnapshot.docsFor(spark, root, m, candShards)
        .select($"docId", $"text")
        .join(joinCand, "docId")
        .select($"docId", $"text").as[(Long, String)]
        .flatMap { case (d, txt) =>
          val toks = Analyzer.tokensFor(ver, txt)
          if (!verify(toks) || toks.exists(negSet)) None
          else {
            val dl = toks.length
            var matched = 0
            var s = 0.0
            var i = 0
            while (i < scoredTerms.length) { // canonical (df, term) order
              val t = scoredTerms(i)
              var tf = 0
              toks.foreach(x => if (x == t.term) tf += 1)
              if (tf > 0) {
                if (shouldSet(t.term)) matched += 1
                s += boostArr(i) * Bm25.score(tf, t.df, dl, nDocs, avgdl)
              }
              i += 1
            }
            if (matched >= minMatch) Some(SearchHit(d, s)) else None
          }
        }
        .orderBy($"score".desc, $"docId".asc).limit(k) // TakeOrderedAndProject
        .collect().toVector
    } finally {
      // ADVICE r05 item 1: unpersist on a localCheckpoint-backed frame is
      // a CacheManager no-op; the blocks free via the ContextCleaner when
      // cand drops out of scope here. Kept as documentation of intent —
      // if the checkpoint is ever swapped for cache(), this is the spot.
      cand.unpersist(); ()
    }
  }

  /** Candidate-set size below which the verification join broadcasts the
    * candidate side (a phrase's AND intersection is usually tiny next to
    * the docs table; above this, AQE picks the strategy). */
  private val PhraseBroadcastMax = 100000L

  /** Exact-phrase top-k: documents whose ANALYZED token stream contains
    * `phraseText`'s analyzed tokens as a consecutive run (Lucene
    * PhraseQuery semantics — the phrase matches on the post-analysis
    * stream, so stemming applies when the index was built `--stem`).
    * Scoring is the same BM25 sum over the phrase's DISTINCT terms as
    * `query(mode=AND)` — a phrase hit scores identically to its AND hit
    * (PhraseSpec pins this), so phrase results are the AND results
    * filtered by adjacency.
    *
    * Execution — TWO paths, rank-identical (PhraseSpec pins equality):
    *  - POSITIONAL index (r6 format rev, `IndexBuilder.build(positions =
    *    true)`, recorded in the manifest): adjacency is verified against
    *    each term's token ordinals INSIDE the shard-local posting walk
    *    ([[Wand.andAllWith]] pulls cursor positions at the match point) —
    *    no docs join, no re-tokenize, per-shard top-k heap, driver merge.
    *    A phrase query then costs an AND query plus per-match ordinal
    *    probes: the Lucene PhraseQuery shape.
    *  - positions-free index: [[rescanVerify]] joins the complete AND
    *    candidates with their docs and keeps those whose re-analyzed
    *    token stream containsSlice the phrase.
    *
    * `scopes` (conv-id prefixes, r6): per-scope statistics and segments
    * exactly like [[queryScoped]] — per scope, df/N/avgdl are scoped, the
    * verify runs inside the scope's docId segments, and overlapping
    * scopes keep a doc's best-scoring instance.
    *
    * Dictionary gate: a phrase term ABSENT from the dictionary (or from
    * the scope) means no document can contain the phrase → empty (unlike
    * AND's drop-missing-terms-and-continue). The stop cap is NOT applied:
    * dropping a term would change phrase semantics, and the adjacency
    * filter already bounds the damage of a frequent term. */
  def phraseTopK(spark: SparkSession, root: String, phraseText: String,
                 k: Int = 10, scopes: Seq[String] = Nil,
                 pinned: Option[Manifest] = None,
                 filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    val m = pinned.getOrElse(pinnedManifest(root))
    val seq = Analyzer.tokensFor(m.analyzerVersion, phraseText)
    if (seq.isEmpty) Vector.empty
    else clauseQuery(spark, root, m, Vector.empty, Vector.empty, Vector.empty,
      0, k, scopes, filter, prox = Some(phrase(seq)))
  }

  /** NEAR/slop proximity top-k (order-free): documents whose ANALYZED
    * token stream has a window of `slop + 1` CONSECUTIVE positions
    * containing at least one occurrence of EVERY distinct query term —
    * equivalently, the minimal span over one occurrence per term is
    * <= slop. slop = 0 degenerates to single-position (so single-term)
    * matching; a 2-distinct-term phrase hit is always a NEAR slop=1 hit
    * (ProximitySpec pins the laws).
    *
    * Lucene calibration (ADVICE r05 item 3): this contract is OFF BY ONE
    * from Lucene's unordered SpanNearQuery slop, where slop 0 already
    * matches ADJACENT terms. Here the window width is `slop + 1` token
    * positions, so adjacency needs slop >= 1: Lucene-unordered slop s ≈
    * this slop s + 1 for two single-occurrence terms. The semantics are
    * self-consistent, oracle-gated (`near_topk`), and monotone in slop —
    * but do not read "SpanNearQuery-class" as bit-parity.
    *
    * Candidate generation, execution paths (positional vs rescan) and
    * scoring are shared with [[phraseTopK]] (same BM25 sum over distinct
    * terms — a NEAR hit scores identically to its AND hit), with the
    * minimal-window check in place of adjacency: [[nearMatch]] on the
    * re-analyzed stream, [[nearMatchPositions]] on posting ordinals.
    * Same dictionary gate (missing term ⇒ empty), same no-stop-cap rule,
    * same `scopes` semantics.
    *
    * `ordered = true` (Lucene SpanNearQuery inOrder class, r6): the
    * query is analyzed as a SEQUENCE — duplicates kept, order kept, like
    * a phrase — and a doc matches iff some window of `slop + 1`
    * consecutive positions contains that sequence as a SUBSEQUENCE
    * (equivalently: strictly increasing occurrence positions p₁<…<pₙ
    * with pₙ−p₁ <= slop). Laws (spec-pinned): ordered ⊆ unordered at the
    * same slop; a phrase hit of n tokens is an ordered-NEAR(n−1) hit;
    * direction matters ("a b" ≠ "b a"). Scoring stays the BM25 sum over
    * DISTINCT terms, identical to the doc's AND/unordered score. */
  def nearTopK(spark: SparkSession, root: String, queryText: String,
               slop: Int, k: Int = 10, scopes: Seq[String] = Nil,
               pinned: Option[Manifest] = None,
               ordered: Boolean = false,
               filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val m = pinned.getOrElse(pinnedManifest(root))
    val ver = m.analyzerVersion
    val prox =
      if (ordered) orderedNear(Analyzer.tokensFor(ver, queryText), slop)
      else near(Analyzer.analyzeQueryFor(ver, queryText), slop)
    if (prox.seq.isEmpty) Vector.empty
    else clauseQuery(spark, root, m, Vector.empty, Vector.empty, Vector.empty,
      0, k, scopes, filter, prox = Some(prox))
  }

  /** Phrase adjacency over per-term ordinal lists (positional index):
    * true iff some occurrence p of the phrase's first term has, for every
    * later phrase position i, an occurrence of that position's term at
    * p + i. `posBySlot` holds each DISTINCT term's ascending ordinals
    * (slot = index in the sorted distinct-term list); `seqSlots(i)` maps
    * phrase position i to its slot, so repeated terms probe the same
    * list at several offsets. Lucene ExactPhraseMatcher semantics over
    * decoded ordinals; binary search per probe. */
  private[query] def phraseMatchPositions(posBySlot: Array[Array[Int]],
                                          seqSlots: Array[Int]): Boolean = {
    val first = posBySlot(seqSlots(0))
    var i = 0
    while (i < first.length) {
      val p = first(i)
      var ok = true
      var j = 1
      while (ok && j < seqSlots.length) {
        ok = java.util.Arrays.binarySearch(posBySlot(seqSlots(j)), p + j) >= 0
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** [[nearMatch]] over per-term ordinal lists (positional index): merge
    * the (ascending) lists into one (ordinal, slot) occurrence stream —
    * exactly what nearMatch extracts from the re-analyzed token stream —
    * then the same minimal-window two-pointer. ProximitySpec pins
    * equivalence against the token-stream oracle. */
  private[query] def nearMatchPositions(posBySlot: Array[Array[Int]],
                                        slop: Int): Boolean = {
    val nSlots = posBySlot.length
    var total = 0
    var s = 0
    while (s < nSlots) { total += posBySlot(s).length; s += 1 }
    val pos = new Array[Int](total)
    val tid = new Array[Int](total)
    val ptr = new Array[Int](nSlots)
    var w = 0
    while (w < total) { // n-way merge; nSlots is query-sized (tiny)
      var best = -1
      var bestPos = Int.MaxValue
      var t = 0
      while (t < nSlots) {
        if (ptr(t) < posBySlot(t).length && posBySlot(t)(ptr(t)) < bestPos) {
          best = t; bestPos = posBySlot(t)(ptr(t))
        }
        t += 1
      }
      pos(w) = bestPos; tid(w) = best; ptr(best) += 1; w += 1
    }
    val counts = new Array[Int](nSlots)
    var covered = 0
    var lo = 0
    var r = 0
    while (r < total) {
      val id = tid(r)
      counts(id) += 1
      if (counts(id) == 1) covered += 1
      if (covered == nSlots) {
        while (counts(tid(lo)) > 1) { counts(tid(lo)) -= 1; lo += 1 }
        if (pos(r) - pos(lo) <= slop) return true
      }
      r += 1
    }
    false
  }

  /** Ordered-NEAR matcher for [[nearTopK]]`(ordered = true)` (Lucene
    * SpanNearQuery inOrder class): true iff there exist STRICTLY
    * increasing positions p₁ < … < pₙ, pᵢ an occurrence of the i-th
    * query token (`seqSlots` keeps duplicates in query order), with
    * span pₙ − p₁ <= slop. Greedy chaining: for a fixed start p₁,
    * taking the SMALLEST valid successor at every hop minimizes pₙ
    * (induction over hops), so a match exists iff some greedy chain
    * spans <= slop; and when a chain dies of list exhaustion, every
    * LATER start's chain — positionwise >= this one — dies too, so the
    * scan terminates early. Binary search per hop:
    * O(|first list| · n · log |lists|). The Oracle cross-checks with an
    * independent subsequence-in-window scan. */
  private[query] def orderedNearMatchPositions(posBySlot: Array[Array[Int]],
                                               seqSlots: Array[Int],
                                               slop: Int): Boolean = {
    val n = seqSlots.length
    val firsts = posBySlot(seqSlots(0))
    var f = 0
    while (f < firsts.length) {
      val p1 = firsts(f)
      var cur = p1
      var i = 1
      while (i < n) {
        val lst = posBySlot(seqSlots(i))
        var lo = 0
        var hi = lst.length
        while (lo < hi) { // smallest occurrence strictly after cur
          val mid = (lo + hi) >>> 1
          if (lst(mid) <= cur) lo = mid + 1 else hi = mid
        }
        if (lo == lst.length) return false // exhausted: later starts too
        cur = lst(lo)
        i += 1
      }
      if (cur - p1 <= slop) return true
      f += 1
    }
    false
  }

  /** Occurrence lists per slot from a re-analyzed token stream — the
    * rescan-path twin of the positional walk's posBySlot capture.
    * Takes the prebuilt slot map: callers run this per candidate doc. */
  private[query] def occurrencesBySlot(toks: Vector[String],
                                       slotOf: Map[String, Int]): Array[Array[Int]] = {
    val bs = Array.fill(slotOf.size)(
      new scala.collection.mutable.ArrayBuilder.ofInt)
    var i = 0
    toks.foreach { t =>
      slotOf.get(t) match { case Some(s) => bs(s) += i; case None => }
      i += 1
    }
    bs.map(_.result())
  }

  /** Window containment for [[nearTopK]]: true iff some window of
    * `slop + 1` consecutive token positions contains every one of the
    * `nTerms` terms keyed in `termIdx`. Classic minimal-window
    * two-pointer over the query-term occurrences — O(|tokens|) time,
    * O(nTerms) state; the Oracle cross-checks it with an independent
    * naive every-window scan. */
  private[query] def nearMatch(tokens: Vector[String],
                               termIdx: Map[String, Int], nTerms: Int,
                               slop: Int): Boolean = {
    val pos = new scala.collection.mutable.ArrayBuffer[Int]
    val tid = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    tokens.foreach { t =>
      termIdx.get(t) match {
        case Some(id) => pos += i; tid += id
        case None =>
      }
      i += 1
    }
    val counts = new Array[Int](nTerms)
    var covered = 0
    var lo = 0
    var r = 0
    while (r < pos.length) {
      val id = tid(r)
      counts(id) += 1
      if (counts(id) == 1) covered += 1
      if (covered == nTerms) {
        // shrink to the minimal window ending at r, then test its span
        while (counts(tid(lo)) > 1) { counts(tid(lo)) -= 1; lo += 1 }
        if (pos(r) - pos(lo) <= slop) return true
      }
      r += 1
    }
    false
  }

  /** Lucene BooleanQuery.TooManyClauses analog for [[prefixTopK]]:
    * prefixes expanding to more dictionary terms than this REFUSE loudly
    * instead of silently truncating (a truncated expansion would silently
    * change scores). */
  val MaxPrefixExpansions = 128

  /** Prefix-term top-k (Lucene PrefixQuery with a scoring-BooleanQuery
    * rewrite): expand the prefix against the snapshot's dictionary to
    * every term starting with the folded pattern, then run the standard
    * OR/BM25 top-k over the expansion. Lucene parity choices:
    *  - the pattern is NORMALIZED (case/ё fold) but never STEMMED —
    *    multi-term queries bypass analysis ([[Analyzer.foldPrefix]]);
    *  - no stop cap: the pattern designates its terms explicitly, like a
    *    phrase — nothing is silently dropped;
    *  - more than [[MaxPrefixExpansions]] matches throws (TooManyClauses)
    *    rather than running an unbounded disjunction.
    * The expansion is a range scan of the snapshot's driver-resident
    * [[TermDictionary]] from the prefix's lower bound (Spark's UTF-8
    * StartsWith) — no Spark job; execution is the ordinary
    * [[executePlan]] OR/WAND walk, so the whole query costs the same as
    * an OR of the matched terms. */
  def prefixTopK(spark: SparkSession, root: String, prefixRaw: String,
                 k: Int = 10, scopes: Seq[String] = Nil,
                 pinned: Option[Manifest] = None,
                 filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    val m = pinned.getOrElse(pinnedManifest(root))
    val pre = Analyzer.foldPrefix(prefixRaw)
    if (pre.isEmpty) return Vector.empty
    memoized(root,
      QueryKey(Vector(pre), "PREFIX", k, scopes, m.snapshotId, filter.cacheKey)) {
      val found = prefixExpansion(TermDictionary.of(spark, root, m), pre)
      if (found.size > MaxPrefixExpansions)
        throw new IllegalArgumentException(
          s"prefix '$pre*' expands to ${found.size} dictionary terms " +
          s"(max $MaxPrefixExpansions) — refusing an unbounded " +
          "disjunction; narrow the prefix")
      expansionTopK(spark, root, m, found, k, scopes, filter)
    }
  }

  /** [[prefixTopK]]'s expansion: the terms starting with the folded
    * prefix. */
  private[query] def prefixExpansion(dict: TermDictionary,
                                     pre: String): Vector[TermStats] =
    dict.scan(pre)(_ => true)

  /** Lucene FuzzyQuery hard limit: edit distances above 2 are useless for
    * typo tolerance and blow up the expansion, so Lucene refuses them —
    * mirrored here (throws, like TooManyClauses). */
  val MaxFuzzyEdits = 2

  /** Fuzzy-term top-k (Lucene FuzzyQuery with a scoring-BooleanQuery
    * rewrite): expand the folded — never stemmed, multi-term queries
    * bypass analysis like [[prefixTopK]] — pattern against the snapshot's
    * dictionary to every term within Levenshtein distance `maxEdits`,
    * then the standard OR/BM25 top-k over the expansion.
    *
    * Parity and divergence, stated explicitly:
    *  - `maxEdits` ∈ [0, [[MaxFuzzyEdits]]] like Lucene; 0 = exact term;
    *  - `prefixLength` is Lucene's prefixLength (first N pattern chars
    *    must match exactly): it narrows the dictionary scan to the
    *    prefix's range (the [[prefixTopK]] shape) instead of the whole
    *    in-memory dictionary. Lucene walks a Levenshtein automaton over
    *    its FST term dict; the analog of that automaton's prefix cut is
    *    the range scan plus the |len(t) − len(q)| ≤ maxEdits length band
    *    below;
    *  - scoring is plain BM25 over the expansion with true per-term dfs
    *    (self-consistent with [[prefixTopK]] and oracle-expressible in
    *    SQL); Lucene additionally boosts each expanded term by
    *    (1 − edits/len) — this engine does NOT;
    *  - more than [[MaxPrefixExpansions]] matches throws (TooManyClauses)
    *    rather than silently truncating. */
  def fuzzyTopK(spark: SparkSession, root: String, termRaw: String,
                maxEdits: Int = 2, k: Int = 10, prefixLength: Int = 0,
                scopes: Seq[String] = Nil,
                pinned: Option[Manifest] = None,
                filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    require(maxEdits >= 0 && maxEdits <= MaxFuzzyEdits,
      s"maxEdits must be in [0, $MaxFuzzyEdits] (Lucene FuzzyQuery limit), " +
      s"got $maxEdits")
    require(prefixLength >= 0, s"prefixLength must be >= 0, got $prefixLength")
    val m = pinned.getOrElse(pinnedManifest(root))
    val q = Analyzer.foldPrefix(termRaw)
    if (q.isEmpty) return Vector.empty
    memoized(root,
      QueryKey(Vector(q), s"FUZZY:$maxEdits:$prefixLength", k, scopes,
        m.snapshotId, filter.cacheKey)) {
      val found = fuzzyExpansion(TermDictionary.of(spark, root, m), q,
        maxEdits, prefixLength)
      if (found.size > MaxPrefixExpansions)
        throw new IllegalArgumentException(
          s"fuzzy '$q'~$maxEdits expands to ${found.size} dictionary terms " +
          s"(max $MaxPrefixExpansions) — refusing an unbounded " +
          "disjunction; lower maxEdits or raise prefixLength")
      expansionTopK(spark, root, m, found, k, scopes, filter)
    }
  }

  /** [[fuzzyTopK]]'s expansion. Probe order: the optional exact-prefix
    * cut (a dictionary range), the cheap length band, then Spark's own
    * levenshtein (UTF8String.levenshteinDistance, what the builtin
    * evaluates). CODE-POINT length on both sides: Spark's length() and
    * levenshtein() count code points, so the band must too or an
    * astral-plane char would shift it by one. */
  private[query] def fuzzyExpansion(dict: TermDictionary, q: String,
                                    maxEdits: Int,
                                    prefixLength: Int): Vector[TermStats] = {
    val qCp = q.codePointCount(0, q.length)
    val qU = UTF8String.fromString(q)
    dict.scan(if (prefixLength > 0) q.take(prefixLength) else "") { t =>
      val n = t.numChars
      n >= qCp - maxEdits && n <= qCp + maxEdits &&
        t.levenshteinDistance(qU) <= maxEdits
    }
  }

  /** Wildcard top-k (Lucene WildcardQuery with a scoring-BooleanQuery
    * rewrite): `*` matches any character sequence, `?` exactly one —
    * metacharacters exist only in the pattern (dictionary tokens are
    * letters/digits by construction, so nothing needs escaping). The
    * folded — never stemmed — pattern expands against the snapshot's
    * in-memory dictionary with Spark's LIKE semantics (`*`→`%`, `?`→`_`,
    * compiled by `StringUtils.escapeLikeRegex` exactly as Catalyst's
    * `Like` does), over the dictionary range of the literal prefix before
    * the first metacharacter — Lucene's own prefix cut on its FST walk. A
    * LEADING-wildcard pattern has no such cut and scans the whole
    * dictionary — the same caveat Lucene documents for leading
    * wildcards. No stop cap; a pattern without
    * metacharacters is an exact term lookup; more than
    * [[MaxPrefixExpansions]] matches throws (TooManyClauses) — which also
    * catches the all-metacharacter pattern `*`. */
  def wildcardTopK(spark: SparkSession, root: String, patternRaw: String,
                   k: Int = 10, scopes: Seq[String] = Nil,
                   pinned: Option[Manifest] = None,
                   filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    val m = pinned.getOrElse(pinnedManifest(root))
    val pat = Analyzer.foldWildcard(patternRaw)
    if (pat.isEmpty) return Vector.empty
    memoized(root,
      QueryKey(Vector(pat), "WILDCARD", k, scopes, m.snapshotId, filter.cacheKey)) {
      val found = wildcardExpansion(TermDictionary.of(spark, root, m), pat)
      if (found.size > MaxPrefixExpansions)
        throw new IllegalArgumentException(
          s"wildcard '$pat' expands to ${found.size} dictionary terms " +
          s"(max $MaxPrefixExpansions) — refusing an unbounded " +
          "disjunction; narrow the pattern")
      expansionTopK(spark, root, m, found, k, scopes, filter)
    }
  }

  /** [[wildcardTopK]]'s expansion: Catalyst's LIKE regex over the range
    * of the literal prefix. */
  private[query] def wildcardExpansion(dict: TermDictionary,
                                       pat: String): Vector[TermStats] = {
    val like = java.util.regex.Pattern.compile(StringUtils.escapeLikeRegex(
      pat.replace('*', '%').replace('?', '_'), '\\'))
    dict.scan(pat.takeWhile(c => c != '*' && c != '?'))(t =>
      like.matcher(t.toString).matches())
  }

  /** Boolean MUST + MUST_NOT top-k (Lucene BooleanQuery with MUST and
    * MUST_NOT clauses, r6): documents matching EVERY positive term and
    * NO negative term, scored by the BM25 sum over the POSITIVES only —
    * Lucene parity: prohibited clauses contribute no score, so a NOT hit
    * scores identically to its AND hit (spec-pinned law). Semantics,
    * stated explicitly:
    *  - positives analyze, drop-unknown and stop-cap exactly like
    *    `query(mode = "AND")` / [[queryScoped]] — `queryNot(q, "")` IS
    *    the AND query;
    *  - negatives analyze with the same analyzer but are NEVER
    *    stop-capped or dropped-when-unknown: the user named them
    *    explicitly (dropping one would silently BROADEN the result);
    *    an unknown negative simply excludes nothing;
    *  - a term both required and prohibited falls out NATURALLY: if it
    *    survives positive planning, every candidate contains it and the
    *    negative probe excludes them all (empty); if planning DROPS it
    *    (unknown / stop-capped), the query behaves as AND-minus-negative
    *    over the remaining positives — exactly the oracle's
    *    filtered-AND semantics.
    *
    * Execution: the conjunctive walk of [[shardTopK]] with no SHOULD
    * slots — the complete positive intersection, one forward
    * [[Wand.TermCursor.advanceTo]] probe per negative term per admissible
    * candidate (candidates ascend, so the probes are one monotone merge
    * per negative list). A NOT query costs its AND query plus one posting
    * merge per negative term. */
  def queryNot(spark: SparkSession, root: String, queryText: String,
               notText: String, k: Int = 10, scopes: Seq[String] = Nil,
               pinned: Option[Manifest] = None,
               filter: QueryFilter = QueryFilter.Empty,
               after: Option[SearchHit] = None): Vector[SearchHit] = {
    val m = pinned.getOrElse(pinnedManifest(root))
    val ver = m.analyzerVersion
    clauseQuery(spark, root, m, Analyzer.analyzeQueryFor(ver, queryText),
      Vector.empty, Analyzer.analyzeQueryFor(ver, notText), 0, k, scopes,
      filter, after)
  }

  /** Boolean SHOULD / minimum_should_match top-k (Lucene BooleanQuery
    * with ONLY optional clauses + setMinimumNumberShouldMatch, r7 —
    * completing the MUST ([[query]] AND) / MUST_NOT ([[queryNot]]) /
    * SHOULD clause-type triple): the exact top-k of documents matching at
    * least `minMatch` DISTINCT query terms, scored by the BM25 sum over
    * the PRESENT terms in canonical (df, term) order. OR is the
    * minMatch = 1 special case and AND the minMatch = n one — both
    * rank-identity laws are spec-pinned (WandSpec property laws +
    * ProximitySpec engine laws).
    *
    * Clause accounting is Lucene's: minMatch counts against the analyzed
    * DISTINCT term set (duplicates collapse — set semantics, like
    * [[queryNot]]'s negatives), and a clause that can never match — a
    * term unknown to the dictionary, or one the stop cap rewrote away —
    * still COUNTS toward the requirement while never matching, so
    * planning that drops the survivors below minMatch answers empty.
    * This is deliberately NOT AND mode's reference-parity
    * drop-and-continue: BooleanQuery does not relax its requirement when
    * a clause is unsatisfiable. minMatch > n is unsatisfiable → empty;
    * minMatch < 1 is an error.
    *
    * Execution: the disjunctive dispatch of [[shardTopK]] —
    * [[Wand.shouldTopKSegments]] enumerates candidates from the
    * (n − minMatch + 1) RAREST surviving lists (pigeonhole: a doc in
    * ≥ minMatch of n lists appears in at least one of them), while the
    * hottest minMatch − 1 lists are only PROBED with monotone advanceTo;
    * minMatch = 1 takes the WAND/BMW-pruned OR walk.
    *
    * `scopes`: per-scope statistics/segments exactly like [[queryScoped]]
    * (per-scope df/N/avgdl and stop cap, best-instance union). Time
    * travel composes via `pinned`. */
  def queryShould(spark: SparkSession, root: String, queryText: String,
                  minMatch: Int, k: Int = 10, scopes: Seq[String] = Nil,
                  pinned: Option[Manifest] = None,
                  filter: QueryFilter = QueryFilter.Empty,
                  after: Option[SearchHit] = None): Vector[SearchHit] = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    val m = pinned.getOrElse(pinnedManifest(root))
    clauseQuery(spark, root, m, Vector.empty,
      Analyzer.analyzeQueryFor(m.analyzerVersion, queryText), Vector.empty,
      minMatch, k, scopes, filter, after)
  }

  /** The COMBINED Lucene BooleanQuery (r7): MUST + SHOULD + MUST_NOT +
    * FILTER clauses in ONE query — the general form whose degenerate
    * cases are the dedicated modes (all laws spec-pinned, BoolQuerySpec):
    *
    *   - should and not empty              == [[query]] mode=AND
    *   - should empty                      == [[queryNot]]
    *   - must and not empty                == [[queryShould]](max(1, m))
    *   - minShouldMatch = 0, must present  == AND candidates, SHOULD
    *     terms only BOOST (Lucene's default: optional clauses add score
    *     but eliminate nothing)
    *
    * All of them run through the same [[clauseQuery]], whose scaladoc
    * states the per-clause semantics and the overlap algebra. Scoring:
    * BM25 sum over MUST + MATCHED SHOULD terms in ONE canonical (df asc,
    * term asc) order over their union — bit-equal to the brute-force
    * oracle. A hit's score never depends on what was filtered or
    * prohibited. Per-clause `boosts` (Lucene term^b) multiply that term's
    * contribution — one IEEE multiply, applied identically in cursors,
    * bounds and the oracle.
    *
    * `scopes`: per-scope stats/segments exactly like [[queryScoped]]
    * (MUST and SHOULD survivors re-planned per scope with scoped dfs,
    * best-instance union). Time travel via `pinned`; `filter` composes
    * like everywhere (weightless, never re-weighs). */
  def queryBool(spark: SparkSession, root: String, mustText: String,
                shouldText: String = "", notText: String = "",
                minShouldMatch: Int = 0, k: Int = 10,
                scopes: Seq[String] = Nil,
                pinned: Option[Manifest] = None,
                filter: QueryFilter = QueryFilter.Empty,
                after: Option[SearchHit] = None,
                boosts: Map[String, Double] = Map.empty): Vector[SearchHit] = {
    require(minShouldMatch >= 0,
      s"minShouldMatch must be >= 0, got $minShouldMatch")
    val m = pinned.getOrElse(pinnedManifest(root))
    val ver = m.analyzerVersion
    clauseQuery(spark, root, m, Analyzer.analyzeQueryFor(ver, mustText),
      Analyzer.analyzeQueryFor(ver, shouldText),
      Analyzer.analyzeQueryFor(ver, notText), minShouldMatch, k, scopes,
      filter, after, Analyzer.resolveBoosts(ver, boosts))
  }

  /** THE planner behind every term-level query (AND/OR, MUST_NOT,
    * SHOULD, the combined BooleanQuery, phrase/NEAR alone or as a
    * clause). Per clause type, each dedicated mode's contract:
    *
    *   - MUST terms: drop-unknown + stop cap (reference parity, mode=AND);
    *     all of them dropped ⇒ empty — unless a proximity clause drives;
    *   - proximity slots (`prox`): required positionally, no stop cap,
    *     any slot unknown to the target ⇒ empty (dropping a term would
    *     change phrase semantics); a MUST term that is also a slot dedupes
    *     into it;
    *   - SHOULD terms: set-semantics DISTINCT, drop-unknown + stop cap;
    *     a clause that can never match (unknown, capped, or PROHIBITED)
    *     still COUNTS toward `minShouldMatch` while never matching;
    *   - MUST_NOT terms: set semantics, never capped or dropped, no score.
    *
    * Overlap algebra (Lucene clause algebra, documented deviations): a
    * SHOULD term that is also required is auto-satisfied — removed, and
    * `minShouldMatch` reduced by one per such term (set semantics, NOT
    * Lucene's double-count scoring); a MUST_NOT slot ⇒ empty (every hit
    * would hold it); a SURVIVING must term that is also MUST_NOT ⇒ empty
    * (checked after planning: an overlap the planner drops behaves as
    * AND-minus-negative over the remaining terms, the oracle's semantics).
    * With no required clause at least one SHOULD must match.
    *
    * search_after is single-walk only ([[ScopedAfterError]]). The memo
    * key is the resolved clause sets, so semantically equal queries share
    * an entry. */
  private def clauseQuery(spark: SparkSession, root: String, m: Manifest,
                          must: Vector[String], shouldText: Vector[String],
                          notText: Vector[String], minShouldMatch: Int,
                          k: Int, scopes: Seq[String], filter: QueryFilter,
                          after: Option[SearchHit] = None,
                          boostOf: Map[String, Double] = Map.empty,
                          prox: Option[Proximity] = None): Vector[SearchHit] = {
    require(after.isEmpty || scopes.isEmpty, ScopedAfterError)
    val slots = prox.fold(Vector.empty[String])(_.slots)
    val negs = notText.distinct.sorted
    val negSet = negs.toSet
    val required = must.toSet ++ slots
    val mustExtra = must.filterNot(slots.toSet)
    val should = shouldText.distinct
    val shouldKept = should.filterNot(t => required(t) || negSet(t))
    val minEff = math.max(0, minShouldMatch - should.count(required))
    val minMatch = if (required.isEmpty) math.max(1, minEff) else minEff
    if (negs.exists(slots.contains) || minMatch > shouldKept.size)
      return Vector.empty
    // four space-separated sections (no analyzed token holds a space)
    memoized(root,
      QueryKey(prox.fold(Vector.empty[String])(_.seq) ++ (" " +: mustExtra) ++
        (" " +: negs) ++ (" " +: shouldKept.sorted),
        s"${prox.fold("BOOL")(_.label)}:$minEff" + boostKey(boostOf), k,
        scopes, m.snapshotId, filter.cacheKey, afterKey(after))) {
      val (fterms, tsRanges) = resolveFilter(spark, root, m, filter)
      fanOut(spark, root, m, scopes, tsRanges, k) { t =>
        val dfs = t.dfOf(slots ++ mustExtra ++ shouldKept)
        val exact = slots.flatMap(s => dfs.get(s).map(TermStats(s, _, 0)))
        val pMust = capped(mustExtra, dfs, t.stats.nDocs)
        val pShould = capped(shouldKept, dfs, t.stats.nDocs)
        if (exact.size < slots.size ||
            (slots.isEmpty && must.nonEmpty && pMust.isEmpty) ||
            pMust.exists(x => negSet(x.term)) || pShould.size < minMatch)
          Vector.empty
        else execute(spark, root, m,
          Clauses(exact ++ pMust, pShould, negs, fterms, minMatch, boostOf, prox),
          t.stats, k, t.ranges, after)
      }
    }
  }

  /** Phrase-as-clause (r7): the combined BooleanQuery with a PHRASE (or
    * unordered-NEAR, `slop = Some(n)`) clause among the required ones —
    * what a Lucene BooleanQuery holds when a PhraseQuery rides MUST next
    * to term clauses. UNSCOPED only (the standalone scoped phrase/NEAR
    * surfaces exist); composes with typed field [[QueryFilter]]s and
    * time travel.
    *
    * Clause semantics and overlap algebra are [[clauseQuery]]'s, with the
    * phrase terms as its proximity slots: an index-unknown phrase term
    * answers EMPTY (the [[phraseTopK]] contract), MUST terms not in the
    * phrase drop-and-continue (the phrase still drives), a MUST term that
    * is also a phrase term dedupes into it, SHOULD terms overlapping the
    * phrase auto-satisfy, a MUST_NOT phrase term ⇒ empty. `slop = Some(n)`
    * uses the order-free slop-n window ([[nearTopK]]'s slop+1-wide
    * divergence note applies).
    *
    * Scoring: BM25 over DISTINCT(phrase ∪ MUST) + matched SHOULD in one
    * canonical (df, term) order — a composed hit whose SHOULD terms are
    * all absent scores exactly like its plain-phrase hit.
    *
    * Execution: positional index — the conjunctive walk of [[shardTopK]]
    * over phrase + must + weightless filters with the ordinal predicate
    * gating each candidate; positions-free index — [[rescanVerify]]. */
  def queryBoolPhrase(spark: SparkSession, root: String, phraseText: String,
                      slop: Option[Int] = None, mustText: String = "",
                      shouldText: String = "", notText: String = "",
                      minShouldMatch: Int = 0, k: Int = 10,
                      pinned: Option[Manifest] = None,
                      filter: QueryFilter = QueryFilter.Empty,
                      boosts: Map[String, Double] = Map.empty): Vector[SearchHit] = {
    require(minShouldMatch >= 0,
      s"minShouldMatch must be >= 0, got $minShouldMatch")
    slop.foreach(n => require(n >= 0, s"slop must be >= 0, got $n"))
    val m = pinned.getOrElse(pinnedManifest(root))
    val ver = m.analyzerVersion
    val seq = Analyzer.tokensFor(ver, phraseText)
    if (seq.isEmpty)
      queryBool(spark, root, mustText, shouldText, notText,
        minShouldMatch, k, Nil, Some(m), filter, boosts = boosts)
    else clauseQuery(spark, root, m, Analyzer.analyzeQueryFor(ver, mustText),
      Analyzer.analyzeQueryFor(ver, shouldText),
      Analyzer.analyzeQueryFor(ver, notText), minShouldMatch, k, Nil, filter,
      boostOf = Analyzer.resolveBoosts(ver, boosts),
      prox = Some(slop.fold(phrase(seq))(n => near(seq.distinct, n))))
  }

  /** Shared scoring-BooleanQuery rewrite tail for the multi-term query
    * family ([[prefixTopK]], [[fuzzyTopK]], [[wildcardTopK]]): the
    * standard OR/BM25 top-k over an already-expanded (and already
    * size-capped) term set, no stop cap. Per target ([[fanOut]]) the
    * expansion re-weighs with the target's dfs and keeps the terms with
    * df > 0 — in a scope, terms absent from it drop out (a scope-local
    * dictionary expansion by construction). */
  private def expansionTopK(spark: SparkSession, root: String, m: Manifest,
                            found: Vector[TermStats], k: Int,
                            scopes: Seq[String],
                            filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    // field terms can never enter `found`: the dictionary the expansions
    // probe (term_stats) excludes the reserved namespace by construction
    // (IndexBuilder.termStatsAgg) — a `*user` wildcard cannot surface
    // role postings
    val (fterms, tsRanges) = resolveFilter(spark, root, m, filter)
    val expansion = found.map(_.term)
    if (expansion.isEmpty) Vector.empty
    else fanOut(spark, root, m, scopes, tsRanges, k) { t =>
      val dfs = t.dfOf(expansion)
      val kept = expansion.flatMap(x => dfs.get(x).filter(_ > 0)
        .map(TermStats(x, _, 0))).sortBy(x => (x.df, x.term))
      execute(spark, root, m,
        Clauses(Vector.empty, kept, Vector.empty, fterms, 1),
        t.stats, k, t.ranges, None)
    }
  }

  /** Naive Catalyst path over the uncompressed tf relation — correctness
    * backstop + the shape the SQL oracle mirrors (SURVEY.md §7.3). */
  def queryNaive(spark: SparkSession, root: String, queryText: String,
                 mode: String = "AND", k: Int = 10): DataFrame = {
    import spark.implicits._
    val stats = statsOf(spark, root)
    val spec = QuerySpec(
      Analyzer.analyzeQueryFor(stats.analyzerVersion, queryText), mode, k)
    val p = plan(spark, root, spec, stats)
    // unknown terms dropped, reference parity (SearchServiceImpl.java:145-148)
    val session = spark
    if (p.terms.isEmpty)
      return session.emptyDataset[SearchHit].toDF("docId", "score")

    val tf = IndexBuilder.loadTf(spark, root)
    val termList = p.terms.map(_.term)
    val qtf = tf.filter($"term".isin(termList: _*))

    val candidates =
      if (p.mode == "AND") {
        // J1: left-semi chain, rarest term first (O1 already applied)
        p.terms.map(t => qtf.filter($"term" === t.term).select($"docId"))
          .reduce((a, b) => a.join(b, Seq("docId"), "left_semi"))
      } else {
        qtf.select($"docId").distinct()
      }

    // per-(doc, term) BM25 then deterministic canonical-order fold (§7.8.1)
    val dfCol = typedLit(p.terms.map(t => t.term -> t.df).toMap)
    val scored = qtf
      .join(candidates, Seq("docId"), "left_semi")
      .withColumn("tdf", dfCol($"term"))
      .withColumn("s", Bm25.scoreCol($"tf", $"tdf", $"dl", stats.nDocs, stats.avgdl))
      .groupBy($"docId")
      .agg(aggregate(
        array_sort(collect_list(struct($"tdf", $"term", $"s"))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("score"))

    scored.orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Shards whose manifest docId range intersects [lo, hi]. None when the
    * manifest carries no ranges (legacy snapshot) — caller falls back to
    * an unpruned scan. Entries with (-1,-1) in a range-carrying manifest
    * hold no docs and are skipped. */
  private def shardsIntersecting(m: graft.index.Manifest,
                                 lo: Long, hi: Long): Option[Seq[Int]] = {
    if (!m.shards.exists(_.minDocId >= 0)) None
    else Some(m.shards
      .filter(s => s.minDocId >= 0 && s.minDocId <= hi && s.maxDocId >= lo)
      .map(_.shard))
  }

  /** Full read path: top-k + per-hit snippet + doc key — the SearchData
    * analog (reference dto/search/SearchData.java:12-20; snippets computed
    * for the k shown rows only, SearchServiceImpl.java:281-290). The doc
    * point-lookup prunes to the shards whose manifest docId range covers a
    * hit, instead of listing every shard dir. */
  def queryWithSnippets(spark: SparkSession, root: String, queryText: String,
                        mode: String = "AND", k: Int = 10)
      : Seq[(Long, Double, String, String, Int)] = {
    import org.apache.spark.sql.functions.col
    val m = pinnedManifest(root) // ONE snapshot for both rank and lookup
    val hits = termQuery(spark, root, m, queryText, mode, k, Nil,
      QueryFilter.Empty)
    if (hits.isEmpty) return Nil
    val version = m.analyzerVersion
    val terms = Analyzer.analyzeQueryFor(version, queryText).toSet
    val normalize: String => String =
      if (version == Analyzer.StemVersion) graft.analysis.Stemmer.stem else identity
    val ids = hits.map(_.docId)
    val base = IndexSnapshot.docs(spark, root, m)
    val pruned = shardsIntersecting(m, ids.min, ids.max) match {
        case Some(sh) => base.filter(col("shard").isin(sh: _*))
        case None => base
      }
    val byId = pruned.filter(col("docId").isin(ids: _*))
      .select(col("docId"), col("text"), col("conv_id"), col("turn_idx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getInt(3))))
      .toMap
    hits.map { h =>
      val (text, convId, turnIdx) = byId(h.docId)
      (h.docId, h.score, Snippets.snippet(text, terms, normalize), convId, turnIdx)
    }
  }

  /** Reference-compatible scorer path (SURVEY.md §7.0.1): relevance =
    * Σ_term tf, normalized by the page max (SearchServiceImpl.java:202-245,
    * default max 1.0 at :33); AND semantics; order (rel DESC, docId ASC) —
    * the docId tie-break is ours, the reference leaves ties unspecified. */
  def queryRefCompat(spark: SparkSession, root: String, queryText: String,
                     k: Int = 10): DataFrame = {
    import spark.implicits._
    val stats = statsOf(spark, root)
    val spec = QuerySpec(
      Analyzer.analyzeQueryFor(stats.analyzerVersion, queryText), "AND", k)
    val p = plan(spark, root, spec, stats)
    // unknown terms dropped, reference parity (SearchServiceImpl.java:145-148)
    if (p.terms.isEmpty)
      return spark.emptyDataset[SearchHit].toDF("docId", "relevance")
    val tf = IndexBuilder.loadTf(spark, root)
    val termList = p.terms.map(_.term)
    val qtf = tf.filter($"term".isin(termList: _*))
    val cand = p.terms.map(t => qtf.filter($"term" === t.term).select($"docId"))
      .reduce((a, b) => a.join(b, Seq("docId"), "left_semi"))
    val abs = qtf.join(cand, Seq("docId"), "left_semi")
      .groupBy($"docId")
      // exact integer sum → order-free determinism (tf is int)
      .agg(sum($"tf").cast("double").as("abs"))
    val maxAbs = abs.agg(max($"abs")).head().getDouble(0) // A5; ≥1 row here
    abs.withColumn("relevance", $"abs" / lit(if (maxAbs <= 0.0) 1.0 else maxAbs))
      .select($"docId", $"relevance")
      .orderBy($"relevance".desc, $"docId".asc)
      .limit(k)
  }

  /** Reference pagination semantics (O3, SearchServiceImpl.java:247-259),
    * including its quirk: IF the total result count is <= limit, the
    * offset is IGNORED and the full list is returned (guard at :248-250).
    * Compat layer only — the engine itself exposes plain top-k. */
  def paginate[A](results: Seq[A], offset: Int, limit: Int): Seq[A] =
    if (results.size <= limit) results
    else results.slice(offset, offset + limit)

  // ---- serving-mode caches ------------------------------------------
  // Per-query Spark-job latency is dominated by the postings scan; a
  // long-lived serving process pins the (compressed, RAM-sized) postings
  // table in executor memory — queries then scan cache, not parquet.
  private val cachedPostings =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  // the snapshot the pinned frames were built from: a query pinned to a
  // DIFFERENT snapshot (time travel, or a racing manifest flip) must
  // bypass the cache, not silently read another snapshot's data
  private val cachedSnapshot =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def cacheMatches(root: String, m: Manifest): Boolean =
    cachedSnapshot.get(root).contains(m.snapshotId)

  // ---- repeat-query result memoization (reference SearchServiceImpl
  // .java:42-45, :71-75: the previous request's results are reused on an
  // identical repeat) — generalized to a per-root LRU over ANALYZED terms
  // (so it is case/whitespace-insensitive exactly like the reference,
  // which re-lemmatizes before comparing), mode, k, and scopes. STRICTLY
  // OPT-IN for serving processes: the correctness gates and rank-identity
  // tests never enable it (SURVEY.md §4.1), and maintenance invalidates
  // it through disableServingCache like every other pinned structure.
  private final case class QueryKey(terms: Vector[String], mode: String,
                                    k: Int, scopes: Seq[String],
                                    snapshotId: Long, filter: String = "",
                                    after: String = "")
  private val resultCaches = scala.collection.concurrent.TrieMap
    .empty[String, java.util.LinkedHashMap[QueryKey, Vector[SearchHit]]]
  // flush generation per root: an in-flight compute that started before a
  // maintenance flush must NOT re-insert its (pre-maintenance) result
  // after the clear — the put is gated on the generation it started under
  private val resultCacheGen = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]
  private def cacheGen(root: String): java.util.concurrent.atomic.AtomicLong =
    resultCacheGen.getOrElseUpdate(root,
      new java.util.concurrent.atomic.AtomicLong)

  /** Enable the per-root repeat-query LRU (serving mode). Idempotent;
    * capacity 1 reproduces the reference's single-slot behavior. */
  def enableResultCache(root: String, capacity: Int = 64): Unit = {
    val cap = math.max(1, capacity)
    resultCaches.getOrElseUpdate(root,
      new java.util.LinkedHashMap[QueryKey, Vector[SearchHit]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[QueryKey, Vector[SearchHit]]): Boolean =
          size() > cap
      })
    ()
  }

  def disableResultCache(root: String): Unit = {
    resultCaches.remove(root)
    ()
  }

  private def memoized(root: String, key: QueryKey)
                      (compute: => Vector[SearchHit]): Vector[SearchHit] =
    resultCaches.get(root) match {
      case None => compute
      case Some(lru) =>
        val hit = lru.synchronized(Option(lru.get(key)))
        hit.getOrElse {
          val g0 = cacheGen(root).get()
          val v = compute
          lru.synchronized {
            if (cacheGen(root).get() == g0) lru.put(key, v)
          }
          v
        }
    }

  /** Shard-aligned cold-scan plans, keyed by (root, snapshot id): a
    * postings DataFrame whose scan split sizing is pinned to the largest
    * file, so each task reads EXACTLY one whole shard file and the WAND
    * grouping needs no per-query shuffle. Built on a CLONED session
    * (`newSession` shares the SparkContext but isolates SQL conf) so the
    * pinned split confs never leak into the caller's session; listing is
    * manifest-resolved (exactly the snapshot's leaf dirs). None = some
    * shard dir holds several parquet files (external/legacy layout) →
    * callers use the repartition fallback. Maintenance bumps the snapshot
    * id, which keys a fresh entry; stale entries are pruned on insert and
    * on cache disable, and a hit whose SparkContext has since been
    * STOPPED is rebuilt on the live session instead of served
    * (VERDICT r03 item 5). */
  private val alignedPostings =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Option[DataFrame]]

  /** Pick the postings scan frame for one query: serving-cached frame
    * when pinned and fresh, else the shard-aligned scan (one task = one
    * whole shard file, no shuffle), else the raw snapshot scan that
    * needs a per-query `repartition($"shard")` for in-task completeness.
    * Returns (frame, needs-shuffle). */
  private def resolvedPostingsScan(spark: SparkSession, root: String,
                                   m: Manifest,
                                   needPositions: Boolean): (DataFrame, Boolean) =
    cachedPostings.get(root).filter(_ => cacheMatches(root, m))
        // a positions-pruned pinned frame cannot serve a positional walk
        // — fall through to the (uncached) aligned scan, which reads the
        // position columns straight off parquet
        .filter(df => !needPositions || df.columns.contains("positions")) match {
      case Some(df) => (df, !cachedPostingsAligned.getOrElse(root, false))
      case None => alignedPostingsFor(spark, root, m) match {
        case Some(df) => (df, false)
        case None => (IndexSnapshot.postings(spark, root, m), true)
      }
    }

  private[graft] def alignedPostingsFor(spark: SparkSession, root: String,
                                        m: Manifest): Option[DataFrame] = {
    val key = (root, m.snapshotId)
    alignedPostings.get(key) match {
      case Some(v) if v.forall(df => !df.sparkSession.sparkContext.isStopped) =>
        v
      case _ =>
        // entries for other RETAINED snapshots stay (time travel
        // alternates between them); in a reader-only process no
        // maintenance ever calls disableServingCache and each entry pins
        // a cloned session, so the map must bound itself. Snapshot ids
        // are DENSE, so a version window prunes without any directory
        // listing (VERDICT r04 item 1: the query path does zero LISTs);
        // an evicted-but-still-retained old snapshot merely rebuilds its
        // (lazy, cheap) plan on next use.
        alignedPostings.keys
          .filter(k => k._1 == root && k._2 < m.snapshotId - 16)
          .foreach(alignedPostings.remove)
        val paths = IndexSnapshot.postingsPaths(root, m)
        val (maxFile, onePerShard) = IndexBuilder.parquetLayoutPaths(spark, paths)
        val v =
          if (paths.isEmpty || !onePerShard) None
          else {
            val s2 = spark.newSession()
            s2.conf.set("spark.sql.files.maxPartitionBytes", (maxFile + 1).toString)
            s2.conf.set("spark.sql.files.openCostInBytes", (maxFile + 1).toString)
            Some(s2.read.option("basePath", IndexBuilder.Paths(root).postings)
              .parquet(paths: _*).drop("gen"))
          }
        alignedPostings.put(key, v)
        v
    }
  }

  /** true ⇔ the pinned postings frame was built from the ALIGNED scan
    * (one whole shard file per partition), so cached queries can skip the
    * per-query shard shuffle exactly like the cold aligned path. */
  private val cachedPostingsAligned =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Pin the CURRENT snapshot's postings in executor memory (and load
    * its dictionary into the driver memo) for low-latency serving
    * (reference analog: MySQL buffer pool residency); prefers the
    * shard-aligned scan so the cached
    * partitioning already groups whole shards and queries run
    * shuffle-free. Re-invoking after
    * an external writer committed a newer snapshot REFRESHES the pins
    * (drops the stale frame, rebuilds, restamps) — a getOrElseUpdate
    * would silently keep serving-bypassing stale entries forever. The
    * snapshot stamp is written only after the frame is built from the
    * pinned manifest, so an interleaved disable can never leave a stale
    * frame passing cacheMatches under a newer stamp.
    *
    * `positions = false` (default) PRUNES the position streams from the
    * pinned frame on a positional index (r6 review): the `positions`/
    * `posOff` columns are roughly sum-of-tf varints — often the largest
    * columns in the file — and a serving deployment running plain
    * AND/OR queries never reads them. Phrase/NEAR/ordered queries stay
    * CORRECT against a pruned cache: [[resolvedPostingsScan]] detects
    * the missing columns and routes positional walks to the uncached
    * aligned scan instead. Pass `positions = true` to pin them too
    * (a phrase-heavy serving workload). */
  def enableServingCache(spark: SparkSession, root: String,
                         positions: Boolean = false): Unit = {
    val m = pinnedManifest(root)
    if (cacheMatches(root, m) &&
        cachedPostings.get(root).exists(df =>
          !m.positions || positions == df.columns.contains("positions")))
      return // already pinned at m in the requested shape
    cachedPostings.remove(root).foreach(_.unpersist())
    cachedPostingsAligned.remove(root)
    cachedSnapshot.remove(root)
    val (base0, aligned) = alignedPostingsFor(spark, root, m) match {
      case Some(a) => (a, true) // newSession shares the table cache
      case None => (IndexSnapshot.postings(spark, root, m), false)
    }
    val base =
      if (m.positions && !positions) base0.drop("positions", "posOff")
      else base0
    val p = base.cache()
    p.count() // materialize
    TermDictionary.of(spark, root, m)
    cachedPostings.put(root, p)
    cachedPostingsAligned.put(root, aligned)
    cachedSnapshot.put(root, m.snapshotId) // stamp LAST
    ()
  }

  def disableServingCache(root: String): Unit = {
    cachedPostings.remove(root).foreach(_.unpersist())
    cachedPostingsAligned.remove(root)
    cachedSnapshot.remove(root)
    // maintenance calls this before rewriting — drop aligned-scan plans,
    // the root's dictionaries (a root rebuilt out-of-band may reuse a
    // dictionary key) and the scoped-query memos too (their snapshot is
    // about to be superseded), and flush memoized results (stale hits
    // would otherwise survive the rewrite; the LRU itself stays enabled
    // for the serving process). The manifest-resolution memo stays: it
    // keys by (root, version) and committed manifests are immutable.
    alignedPostings.keys.filter(_._1 == root).foreach(alignedPostings.remove)
    TermDictionary.invalidate(root)
    scopeSegCache.synchronized {
      scopeSegCache.keySet.removeIf(_._1 == root)
    }
    scopeDfCache.synchronized {
      scopeDfCache.keySet.removeIf(_._1 == root)
    }
    resultCaches.get(root).foreach { lru =>
      cacheGen(root).incrementAndGet() // BEFORE clear: gates in-flight puts
      lru.synchronized(lru.clear())
    }
  }

  def statsOf(spark: SparkSession, root: String): CorpusStats = {
    val m = pinnedManifest(root)
    CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion)
  }
}

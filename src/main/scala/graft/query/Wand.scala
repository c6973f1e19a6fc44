package graft.query

import scala.collection.mutable

import graft.index.PostingCodec
import graft.model.SearchHit

/** Shard-local top-k executors over compressed posting lists — the
  * document-at-a-time core that runs inside `mapPartitions`
  * (SURVEY.md §7.5). Pure JVM, no Spark imports.
  *
  * Exactness contract (rank-identity gate): both executors return the
  * EXACT top-k of their shard under the total order
  * (score DESC, docId ASC); skipping only ever uses upper bounds with a
  * `<` comparison against the current threshold plus a docId-aware
  * admission rule, so score ties at the threshold are still examined and
  * resolved by docId. Verified by equivalence properties against the
  * brute-force scorer (WandSpec).
  */
object Wand {

  /** One query term's posting data within a shard: chunks concatenate in
    * ascending-firstDocId order (they cover consecutive docId ranges). */
  final case class TermPostings(
      term: String,
      df: Long,
      canonical: Int, // position in the fixed (df asc, term asc) order
      chunks: IndexedSeq[PostingCodec.BlockedList])

  /** Streaming cursor over a term's chunks; block-jumping advanceTo and
    * per-block exact BM25 upper bounds (block-max WAND inputs).
    *
    * `scored = false` makes the cursor WEIGHTLESS (r7, Lucene FILTER /
    * ConstantScoreQuery clause): it participates in intersections and
    * presence probes like any cursor, but contributes 0.0 to every score
    * and every upper bound — so BMW pruning stays exact and a rare filter
    * list can DRIVE an AND walk for free.
    *
    * `boost` (r7, Lucene per-clause boost `term^b`): every score AND
    * every upper bound is multiplied by it — ONE IEEE multiply on each,
    * so BMW pruning stays exact and oracle parity stays bit-equal. */
  final class TermCursor(tp: TermPostings, nDocs: Long, avgdl: Double,
                         blockSize: Int = PostingCodec.BlockSize,
                         val scored: Boolean = true,
                         val boost: Double = 1.0) {
    val term: String = tp.term
    val df: Long = tp.df
    val canonical: Int = tp.canonical
    /** Term-level score upper bound over all chunks (boost included). */
    val upperBound: Double = {
      if (!scored) 0.0
      else {
        var ub = 0.0
        tp.chunks.foreach { c =>
          var b = 0
          while (b < c.blockMaxTf.length) {
            val s = boost * Bm25.score(c.blockMaxTf(b), df, c.blockMinDl(b), nDocs, avgdl)
            if (s > ub) ub = s
            b += 1
          }
        }
        ub
      }
    }
    private var ci = 0
    private var cur: PostingCodec.BlockedCursor = null
    openChunk()

    private def openChunk(): Unit = {
      while (ci < tp.chunks.length && tp.chunks(ci).count == 0) ci += 1
      cur = if (ci < tp.chunks.length)
        new PostingCodec.BlockedCursor(tp.chunks(ci), blockSize)
      else null
    }

    def exhausted: Boolean = cur == null
    def docId: Long = if (cur == null) Long.MaxValue else cur.docId
    def tf: Int = cur.tf
    def dl: Int = cur.dl
    def score: Double =
      if (!scored) 0.0 else boost * Bm25.score(tf, df, dl, nDocs, avgdl)
    /** Current posting's token ordinals (positional index only — throws on
      * a positions-free chunk); decoded on demand, see BlockedCursor. */
    def positions: Array[Int] = cur.positions

    /** Exact upper bound of any score inside the CURRENT block. */
    def currentBlockUB: Double =
      if (cur == null || !scored) 0.0
      else boost * Bm25.score(cur.blockMaxTf, df, cur.blockMinDl, nDocs, avgdl)

    /** First docId after the current block (next block or next chunk). */
    def nextBlockStart: Long =
      if (cur == null) Long.MaxValue
      else {
        val nb = cur.nextBlockStart
        if (nb != Long.MaxValue) nb
        else {
          var j = ci + 1
          while (j < tp.chunks.length && tp.chunks(j).count == 0) j += 1
          if (j < tp.chunks.length) tp.chunks(j).blockFirst(0) else Long.MaxValue
        }
      }

    def advance(): Unit = {
      if (cur != null) {
        cur.advance()
        if (cur.exhausted) { ci += 1; openChunk() }
      }
    }
    def advanceTo(target: Long): Unit = {
      while (cur != null && cur.docId < target) {
        cur.advanceTo(target)
        if (cur.exhausted) { ci += 1; openChunk() }
      }
    }
  }

  /** Worst-first top-k heap with deterministic tie-break:
    * admit (s, d) iff heap not full, or s > worst.s, or
    * (s == worst.s && d < worst.d).
    *
    * `after` (r7, Lucene IndexSearcher.searchAfter): when set, offers at
    * or before the cursor in the (score DESC, docId ASC) total order are
    * DROPPED — the heap holds the top-k of the strictly-after region.
    * BMW/threshold pruning stays exact: skips only ever discard
    * candidates below the heap's own threshold, and the heap only ever
    * holds after-cursor hits, so a skipped candidate could not have
    * entered this page either way. */
  final class TopK(k: Int, after: Option[SearchHit] = None) {
    // ordering: head = WORST hit = smallest score, largest docId
    private val ord: Ordering[SearchHit] = Ordering.by(h => (-h.score, h.docId))
    private val pq = mutable.PriorityQueue.empty[SearchHit](ord)
    // unpacked cursor: no Option in the hot path
    private val hasAfter = after.nonEmpty
    private val aScore = after.map(_.score).getOrElse(0.0)
    private val aDoc = after.map(_.docId).getOrElse(0L)
    def threshold: Double = if (pq.size < k) Double.NegativeInfinity else pq.head.score
    def offer(docId: Long, score: Double): Unit = {
      if (hasAfter && (score > aScore ||
          (score == aScore && docId <= aDoc))) return // page cursor
      if (pq.size < k) pq.enqueue(SearchHit(docId, score))
      else {
        val w = pq.head
        if (score > w.score || (score == w.score && docId < w.docId)) {
          pq.dequeue(); pq.enqueue(SearchHit(docId, score))
        }
      }
    }
    def results: Vector[SearchHit] =
      pq.toVector.sortBy(h => (-h.score, h.docId))
  }

  /** Sum per-term contributions in the canonical (df asc, term asc) order —
    * float determinism for rank-identity (SURVEY.md §7.8.1). */
  private[query] def canonicalSum(contribs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < contribs.length) { s += contribs(i); i += 1 }
    s
  }

  /** AND top-k: merge-intersection, rarest list drives (reference J1
    * strategy — SearchServiceImpl.java:164-200 — over compressed lists).
    * [minDoc, maxDoc] optionally scopes the docId range (per-corpus
    * scoped search: conv_ids are docId-contiguous by construction). */
  def andTopK(terms: Seq[TermCursor], k: Int,
              minDoc: Long = 0L, maxDoc: Long = Long.MaxValue): Vector[SearchHit] =
    andTopKSegments(terms, k, Vector((minDoc, maxDoc)))

  /** AND top-k over a UNION of ascending disjoint docId segments in ONE
    * forward pass: cursors and the heap carry across segments (docIds
    * ascend across the list), so a scope fragmented by out-of-order
    * appends costs one scan, not one per segment. Exact: identical to
    * unioning per-segment calls and re-taking top-k (WandSpec property). */
  def andTopKSegments(terms: Seq[TermCursor], k: Int,
                      segments: Seq[(Long, Long)],
                      after: Option[SearchHit] = None): Vector[SearchHit] = {
    if (terms.isEmpty || segments.isEmpty) return Vector.empty
    val heap = new TopK(k, after)
    val byDf = terms.sortBy(c => (c.df, c.term)).toArray // rarest first
    // canonical indices are GLOBAL over the query's terms; a shard may
    // hold only a subset of cursors, so size by the max index
    val contribs = new Array[Double](terms.map(_.canonical).max + 1)
    val segs = segments.iterator
    while (segs.hasNext) {
      val (minDoc, maxDoc) = segs.next()
      byDf.foreach(_.advanceTo(minDoc))
      var continue = !byDf.exists(_.exhausted)
      if (!continue) return heap.results // AND: any dry list ends it all
      while (continue) {
        val cand = byDf(0).docId
        if (cand > maxDoc) continue = false // next segment
        else if (cand == Long.MaxValue) return heap.results
        else {
          var all = true
          var i = 1
          while (all && i < byDf.length) {
            byDf(i).advanceTo(cand)
            if (byDf(i).docId != cand) all = false
            i += 1
          }
          if (all) {
            var j = 0
            while (j < byDf.length) {
              contribs(byDf(j).canonical) = byDf(j).score
              j += 1
            }
            heap.offer(cand, canonicalSum(contribs))
            byDf(0).advance()
          } else {
            // the failing cursor moved past cand: jump the driver there
            byDf(0).advanceTo(byDf.map(_.docId).max)
          }
          if (byDf(0).exhausted) return heap.results
        }
      }
    }
    heap.results
  }

  /** EVERY doc in the AND intersection with its BM25 score, emitted in
    * ascending-docId order — the candidate enumerator for phrase
    * verification (candidates must be complete BEFORE any top-k cut:
    * the phrase filter runs after this, so pruning here would drop
    * hits). Same merge walk and canonical-order scoring as
    * [[andTopKSegments]], minus the heap (no k to prune against).
    *
    * Returns a LAZY iterator: phrases of two high-df terms (the stop cap
    * is deliberately off for phrase queries) can intersect to nearly a
    * whole shard, and the caller streams candidates into adjacency
    * verification one at a time — materializing the intersection up
    * front would hold millions of hits per task for nothing. */
  def andAll(terms: Seq[TermCursor],
             segments: Seq[(Long, Long)] = Vector((0L, Long.MaxValue))): Iterator[SearchHit] =
    andAllWith(terms, segments)((d, s, _) => SearchHit(d, s))

  /** [[andAll]] generalized with a per-match extractor: `f` runs at the
    * exact moment every cursor sits on the matched docId (BEFORE any
    * cursor advances), so it can read per-cursor state the plain hit
    * stream cannot carry — the positional phrase/NEAR verifiers pull each
    * cursor's token ordinals here (format rev r6) and never touch the doc
    * itself. The cursor array is the rarest-first internal order; use
    * `TermCursor.term`/`.canonical` to identify entries. Lazy like
    * [[andAll]]. */
  def andAllWith[A](terms: Seq[TermCursor],
                    segments: Seq[(Long, Long)] = Vector((0L, Long.MaxValue)))
                   (f: (Long, Double, Array[TermCursor]) => A): Iterator[A] = {
    if (terms.isEmpty || segments.isEmpty) return Iterator.empty
    val byDf = terms.sortBy(c => (c.df, c.term)).toArray // rarest first drives
    val contribs = new Array[Double](terms.map(_.canonical).max + 1)
    val segs = segments.iterator
    new scala.collection.AbstractIterator[A] {
      private var maxDoc = -1L        // current segment's upper bound
      private var inSegment = false
      private var done = false
      private var hasPending = false
      private var pending: A = null.asInstanceOf[A]

      // position cursors at the next segment's start; false (and done)
      // when a list runs dry (AND: ends everything) or segments end
      private def enterNextSegment(): Boolean =
        if (!segs.hasNext) { done = true; false }
        else {
          val (lo, hi) = segs.next()
          byDf.foreach(_.advanceTo(lo))
          if (byDf.exists(_.exhausted)) { done = true; false }
          else { maxDoc = hi; true }
        }

      private def computeNext(): Unit =
        while (!hasPending && !done) {
          if (!inSegment) inSegment = enterNextSegment()
          else {
            val cand = byDf(0).docId
            if (cand > maxDoc) inSegment = false // next segment
            else if (cand == Long.MaxValue) done = true
            else {
              var all = true
              var i = 1
              while (all && i < byDf.length) {
                byDf(i).advanceTo(cand)
                if (byDf(i).docId != cand) all = false
                i += 1
              }
              if (all) {
                var j = 0
                while (j < byDf.length) {
                  contribs(byDf(j).canonical) = byDf(j).score
                  j += 1
                }
                // every cursor sits on cand here — f may read them
                pending = f(cand, canonicalSum(contribs), byDf)
                hasPending = true
                byDf(0).advance()
              } else {
                // the failing cursor moved past cand: jump the driver there
                byDf(0).advanceTo(byDf.map(_.docId).max)
              }
              if (byDf(0).exhausted) done = true
            }
          }
        }

      override def hasNext: Boolean = { computeNext(); hasPending }
      override def next(): A = {
        computeNext()
        if (!hasPending) throw new NoSuchElementException("andAll")
        val h = pending; pending = null.asInstanceOf[A]; hasPending = false
        h
      }
    }
  }

  /** Count-qualified disjunction top-k (Lucene BooleanQuery with ONLY
    * SHOULD clauses + minimumNumberShouldMatch = `minMatch` ≥ 1): the
    * exact top-k of docs present in ≥ minMatch of the cursors' lists,
    * scored by the canonical-order BM25 sum over the PRESENT terms.
    *
    * PIGEONHOLE DRIVER SET (the count-qualified WAND shape): candidates
    * are enumerated from the (n − minMatch + 1) RAREST lists only — a doc
    * in ≥ minMatch of n lists must appear in at least one of any
    * (n − minMatch + 1) of them (absent from all, it is in at most
    * minMatch − 1) — so the hottest minMatch − 1 lists are never walked,
    * only probed with monotone advanceTo (candidates ascend: one forward
    * merge per probe list). minMatch = 1 makes every list a driver (the
    * plain union) and is rank-identical to [[orTopKSegments]]; minMatch =
    * n is rank-identical to the AND walk (both spec-pinned laws).
    *
    * `required` = weightless FILTER cursors every hit must contain (r7);
    * `prohibited` = MUST_NOT cursors no hit may contain (r7 combined
    * BooleanQuery, no-MUST branch) — both are monotone forward probes at
    * admission, zero score contribution. */
  def shouldTopKSegments(terms: Seq[TermCursor], minMatch: Int, k: Int,
                         segments: Seq[(Long, Long)],
                         required: Seq[TermCursor] = Nil,
                         prohibited: Seq[TermCursor] = Nil,
                         after: Option[SearchHit] = None): Vector[SearchHit] = {
    if (terms.isEmpty || segments.isEmpty) return Vector.empty
    require(minMatch >= 1 && minMatch <= terms.size,
      s"minMatch must be in [1, ${terms.size}], got $minMatch")
    val heap = new TopK(k, after)
    val byDf = terms.sortBy(c => (c.df, c.term)).toArray // rarest first
    val drivers = byDf.take(terms.size - minMatch + 1)
    val probes = byDf.drop(terms.size - minMatch + 1)
    val reqArr = required.toArray
    val negArr = prohibited.toArray
    val contribs = new Array[Double](terms.map(_.canonical).max + 1)
    segments.foreach { case (lo, hi) =>
      byDf.foreach(_.advanceTo(lo))
      var cont = true
      while (cont) {
        // next candidate = min driver docId inside the segment
        var cand = Long.MaxValue
        var i = 0
        while (i < drivers.length) {
          val d = drivers(i).docId
          if (d < cand) cand = d
          i += 1
        }
        if (cand == Long.MaxValue || cand > hi) cont = false
        else {
          // BMW-style admission pre-check (VERDICT r7 item 1): before any
          // probe advanceTo / scoring, bound cand's best possible score by
          // Σ term upper bounds of the driver lists sitting on cand plus
          // every probe list not yet past cand, and bound its best
          // possible match count the same way. If even the slack-inflated
          // score bound cannot reach the heap threshold — or the possible
          // count cannot reach minMatch — cand is skipped without moving
          // a probe cursor or decoding a score. Exact: score <= upperBound
          // per term (the orTopK WAND invariant), a probe past cand cannot
          // contain it, and the slack (sign-safe, 1e-12 relative — the
          // SearchEngine.BoolBoundSlack discipline) only ever over-admits.
          val theta = heap.threshold
          var ub = 0.0
          var possible = 0
          i = 0
          while (i < drivers.length) {
            if (drivers(i).docId == cand) {
              ub += drivers(i).upperBound
              possible += 1
            }
            i += 1
          }
          i = 0
          while (i < probes.length) {
            if (!probes(i).exhausted && probes(i).docId <= cand) {
              ub += probes(i).upperBound
              possible += 1
            }
            i += 1
          }
          if (possible >= minMatch && ub + BoundSlackEps * math.abs(ub) >= theta) {
            java.util.Arrays.fill(contribs, 0.0)
            var matched = 0
            i = 0
            while (i < drivers.length) {
              if (drivers(i).docId == cand) {
                contribs(drivers(i).canonical) = drivers(i).score
                matched += 1
              }
              i += 1
            }
            i = 0
            while (i < probes.length) {
              probes(i).advanceTo(cand)
              if (!probes(i).exhausted && probes(i).docId == cand) {
                contribs(probes(i).canonical) = probes(i).score
                matched += 1
              }
              i += 1
            }
            if (matched >= minMatch && presentInAll(reqArr, cand) &&
                !presentInAny(negArr, cand))
              heap.offer(cand, canonicalSum(contribs))
          }
          i = 0
          while (i < drivers.length) {
            if (drivers(i).docId == cand) drivers(i).advance()
            i += 1
          }
        }
      }
    }
    heap.results
  }

  /** Sign-safe relative slack on summed upper bounds (the
    * SearchEngine.BoolBoundSlack discipline): covers float-association
    * noise between a bound sum and the canonical-order score sum.
    * Over-admission only costs a probe; under-admission would break the
    * exactness contract. */
  private val BoundSlackEps = 1e-12

  /** OR top-k: WAND with term-level upper bounds (each derived from the
    * per-block maxTf/minDl metadata, i.e. tighter than a plain maxTf
    * bound). Exact (see exactness contract above). */
  def orTopK(terms: Seq[TermCursor], k: Int,
             minDoc: Long = 0L, maxDoc: Long = Long.MaxValue): Vector[SearchHit] =
    orTopKSegments(terms, k, Vector((minDoc, maxDoc)))

  /** OR/WAND top-k over a union of ascending disjoint segments in one
    * forward pass (see [[andTopKSegments]]); the heap's threshold carries
    * across segments, so later segments prune with everything already
    * admitted. */
  def orTopKSegments(terms: Seq[TermCursor], k: Int,
                     segments: Seq[(Long, Long)],
                     required: Seq[TermCursor] = Nil,
                     after: Option[SearchHit] = None,
                     prohibited: Seq[TermCursor] = Nil): Vector[SearchHit] = {
    if (terms.isEmpty || segments.isEmpty) return Vector.empty
    val heap = new TopK(k, after)
    val cursors = terms.toArray
    val reqArr = required.toArray
    val negArr = prohibited.toArray
    // global canonical indices (see andTopK) — size by the max index
    val contribs = new Array[Double](cursors.map(_.canonical).max + 1)
    segments.foreach { case (minDoc, maxDoc) =>
      orOneSegment(cursors, heap, contribs, minDoc, maxDoc, reqArr, negArr)
    }
    heap.results
  }

  /** Do ALL required cursors contain `cand`? (r7 FILTER clauses —
    * zero-scored presence probes.) Monotone: candidates ascend within the
    * whole walk, so each probe list is ONE forward merge, never a
    * restart. WAND/BMW threshold skips stay exact with probes gating
    * admission: a skipped candidate could not have entered the heap even
    * if it passed the filter, and the heap only ever holds passing docs. */
  private[query] def presentInAll(required: Array[TermCursor], cand: Long): Boolean = {
    var i = 0
    while (i < required.length) {
      required(i).advanceTo(cand)
      if (required(i).exhausted || required(i).docId != cand) return false
      i += 1
    }
    true
  }

  /** Is `cand` in ANY of the probe lists? (MUST_NOT exclusion — same
    * monotone one-forward-merge-per-list shape as [[presentInAll]].) */
  private[query] def presentInAny(prohibited: Array[TermCursor], cand: Long): Boolean = {
    var i = 0
    while (i < prohibited.length) {
      prohibited(i).advanceTo(cand)
      if (!prohibited(i).exhausted && prohibited(i).docId == cand) return true
      i += 1
    }
    false
  }

  private def orOneSegment(cursors: Array[TermCursor], heap: TopK,
                           contribs: Array[Double],
                           minDoc: Long, maxDoc: Long,
                           required: Array[TermCursor] = Array.empty,
                           prohibited: Array[TermCursor] = Array.empty): Unit = {
    cursors.foreach(_.advanceTo(minDoc))
    while (true) {
      // sort by current docId (N terms is tiny; insertion-order cost ok)
      val live = cursors.filter(c => !c.exhausted && c.docId <= maxDoc)
        .sortBy(_.docId)
      if (live.isEmpty) return // segment exhausted
      val theta = heap.threshold
      // pivot: first prefix whose UB sum could beat/tie theta
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < live.length) {
        acc += live(i).upperBound
        if (acc >= theta) p = i
        i += 1
      }
      if (p < 0) return // no doc in this segment can reach theta anymore
      val pivotDoc = live(p).docId
      if (live(0).docId == pivotDoc) {
        // block-max refinement (Ding & Suel BMW): the EXACT per-block
        // bounds of every cursor sitting on pivotDoc cap its true score;
        // if even that cap is strictly below theta, skip to the next
        // candidate — min(next block boundary of the involved cursors,
        // first docId beyond the pivot) — without scoring anything.
        var involved = 0
        while (involved < live.length && live(involved).docId == pivotDoc)
          involved += 1
        var blockSum = 0.0
        var bi = 0
        while (bi < involved) { blockSum += live(bi).currentBlockUB; bi += 1 }
        if (blockSum < theta) {
          var cand = if (involved < live.length) live(involved).docId
                     else Long.MaxValue
          bi = 0
          while (bi < involved) {
            val nb = live(bi).nextBlockStart
            if (nb < cand) cand = nb
            bi += 1
          }
          if (cand <= pivotDoc) cand = pivotDoc + 1
          bi = 0
          while (bi < involved) { live(bi).advanceTo(cand); bi += 1 }
        } else if (!presentInAll(required, pivotDoc) ||
                   presentInAny(prohibited, pivotDoc)) {
          // filtered / prohibited: move past the pivot without scoring
          var j = 0
          while (j < involved) { live(j).advance(); j += 1 }
        } else {
          // fully score pivotDoc: every cursor on it, canonical-order sum
          java.util.Arrays.fill(contribs, 0.0)
          var j = 0
          while (j < involved) {
            contribs(live(j).canonical) = live(j).score
            j += 1
          }
          heap.offer(pivotDoc, canonicalSum(contribs))
          j = 0
          while (j < involved) { live(j).advance(); j += 1 }
        }
      } else {
        // advance the first (rarest-by-position) cursor below the pivot
        live(0).advanceTo(pivotDoc)
      }
    }
  }
}

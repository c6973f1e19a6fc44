package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TermStats

/** Driver-resident, read-only copy of ONE committed term_stats generation
  * (reference analog: the indexed `lemma` lookup,
  * LemmaRepository.findBySiteAndLemma, SearchServiceImpl.java:143-162).
  *
  * Terms sit in UTF-8 byte order (Spark's binary string order) as one
  * concatenated byte array plus offsets, next to parallel df / maxTf
  * arrays — about (term bytes + 16) bytes per term, no per-term objects.
  * An exact lookup is a binary search; a prefix is the contiguous range
  * starting at its lower bound. The dictionary must fit in driver memory,
  * the same bound the broadcast join of `SearchEngine.queryNaive` already
  * imposes. Rows are copied verbatim, including any df = 0 entries a
  * rolled dictionary carries. */
final class TermDictionary private (bytes: Array[Byte], offs: Array[Int],
                                    dfs: Array[Long], maxTfs: Array[Int]) {

  def size: Int = dfs.length

  /** Zero-copy view of term `i`. */
  private def termAt(i: Int): UTF8String =
    UTF8String.fromAddress(bytes, Platform.BYTE_ARRAY_OFFSET + offs(i),
      offs(i + 1) - offs(i))

  private def statsAt(i: Int): TermStats =
    TermStats(termAt(i).toString, dfs(i), maxTfs(i))

  /** First index whose term is >= `key` in byte order. */
  private def lowerBound(key: UTF8String): Int = {
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (termAt(mid).binaryCompare(key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  def get(term: String): Option[TermStats] = {
    val key = UTF8String.fromString(term)
    val i = lowerBound(key)
    if (i < size && termAt(i).binaryCompare(key) == 0) Some(statsAt(i))
    else None
  }

  /** Every term that starts with `prefix` — Spark's StartsWith, a UTF-8
    * byte-prefix match; "" = the whole dictionary — and satisfies `keep`,
    * in byte order. */
  def scan(prefix: String)(keep: UTF8String => Boolean): Vector[TermStats] = {
    val pre = UTF8String.fromString(prefix)
    val out = Vector.newBuilder[TermStats]
    var i = lowerBound(pre)
    while (i < size && termAt(i).startsWith(pre)) {
      if (keep(termAt(i))) out += statsAt(i)
      i += 1
    }
    out.result()
  }
}

/** Per-generation memo of [[TermDictionary]]: the first query on a
  * committed dictionary runs one collect job, every later one none.
  *
  * Keyed by (root, statsGen, inputFingerprint, analyzerVersion): a
  * `term_stats/gen=S` dir is immutable once a manifest references it, and
  * compaction re-references the same generation. Only a dir carrying its
  * `_SUCCESS` marker memoizes — a mid-build wave manifest already names
  * statsGen 0 before the build writes it. Each root keeps its
  * [[Window]] most recently used generations (time travel alternates
  * between retained snapshots). Concurrent readers of one generation share
  * one load; a failed load is retried by the next reader.
  * `SearchEngine.disableServingCache` and `IndexManifest.invalidateCache`
  * drop a root's entries, so a root deleted and rebuilt out-of-band never
  * serves a stale df. */
object TermDictionary {

  private val Window = 4

  private final case class Key(root: String, statsGen: Long,
                               inputFingerprint: String,
                               analyzerVersion: String)

  private final class Slot(load: () => TermDictionary) {
    lazy val dict: TermDictionary = load()
  }

  // access order: iteration runs least → most recently used
  private val slots = new java.util.LinkedHashMap[Key, Slot](16, 0.75f, true)

  def of(spark: SparkSession, root: String, m: Manifest): TermDictionary = {
    val key = Key(root, m.statsGen, m.inputFingerprint, m.analyzerVersion)
    slots.synchronized(Option(slots.get(key))) match {
      case Some(s) => s.dict
      case None if !IndexBuilder.hasSuccess(spark,
          IndexSnapshot.termStatsPath(root, m)) =>
        load(spark, root, m)
      case None =>
        slots.synchronized {
          Option(slots.get(key)).getOrElse {
            val s = new Slot(() => load(spark, root, m))
            slots.put(key, s)
            val mine = slots.keySet.toArray(Array.empty[Key]).filter(_.root == root)
            mine.take(mine.length - Window).foreach(slots.remove)
            s
          }
        }.dict
    }
  }

  def invalidate(root: String): Unit = slots.synchronized {
    slots.keySet.removeIf(_.root == root)
    ()
  }

  private def load(spark: SparkSession, root: String,
                   m: Manifest): TermDictionary = {
    val rows = IndexSnapshot.termStats(spark, root, m)
      .select("term", "df", "maxTf").collect()
      .map(r => (UTF8String.fromString(r.getString(0)), r.getLong(1), r.getInt(2)))
      .sortWith((a, b) => a._1.binaryCompare(b._1) < 0)
    // an empty read of a snapshot no longer retained means expiry reclaimed
    // its dictionary (manifests go first, data dirs after): fail loudly —
    // `SearchEngine.withExpiryDiagnosis` names the retention contract —
    // rather than answer from an empty dictionary
    if (rows.isEmpty && !IndexManifest.versions(root).contains(m.snapshotId))
      throw new IllegalStateException(
        s"dictionary of snapshot ${m.snapshotId} at $root is gone: the " +
        "snapshot was expired")
    val offs = rows.scanLeft(0)((o, r) => Math.addExact(o, r._1.numBytes))
    val bytes = new Array[Byte](offs.last)
    rows.indices.foreach(i =>
      rows(i)._1.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + offs(i)))
    new TermDictionary(bytes, offs, rows.map(_._2), rows.map(_._3))
  }
}

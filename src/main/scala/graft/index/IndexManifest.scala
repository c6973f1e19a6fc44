package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Iceberg-style snapshot manifest for the posting index (SURVEY.md §7.0.5,
  * §7.6). No Iceberg runtime jar exists in the offline sandbox, so this
  * layer carries the north rule's checkpoint / lineage / per-partition
  * metrics semantics over plain Parquet partitions:
  *
  *  - one JSON-lines manifest file per snapshot, committed by ATOMIC RENAME
  *    (`manifest-vN.json.tmp` → `manifest-vN.json`);
  *  - one line per completed shard with metrics {terms, postings, bytes},
  *    lineage (source input partitions) and the GENERATION of the data
  *    dirs holding the shard (`docs/gen=G/shard=K`,
  *    `postings/gen=G/shard=K`) — data dirs are immutable once written,
  *    so a manifest IS a consistent snapshot: maintenance writes NEW
  *    generation dirs and flips the manifest, it never rewrites a dir a
  *    committed snapshot references (reader isolation without the
  *    reference's global write lock, LockGenerator.java:10-23);
  *  - a header line with snapshot id, analyzer version (build/query
  *    agreement — SURVEY.md §7.8.5), input fingerprint, corpus stats and
  *    the generation of the term_stats table.
  *
  * Resume = set-difference of all shards vs shards present in the latest
  * manifest; only missing shards are recomputed (IndexBuilder.build).
  * Matches the reference's recoverability intent (site INDEXING/INDEXED/
  * FAILED status + per-page idempotence — SiteEntity.java:23-25,
  * ParseAction.java:192-203) at partition granularity.
  *
  * Hand-rolled fixed-schema JSON (offline sandbox: no JSON lib beyond
  * Spark's internals); fields are numbers/id-safe strings, no escaping
  * needed except analyzerVersion which is ours.
  */
/** Per-shard manifest entry. `minDocId`/`maxDocId` are the shard's docId
  * range (shards are docId-contiguous by construction) — point reads and
  * scoped queries prune to intersecting shards without scanning docs;
  * (-1, -1) = empty shard or legacy manifest (no pruning). `gen` = the
  * generation dir holding the shard's data (immutable; bumped by every
  * maintenance rewrite of the shard). */
final case class ShardEntry(shard: Int, terms: Long, postings: Long, bytes: Long,
                            sourcePartitions: Seq[Int],
                            minDocId: Long = -1L, maxDocId: Long = -1L,
                            sumDl: Long = 0L, gen: Long = 0L,
                            minConv: Option[String] = None,
                            maxConv: Option[String] = None) {
  /** Could this shard contain any (conv_id, …) key in [lo, hi]? true when
    * unstamped (no pruning possible). Bounds compare in UTF-8 byte order —
    * the same order docIds were assigned under (DocIdAssigner). */
  def convRangeIntersects(lo: String, hi: String): Boolean =
    (minConv, maxConv) match {
      case (Some(mn), Some(mx)) =>
        DocIdAssigner.utf8Compare(mn, hi) <= 0 &&
        DocIdAssigner.utf8Compare(mx, lo) >= 0
      case _ => minDocId >= 0 // unstamped non-empty shard: cannot prune
    }
}

final case class Manifest(
    snapshotId: Long,
    analyzerVersion: String,
    inputFingerprint: String,
    nDocs: Long,
    avgdl: Double,
    shards: Seq[ShardEntry],
    statsGen: Long = 0L,
    /** exact Σ dl over the corpus (-1 = legacy/unstamped; avgdl is then
      * the only record). Carried exactly so maintenance can update avgdl
      * incrementally without re-aggregating anything corpus-sized. */
    sumDl: Long = -1L,
    /** r6 format rev: the index's posting lists carry per-posting token
      * ordinals (Lucene .pos analog). A BUILD property like the analyzer
      * version: maintenance reads it back so rewrites/appends keep every
      * shard on the same format; phrase/NEAR pick the posting-offset
      * verify when true and the rescan fallback when false. */
    positions: Boolean = false,
    /** r7 format rev: typed-field postings (role/tool in the reserved
      *   namespace — Lucene StringField analog) + the ts column on
      * every shard's docs. A BUILD property like `positions`:
      * maintenance keeps the format, and field/ts query filters REFUSE
      * on a fields-free index (a half-appended legacy index would
      * otherwise silently exclude its legacy docs from ts filters). */
    fields: Boolean = false) {
  def completedShards: Set[Int] = shards.map(_.shard).toSet
}

object IndexManifest {

  /** Hadoop FileSystem for `root` — works on HDFS/S3/local alike (the
    * java.nio API would throw off-box). Driver-side only. getActiveSession
    * is a THREAD-LOCAL — a serving pool's worker thread would miss the
    * session's S3/HDFS conf — so fall through to the process-wide default
    * session before a bare Configuration. */
  private[index] def fs(root: String): FileSystem =
    new Path(root).getFileSystem(
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private[index] def manifestPath(root: String, v: Long): Path =
    new Path(root, f"manifest-v$v%05d.json")

  private def hintPath(root: String): Path = new Path(root, "version-hint.text")

  // ---- serving-path observability (VERDICT r04 item 1) ---------------
  // Counters let a spec PROVE the serving cost model: N repeat queries on
  // an unchanged snapshot = 1 manifest read, 0 directory listings.
  /** # full manifest file read+parses. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong
  /** # directory LISTs (a metered RPC on object stores). */
  private[graft] val manifestListings =
    new java.util.concurrent.atomic.AtomicLong

  /** All snapshot versions present at `root`, ascending. One directory
    * LISTING — authoritative but metered; the serving path resolves
    * through [[readCached]] (hint file + memo) instead. */
  def versions(root: String): Seq[Long] = {
    manifestListings.incrementAndGet()
    val dir = new Path(root)
    val f = fs(root)
    if (!f.exists(dir) || !f.getFileStatus(dir).isDirectory) return Nil
    f.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("manifest-v") && s.endsWith(".json") =>
        s.stripPrefix("manifest-v").stripSuffix(".json").toLong }
      .toSeq.sorted
  }

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  def read(root: String): Option[Manifest] =
    latestVersion(root).map(v => readVersion(root, v))

  // ---- memoized serving-path resolution (VERDICT r04 item 1) ---------
  // Committed manifests are IMMUTABLE, so (root, version) → Manifest
  // memoizes forever; the only per-resolution work is discovering the
  // CURRENT version. That is the Iceberg version-hint pattern
  // (HadoopTableOperations): a tiny `version-hint.text` written by every
  // commit replaces the directory LISTING, and a forward existence probe
  // (does version+1 exist?) keeps the hint advisory-only — a crashed
  // hint write or a concurrent committer can never pin readers to a
  // stale snapshot. Steady-state resolution = one small-file read + one
  // exists() probe; the listing survives only as the no-hint fallback.
  private val manifestCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Manifest]
  /** versions retained in the memo per root (snapshot ids are dense, so
    * a version window bounds the map without any listing). */
  private val CacheVersionWindow = 16L

  private def readHint(root: String): Option[Long] =
    try {
      val f = fs(root)
      val p = hintPath(root)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
                finally in.close()
        s.toLongOption // torn/garbled hint → fall back to the listing
      }
    } catch { case _: java.io.IOException => None }

  /** Best-effort: a lost hint write only costs later readers one listing
    * (or one forward probe); never fails a commit. */
  private def writeHint(root: String, v: Long): Unit =
    try {
      val out = fs(root).create(hintPath(root), true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () }

  /** The latest committed snapshot, resolved WITHOUT a directory listing
    * in the steady state and parsed at most once per (root, version) —
    * the serving path's replacement for [[read]]. */
  def readCached(root: String): Option[Manifest] = {
    val f = fs(root)
    val hint = readHint(root)
    val base = hint.orElse(latestVersion(root)) // fallback LISTs
    base.flatMap { b =>
      // forward probe: a stale hint (crashed hint write / concurrent
      // commit) is corrected by walking to the newest existing version;
      // one exists() miss in the steady state
      var v = b
      while (f.exists(manifestPath(root, v + 1))) v += 1
      if (!f.exists(manifestPath(root, v))) {
        // hint names a version that is gone (e.g. root rebuilt from
        // scratch): the listing is the authority
        read(root).map { m =>
          writeHint(root, m.snapshotId) // self-heal (best-effort)
          cachePut(root, m); m
        }
      } else {
        // self-heal a missing/stale hint so the NEXT resolution needs
        // neither a listing nor the probe walk (best-effort; a racing
        // committer's newer hint losing to this write only costs that —
        // one extra probe — never correctness)
        if (!hint.contains(v)) writeHint(root, v)
        Some(manifestCache.getOrElseUpdate((root, v), {
          val m = readVersion(root, v)
          pruneCache(root, v)
          m
        }))
      }
    }
  }

  /** Memoized [[readVersion]] for RETAINED snapshots (time travel
    * alternates between them): committed manifests are immutable, so the
    * parse caches by (root, version). Callers must validate retention
    * FIRST — this never checks it (queryAt's require does). */
  def readVersionCached(root: String, v: Long): Manifest =
    manifestCache.getOrElseUpdate((root, v), readVersion(root, v))

  private def cachePut(root: String, m: Manifest): Unit = {
    manifestCache.put((root, m.snapshotId), m)
    pruneCache(root, m.snapshotId)
  }

  private def pruneCache(root: String, current: Long): Unit =
    manifestCache.keys
      .filter(k => k._1 == root && k._2 < current - CacheVersionWindow)
      .foreach(manifestCache.remove)

  /** Drop the memo + hint trust and the dictionary memo for `root`
    * (tests; also safe after deleting an index root out-of-band). */
  private[graft] def invalidateCache(root: String): Unit = {
    manifestCache.keys.filter(_._1 == root).foreach(manifestCache.remove)
    TermDictionary.invalidate(root)
  }

  /** Read one specific committed snapshot. */
  def readVersion(root: String, v: Long): Manifest = {
    manifestReads.incrementAndGet()
    val in = fs(root).open(manifestPath(root, v))
    val text =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split('\n').toSeq
    val head = parseFields(lines.head)
    val shards = head.get("entriesFile") match {
      case Some(name) =>
        // sidecar layout (big manifests): entries live in a binary
        // columnar file; the JSON header is only the atomic CAS record
        val got = readEntries(root, name)
        val expect = head("entriesCount").toLong
        if (got.size != expect)
          throw new java.io.IOException(
            s"manifest v$v sidecar $name holds ${got.size} entries, " +
            s"header says $expect — corrupt or mismatched sidecar")
        got
      case None => lines.tail.filter(_.nonEmpty).map { l =>
        val f = parseFields(l)
        ShardEntry(f("shard").toInt, f("terms").toLong, f("postings").toLong,
          f("bytes").toLong,
          f("sourcePartitions").split(";").filter(_.nonEmpty).map(_.toInt).toSeq,
          f.getOrElse("minDocId", "-1").toLong,
          f.getOrElse("maxDocId", "-1").toLong,
          f.getOrElse("sumDl", "0").toLong,
          f.getOrElse("gen", "0").toLong,
          f.get("minConvB64").map(b64dec),
          f.get("maxConvB64").map(b64dec))
      }.toSeq
    }
    Manifest(head("snapshotId").toLong, head("analyzerVersion"),
      head("inputFingerprint"), head("nDocs").toLong, head("avgdl").toDouble,
      shards, head.getOrElse("statsGen", "0").toLong,
      head.getOrElse("sumDl", "-1").toLong,
      head.getOrElse("positions", "false").toBoolean,
      head.getOrElse("fields", "false").toBoolean)
  }

  // ---- shard-entry sidecar (VERDICT r04 item 4) ----------------------
  // One JSON line per shard parsed by regex stops scaling around
  // 10⁴-10⁵ entries (a 10^12-turn index at 4M docs/shard carries ~250k):
  // tens of MB re-parsed per resolution. Past [[SidecarThreshold]]
  // entries the commit writes them to a compact binary sidecar
  // (`manifest-vN.<nonce>.entries`) and the JSON header — still the
  // atomic CAS file — just points at it, Iceberg's manifest-list split
  // at dir granularity. The codec is a fixed-schema stream (no JSON lib
  // or avro in the offline sandbox); a production port would emit the
  // Iceberg avro manifest format here. IndexManifestSpec micro-benches a
  // synthetic 100k-entry manifest resolving in milliseconds.
  private[graft] val SidecarThreshold = 1024
  /** test hook: force the sidecar for small manifests */
  @volatile private[graft] var sidecarThresholdOverride: Option[Int] = None
  private def sidecarThreshold: Int =
    sidecarThresholdOverride.getOrElse(SidecarThreshold)

  private val EntriesMagic = 0x47524654454e5431L // "GRFTENT1"

  private def writeEntries(f: FileSystem, p: Path,
                           entries: Seq[ShardEntry]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(f.create(p, true), 1 << 16))
    try {
      out.writeLong(EntriesMagic)
      out.writeInt(entries.size)
      entries.foreach { e =>
        out.writeInt(e.shard); out.writeLong(e.terms)
        out.writeLong(e.postings); out.writeLong(e.bytes)
        out.writeLong(e.minDocId); out.writeLong(e.maxDocId)
        out.writeLong(e.sumDl); out.writeLong(e.gen)
        out.writeInt(e.sourcePartitions.size)
        e.sourcePartitions.foreach(out.writeInt)
        def str(o: Option[String]): Unit = o match {
          case None => out.writeInt(-1)
          case Some(s) =>
            val b = s.getBytes(StandardCharsets.UTF_8)
            out.writeInt(b.length); out.write(b)
        }
        str(e.minConv); str(e.maxConv)
      }
    } finally out.close()
  }

  private def readEntries(root: String, name: String): Seq[ShardEntry] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs(root).open(new Path(root, name)),
        1 << 16))
    try {
      val magic = in.readLong()
      if (magic != EntriesMagic)
        throw new java.io.IOException(
          f"manifest sidecar $name: bad magic 0x$magic%x")
      val n = in.readInt()
      val out = Vector.newBuilder[ShardEntry]
      var i = 0
      while (i < n) {
        val shard = in.readInt(); val terms = in.readLong()
        val postings = in.readLong(); val bytes = in.readLong()
        val minDocId = in.readLong(); val maxDocId = in.readLong()
        val sumDl = in.readLong(); val gen = in.readLong()
        val np = in.readInt()
        val sp = new Array[Int](np)
        var j = 0
        while (j < np) { sp(j) = in.readInt(); j += 1 }
        def str(): Option[String] = {
          val len = in.readInt()
          if (len < 0) None
          else {
            val b = new Array[Byte](len)
            in.readFully(b)
            Some(new String(b, StandardCharsets.UTF_8))
          }
        }
        val mn = str(); val mx = str()
        out += ShardEntry(shard, terms, postings, bytes,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(sp),
          minDocId, maxDocId, sumDl, gen, mn, mx)
        i += 1
      }
      out.result()
    } finally in.close()
  }

  /** The sidecar file (if any) a committed manifest references — a
    * header-only read, used by expireSnapshots to reclaim sidecars with
    * their manifests. */
  private[index] def entriesFileOf(root: String, v: Long): Option[String] =
    try {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs(root).open(manifestPath(root, v)), StandardCharsets.UTF_8))
      val head = try in.readLine() finally in.close()
      if (head == null) None else parseFields(head).get("entriesFile")
    } catch { case _: java.io.IOException => None }

  // conv-id bounds are USER DATA (arbitrary strings) — base64 keeps the
  // hand-rolled fixed-schema JSON free of escaping concerns
  private def b64enc(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(StandardCharsets.UTF_8))
  private def b64dec(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Thrown when an optimistic commit loses the race: another writer
    * committed the same snapshot version first (Iceberg-style CAS — the
    * manifest FILENAME is the version, and rename-without-overwrite is
    * atomic on HDFS/local, so exactly one writer wins). The loser must
    * re-read the new manifest and redo its op against it. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Commit a new snapshot: write tmp, atomic rename (atomic on
    * HDFS/local; on S3 rename is copy+delete — a real deployment slots
    * Iceberg's catalog commit in here, SURVEY.md §7.0.5).
    *
    * `expectNew = true` (maintenance ops) = optimistic concurrency: the
    * version must not exist yet; a pre-existing file (or a lost rename
    * race) raises [[CommitConflictException]] instead of clobbering a
    * concurrent writer's snapshot — the lock-free analog of the
    * reference's global write lock (LockGenerator.java:10-23).
    *
    * `expectNew = false` (build waves re-committing their own version on
    * resume): a same-version re-commit moves the existing file ASIDE
    * first and deletes it only after the new rename lands, so no crash
    * point leaves the version with no manifest file (the r03
    * delete-then-rename had that window). */
  def commit(root: String, m: Manifest, expectNew: Boolean = false): Unit = {
    val f = fs(root)
    f.mkdirs(new Path(root))
    // PER-ATTEMPT nonce: a shared deterministic tmp would let one
    // racer link/rename the OTHER racer's (possibly half-written) bytes
    // into the committed manifest — the CAS must decide between fully
    // private files. (`.tmp`/`.entries` names never match versions();
    // stale ones from crashes are swept by IndexSnapshot.expireSnapshots.)
    val nonce = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    val sorted = m.shards.sortBy(_.shard)
    // big manifests: entries go to the binary sidecar, written and
    // closed BEFORE the header CAS (the header is what makes both
    // visible atomically; a losing/crashed attempt's sidecar is an
    // unreferenced orphan, swept by expireSnapshots)
    val entriesName =
      if (sorted.size >= sidecarThreshold)
        Some(s"manifest-v${m.snapshotId}.$nonce.entries")
      else None
    entriesName.foreach(n => writeEntries(f, new Path(root, n), sorted))
    val sb = new StringBuilder
    sb.append(line(Seq(
      "snapshotId" -> m.snapshotId.toString,
      "analyzerVersion" -> m.analyzerVersion,
      "inputFingerprint" -> m.inputFingerprint,
      "nDocs" -> m.nDocs.toString,
      // Double round-trips exactly via toString/toDouble (Java guarantees).
      "avgdl" -> m.avgdl.toString,
      "statsGen" -> m.statsGen.toString,
      "sumDl" -> m.sumDl.toString,
      "positions" -> m.positions.toString,
      "fields" -> m.fields.toString) ++
      entriesName.map("entriesFile" -> _) ++
      entriesName.map(_ => "entriesCount" -> sorted.size.toString): _*))
      .append('\n')
    if (entriesName.isEmpty) sorted.foreach { s =>
      val base = Seq(
        "shard" -> s.shard.toString,
        "terms" -> s.terms.toString,
        "postings" -> s.postings.toString,
        "bytes" -> s.bytes.toString,
        "sourcePartitions" -> s.sourcePartitions.mkString(";"),
        "minDocId" -> s.minDocId.toString,
        "maxDocId" -> s.maxDocId.toString,
        "sumDl" -> s.sumDl.toString,
        "gen" -> s.gen.toString) ++
        s.minConv.map(v => "minConvB64" -> b64enc(v)) ++
        s.maxConv.map(v => "maxConvB64" -> b64enc(v))
      sb.append(line(base: _*)).append('\n')
    }
    val tmp = new Path(root, s"manifest-v${m.snapshotId}.json.$nonce.tmp")
    val out = f.create(tmp, true)
    try out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dst = manifestPath(root, m.snapshotId)
    // base FileSystem.getScheme throws UnsupportedOperationException —
    // any filesystem that does gets the (HDFS-safe) generic paths
    val local = scala.util.Try(f.getScheme).toOption.contains("file")
    def nio(p: Path): java.nio.file.Path =
      java.nio.file.Paths.get(f.makeQualified(p).toUri)
    if (expectNew) {
      // CAS semantics differ by filesystem:
      //  - HDFS: rename NEVER overwrites — the rename itself is the CAS;
      //  - local: POSIX rename silently REPLACES, so exists()+rename
      //    would be a TOCTOU hole; hardlink creation (link(2)) fails
      //    EEXIST atomically → that is the local CAS.
      val won =
        if (local) {
          try {
            java.nio.file.Files.createLink(nio(dst), nio(tmp))
            f.delete(tmp, false) // Hadoop delete also removes the .crc
                                 // sidecar; dst (the link) has none, which
                                 // LocalFileSystem reads accept
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: UnsupportedOperationException =>
              // no-hardlink FS: degrade to the check-then-rename race
              !f.exists(dst) && f.rename(tmp, dst)
          }
        } else !f.exists(dst) && f.rename(tmp, dst)
      if (!won) {
        f.delete(tmp, false)
        // eager cleanup; a crash here still leaves only an orphan
        // sidecar for the sweep
        entriesName.foreach(n => f.delete(new Path(root, n), false))
        throw new CommitConflictException(
          s"snapshot ${m.snapshotId} at $root was committed by a " +
          "concurrent writer; re-read the manifest and retry the operation")
      }
    } else if (local) {
      // same-version re-commit (build-wave resume): POSIX rename replaces
      // atomically — no crash point leaves the version file-less. The
      // nio move bypasses LocalFileSystem's checksum layer, so move the
      // .crc sidecar along (or drop a stale one) — a crc describing the
      // OLD bytes would fail every subsequent checksummed read.
      java.nio.file.Files.move(nio(tmp), nio(dst),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val tmpCrc = new Path(tmp.getParent, "." + tmp.getName + ".crc")
      val dstCrc = new Path(dst.getParent, "." + dst.getName + ".crc")
      if (f.exists(tmpCrc))
        java.nio.file.Files.move(nio(tmpCrc), nio(dstCrc),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else if (f.exists(dstCrc)) f.delete(dstCrc, false)
      ()
    } else if (f.exists(dst)) {
      // HDFS re-commit: rename cannot overwrite, so move the old copy
      // ASIDE first and delete it only after the new rename lands.
      // Remaining window: a crash between the two renames leaves vN
      // file-less until recovery (readers fall back to vN-1) — the
      // re-commit path only runs for a builder resuming its OWN wave.
      // `.replaced` does not end in ".json" → never picked up by versions()
      val aside = new Path(root, s"manifest-v${m.snapshotId}.json.replaced")
      if (f.exists(aside)) f.delete(aside, false)
      if (!f.rename(dst, aside))
        throw new java.io.IOException(s"manifest re-commit move-aside failed: $dst")
      if (!f.rename(tmp, dst)) {
        f.rename(aside, dst) // restore the previous copy
        throw new java.io.IOException(s"manifest commit rename failed: $tmp -> $dst")
      }
      f.delete(aside, false)
    } else if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit rename failed: $tmp -> $dst")
    // committed: refresh the version hint (best-effort — a lost write
    // costs readers one forward probe/listing, never correctness) and
    // seed the resolution memo with the in-memory manifest (reader-order
    // normalized: the file stores shards sorted by id)
    writeHint(root, m.snapshotId)
    cachePut(root, m.copy(shards = m.shards.sortBy(_.shard)))
  }

  private def line(kvs: (String, String)*): String =
    kvs.map { case (k, v) => "\"" + k + "\": \"" + v + "\"" }
      .mkString("{", ", ", "}")

  private val Field = "\"([^\"]+)\": \"([^\"]*)\"".r
  private def parseFields(l: String): Map[String, String] =
    Field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2)).toMap
}

package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Manifest-resolved reads over a snapshot of the index (SURVEY.md §7.6).
  *
  * Data dirs are generation-versioned and IMMUTABLE once a manifest
  * references them: shard K's rows live at `docs/gen=G/shard=K` /
  * `postings/gen=G/shard=K` where G is the ShardEntry's `gen`, and the
  * dictionary at `term_stats/gen=S` where S is the manifest's `statsGen`.
  * Readers list ONLY the leaf dirs the pinned manifest names — an
  * in-flight maintenance job's freshly-written (but uncommitted) dirs are
  * invisible, and a crashed job's orphan dirs can never be read or
  * double-assign docIds (VERDICT r03 item 1 + ADVICE r03 item 1). The
  * resulting read is ONE Spark scan regardless of how many generations a
  * snapshot spans (`basePath` keeps `shard` a partition column; the
  * helper `gen` column is dropped).
  *
  * This is the Iceberg file-manifest design at dir granularity: commit =
  * atomic manifest rename; old generations are retained for a grace
  * period (readers that pinned the previous snapshot keep working) and
  * reclaimed by [[expireSnapshots]] — the analog of Iceberg's
  * expire_snapshots, replacing the reference's global RW lock
  * (LockGenerator.java:10-23) with lock-free snapshot isolation.
  *
  * FORMAT NOTE: the generation layout is this engine's on-disk format;
  * an index written by the pre-snapshot flat layout (`docs/shard=K`
  * directly) is not readable and must be rebuilt — a deliberate pre-1.0
  * format break, preferred over carrying a dual-layout reader whose
  * legacy half could never be snapshot-isolated.
  */
object IndexSnapshot {

  /** Leaf dirs holding the snapshot's doc rows (shards with ≥1 doc:
    * the writers create a dir iff rows exist, and stamp minDocId ≥ 0
    * exactly then). */
  def docsPaths(root: String, m: Manifest): Seq[String] =
    m.shards.filter(_.minDocId >= 0)
      .map(e => s"${IndexBuilder.Paths(root).docs}/gen=${e.gen}/shard=${e.shard}")

  /** Leaf dirs holding the snapshot's posting rows (entry.postings > 0 ⇔
    * the encode pass emitted rows ⇔ the dir exists). */
  def postingsPaths(root: String, m: Manifest): Seq[String] =
    m.shards.filter(_.postings > 0)
      .map(e => s"${IndexBuilder.Paths(root).postings}/gen=${e.gen}/shard=${e.shard}")

  def termStatsPath(root: String, m: Manifest): String =
    s"${IndexBuilder.Paths(root).termStats}/gen=${m.statsGen}"

  /** Schema of docs read back from parquet (file columns + the `shard`
    * partition column) — used when a snapshot has zero non-empty shards. */
  private val docsSchema: StructType = StructType(Seq(
    StructField("docId", LongType), StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType), StructField("role", StringType),
    StructField("text", StringType), StructField("tool", StringType),
    StructField("dl", IntegerType), StructField("shard", IntegerType)))

  private val postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("chunk", IntegerType),
    StructField("count", LongType), StructField("maxTf", IntegerType),
    StructField("sumTf", LongType), StructField("docIds", BinaryType),
    StructField("tfs", BinaryType), StructField("dls", BinaryType),
    StructField("blockFirst", ArrayType(LongType)),
    StructField("docOff", ArrayType(IntegerType)),
    StructField("tfOff", ArrayType(IntegerType)),
    StructField("dlOff", ArrayType(IntegerType)),
    StructField("blockMaxTf", ArrayType(IntegerType)),
    StructField("blockMinDl", ArrayType(IntegerType)),
    StructField("positions", BinaryType),
    StructField("posOff", ArrayType(IntegerType)),
    StructField("shard", IntegerType)))

  /** term_stats file columns — read with this schema, never inferred
    * (inference is a Spark job of its own). */
  private[index] val termStatsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("maxTf", IntegerType), StructField("sumTf", LongType)))

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  private def readLeafDirs(spark: SparkSession, basePath: String,
                           paths: Seq[String],
                           emptySchema: StructType): DataFrame =
    if (paths.isEmpty) empty(spark, emptySchema)
    else spark.read.option("basePath", basePath).parquet(paths: _*).drop("gen")

  /** The snapshot's docs relation (one scan; `shard` partition column
    * preserved, `gen` dropped). */
  def docs(spark: SparkSession, root: String, m: Manifest): DataFrame =
    readLeafDirs(spark, IndexBuilder.Paths(root).docs, docsPaths(root, m),
      docsSchema)

  /** Docs restricted to a shard subset — lists only those leaf dirs. */
  def docsFor(spark: SparkSession, root: String, m: Manifest,
              shards: Seq[Int]): DataFrame = {
    val want = shards.toSet
    val sub = m.copy(shards = m.shards.filter(e => want(e.shard)))
    readLeafDirs(spark, IndexBuilder.Paths(root).docs, docsPaths(root, sub),
      docsSchema)
  }

  def postings(spark: SparkSession, root: String, m: Manifest): DataFrame =
    readLeafDirs(spark, IndexBuilder.Paths(root).postings,
      postingsPaths(root, m), postingsSchema)

  /** Postings over an explicit (prospective) entry list — used by
    * maintenance to aggregate term stats for a snapshot it has not
    * committed yet. */
  def postingsOf(spark: SparkSession, root: String,
                 entries: Seq[ShardEntry]): DataFrame =
    postings(spark, root,
      Manifest(0L, "", "", 0L, 0.0, entries))

  /** The snapshot's dictionary relation. Queries read it through the
    * per-generation [[TermDictionary]] memo, so the existence probe (a
    * recursive listing) runs per load, not per query. */
  def termStats(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    val p = termStatsPath(root, m)
    if (hasParquetFiles(spark, p)) spark.read.schema(termStatsSchema).parquet(p)
    else empty(spark, termStatsSchema) // degenerate all-empty snapshot
  }

  /** true ⇔ `dir` exists and holds ≥1 parquet file (recursively). */
  private[index] def hasParquetFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Default age an UNREFERENCED (orphan / possibly in-flight) dir must
    * reach before the sweep may reclaim it — long enough that no live
    * maintenance attempt's uncommitted generation is at risk. Overridable
    * via GRAFT_ORPHAN_GRACE_MS. */
  val DefaultOrphanGraceMs: Long = 6L * 3600 * 1000
  private def orphanGraceMs: Long =
    sys.env.get("GRAFT_ORPHAN_GRACE_MS").map(_.toLong)
      .getOrElse(DefaultOrphanGraceMs)

  /** Reclaim storage: delete generation dirs (and manifest files) not
    * referenced by the newest `keepLast` snapshots. Maintenance calls
    * this with the default 2 after each commit, so the PREVIOUS
    * snapshot's files always survive one full maintenance cycle — an
    * uncached reader that pinned the pre-commit manifest finishes its
    * scan untouched (the grace period). Long-running readers spanning
    * several maintenance commits need a higher retention, exactly like
    * Iceberg's expire_snapshots contract.
    *
    * Two reclamation classes, distinguished deliberately:
    *  - dirs referenced by an EXPIRING manifest — superseded committed
    *    data, deleted immediately (no in-flight writer can own them:
    *    generations are unique per attempt and these were committed);
    *  - dirs referenced by NO manifest at all — either a crashed
    *    attempt's orphans or a CONCURRENT attempt's in-flight writes;
    *    deleted only once older than the orphan grace age (Iceberg's
    *    remove_orphan_files rule), so a racing writer is never swept. */
  def expireSnapshots(spark: SparkSession, root: String,
                      keepLast: Int = 2): Unit = {
    val vs = IndexManifest.versions(root)
    if (vs.isEmpty) return
    val keepVs = vs.takeRight(math.max(1, keepLast))
    val all = vs.map(v => IndexManifest.readVersion(root, v))
    val kept = all.filter(m => keepVs.contains(m.snapshotId))
    val P = IndexBuilder.Paths(root)
    def docsRefs(ms: Seq[Manifest]) = ms.flatMap(m =>
      m.shards.filter(_.minDocId >= 0).map(e => (e.gen, e.shard))).toSet
    def postRefs(ms: Seq[Manifest]) = ms.flatMap(m =>
      m.shards.filter(_.postings > 0).map(e => (e.gen, e.shard))).toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def orphanOld(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime > orphanGraceMs

    // Delete the EXPIRING MANIFEST FILES FIRST, data dirs after (ADVICE
    // r04 item 3): the invariant is that any manifest versions() can
    // still resolve must stay fully readable. A crash after this loop
    // but before the dir sweep leaves retained manifests + some
    // unreferenced (now orphan) data dirs — re-running expire reclaims
    // them. The reverse order left listed manifest files whose
    // generation dirs were already gone: queryAt would pass its
    // retention require() and then die on a raw parquet path error.
    vs.dropRight(math.max(1, keepLast)).foreach { v =>
      // resolve the sidecar name BEFORE deleting the header that names it
      val sidecar = IndexManifest.entriesFileOf(root, v)
      fs.delete(IndexManifest.manifestPath(root, v), false)
      sidecar.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
    }

    def leafName(n: String, prefix: String): Option[Long] =
      if (n.startsWith(prefix)) scala.util.Try(n.stripPrefix(prefix).toLong).toOption
      else None

    def sweepTable(table: String, keep: Set[(Long, Int)],
                   known: Set[(Long, Int)]): Unit = {
      val tp = new org.apache.hadoop.fs.Path(table)
      if (!fs.exists(tp)) return
      fs.listStatus(tp).foreach { genSt =>
        leafName(genSt.getPath.getName, "gen=").foreach { g =>
          var liveChildren = false
          fs.listStatus(genSt.getPath).foreach { shardSt =>
            leafName(shardSt.getPath.getName, "shard=") match {
              case Some(s) =>
                val key = (g, s.toInt)
                if (keep(key)) liveChildren = true
                else if (known(key) || orphanOld(shardSt))
                  fs.delete(shardSt.getPath, true)
                else liveChildren = true // young orphan: possibly in-flight
              case None => () // _SUCCESS etc. — swept with the gen dir below
            }
          }
          // a gen dir with no shard dirs left: drop it — UNLESS it holds
          // a DIRECTORY child (e.g. Spark's `_temporary` staging of a
          // concurrent writer whose shard dirs appear only at job
          // commit): those wait out the orphan grace like any other
          // possibly-in-flight state. Marker FILES (_SUCCESS) alone
          // never indicate an in-flight write.
          if (!liveChildren) {
            val rest = fs.listStatus(genSt.getPath)
            val anyShard = rest.exists(st =>
              leafName(st.getPath.getName, "shard=").isDefined)
            val anyDir = rest.exists(_.isDirectory)
            if (!anyShard && (!anyDir || orphanOld(genSt)))
              fs.delete(genSt.getPath, true)
          }
        }
      }
    }
    sweepTable(P.docs, docsRefs(kept), docsRefs(all))
    sweepTable(P.postings, postRefs(kept), postRefs(all))
    // term_stats generations (same two classes)
    val statsKeep = kept.map(_.statsGen).toSet
    val statsKnown = all.map(_.statsGen).toSet
    val sp = new org.apache.hadoop.fs.Path(P.termStats)
    if (fs.exists(sp)) fs.listStatus(sp).foreach { st =>
      leafName(st.getPath.getName, "gen=").foreach { g =>
        if (!statsKeep(g) && (statsKnown(g) || orphanOld(st)))
          fs.delete(st.getPath, true)
      }
    }
    // stale per-attempt manifest tmp files + unreferenced entry sidecars
    // from crashed/losing commits (referenced sidecars = the retained
    // manifests'; anything else waits out the orphan grace like every
    // other possibly-in-flight file)
    val liveSidecars = keepVs.flatMap(v =>
      IndexManifest.entriesFileOf(root, v)).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).foreach { st =>
      val n = st.getPath.getName
      val staleTmp = n.startsWith("manifest-v") && n.endsWith(".tmp")
      val orphanSidecar = n.startsWith("manifest-v") &&
        n.endsWith(".entries") && !liveSidecars(n)
      if (st.isFile && (staleTmp || orphanSidecar) && orphanOld(st))
        fs.delete(st.getPath, false)
    }
    ()
  }
}

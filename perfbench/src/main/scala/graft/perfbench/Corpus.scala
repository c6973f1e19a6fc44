package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexManifest, IndexSnapshot, Manifest, PostingCodec}
import graft.model.Turn

/** Seeded transcript inputs and index builds shared by the workloads. */
object Corpus {

  /** Conversation c of the run is the generator's conversation c·Stride:
    * the generator seeds one java.util.Random per conversation with
    * seed·1000003 + index, and the first draws of consecutively seeded
    * Randoms (the turn count among them) barely differ, so a run of
    * consecutive indexes would have ~the same turn count throughout, set
    * by the seed — the input size would swing ×3 between seeds. */
  val Stride = 104729L

  def conversation(seed: Long, c: Long): Seq[Turn] =
    TranscriptGen.conversation(seed, c * Stride, 8, 0L)

  def convId(c: Long): String = conversation(0L, c).head.conv_id

  /** Generate `nConvs` conversations from the run's seed and materialize
    * them as a parquet transcripts table; returns (dir, turns, text bytes). */
  def writeInput(ctx: Ctx, nConvs: Int, dir: String): (String, Long, Long) = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    ctx.spark.range(0L, nConvs.toLong, 1L, ctx.cores)
      .flatMap(c => conversation(seed, c)).write.parquet(dir)
    val r = ctx.spark.read.parquet(dir)
      .agg(count(lit(1)), sum(octet_length($"text"))).head()
    (dir, r.getLong(0), r.getLong(1))
  }

  /** The positional index every workload queries or rebuilds, with two
    * shards per core: the engine's default 32 shards suit corpora three
    * orders of magnitude larger than the benchmark's. */
  def build(spark: SparkSession, input: String, root: String): IndexBuilder.BuiltIndex = {
    import spark.implicits._
    IndexBuilder.build(spark, spark.read.parquet(input).as[Turn], root,
      shards = 2 * spark.sparkContext.defaultParallelism, positions = true)
  }

  def manifest(root: String): Manifest =
    IndexManifest.readCached(root).getOrElse(sys.error(s"no index at $root"))

  /** Turns of conversations [from, until) of the run's corpus. */
  def convTurns(ctx: Ctx, from: Long, until: Long): Seq[Turn] =
    (from until until).flatMap(c => conversation(ctx.seed, c))

  private val ScanCols = Seq("count", "docIds", "tfs", "dls", "blockFirst",
    "docOff", "tfOff", "dlOff", "blockMaxTf", "blockMinDl")

  /** Posting rows → compressed lists (same field order as the engine's
    * posting scan; positions are not selected). */
  def blockedLists(rows: DataFrame): Array[(String, Int, PostingCodec.BlockedList)] =
    rows.select((Seq("term", "shard") ++ ScanCols).map(col): _*).collect().map { r =>
      (r.getString(0), r.getInt(1), PostingCodec.BlockedList(
        r.getLong(2).toInt, r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4),
        r.getAs[Array[Byte]](5), r.getSeq[Long](6).toArray,
        r.getSeq[Int](7).toArray, r.getSeq[Int](8).toArray,
        r.getSeq[Int](9).toArray, r.getSeq[Int](10).toArray,
        r.getSeq[Int](11).toArray))
    }

  /** `index.codec.*`: decode the index's largest posting lists through
    * `PostingCodec.BlockedCursor` and re-encode them with
    * `PostingCodec.encodeBlocked`, in-process; median ns per posting over
    * `reps` rounds. */
  def codecProbe(ctx: Ctx, root: String, out: Outcome, lists: Int = 8,
                 reps: Int = 7): Unit = {
    val m = manifest(root)
    val top = blockedLists(IndexSnapshot.postings(ctx.spark, root, m)
      .orderBy(desc("count"), asc("term"), asc("shard"), asc("chunk")).limit(lists)).map(_._3)
    val n = top.map(_.count.toLong).sum.toDouble
    val rounds = (0 until reps).map { _ =>
      val (decoded, dec) = Harness.secs(top.map { l =>
        val ds = new Array[Long](l.count); val tfs = new Array[Int](l.count)
        val dls = new Array[Int](l.count)
        val c = new PostingCodec.BlockedCursor(l)
        var i = 0
        while (!c.exhausted) { ds(i) = c.docId; tfs(i) = c.tf; dls(i) = c.dl; i += 1; c.advance() }
        (ds, tfs, dls)
      })
      val (_, enc) = Harness.secs(decoded.foreach { case (d, t, l) =>
        PostingCodec.encodeBlocked(d, t, l) })
      (dec, enc)
    }
    out.layer("index.codec.decode_ns_per_posting") = Harness.median(rounds.map(_._1)) * 1e9 / n
    out.layer("index.codec.encode_ns_per_posting") = Harness.median(rounds.map(_._2)) * 1e9 / n
  }
}

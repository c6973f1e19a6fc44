package graft.perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.Random

import graft.index.IndexMaintenance

/** The ingest phase of the traced `serve` run: writes beside reads on the
  * serve index, after the serve measurement. One writer thread runs a
  * fixed op list with seeded inputs — micro-batch appends of new
  * conversations (`appendConversationsDs`), a `deleteConversations` of
  * randomly chosen existing ones, a `compactShards` — while one reader
  * thread runs rare-class queries in a closed loop on the snapshot each
  * commit flips. It yields the `index.maintenance.*` figures; it is not a
  * workload of its own because a run of its own (JVM start and three
  * index builds for ~12 s of writes) does not fit the benchmark's budget.
  *
  * Reader exceptions count as failed; after the writer stops,
  * `verifyManifest` must be clean, `nDocs` must equal base + appended −
  * deleted turns, and the final snapshot's answers must equal
  * `SearchEngine.queryNaive`. */
object Ingest {

  /** The writer's op list, in order. */
  val Ops: Seq[String] = Seq("append", "delete", "append", "compact")
  val BatchConvs = 10
  val DeleteConvs = 2

  /** Snapshots kept per commit: a reader pins one snapshot per query and
    * must finish before expiry overtakes it (SearchEngine.queryAt's
    * retention contract), so the writer keeps a few. */
  val KeepSnapshots = 4

  /** `root` holds conversations [0, baseConvs) of the run's corpus, with
    * `baseTurns` docs; `qs` are the reader's queries. */
  def run(ctx: Ctx, root: String, baseConvs: Int, baseTurns: Long,
          qs: Seq[BQuery], out: Outcome): Unit = {
    import ctx.spark.implicits._
    IndexMaintenance.keepSnapshotsOverride = Some(KeepSnapshots)
    val rng = new Random(ctx.seed ^ 0x1e57L)
    val alive = scala.collection.mutable.LinkedHashSet((0 until baseConvs): _*)
    val stop = new AtomicBoolean(false)
    val commits = Vector.newBuilder[(String, Double)]
    var appended = 0L
    var deleted = 0L
    var textIn = 0L
    var nextConv = baseConvs.toLong
    val tr = ctx.tracer

    def op(kind: String)(f: => Unit): Unit = {
      val (_, s) = Harness.secs(tr.request("commit")(tr.span(s"index.maintenance.$kind")(f)))
      commits += ((kind, s))
    }
    val writer = new Thread(() =>
      try Ops.foreach {
        case "append" =>
          val batch = Corpus.convTurns(ctx, nextConv, nextConv + BatchConvs)
          nextConv += BatchConvs
          op("append")(IndexMaintenance.appendConversationsDs(ctx.spark, root,
            ctx.spark.createDataset(batch)))
          appended += batch.size
          textIn += batch.map(_.text.getBytes("UTF-8").length.toLong).sum
        case "delete" =>
          val victims = rng.shuffle(alive.toVector).take(DeleteConvs)
          victims.foreach(alive -= _)
          op("delete")(IndexMaintenance.deleteConversations(ctx.spark, root,
            victims.map(c => Corpus.convId(c.toLong)).toSet))
          deleted += victims.map(c => Corpus.convTurns(ctx, c.toLong, c + 1L).size).sum
        case "compact" =>
          op("compact")(IndexMaintenance.compactShards(ctx.spark, root))
      } catch { case e: Exception => out.fail(s"writer: $e") }
      finally stop.set(true))
    // the reader's queries are plain calls: query.* figures stay serve's
    val lat = Vector.newBuilder[Double]
    var readerErrors = Vector.empty[String]
    val reader = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val q = qs(i % qs.size)
        val (ok, s) = Harness.secs(
          try { Queries.run(ctx, root, q); true }
          catch { case e: Exception => readerErrors :+= s"${q.label}: $e"; false })
        if (ok) lat += s
        i += 1
      }
    })
    writer.start(); reader.start()
    writer.join(); reader.join()
    ctx.log("ingest phase done")
    val reads = lat.result()
    reads.foreach(_ => out.check(ok = true, ""))
    readerErrors.foreach(out.fail)

    // end state: fsck, doc count, and answers against the reference
    val m = Corpus.manifest(root)
    val problems = IndexMaintenance.verifyManifest(ctx.spark, root)
    out.check(problems.isEmpty, s"ingest: verifyManifest: ${problems.mkString("; ")}")
    val expectDocs = baseTurns + appended - deleted
    out.check(m.nDocs == expectDocs,
      s"ingest: nDocs ${m.nDocs} != base + appended - deleted = $expectDocs")
    Queries.naive(ctx, root, qs.filter(_.naiveCheckable)).foreach { case (q, want) =>
      out.check(Harness.sameHits(Queries.run(ctx, root, q), want),
        s"ingest: ${q.label}: final answer differs from queryNaive")
    }

    val cs = commits.result()
    val appendS = cs.filter(_._1 == "append").map(_._2)
    out.put("ingest_query_p50_s", Harness.medianOr0(reads), "s")
    out.put("ingest_queries", reads.size.toDouble, "count")
    out.put("commits_per_s", cs.size / cs.map(_._2).sum, "1/s")
    out.put("commit_p50_s", Harness.medianOr0(appendS), "s")
    out.put("commit_p75_s", Harness.quantile(appendS, 0.75), "s")
    for (k <- Seq("delete", "compact"))
      out.put(s"${k}_s", Harness.medianOr0(cs.filter(_._1 == k).map(_._2)), "s")

    val spans = tr.spans.filter(_.name.startsWith("index.maintenance.")).map(_.id).toSet
    val written = ctx.drainedJobs().filter(j => spans(j.span)).map(_.bytesWritten).sum
    out.layer("index.write_amp") = written.toDouble / math.max(1L, textIn)
    out.layer("index.shards_end") = m.shards.size.toDouble
  }
}

package graft.perfbench

import scala.util.Random

import graft.model.SearchHit

/** `serve`: one closed-loop client queries a prebuilt positional index on
  * the default path (result memo and serving cache off), cycling a seeded
  * mix of rare- and hot-term queries. Every timed answer is checked:
  * AND/OR bit-equal to `SearchEngine.queryNaive`, other kinds equal to
  * their set-up answer.
  *
  * Set-up (three times, median) generates the parquet transcripts table
  * and runs a fresh `IndexBuilder.build` on it, so set-up time is index
  * build time; each build must hold one doc per input row, and the kept
  * index must pass `IndexMaintenance.verifyManifest`. The traced run
  * traces these builds for the per-stage build figures, and ends with the
  * [[Ingest]] phase on the same index for the maintenance figures. */
object Serve {

  final case class Sizes(convs: Int, rare: Int, hot: Int)

  def run(ctx: Ctx, sizes: Sizes, out: Outcome): Unit = {
    val tr = ctx.tracer
    val reps = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val (input, turns, textBytes) = Corpus.writeInput(ctx, sizes.convs, ctx.freshDir("serve-input"))
      val root = ctx.freshDir("serve-index")
      val (built, buildS) = Harness.secs(
        tr.request("build")(tr.span("index.build")(Corpus.build(ctx.spark, input, root))))
      val setupS = (System.nanoTime() - t0) / 1e9
      out.check(built.manifest.nDocs == turns,
        s"build $i: nDocs ${built.manifest.nDocs} != input rows $turns")
      if (i < 2) { Harness.deleteDir(input); Harness.deleteDir(root) }
      (root, turns, textBytes, buildS, setupS, built.manifest.snapshotId)
    }
    val (root, turns, textBytes, _, _, commits) = reps.last
    val buildS = Harness.median(reps.map(_._4))
    out.setupS = Harness.median(reps.map(_._5))
    val problems = graft.index.IndexMaintenance.verifyManifest(ctx.spark, root)
    out.check(problems.isEmpty, s"verifyManifest: ${problems.mkString("; ")}")
    ctx.log("set-up done")
    out.put("build_turns_per_s", turns / buildS, "turns/s")
    out.put("build_p50_s", buildS, "s")
    out.put("index_bytes_per_text_byte", Harness.dirBytes(root).toDouble / textBytes, "ratio")
    out.put("input_turns", turns.toDouble, "turns")

    val qs = Queries.draw(ctx, root, sizes.rare, sizes.hot, ctx.seed)
    // references, untimed: AND/OR from queryNaive, other kinds from one
    // run through the engine
    val naive = Queries.naive(ctx, root, qs.filter(_.naiveCheckable))
    val expected: Vector[Vector[SearchHit]] =
      qs.map(q => naive.getOrElse(q, Queries.run(ctx, root, q)))
    val reference =
      if (!ctx.opts.corruptReference) expected
      else expected.updated(0, expected(0) :+ SearchHit(-1L, 0.0))

    ctx.log("references done")
    val order = new Random(ctx.seed ^ 0x5e7eL).shuffle(qs.indices.toVector)
    val n = order.size
    val lat = Vector.newBuilder[(BQuery, Boolean, Double, Double)]
    val (iters, wall) = Harness.secs(ctx.loopFor(ctx.opts.seconds) { i =>
      val qi = order(i % n)
      val q = qs(qi)
      // traced run: alternate traced/untraced so both see every query
      val traced = ctx.opts.trace && (i + i / n) % 2 == 1
      val (hits, s, cpu) = Harness.secsCpu(
        try Some(if (traced) Queries.runTraced(ctx, root, q) else Queries.run(ctx, root, q))
        catch { case e: Exception => out.fail(s"${q.label}: $e"); None })
      hits.foreach(h => out.check(Harness.sameHits(h, reference(qi)), s"${q.label}: wrong answer"))
      lat += ((q, traced, s, cpu))
    })
    val all = lat.result()
    ctx.log("timed loop done")
    val timed = all.filter(!_._2).map(_._3)
    out.opP50S = Harness.median(timed)
    out.workPerS = iters / wall
    out.put("query_p50_s", Harness.median(timed), "s")
    out.put("query_p95_s", Harness.quantile(timed, 0.95), "s")
    out.put("queries_per_s", iters / wall, "1/s")
    out.put("queries_timed", timed.size.toDouble, "count")
    out.put("query_cpu_p50_s", Harness.median(all.filter(!_._2).map(_._4)), "s")
    for (c <- Seq("rare", "hot"))
      out.put(s"${c}_query_p50_s", Harness.medianOr0(all.filter(x => x._1.cls == c && !x._2).map(_._3)), "s")
    for ((kind, xs) <- all.filter(!_._2).groupBy(x => s"${x._1.cls}_${x._1.kind.toLowerCase}").toSeq.sortBy(_._1))
      out.put(s"${kind}_p50_s", Harness.median(xs.map(_._3)), "s")

    if (ctx.opts.trace) {
      val tracedS = all.filter(_._2).map(_._3)
      out.layer("trace.overhead") = Harness.medianOr0(tracedS) / Harness.median(timed) - 1.0
      val walks = qs.filter(_.naiveCheckable).flatMap(q => Queries.walkProbe(ctx, root, q))
      out.layer("query.wand.walk_s") = Harness.medianOr0(walks.map(_._1))
      out.layer("query.postings_selected") = Harness.medianOr0(walks.map(_._2))
      Corpus.codecProbe(ctx, root, out)
      out.layer("index.manifest_commits") = commits.toDouble
      Ingest.run(ctx, root, sizes.convs, turns, qs.filter(_.cls == "rare"), out)
    }
  }
}

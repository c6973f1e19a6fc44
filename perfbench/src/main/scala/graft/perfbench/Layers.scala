package graft.perfbench

import Harness.{median, medianOr0}

/** The metric names the benchmark emits, and the derivation of the
  * per-layer figures from the traced run's spans and Spark jobs. */
object Layers {

  /** `entry` gate families (see [[Catalog.FamilyOf]]). */
  val Families: Seq[String] = Seq("search", "text_stats", "relational",
    "dedup", "similarity", "text_ops", "multimodal")

  /** Per-layer metrics of the traced run: (name, unit, better). Every
    * name is emitted on every workload; a layer a workload never calls
    * reads 0 there. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("index.manifest.resolve_s", "s", "lower"),
    ("analysis.analyze_s", "s", "lower"),
    ("query.plan_s", "s", "lower"),
    ("query.plan_jobs", "count", "lower"),
    ("query.exec_s", "s", "lower"),
    ("query.exec_jobs", "count", "lower"),
    ("query.exec_tasks", "count", "lower"),
    ("query.scan_bytes", "bytes", "lower"),
    ("query.scan_rows", "count", "lower"),
    ("query.task_cpu_s", "s", "lower"),
    ("query.sched_wait_s", "s", "lower"),
    ("query.driver_s", "s", "lower"),
    ("query.wand.walk_s", "s", "lower"),
    ("query.postings_selected", "count", "lower"),
    ("index.docs_s", "s", "lower"),
    ("index.docs_shuffle_bytes", "bytes", "lower"),
    ("index.docs_spill_bytes", "bytes", "lower"),
    ("index.docs_task_s", "s", "lower"),
    ("index.docs_gc_s", "s", "lower"),
    ("index.postings_s", "s", "lower"),
    ("index.postings_task_s", "s", "lower"),
    ("index.postings_write_bytes", "bytes", "lower"),
    ("index.postings_gc_s", "s", "lower"),
    ("index.term_stats_s", "s", "lower"),
    ("index.driver_s", "s", "lower"),
    ("index.manifest_commits", "count", "lower"),
    ("index.jobs", "count", "lower"),
    ("index.codec.encode_ns_per_posting", "ns", "lower"),
    ("index.codec.decode_ns_per_posting", "ns", "lower"),
    ("index.maintenance.append_s", "s", "lower"),
    ("index.maintenance.delete_s", "s", "lower"),
    ("index.maintenance.compact_s", "s", "lower"),
    ("index.maintenance.append_jobs", "count", "lower"),
    ("index.maintenance.rewrite_bytes", "bytes", "lower"),
    ("index.write_amp", "ratio", "lower"),
    ("index.shards_end", "count", "lower"),
  ) ++ Families.flatMap(f => Seq(
    (s"entry.${f}_s", "s", "lower"),
    (s"entry.${f}_jobs", "count", "lower"),
    (s"entry.${f}_shuffle_bytes", "bytes", "lower"),
  )) ++ Seq(
    ("trace.coverage", "ratio", "higher"),
    ("trace.overhead", "ratio", "lower"),
  )

  /** Fill `out.layer` from the recorded spans and jobs. Figures are
    * medians per call unless named as a total. */
  def derive(spans: Vector[Span], jobs: Vector[JobRec], out: Outcome): Unit = {
    val bySpan = jobs.groupBy(_.span)
    def jobsOf(s: Span): Vector[JobRec] = bySpan.getOrElse(s.id, Vector.empty)
    def named(n: String) = spans.filter(_.name == n)
    def med(n: String)(f: Span => Double): Double = medianOr0(named(n).map(f))
    val L = out.layer

    L("index.manifest.resolve_s") = med("index.manifest.resolve")(_.secs)
    L("analysis.analyze_s") = med("analysis.analyze")(_.secs)
    L("query.plan_s") = med("query.plan")(_.secs)
    L("query.plan_jobs") = med("query.plan")(jobsOf(_).size.toDouble)
    L("query.exec_s") = med("query.execute")(_.secs)
    L("query.exec_jobs") = med("query.execute")(jobsOf(_).size.toDouble)
    L("query.exec_tasks") = med("query.execute")(jobsOf(_).map(_.tasks).sum.toDouble)
    L("query.scan_bytes") = med("query.execute")(jobsOf(_).map(_.bytesRead).sum.toDouble)
    L("query.scan_rows") = med("query.execute")(jobsOf(_).map(_.rowsRead).sum.toDouble)
    L("query.task_cpu_s") = med("query.execute")(jobsOf(_).map(_.cpuNs).sum / 1e9)
    L("query.sched_wait_s") = med("query.execute")(s =>
      jobsOf(s).map(j => math.max(0.0, j.wallS - j.longestTaskMs / 1e3)).sum)
    L("query.driver_s") = med("query.execute")(s => s.secs - jobsOf(s).map(_.wallS).sum)

    // build stages: the docs stage is every job before the first posting
    // wave (job group graft-build-wave-*), term stats every job after it
    val builds = named("index.build")
    if (builds.nonEmpty) {
      val stages = builds.map { b =>
        val js = jobsOf(b).sortBy(_.jobId)
        val isWave = (j: JobRec) => j.group.startsWith("graft-build-wave-")
        val firstWave = js.indexWhere(isWave)
        val lastWave = js.lastIndexWhere(isWave)
        val (docs, waves, tail) =
          if (firstWave < 0) (js, Vector.empty, Vector.empty)
          else (js.take(firstWave), js.slice(firstWave, lastWave + 1), js.drop(lastWave + 1))
        (b, docs, waves, tail)
      }
      def m(f: ((Span, Vector[JobRec], Vector[JobRec], Vector[JobRec])) => Double) =
        median(stages.map(f))
      L("index.docs_s") = m(_._2.map(_.wallS).sum)
      L("index.docs_shuffle_bytes") = m(_._2.map(_.shuffleWrite).sum.toDouble)
      L("index.docs_spill_bytes") = m(_._2.map(_.spill).sum.toDouble)
      L("index.docs_task_s") = m(_._2.map(_.runMs).sum / 1e3)
      L("index.docs_gc_s") = m(_._2.map(_.gcMs).sum / 1e3)
      L("index.postings_s") = m(_._3.map(_.wallS).sum)
      L("index.postings_task_s") = m(_._3.map(_.runMs).sum / 1e3)
      L("index.postings_write_bytes") = m(_._3.map(_.bytesWritten).sum.toDouble)
      L("index.postings_gc_s") = m(_._3.map(_.gcMs).sum / 1e3)
      L("index.term_stats_s") = m(_._4.map(_.wallS).sum)
      L("index.driver_s") = m(s => s._1.secs - (s._2 ++ s._3 ++ s._4).map(_.wallS).sum)
      L("index.jobs") = m(s => (s._2 ++ s._3 ++ s._4).size.toDouble)
    }

    L("index.maintenance.append_s") = med("index.maintenance.append")(_.secs)
    L("index.maintenance.delete_s") = med("index.maintenance.delete")(_.secs)
    L("index.maintenance.compact_s") = med("index.maintenance.compact")(_.secs)
    L("index.maintenance.append_jobs") =
      med("index.maintenance.append")(jobsOf(_).size.toDouble)
    L("index.maintenance.rewrite_bytes") = medianOr0(
      (named("index.maintenance.delete") ++ named("index.maintenance.compact"))
        .map(jobsOf(_).map(_.bytesWritten).sum.toDouble))

    // entry families: each gate run is a gate.<name> request with one
    // entry.<family> span; a family's figure is Σ over its gates of the
    // gate's median, i.e. its share of one pass
    val parentName = spans.map(s => s.id -> s.name).toMap
    val gateRuns = spans.filter(_.name.startsWith("entry.")).groupBy(s => (s.name, parentName(s.parent)))
    Families.foreach { f =>
      val perGate = gateRuns.filter(_._1._1 == s"entry.$f").values.toVector
      def tot(v: Span => Double) = perGate.map(runs => median(runs.map(v))).sum
      L(s"entry.${f}_s") = tot(_.secs)
      L(s"entry.${f}_jobs") = tot(jobsOf(_).size.toDouble)
      L(s"entry.${f}_shuffle_bytes") = tot(jobsOf(_).map(_.shuffleWrite).sum.toDouble)
    }

    // coverage: time inside timed layer calls over request wall
    val roots = spans.filter(_.parent == 0)
    val rootIds = roots.map(_.id).toSet
    val covered = spans.filter(s => rootIds(s.parent)).map(_.secs).sum
    val wall = roots.map(_.secs).sum
    L("trace.coverage") = if (wall > 0) covered / wall else 0.0
  }

  /** Every per-layer name present (0 where the workload never called the
    * layer), in the declared order. */
  def complete(out: Outcome): Seq[(String, Double, String)] =
    PerLayer.map { case (n, u, _) => (n, out.layer.getOrElse(n, 0.0), u) }
}

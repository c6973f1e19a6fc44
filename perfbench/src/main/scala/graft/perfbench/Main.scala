package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import Harness.{num, str}

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  * {{{
  * graft.perfbench.Main --workload serve|catalog --seed N
  *   --seconds S --trace 0|1 --work DIR --results DIR [--tiny]
  *   [--corrupt-reference] [--commit SHA]
  * }}}
  *
  * The last stdout line is the run's JSON summary; the full record (host
  * context, every workload figure, per-layer figures) goes to a new
  * timestamped file under `--results`, and the traced run's spans beside
  * it. */
object Main {

  val Workloads: Seq[String] = Seq("serve", "catalog")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    require(Workloads.contains(opts.workload),
      s"unknown workload '${opts.workload}'; one of ${Workloads.mkString(", ")}")
    val probePre = graft.Bench.busyProbeOnce()
    val spark = session(opts)
    val listener = new JobListener
    if (opts.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    tracer.enabled = opts.trace
    val ctx = new Ctx(opts, spark, tracer, listener)
    val out = new Outcome
    ctx.log("session started")
    try {
      opts.workload match {
        case "serve" => Serve.run(ctx, Sizing.serve(opts.tiny), out)
        case "catalog" => Catalog.run(ctx, Sizing.catalog(opts.tiny), out)
      }
      if (opts.trace) Layers.derive(tracer.spans, ctx.drainedJobs(), out)
    } catch {
      case e: Exception =>
        e.printStackTrace()
        out.fail(s"workload aborted: $e")
    }
    val probePost = graft.Bench.busyProbeOnce()
    val rss = Harness.peakRssMb()
    val spans = tracer.spans
    val jobs = if (opts.trace) ctx.drainedJobs() else Vector.empty
    spark.stop()
    report(opts, out, rss, probePre, probePost, spans, jobs)
  }

  private def session(opts: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def report(opts: Opts, out: Outcome, rss: Double, probePre: Double,
                     probePost: Double, spans: Vector[Span], jobs: Vector[JobRec]): Unit = {
    val errorRate = out.failed.toDouble / math.max(1L, out.attempted)
    out.put("setup_s", out.setupS, "s")
    out.put("peak_rss_mb", rss, "MB")
    out.put("error_rate", errorRate, "ratio")
    // end-to-end metrics, the same on every workload: `op` is the
    // workload's unit of work (serve: a query; catalog: a pass, Σ of each
    // gate's median) and `work` its throughput (serve: queries/s; catalog:
    // gates per second of a pass)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", out.setupS, "s"), ("op_p50_s", out.opP50S, "s"),
      ("work_per_s", out.workPerS, "1/s"), ("peak_rss_mb", rss, "MB"))
    val metrics = if (opts.trace) Layers.complete(out) else e2e
    def obj(ms: Seq[(String, Double, String)]): String = ms.map { case (n, v, u) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }.mkString("{", ", ", "}")
    val correct = out.failed == 0 && out.attempted > 0
    val summary = s"""{"correct": $correct, "attempted": ${math.max(1L, out.attempted)}, """ +
      s""""failed": ${out.failed}, "metrics": ${obj(metrics)}}"""

    val jvmXmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
    val stamp = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .withZone(ZoneOffset.UTC).format(Instant.now())
    val base = s"${opts.results}/$stamp-${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}-${ProcessHandle.current().pid()}"
    val host = Seq(
      s"${str("nproc")}: ${Runtime.getRuntime.availableProcessors()}",
      s"${str("xmx")}: ${str(jvmXmx)}",
      s"${str("max_heap_mb")}: ${num(Runtime.getRuntime.maxMemory() / 1048576.0)}",
      s"${str("commit")}: ${str(opts.commit)}",
      s"${str("busy_probe_before_s")}: ${num(probePre)}",
      s"${str("busy_probe_after_s")}: ${num(probePost)}").mkString("{", ", ", "}")
    val record = Seq(
      s"${str("workload")}: ${str(opts.workload)}",
      s"${str("seed")}: ${opts.seed}",
      s"${str("seconds")}: ${num(opts.seconds)}",
      s"${str("trace")}: ${opts.trace}",
      s"${str("tiny")}: ${opts.tiny}",
      s"${str("host")}: $host",
      s"${str("workload_metrics")}: ${obj(out.detail.toSeq.map { case (n, (v, u)) => (n, v, u) })}",
      s"${str("per_layer")}: ${if (opts.trace) obj(Layers.complete(out)) else "{}"}",
      s"${str("errors")}: ${out.errors.map(str).mkString("[", ", ", "]")}",
      s"${str("summary")}: $summary").mkString("{\n  ", ",\n  ", "\n}\n")
    Harness.writeNew(s"$base.json", record)
    if (opts.trace) Harness.writeNew(s"$base.spans.jsonl", spansJsonl(spans, jobs))

    System.err.println(s"perfbench ${opts.workload} seed=${opts.seed} trace=${opts.trace}: " +
      s"attempted=${out.attempted} failed=${out.failed} -> $base.json")
    out.detail.foreach { case (n, (v, u)) => System.err.println(f"  $n%-28s ${num(v)}%14s $u") }
    if (opts.trace) Layers.complete(out).foreach { case (n, v, u) =>
      System.err.println(f"  $n%-36s ${num(v)}%14s $u") }
    out.errors.foreach(e => System.err.println(s"  error: $e"))
    println(summary)
  }

  /** One line per span (name, start/end ns, parent, request, self time =
    * duration minus its children's) with the Spark jobs the listener
    * attributed to it. */
  private def spansJsonl(spans: Vector[Span], jobs: Vector[JobRec]): String = {
    val bySpan = jobs.groupBy(_.span)
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      val js = bySpan.getOrElse(s.id, Vector.empty).map(j =>
        s"""{"job": ${j.jobId}, "group": ${str(j.group)}, "wall_s": ${num(j.wallS)}, "tasks": ${j.tasks}, """ +
          s""""task_s": ${num(j.runMs / 1e3)}, "cpu_s": ${num(j.cpuNs / 1e9)}, "gc_s": ${num(j.gcMs / 1e3)}, """ +
          s""""read_bytes": ${j.bytesRead}, "read_rows": ${j.rowsRead}, "shuffle_write_bytes": ${j.shuffleWrite}, """ +
          s""""spill_bytes": ${j.spill}, "write_bytes": ${j.bytesWritten}}""")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "req": ${s.req}, "name": ${str(s.name)}, """ +
        s""""start_ns": ${s.start - t0}, "end_ns": ${s.end - t0}, """ +
        s""""self_ns": ${s.end - s.start - childNs.getOrElse(s.id, 0L)}, "jobs": ${js.mkString("[", ", ", "]")}}"""
    }.mkString("", "\n", "\n")
  }
}

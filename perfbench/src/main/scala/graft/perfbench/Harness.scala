package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.model.SearchHit

/** Command-line options of one benchmark run. `tiny` shrinks every
  * workload for the self-test; `corruptReference` plants one wrong
  * expected answer so the self-test can see the checker fire. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, results: String,
                      tiny: Boolean, corruptReference: Boolean,
                      commit: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument '$a'")
      val key = a.drop(2)
      if (key == "tiny" || key == "corrupt-reference") { kv(key) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for $a")
        kv(key) = args(i + 1); i += 2
      }
    }
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("results"),
      kv.contains("tiny"), kv.contains("corrupt-reference"),
      kv.getOrElse("commit", "unknown"))
  }
}

/** What one workload run produced: `setupS`, `opP50S` and `workPerS` feed
  * the end-to-end metrics; `detail` holds the workload's own figures, kept
  * in the run's result file; `layer` holds the traced run's per-layer
  * figures. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var setupS = 0.0
  var opP50S = 0.0
  var workPerS = 0.0

  /** Count one checked operation; a wrong or failed one is recorded. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (errors.size < 20) errors += what
    }
  }
  def fail(what: String): Unit = check(ok = false, what)
  def put(name: String, v: Double, unit: String): Unit = detail(name) = (v, unit)
}

/** Shared state of a run: the session, the tracer and the work dir. */
final class Ctx(val opts: Opts, val spark: SparkSession,
                val tracer: Tracer, val jobs: JobListener) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val seed: Long = opts.seed
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh directory name under the run's work dir. */
  def freshDir(tag: String): String =
    Paths.get(opts.work, s"$tag-${dirs.incrementAndGet()}").toString

  /** Run `f` until `seconds` have passed and at least `minIters` times;
    * returns the number of iterations. */
  def loopFor(seconds: Double, minIters: Int = 1)(f: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) { f(i); i += 1 }
    i
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [+${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  /** Drain the listener bus, then return every job recorded so far. */
  def drainedJobs(): Vector[JobRec] = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    jobs.all
  }
}

object Harness {

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, all threads. */
  def cpuSecs(): Double = os.getProcessCpuTime / 1e9

  /** (result, wall seconds, JVM CPU seconds) of `f`. */
  def secsCpu[A](f: => A): (A, Double, Double) = {
    val c0 = cpuSecs()
    val (a, s) = secs(f)
    (a, s, cpuSecs() - c0)
  }

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Set-up repeated `reps` times; returns the last result and the median
    * wall. Each repetition must leave nothing behind but its result. */
  def repeatedSetup[A](reps: Int)(f: Int => A): (A, Double) = {
    val runs = (0 until reps).map(i => secs(f(i)))
    (runs.last._1, median(runs.map(_._2)))
  }

  /** Bit-exact top-k equality: same docIds in the same order with the
    * same score bits. */
  def sameHits(a: Seq[SearchHit], b: Seq[SearchHit]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId &&
        java.lang.Double.doubleToLongBits(x.score) ==
          java.lang.Double.doubleToLongBits(y.score)
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Recursive size in bytes of a local directory. */
  def dirBytes(dir: String): Long = {
    val st = Files.walk(Paths.get(dir))
    try st.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
    finally st.close()
  }

  def deleteDir(dir: String): Unit =
    if (Files.exists(Paths.get(dir))) graft.Bench.deleteRecursively(dir)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else String.format(Locale.ROOT, "%.9g", Double.box(d)).trim

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Write `text` to a file that must not exist yet. */
  def writeNew(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  }
}

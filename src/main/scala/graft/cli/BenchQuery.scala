package graft.cli

import java.nio.file.Files
import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.query.SearchEngine

/** Standalone query-latency probe (Bench section 3 in isolation): builds
  * the same 20k-conv index the round bench uses and reports true-cold
  * (first pass), warm-uncached (steady-state parquet scan) and
  * serving-cache p50/p95 over the fixture query mix, then the SHOULD
  * walk against the equivalent plain OR on the hottest Zipf terms
  * (best-of-`reps` warm seconds; VERDICT r7 item 1 done-criterion:
  * hot-term SHOULD at <= ~1.2x the equivalent OR top-k) together with
  * the bit-equality check of the `minMatch = 1 == OR` dispatch law.
  * Per-phase query timings come from the traced perfbench run
  * (`query.exec_s`, `query.wand.walk_s`).
  *
  *   sbt "runMain graft.cli.BenchQuery [nConvs] [reps]"
  */
object BenchQuery {
  private def fmt(d: Double): String = "%.4f".formatLocal(Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toLong).getOrElse(20000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(8, Runtime.getRuntime.availableProcessors()).toString).toInt
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-bench-query")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("graft-bench-q").toString
    IndexBuilder.build(s,
      TranscriptGen.dataset(s, seed = 7L, nConvs = nConvs, partitions = cpus),
      root, shards = cpus, waveSize = 64)
    val queries = Seq(
      ("needlerare", "AND", 10), ("needlemid w0000", "AND", 10),
      ("w0001 w0002", "AND", 10), ("needlemid w0000", "OR", 10),
      ("roleuser w0004", "OR", 25), ("roleassistant roletool", "AND", 50),
      ("w0000", "OR", 100), ("w0010 w0020 w0030", "AND", 10))
    def onePass(): Seq[Double] =
      queries.map { case (q, m, k) =>
        val t0 = System.nanoTime()
        SearchEngine.query(s, root, q, m, k)
        (System.nanoTime() - t0) / 1e9
      }
    def measure(): Seq[Double] = (1 to reps).flatMap(_ => onePass()).sorted
    // TRUE cold: the very first pass — JIT-cold JVM, first file listing,
    // first parquet footers (ADVICE r03 item 4: the old 'cold' label was
    // measured after a warm pass over the same queries)
    val cold = onePass().sorted
    val warmUncached = measure() // steady-state, parquet scan per query

    def best(f: => Unit): Double = {
      f // warm
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val hot2 = "w0000 w0001" // the two hottest Zipf terms
    val hot3 = "w0000 w0001 w0002"
    val or2 = best { SearchEngine.query(s, root, hot2, "OR", 10); () }
    val should2m1 = best { SearchEngine.queryShould(s, root, hot2, 1, 10); () }
    val or3 = best { SearchEngine.query(s, root, hot3, "OR", 10); () }
    val should3m1 = best { SearchEngine.queryShould(s, root, hot3, 1, 10); () }
    val should3m2 = best { SearchEngine.queryShould(s, root, hot3, 2, 10); () }
    val lawOk = SearchEngine.queryShould(s, root, hot3, 1, 10) ==
      SearchEngine.query(s, root, hot3, "OR", 10)

    SearchEngine.enableServingCache(s, root)
    queries.foreach { case (q, m, k) => SearchEngine.query(s, root, q, m, k) }
    val cached = measure()
    SearchEngine.disableServingCache(root)
    def pct(xs: Seq[Double], p: Double): Double =
      xs(math.min(xs.size - 1, (xs.size * p).toInt))
    println(s"""{"bench_query":{"convs":$nConvs,"cold_p50":${fmt(pct(cold, 0.5))},"cold_p95":${fmt(pct(cold, 0.95))},"warm_uncached_p50":${fmt(pct(warmUncached, 0.5))},"warm_uncached_p95":${fmt(pct(warmUncached, 0.95))},"cached_p50":${fmt(pct(cached, 0.5))},"cached_p95":${fmt(pct(cached, 0.95))},""" +
      s""""or2_sec":${fmt(or2)},"should2_m1_sec":${fmt(should2m1)},""" +
      s""""or3_sec":${fmt(or3)},"should3_m1_sec":${fmt(should3m1)},""" +
      s""""should3_m2_sec":${fmt(should3m2)},""" +
      s""""ratio_m1_vs_or":${fmt(should3m1 / or3)},""" +
      s""""ratio_m2_vs_or":${fmt(should3m2 / or3)},""" +
      s""""law_minmatch1_eq_or":$lawOk}}""")
    try graft.Bench.deleteRecursively(root)
    catch { case _: Exception => () }
    s.stop()
  }
}

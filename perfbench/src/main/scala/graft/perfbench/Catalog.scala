package graft.perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `catalog`: `SparkEntry.queries` gates run over and over over seeded
  * star-schema + text tables in one warm session. A gate's answer is an
  * order-insensitive hash of its rows; every timed run must reproduce the
  * hash of the untimed first pass. */
object Catalog {

  final case class Sizes(scale: Double)

  /** The timed gates with their `entry` family: a fixed, family-stratified
    * subset of `SparkEntry.queries`. Each gate costs 0.2-1.6 s even on tiny
    * tables (job scheduling, not data), so a full 66-gate pass (~26 s warm,
    * ~38 s cold on 4 cores) does not fit a run; these 8 cover every family,
    * including the bm25/phrase gates built on `EntryQueries.perDocFacts`.
    * A pass stays near 3 s so each gate runs two or three times a run. */
  val FamilyOf: Map[String, String] = Map(
    "search" -> Seq("u5_bm25_topk", "phrase_topk"),
    "relational" -> Seq("q1_agg"),
    "text_ops" -> Seq("pack_sequences"),
    "text_stats" -> Seq("text_quality"),
    "dedup" -> Seq("dedup_exact"),
    "similarity" -> Seq("ngram_jaccard_pairs"),
    "multimodal" -> Seq("multimodal_signals"),
  ).toSeq.flatMap { case (f, gs) => gs.map(_ -> f) }.toMap

  /** Order-insensitive digest of a gate's rows: (rows, xor, sum of the low
    * 24 bits) of a 64-bit row hash. Computing it forces every column. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = df.select(xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*).as("h"))
    val r = h.agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").bitwiseAND(0xffffffL))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def run(ctx: Ctx, sizes: Sizes, out: Outcome): Unit = {
    val gates = FamilyOf.keys.toVector.sorted
    require(gates.forall(SparkEntry.queries.contains),
      s"unknown gates: ${gates.filterNot(SparkEntry.queries.contains)}")
    val (dir, setupS) = Harness.repeatedSetup(3) { i =>
      val d = ctx.freshDir("catalog-data")
      writeTables(ctx.spark, d, sizes.scale, ctx.seed)
      if (i < 2) Harness.deleteDir(d)
      d
    }
    out.setupS = setupS
    ctx.log("set-up done")
    // the first pass (cold: codegen, JIT) fixes the expected digests
    val (expected0, cold) = Harness.secs(gates.map(g => SparkEntry.queries(g)(ctx.spark, dir)).map(digest))
    out.put("catalog_cold_pass_s", cold, "s")
    val expected =
      if (ctx.opts.corruptReference) expected0.updated(0, (-1L, 0L, 0L)) else expected0

    ctx.log("reference pass done")
    // closed loop over the gates in a fixed order; the traced run
    // alternates traced and untraced executions of each gate
    val tr = ctx.tracer
    val n = gates.size
    val runs = Vector.newBuilder[(Int, Boolean, Double, Double)]
    // every gate runs at least once; the traced run needs each gate both
    // traced and untraced: two cycles
    val (iters, wall) = Harness.secs(ctx.loopFor(ctx.opts.seconds, if (ctx.opts.trace) 2 * n else n) { i =>
      val gi = i % n
      val g = gates(gi)
      val traced = ctx.opts.trace && (i + i / n) % 2 == 1
      tr.enabled = traced
      val (got, s, cpu) = Harness.secsCpu(
        try Some(tr.request(s"gate.$g")(tr.span(s"entry.${FamilyOf(g)}")(
          digest(SparkEntry.queries(g)(ctx.spark, dir)))))
        catch { case e: Exception => out.fail(s"$g: $e"); None })
      tr.enabled = ctx.opts.trace
      got.foreach { d =>
        out.check(d == expected(gi), s"$g: digest $d != first pass ${expected(gi)}")
        runs += ((gi, traced, s, cpu))
      }
    })
    ctx.log("timed loop done")
    // a pass = Σ over gates of the gate's median time
    val all = runs.result()
    def pass(traced: Boolean, v: ((Int, Boolean, Double, Double)) => Double = _._3): Double =
      gates.indices.map(gi => Harness.medianOr0(all.filter(r => r._1 == gi && r._2 == traced).map(v))).sum
    out.opP50S = pass(traced = false)
    out.workPerS = n / pass(traced = false)
    out.put("catalog_pass_s", pass(traced = false), "s")
    out.put("gate_runs_timed", all.count(!_._2).toDouble, "count")
    out.put("catalog_pass_cpu_s", pass(traced = false, _._4), "s")
    out.put("gate_runs_per_s", iters / wall, "1/s")
    for ((g, gi) <- gates.zipWithIndex)
      out.put(s"gate.${g}_s", Harness.medianOr0(all.filter(r => r._1 == gi && !r._2).map(_._3)), "s")
    if (ctx.opts.trace) out.layer("trace.overhead") = pass(traced = true) / pass(traced = false) - 1.0
  }

  // ---- seeded tables: the schemas of the star-schema + text test data ----

  private val Vocab = Vector("a", "the", "spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "agg",
    "key", "query", "scan", "batch")

  private def ts(ms: Long) = new Timestamp(ms)
  private val Day = 86400000L
  private val Y1992 = 694224000000L
  private val Y2024 = 1704067200000L

  /** Write the ten tables (one single-file parquet each) for `scale`
    * (1.0 = 6M lineitem rows), all values drawn from `seed`. */
  def writeTables(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    def n(base: Double, min: Int) = math.max(min, (base * scale).round.toInt)
    val nCust = n(150000, 50); val nSupp = n(10000, 10); val nPart = n(200000, 100)
    val nOrd = n(1500000, 500); val nLine = n(6000000, 2000); val nEv = n(1000000, 1000)
    val nDoc = n(50000, 500); val nEmb = n(20000, 500)
    def rng(salt: Int) = new Random(seed * 7919L + salt)
    def r2(d: Double) = math.round(d * 100) / 100.0
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def st(fs: (String, DataType)*) = StructType(fs.map { case (f, t) => StructField(f, t) })

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (r, i) => Row(i, r) })
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(1)
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        r2(rc.nextDouble() * 10000 - 1000), segs(rc.nextInt(segs.size)))))
    val rs = rng(2)
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25), r2(rs.nextDouble() * 10000))))
    val adj = Vector("small", "red", "blue", "green", "large", "shiny")
    val noun = Vector("ring", "widget", "bolt", "gear", "valve", "spring")
    val types = Vector("ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO")
    val rp = rng(3)
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${adj(rp.nextInt(adj.size))} ${noun(rp.nextInt(noun.size))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.size)), 1 + rp.nextInt(50),
        r2(900 + (i % 2000) * 0.1))))
    val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(4)
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong, "FOP".charAt(ro.nextInt(3)).toString,
        r2(1000 + ro.nextDouble() * 500000), ts(Y1992 + ro.nextInt(3650) * Day), prio(ro.nextInt(prio.size)))))
    val rl = rng(5)
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      (0 until nLine).map(_ => Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong,
        1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble, r2(900 + rl.nextDouble() * 100000),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, "ANR".charAt(rl.nextInt(3)).toString,
        "FO".charAt(rl.nextInt(2)).toString, ts(Y1992 + rl.nextInt(3650) * Day))))
    val evTypes = Vector("click", "view", "purchase", "signup", "error")
    val re = rng(6)
    val nUsers = math.max(50, nEv / 60)
    write("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map(_ => re.nextLong()).sorted.zipWithIndex.map { case (_, i) =>
        Row(i.toLong, ts(Y2024 + (i.toLong * 30 * Day) / nEv + re.nextInt(60000)),
          re.nextInt(nUsers).toLong, evTypes(re.nextInt(evTypes.size)), r2(re.nextDouble() * 200),
          s"""{"k": ${re.nextInt(100)}}""")
      })
    val langs = Vector("en", "en", "en", "zh", "es", "fr", "de")
    val rd = rng(7)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDoc).foreach { i =>
      texts += (if (i > 10 && rd.nextDouble() < 0.05) texts(rd.nextInt(i)) + " dup"
                else Vector.fill(20 + rd.nextInt(60))(Vocab(rd.nextInt(Vocab.size))).mkString(" "))
    }
    write("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rd.nextInt(langs.size)), s"src${i % 20}", t.length.toLong) }.toSeq)
    val rv = rng(8)
    val centers = Vector.fill(10)(Vector.fill(64)(rv.nextGaussian().toFloat))
    write("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nEmb).map { i =>
        val label = rv.nextInt(10)
        val v = centers(label).map(c => (c + rv.nextGaussian() * 0.5).toFloat)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        Row(i.toLong, v.map(_ / norm), label)
      })
  }
}

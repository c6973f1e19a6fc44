package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.IndexSnapshot
import graft.model.{CorpusStats, QuerySpec, SearchHit}
import graft.query.{SearchEngine, Wand}

/** One benchmark query. `cls` is rare|hot; `kind` is AND | OR | NOT
  * (`aux` = the excluded terms) | SHOULD (minShould = 2) | PHRASE. */
final case class BQuery(cls: String, kind: String, text: String, aux: String, k: Int) {
  def label: String = s"$cls/$kind[$text${if (aux.nonEmpty) s" -$aux" else ""}]k=$k"
  def naiveCheckable: Boolean = kind == "AND" || kind == "OR"
}

object Queries {

  /** Draw `nRare` rare and `nHot` hot queries from the index's own
    * term_stats and a sample of its docs (for co-occurring AND terms and
    * real adjacent phrase pairs). rare: df <= 1% of N; hot:
    * 10% N <= df <= 90% N (under the stop cap). */
  def draw(ctx: Ctx, root: String, nRare: Int, nHot: Int, seed: Long): Vector[BQuery] = {
    import ctx.spark.implicits._
    val m = Corpus.manifest(root)
    val n = m.nDocs.toDouble
    val dict = IndexSnapshot.termStats(ctx.spark, root, m)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val rareSet = dict.filter(_._2 <= 0.01 * n).keySet
    val hotSet = dict.filter { case (_, df) => df >= 0.10 * n && df <= 0.90 * n }.keySet
    require(rareSet.size >= 8 && hotSet.size >= 6,
      s"corpus too small to draw queries: ${rareSet.size} rare, ${hotSet.size} hot terms")
    val rare = rareSet.toVector.sorted
    val hot = hotSet.toVector.sorted
    val step = math.max(1L, m.nDocs / 400)
    val docs = IndexSnapshot.docs(ctx.spark, root, m)
      .filter($"docId" % step === 0).select($"docId", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map(d => Analyzer.tokensFor(m.analyzerVersion, d._2))
    val rng = new Random(seed)
    def pick[A](xs: IndexedSeq[A], k: Int): Vector[A] = rng.shuffle(xs.toVector).take(k)
    def pairs(ok: (String, String) => Boolean): Vector[String] =
      docs.toVector.flatMap(t => t.zip(t.drop(1)).collect {
        case (a, b) if a != b && ok(a, b) => s"$a $b" })

    val rarePhrases = pairs((a, b) => (rareSet(a) || rareSet(b)) && dict.contains(a) && dict.contains(b))
    val hotPhrases = pairs((a, b) => hotSet(a) && hotSet(b))
    val rareInDocs = docs.map(_.filter(rareSet).distinct).filter(_.size >= 2).toVector
    val rareQs = (0 until nRare).map { i =>
      (i % 4) match {
        case 0 => BQuery("rare", "AND", pick(rare, 1).mkString(" "), "", 10)
        case 1 if rareInDocs.nonEmpty =>
          val d = rareInDocs(rng.nextInt(rareInDocs.size))
          BQuery("rare", "AND", pick(d, 2 + rng.nextInt(2)).mkString(" "), "", 10)
        case 2 => BQuery("rare", "OR", pick(rare, 2 + rng.nextInt(2)).mkString(" "), "", 10)
        case _ if rarePhrases.nonEmpty =>
          BQuery("rare", "PHRASE", rarePhrases(rng.nextInt(rarePhrases.size)), "", 10)
        case _ => BQuery("rare", "OR", pick(rare, 2).mkString(" "), "", 10)
      }
    }
    val hotQs = (0 until nHot).map { i =>
      (i % 6) match {
        case 0 => BQuery("hot", "OR", pick(hot, 2 + rng.nextInt(4)).mkString(" "), "", 10)
        case 1 => BQuery("hot", "OR", pick(hot, 2 + rng.nextInt(4)).mkString(" "), "", 100)
        case 2 => BQuery("hot", "AND", pick(hot, 2 + rng.nextInt(2)).mkString(" "), "", 10)
        case 3 =>
          val ts = pick(hot, 3)
          BQuery("hot", "NOT", ts.take(2).mkString(" "), ts(2), 10)
        case 4 => BQuery("hot", "SHOULD", pick(hot, 3 + rng.nextInt(2)).mkString(" "), "", 10)
        case _ if hotPhrases.nonEmpty =>
          BQuery("hot", "PHRASE", hotPhrases(rng.nextInt(hotPhrases.size)), "", 10)
        case _ => BQuery("hot", "OR", pick(hot, 3).mkString(" "), "", 10)
      }
    }
    (rareQs ++ hotQs).toVector
  }

  /** The engine's public entry point for the query (the untraced path). */
  def run(ctx: Ctx, root: String, q: BQuery): Vector[SearchHit] = q.kind match {
    case "AND" | "OR" => SearchEngine.query(ctx.spark, root, q.text, q.kind, q.k)
    case "NOT" => SearchEngine.queryNot(ctx.spark, root, q.text, q.aux, q.k)
    case "SHOULD" => SearchEngine.queryShould(ctx.spark, root, q.text, 2, q.k)
    case "PHRASE" => SearchEngine.phraseTopK(ctx.spark, root, q.text, q.k)
  }

  /** The traced path: an AND/OR query is issued as the same public calls
    * `SearchEngine.query` makes (manifest resolve, analyze, plan,
    * execute), each in its own span; other kinds are one span. */
  def runTraced(ctx: Ctx, root: String, q: BQuery): Vector[SearchHit] = {
    val tr = ctx.tracer
    tr.request("query") {
      if (!q.naiveCheckable) tr.span(s"query.${q.kind.toLowerCase}")(run(ctx, root, q))
      else {
        val m = tr.span("index.manifest.resolve")(Corpus.manifest(root))
        val stats = CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion)
        val terms = tr.span("analysis.analyze")(Analyzer.analyzeQueryFor(m.analyzerVersion, q.text))
        val p = tr.span("query.plan")(SearchEngine.plan(ctx.spark, root,
          QuerySpec(terms, q.kind, q.k), stats, pinned = Some(m)))
        if (p.terms.isEmpty) Vector.empty
        else tr.span("query.execute")(
          SearchEngine.executePlan(ctx.spark, root, p, stats, pinned = Some(m)))
      }
    }
  }

  /** The Catalyst references (`SearchEngine.queryNaive`) for AND/OR
    * queries, collected in one job: hits per query, score desc, docId asc. */
  def naive(ctx: Ctx, root: String, qs: Seq[BQuery]): Map[BQuery, Vector[SearchHit]] = {
    import ctx.spark.implicits._
    val frames = qs.zipWithIndex.map { case (q, i) =>
      SearchEngine.queryNaive(ctx.spark, root, q.text, q.kind, q.k)
        .select(lit(i).as("q"), $"docId", $"score") }
    if (frames.isEmpty) return Map.empty
    val rows = frames.reduce(_ unionAll _).as[(Int, Long, Double)].collect()
    qs.zipWithIndex.map { case (q, i) =>
      q -> rows.filter(_._1 == i).sortBy(r => (-r._3, r._2)).map(r => SearchHit(r._2, r._3)).toVector
    }.toMap
  }

  /** `query.wand.walk_s` / `query.postings_selected` for one AND/OR query:
    * its planned lists, decoded and walked in-process through
    * `Wand.andTopKSegments` / `orTopKSegments`, one walk per shard as the
    * engine's scan tasks do, with no Spark in the timed part. Returns
    * (median walk seconds over `reps`, Σ df of the planned terms). */
  def walkProbe(ctx: Ctx, root: String, q: BQuery, reps: Int = 5): Option[(Double, Double)] = {
    val m = Corpus.manifest(root)
    val stats = CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion)
    val terms = Analyzer.analyzeQueryFor(m.analyzerVersion, q.text)
    val p = SearchEngine.plan(ctx.spark, root, QuerySpec(terms, q.kind, q.k), stats, pinned = Some(m))
    if (p.terms.isEmpty) return None
    val df = p.terms.map(t => t.term -> t.df).toMap
    val canonical = p.terms.sortBy(t => (t.df, t.term)).map(_.term).zipWithIndex.toMap
    val lists = Corpus.blockedLists(IndexSnapshot.postings(ctx.spark, root, m)
      .filter(col("term").isin(p.terms.map(_.term): _*)))
    val byShard = lists.groupBy(_._2).values.toVector.map(_.groupBy(_._1).toVector.map {
      case (term, chunks) => Wand.TermPostings(term, df(term), canonical(term),
        chunks.map(_._3).sortBy(c => if (c.blockFirst.isEmpty) Long.MaxValue else c.blockFirst(0)).toIndexedSeq)
    })
    val segs = Vector((0L, Long.MaxValue))
    val times = (0 until reps).map { _ =>
      Harness.secs(byShard.foreach { tps =>
        val cursors = tps.map(tp => new Wand.TermCursor(tp, stats.nDocs, stats.avgdl))
        if (q.kind == "AND") {
          if (cursors.size == p.terms.size) Wand.andTopKSegments(cursors, q.k, segs)
        } else Wand.orTopKSegments(cursors, q.k, segs)
      })._2
    }
    Some((Harness.median(times), p.terms.map(_.df).sum.toDouble))
  }
}

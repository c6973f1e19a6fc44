package graft.query

import org.apache.spark.sql.SparkSession

import graft.index.Manifest
import graft.model.{QueryFilter, SearchHit}

/** Lucene-classic-QueryParser-style query strings (r7) — ONE string
  * surface over the whole query family, so a caller (or the CLI) can say
  *
  *   `+spark merge shuffle -join role:user ts:[2024-01-01 TO *]`
  *
  * and get the combined BooleanQuery + filters it denotes. The parser
  * maps syntax onto the ALREADY-VERIFIED executors — it introduces no
  * new query semantics, only notation (QueryParserSpec pins each
  * dispatch bit-equal to the direct call).
  *
  * Grammar (whitespace-separated clauses; a deliberate, documented
  * subset of Lucene's — no parentheses, no AND/OR/NOT keyword
  * operators; per-clause boosts ARE supported, `term^b` below):
  *
  *   clause := '+' body   — MUST (required, scored)
  *           | '-' body   — MUST_NOT (prohibited, unscored)
  *           | body       — SHOULD (optional, scored; Lucene's default)
  *   body   := 'role:' value | 'tool:' value      — FILTER equality
  *           | 'ts:[' from ' TO ' to ']'          — FILTER range
  *                 (bounds: epoch millis, yyyy-MM-dd[ HH:mm:ss] UTC,
  *                  or '*' for an open end)
  *           | '"' terms '"' ('~' slop)?          — phrase / proximity
  *           | term ('^' boost)?                   — boost: Lucene term^b
  *
  * Dispatch rules (all Lucene parity unless noted):
  *   - only SHOULD clauses → at least one must match
  *     ([[SearchEngine.queryBool]] with no MUST clause is the
  *     [[SearchEngine.queryShould]] query);
  *   - MUST present → SHOULD clauses only boost (minimumShouldMatch 0;
  *     raise via the `minShouldMatch` parameter);
  *   - a bare quoted phrase (no other TEXT clauses; filters compose
  *     fine) → [[SearchEngine.phraseTopK]]; with `~N` →
  *     [[SearchEngine.nearTopK]] unordered slop N (NOTE: our window is
  *     slop+1 WIDE and order-free — documented divergence from Lucene's
  *     edit-distance phrase slop, see nearTopK's scaladoc);
  *   - field clauses are FILTERS: `-role:x` (a negated filter) and
  *     `+role:x` are REFUSED — filters are required by nature and the
  *     engine has no NOT-filter plan; a prefixed field clause is almost
  *     always a typo for a different query;
  *   - an unknown `field:` prefix is REFUSED loudly (the analyzer would
  *     otherwise silently split `foo:bar` into two text terms — typo
  *     protection beats silent broadening);
  *   - a phrase WITH other text clauses → [[SearchEngine
  *     .queryBoolPhrase]] (r7: the phrase is a required positional
  *     clause next to MUST/SHOULD/MUST_NOT, planned and executed like
  *     every other query; unscoped only — composed + scopes refuses);
  *   - duplicate role:/tool: filters and multiple ts: ranges are
  *     REFUSED (a conjunction of two different role equalities is
  *     always empty — another typo trap);
  *   - `term^b` multiplies that clause's BM25 contribution by b
  *     (finite, > 0 — Lucene per-clause boost; bounds scale with it so
  *     WAND pruning stays exact). Boosting a MUST_NOT clause (never
  *     scored), a filter, or a phrase is REFUSED.
  */
/** Shared UTC timestamp parsing for ts filters (QueryParser's ts:[..]
  * bounds and the CLI's --from/--to): epoch millis, or
  * yyyy-MM-dd[[T| ]HH:mm:ss] read AS UTC — never the JVM-local zone.
  * Index ts instants are absolute; a zone-dependent parse would
  * silently shift every window by the host's offset. */
object TsParse {
  def utcTimestamp(v: String): Option[java.sql.Timestamp] =
    v.toLongOption.map(new java.sql.Timestamp(_)).orElse {
      val norm =
        (if (v.length == 10) v + " 00:00:00" else v).replace('T', ' ')
      try {
        val ldt = java.time.LocalDateTime.parse(norm,
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        Some(new java.sql.Timestamp(
          ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
      } catch { case _: java.time.format.DateTimeParseException => None }
    }
}

object QueryParser {

  /** A parsed query string: raw clause texts (analysis happens inside
    * the executors, exactly as if the caller had passed them directly). */
  final case class Parsed(must: Vector[String] = Vector.empty,
                          should: Vector[String] = Vector.empty,
                          not: Vector[String] = Vector.empty,
                          phrase: Option[(String, Option[Int])] = None,
                          filter: QueryFilter = QueryFilter.Empty,
                          boosts: Map[String, Double] = Map.empty)

  private val KnownFields = Set("role", "tool", "ts")

  def parse(q: String): Parsed = {
    var must = Vector.empty[String]
    var should = Vector.empty[String]
    var not = Vector.empty[String]
    var phrase: Option[(String, Option[Int])] = None
    var role: Option[String] = None
    var tool: Option[String] = None
    var tsFrom: Option[java.sql.Timestamp] = None
    var tsTo: Option[java.sql.Timestamp] = None
    var sawTs = false
    var boosts = Map.empty[String, Double]

    val s = if (q == null) "" else q
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    skipWs()
    while (i < s.length) {
      // clause prefix
      val op: Char =
        if (s(i) == '+' || s(i) == '-') { val c = s(i); i += 1; c } else ' '
      require(i < s.length && !s(i).isWhitespace,
        s"dangling '$op' operator at position $i in: $s")
      if (s(i) == '"') {
        // quoted phrase, optional ~slop
        i += 1
        val start = i
        while (i < s.length && s(i) != '"') i += 1
        require(i < s.length, s"unclosed quote in: $s")
        val body = s.substring(start, i)
        i += 1 // closing quote
        val slop: Option[Int] =
          if (i < s.length && s(i) == '~') {
            i += 1
            val ds = i
            while (i < s.length && s(i).isDigit) i += 1
            require(i > ds, s"'~' needs a slop number in: $s")
            Some(s.substring(ds, i).toInt)
          } else None
        require(i >= s.length || s(i).isWhitespace || s(i) != '^',
          "phrase boosts are not supported (boost term clauses instead)")
        require(op != '-', "negated phrases are not supported " +
          "(a MUST_NOT phrase clause has no executor); rephrase")
        require(phrase.isEmpty, "at most one phrase clause per query")
        phrase = Some((body, slop))
      } else {
        // bare token up to whitespace — with the ts:[...] bracket rule
        val start = i
        if (s.startsWith("ts:[", i)) {
          while (i < s.length && s(i) != ']') i += 1
          require(i < s.length, s"unclosed ts:[ range in: $s")
          i += 1
        } else {
          while (i < s.length && !s(i).isWhitespace) i += 1
        }
        val tok = s.substring(start, i)
        val colon = tok.indexOf(':')
        if (colon > 0) {
          val field = tok.substring(0, colon)
          require(KnownFields(field),
            s"unknown field '$field:' in: $s (known: role, tool, ts); " +
            "the analyzer would silently split an unquoted colon token — " +
            "quote it if you meant literal text")
          require(op == ' ',
            s"'$op$field:' is not supported: field clauses are FILTERS " +
            "(required by nature, never scored, not negatable)")
          val v = tok.substring(colon + 1)
          require(field == "ts" || !v.contains('^'),
            s"'$field:$v' — filters are never scored, boosts do not apply")
          field match {
            case "role" =>
              require(role.isEmpty, "duplicate role: filter")
              require(v.nonEmpty, "role: needs a value")
              role = Some(v)
            case "tool" =>
              require(tool.isEmpty, "duplicate tool: filter")
              require(v.nonEmpty, "tool: needs a value")
              tool = Some(v)
            case "ts" =>
              require(!sawTs, "duplicate ts: range")
              sawTs = true
              // split on the literal " TO " so space-separated datetime
              // bounds ("2024-01-01 10:00:00") parse as documented
              require(tok.startsWith("ts:[") && tok.endsWith("]"),
                s"ts: expects ts:[<from> TO <to>] in: $s")
              val body = tok.substring(4, tok.length - 1)
              val sep = body.indexOf(" TO ")
              require(sep > 0, s"ts: expects ts:[<from> TO <to>] in: $s")
              tsFrom = parseBound(body.substring(0, sep).trim)
              tsTo = parseBound(body.substring(sep + 4).trim)
              require(tsFrom.nonEmpty || tsTo.nonEmpty,
                "ts:[* TO *] is a no-op — drop it")
          }
        } else {
          // term^boost (Lucene per-clause boost)
          val caret = tok.lastIndexOf('^')
          val (term, boost) =
            if (caret <= 0) (tok, None)
            else {
              val bs = tok.substring(caret + 1)
              val b = bs.toDoubleOption.getOrElse(sys.error(
                s"boost '^$bs' is not a number in: $s"))
              require(b > 0 && !b.isInfinite,
                s"boost must be a finite positive number, got ^$bs")
              (tok.substring(0, caret), Some(b))
            }
          require(boost.isEmpty || op != '-',
            s"'-$term^...' is not supported: MUST_NOT clauses are never " +
            "scored, so a boost there is always a mistake")
          require(boost.isEmpty || !boosts.contains(term),
            s"duplicate boost for '$term'")
          boost.foreach(b => boosts += term -> b)
          op match {
            case '+' => must :+= term
            case '-' => not :+= term
            case _ => should :+= term
          }
        }
      }
      skipWs()
    }
    Parsed(must, should, not, phrase,
      QueryFilter(role, tool, tsFrom, tsTo), boosts)
  }

  /** One range bound: '*' (open), epoch millis, or
    * yyyy-MM-dd[[T| ]HH:mm:ss] — interpreted in UTC via
    * [[TsParse.utcTimestamp]] (java.sql.Timestamp.valueOf would read the
    * JVM-local zone and silently shift the window — r7 review). */
  private def parseBound(v: String): Option[java.sql.Timestamp] =
    if (v == "*") None
    else Some(TsParse.utcTimestamp(v).getOrElse(sys.error(
      s"ts bound '$v' is not epoch millis, yyyy-MM-dd[ HH:mm:ss] or *")))

  /** Parse + dispatch (see the object scaladoc's rules). Composes with
    * scopes, time travel (`pinned`) and k exactly like the direct
    * calls — it IS the direct calls. */
  def search(spark: SparkSession, root: String, q: String, k: Int = 10,
             minShouldMatch: Int = 0, scopes: Seq[String] = Nil,
             pinned: Option[Manifest] = None,
             after: Option[SearchHit] = None): Vector[SearchHit] = {
    val p = parse(q)
    // filters-only would need a match-all-docs walk the engine does not
    // have (and almost certainly means a forgotten term) — refuse, like
    // the other typo traps, instead of answering empty
    require(p.phrase.nonEmpty || p.must.nonEmpty || p.should.nonEmpty ||
        p.not.nonEmpty || p.filter.isEmpty,
      "a filters-only query needs at least one text clause " +
      "(role:/tool:/ts: restrict a text query, they do not enumerate)")
    require(after.isEmpty || p.phrase.isEmpty,
      "search_after pages term queries only (phrase/NEAR have no page " +
      "cursor yet)")
    val hasClauses = p.must.nonEmpty || p.should.nonEmpty || p.not.nonEmpty
    require(p.phrase.isEmpty || !hasClauses || scopes.isEmpty,
      "a composed phrase+clauses query does not (yet) combine with " +
      "--scopes; scope the plain phrase or the boolean query instead")
    p.phrase match {
      case Some((body, slopOpt)) if hasClauses =>
        SearchEngine.queryBoolPhrase(spark, root, body, slopOpt,
          p.must.mkString(" "), p.should.mkString(" "),
          p.not.mkString(" "), minShouldMatch, k, pinned, p.filter,
          p.boosts)
      case Some((body, slopOpt)) =>
        // Lucene clause accounting: minimumShouldMatch > 0 with ZERO
        // SHOULD clauses is unsatisfiable ⇒ match nothing (the term-only
        // paths get this from queryBool; the bare-phrase dispatch must
        // not silently drop the requirement — r7 review)
        if (minShouldMatch > 0) Vector.empty
        else slopOpt match {
          case None =>
            SearchEngine.phraseTopK(spark, root, body, k, scopes, pinned,
              p.filter)
          case Some(slop) =>
            SearchEngine.nearTopK(spark, root, body, slop, k, scopes, pinned,
              ordered = false, filter = p.filter)
        }
      case None =>
        SearchEngine.queryBool(spark, root, p.must.mkString(" "),
          p.should.mkString(" "), p.not.mkString(" "), minShouldMatch, k,
          scopes, pinned, p.filter, after, p.boosts)
    }
  }
}

package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Num

/** Full-text (query-context) search: the ES `match` family and BM25
  * relevance scoring, re-expressed as DataFrame transforms.
  *
  * Scale design (SURVEY.md §4): per-document tokenization is narrow;
  * corpus statistics (N, avgdl) are a 1-row aggregate cross-joined back
  * (Spark broadcasts single-row relations, so this costs nothing); the
  * per-term document-frequency table is at most |query terms| rows and
  * is broadcast-joined. The only shuffle in a BM25 run is the final
  * per-document score aggregation over (doc, term) partials — the
  * pattern a distributed search engine can't avoid.
  */
object Search {

  /** `{"match": {field: q}}` with operator OR — true when any analyzed
    * query token appears in the analyzed field. */
  def matchQuery(field: Column, query: String): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"match query analyzed to zero tokens: $query")
    arrays_overlap(Analyzer.tokens(field), lit(q.toArray))
  }

  /** match with `zero_terms_query` (ES: what an all-stopword query
    * matches once the analyzer strips every term): "none" (the
    * default) matches nothing, "all" degrades to match_all. With
    * surviving terms it is the ordinary match. */
  def matchQueryZeroTerms(
      field: Column, query: String, zeroTerms: String = "none"): Column = {
    val q = Analyzer.analyze(query)
    if (q.nonEmpty) arrays_overlap(Analyzer.tokens(field), lit(q.toArray))
    else zeroTerms match {
      case "all" => lit(true)
      case "none" => lit(false)
      case other => throw new IllegalArgumentException(s"bad zero_terms_query: $other")
    }
  }

  /** `{"match": {field: {query: q, operator: "and"}}}` — all tokens
    * present. Unrolled to a conjunction of array_contains (codegen'd;
    * no per-row set construction). */
  def matchQueryAnd(field: Column, query: String): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"match query analyzed to zero tokens: $query")
    val toks = Analyzer.tokens(field)
    q.map(t => array_contains(toks, t)).reduce(_ && _)
  }

  /** `{"match_phrase": {field: q}}` — analyzed tokens must appear
    * consecutively, in order. Tokens match `[a-z0-9]+`, so rejoining
    * with single spaces makes phrase containment a substring test —
    * a codegen'd string scan, no positional index needed. */
  def matchPhrase(field: Column, query: String): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"match_phrase analyzed to zero tokens: $query")
    val joined = concat(lit(" "), concat_ws(" ", Analyzer.tokens(field)), lit(" "))
    joined.contains(" " + q.mkString(" ") + " ")
  }

  /** `match_phrase_prefix` — the phrase-autocomplete query: all terms
    * adjacent in order, the LAST term matching as a prefix. Same
    * codegen'd substring scan as matchPhrase: omitting the trailing
    * space boundary makes the final term a prefix match. */
  def matchPhrasePrefix(field: Column, query: String): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"match_phrase_prefix analyzed to zero tokens: $query")
    val joined = concat(lit(" "), concat_ws(" ", Analyzer.tokens(field)), lit(" "))
    joined.contains(" " + q.mkString(" "))
  }

  /** `span_first`: the term must occur within the first `end` token
    * positions — one array_position lookup, no position lists. */
  def spanFirst(field: Column, term: String, end: Int): Column = {
    val analyzed = Analyzer.analyze(term)
    require(analyzed.length == 1, s"span_first takes a single term: $term")
    val pos = array_position(Analyzer.tokens(field), analyzed.head)
    pos >= 1 && pos <= end
  }

  /** `span_near` with `in_order: false`: all terms within a window
    * leaving at most `slop` intervening positions, any order — one
    * compiled minimal-window pass (SpanNearMatch kernel). The ordered
    * form is `matchPhraseSlop`. */
  def spanNear(field: Column, query: String, slop: Int): Column = {
    val q = Analyzer.analyze(query).distinct
    require(q.nonEmpty, s"span_near analyzed to zero tokens: $query")
    // a single distinct term is a valid ES span_near (and a valid
    // intervals clause with max_gaps >= 0): the window is one
    // position, so it degrades to plain term containment
    if (q.length == 1) array_contains(Analyzer.tokens(field), q.head)
    else org.apache.spark.sql.GraftBridge.column(
      graft.expr.SpanNearMatch(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(field)), q, slop))
  }

  /** `span_near` whose clauses mix exact `span_term`s with
    * `span_multi` prefix wrappers — same minimal-window kernel with a
    * per-slot prefix flag. Unordered (in_order=false) semantics, like
    * spanNear. */
  def spanNearMulti(field: Column, clauses: Seq[(String, Boolean)], slop: Int): Column = {
    require(clauses.nonEmpty, "span_near needs clauses")
    val norm = clauses.map { case (t, pre) =>
      val q = Analyzer.analyze(t)
      require(q.length == 1, s"span clause must analyze to one term: $t")
      (q.head, pre)
    }
    require(norm.map(_._1).distinct.size == norm.size,
      "span_near clauses must be distinct")
    if (norm.length == 1) {
      val (t, pre) = norm.head
      if (pre) exists(Analyzer.tokens(field), tok => tok.startsWith(t))
      else array_contains(Analyzer.tokens(field), t)
    } else org.apache.spark.sql.GraftBridge.column(
      graft.expr.SpanNearMultiMatch(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(field)),
        norm.map(_._1), norm.map(_._2), slop))
  }

  /** `match` with `minimum_should_match` — "2", "75%", or negative
    * ("-1" = all but one). Percentages round DOWN like ES; the
    * threshold never drops below 1. One codegen'd matched-term count
    * against the distinct analyzed query terms. */
  def matchQueryMsm(field: Column, query: String, minimumShouldMatch: String): Column = {
    val q = Analyzer.analyze(query).distinct
    require(q.nonEmpty, s"match query analyzed to zero tokens: $query")
    val msm = minimumShouldMatch.trim
    val threshold =
      if (msm.endsWith("%")) {
        val pct = msm.dropRight(1).toDouble
        if (pct >= 0) math.floor(pct / 100.0 * q.size).toInt
        else q.size - math.floor(-pct / 100.0 * q.size).toInt
      } else {
        val n = msm.toInt
        if (n >= 0) n else q.size + n
      }
    // an msm larger than the optional-clause count is UNSATISFIABLE:
    // Lucene matches zero docs, so must we (the old clamp silently
    // rewrote "3 of 2 terms" into "2 of 2")
    if (threshold > q.size) lit(false)
    else {
      val t = math.max(1, threshold)
      val toks = Analyzer.tokens(field)
      val matched = q.map(term => when(array_contains(toks, term), 1).otherwise(0)).reduce(_ + _)
      matched >= t
    }
  }

  /** `match` through a configurable analysis chain (ES analyzer with
    * `stop` and/or `stemmer` filters): the SAME chain runs over the
    * document tokens (compiled AnalyzeChain kernel, narrow) and the
    * query string (driver-side), so "tables" matches "table" under a
    * stemmer and stopword query terms simply drop out. `operator` is
    * "or" (any surviving term) or "and" (all). */
  def matchChain(
      toks: Column,
      query: String,
      stop: Seq[String] = Nil,
      stemmer: String = "",
      operator: String = "or"): Column = {
    val q = Analyzer.analyzeChain(query, stop, stemmer).distinct
    require(q.nonEmpty, s"match query analyzed to zero tokens through chain: $query")
    val analyzed = Analyzer.chain(toks, stop, stemmer)
    operator match {
      case "or" => arrays_overlap(analyzed, lit(q.toArray))
      case "and" => q.map(t => array_contains(analyzed, t)).reduce(_ && _)
      case other => throw new IllegalArgumentException(s"bad operator: $other")
    }
  }

  /** Query-time synonym expansion (ES `synonym_graph` in the search
    * analyzer): each analyzed query term expands to itself plus its
    * synonym group; a group matches when ANY of its variants appears.
    * `operator` "and" requires every group matched (the match query's
    * AND over positions), "or" any group. The document side stays the
    * plain token stream — expansion is query-time only, the
    * recommended ES deployment (index-time synonyms freeze the
    * dictionary into the index). */
  def matchSynonyms(
      toks: Column,
      query: String,
      synonyms: Map[String, Seq[String]],
      operator: String = "and"): Column = {
    val groups = Analyzer.analyze(query).distinct
      .map(t => (t +: synonyms.getOrElse(t, Nil)).distinct)
    require(groups.nonEmpty, s"synonym match analyzed to zero tokens: $query")
    val hits = groups.map(g => arrays_overlap(toks, lit(g.toArray)))
    operator match {
      case "and" => hits.reduce(_ && _)
      case "or" => hits.reduce(_ || _)
      case other => throw new IllegalArgumentException(s"bad operator: $other")
    }
  }

  /** `match_bool_prefix` — every analyzed term must be present, the
    * LAST as a prefix (the "search-as-you-type" bool form: unlike
    * match_phrase_prefix, terms may appear anywhere, any order). All
    * codegen'd: array_contains per full term + one substring scan for
    * the prefix (a leading-space-bounded needle matches any token
    * START in the space-joined token string). */
  def matchBoolPrefix(field: Column, query: String): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"match_bool_prefix analyzed to zero tokens: $query")
    val toks = Analyzer.tokens(field)
    val joined = concat(lit(" "), concat_ws(" ", toks), lit(" "))
    val prefix = joined.contains(" " + q.last)
    (q.init.map(t => array_contains(toks, t)) :+ prefix).reduce(_ && _)
  }

  /** `combined_fields` (filter form) — term-centric AND across fields:
    * every analyzed term must appear in at least one of the fields, as
    * if their token streams were one combined field. Contrast with
    * multi_match's field-centric best_fields. */
  def combinedFields(fields: Seq[Column], query: String): Column = {
    require(fields.nonEmpty, "combined_fields needs at least one field")
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"combined_fields analyzed to zero tokens: $query")
    val toksPerField = fields.map(Analyzer.tokens)
    q.map(term => toksPerField.map(ts => array_contains(ts, term)).reduce(_ || _))
      .reduce(_ && _)
  }

  /** `span_or`: any of the compiled span clauses matches — pure
    * disjunction, provided for the JSON DSL's span tree. */
  def spanOr(clauses: Seq[Column]): Column = {
    require(clauses.nonEmpty, "span_or needs at least one clause")
    clauses.reduce(_ || _)
  }

  // ---- simple_query_string ----------------------------------------
  //
  // ES's fault-tolerant mini-language: `+` AND, `|` OR, `-` NOT,
  // `"..."` phrase, trailing `*` prefix, `(...)` grouping; bare
  // whitespace applies default_operator. AND binds tighter than OR;
  // `-` binds to the following operand. Compiled driver-side to a
  // filter-context Column (leaves OR across `fields`, mirroring the
  // reference's per-field expansion).

  private sealed trait SqsTok
  private case object SqsAnd extends SqsTok
  private case object SqsOr extends SqsTok
  private case object SqsNot extends SqsTok
  private case object SqsOpen extends SqsTok
  private case object SqsClose extends SqsTok
  private final case class SqsPhrase(p: String) extends SqsTok
  private final case class SqsWord(w: String, prefix: Boolean) extends SqsTok

  private def sqsLex(q: String, defaultAnd: Boolean): List[SqsTok] = {
    val out = scala.collection.mutable.ListBuffer.empty[SqsTok]
    var i = 0
    while (i < q.length) {
      q.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '+' => out += SqsAnd; i += 1
        case '|' => out += SqsOr; i += 1
        case '-' => out += SqsNot; i += 1
        case '(' => out += SqsOpen; i += 1
        case ')' => out += SqsClose; i += 1
        case '"' =>
          val end = q.indexOf('"', i + 1)
          // unterminated quote: lenient like ES — treat rest as phrase
          val stop = if (end < 0) q.length else end
          out += SqsPhrase(q.substring(i + 1, stop))
          i = stop + 1
        case _ =>
          val start = i
          while (i < q.length && !" \t\n\r+|()\"".contains(q.charAt(i))) i += 1
          val raw = q.substring(start, i)
          if (raw.endsWith("*")) out += SqsWord(raw.dropRight(1), prefix = true)
          else out += SqsWord(raw, prefix = false)
      }
    }
    // insert the default operator between adjacent operands (operand =
    // word/phrase/group-open preceded by word/phrase/group-close/NOT
    // chain start)
    val defOp: SqsTok = if (defaultAnd) SqsAnd else SqsOr
    val toks = out.toList
    val withDefaults = scala.collection.mutable.ListBuffer.empty[SqsTok]
    var prevOperandEnd = false
    toks.foreach { t =>
      val startsOperand = t match {
        case _: SqsWord | _: SqsPhrase | SqsOpen | SqsNot => true
        case _ => false
      }
      if (prevOperandEnd && startsOperand) withDefaults += defOp
      withDefaults += t
      prevOperandEnd = t match {
        case _: SqsWord | _: SqsPhrase | SqsClose => true
        case _ => false
      }
    }
    withDefaults.toList
  }

  /** `simple_query_string` over one or more fields. Never throws on
    * operator misuse (the ES contract): empty/unanalyzable leaves
    * compile to `false`. */
  def simpleQueryString(
      fields: Seq[Column], query: String, defaultAnd: Boolean = false): Column = {
    require(fields.nonEmpty, "simple_query_string needs at least one field")
    var toks = sqsLex(query, defaultAnd)

    def leaf(t: SqsTok): Column = t match {
      case SqsPhrase(p) =>
        if (Analyzer.analyze(p).isEmpty) lit(false)
        else fields.map(f => matchPhrase(f, p)).reduce(_ || _)
      case SqsWord(w, pfx) =>
        Analyzer.analyze(w) match {
          case Seq() => lit(false)
          case terms =>
            // a punctuated word ("hash-join", "v1.2*") analyzes to
            // SEVERAL tokens — the doc must contain ALL of them (the
            // analyzer-expansion form of the word), with only the LAST
            // carrying the prefix semantics when the word ends in '*'.
            // Keeping terms.head alone silently dropped requirements.
            fields.map { f =>
              val fToks = Analyzer.tokens(f)
              val exact = (if (pfx) terms.init else terms)
                .map(t => array_contains(fToks, t))
              val prefixed =
                if (pfx)
                  Seq(concat(lit(" "), concat_ws(" ", fToks), lit(" "))
                    .contains(" " + terms.last))
                else Nil
              (exact ++ prefixed).reduce(_ && _)
            }.reduce(_ || _)
        }
      case _ => lit(false)
    }

    def peek: Option[SqsTok] = toks.headOption
    def next(): SqsTok = { val h = toks.head; toks = toks.tail; h }

    // Lucene's SimpleQueryParser builds ONE BooleanQuery per paren
    // level: '-' clauses are MUST_NOT on that level, conjoined over
    // the level's positive structure REGARDLESS of the surrounding
    // AND/OR — and a level with only MUST_NOT clauses matches
    // NOTHING. Carrying negatives as ordinary operands compiled
    // "a | -b" to a || !b (nearly the whole corpus) instead of
    // a AND NOT b, and bare "-b" to the complement of b.
    case class Lvl(pos: Option[Column], negs: List[Column])
    def finish(l: Lvl): Column = l.pos match {
      case Some(p) => l.negs.foldLeft(p)((e, n) => e && !coalesce(n, lit(false)))
      case None => lit(false) // pure-negative (or empty) level: no hits
    }
    def comb(x: Lvl, y: Lvl, f: (Column, Column) => Column): Lvl =
      Lvl((x.pos, y.pos) match {
        case (Some(a), Some(b)) => Some(f(a, b))
        case (a, b) => a.orElse(b)
      }, x.negs ++ y.negs)

    def parseUnary(): Lvl = peek match {
      case Some(SqsNot) =>
        next()
        peek match {
          // negation needs a real operand; a dangling '-' is a no-op,
          // NOT the negation of nothing (all docs)
          case Some(_: SqsWord) | Some(_: SqsPhrase) | Some(SqsOpen) =>
            Lvl(None, List(finish(parseUnary())))
          case _ => Lvl(None, Nil)
        }
      case Some(SqsOpen) =>
        next()
        val e = parseOr()
        if (peek.contains(SqsClose)) next()
        // a group resolves ITS negatives inside, then joins the outer
        // level as one positive operand (its own boolean-query level)
        Lvl(Some(finish(e)), Nil)
      case Some(_: SqsWord) | Some(_: SqsPhrase) => Lvl(Some(leaf(next())), Nil)
      // dangling operator / close: lenient no-op
      case _ => if (toks.nonEmpty) next(); Lvl(None, Nil)
    }

    def parseAnd(): Lvl = {
      var e = parseUnary()
      while (peek.contains(SqsAnd)) { next(); e = comb(e, parseUnary(), _ && _) }
      e
    }

    def parseOr(): Lvl = {
      var e = parseAnd()
      while (peek.contains(SqsOr)) { next(); e = comb(e, parseAnd(), _ || _) }
      e
    }

    val compiled = finish(parseOr())
    // drain any trailing garbage (unbalanced closes) — leniency again
    while (toks.nonEmpty) next()
    compiled
  }

  /** `terms_set` query: match documents containing at least
    * `minimumShouldMatch` of the given terms (the analyzed-text form;
    * ES's per-doc minimum_should_match_field variant passes a Column).
    * One array_intersect against a literal term set — narrow,
    * codegen'd. */
  def termsSet(field: Column, terms: Seq[String], minimumShouldMatch: Column): Column =
    size(array_intersect(Analyzer.termSet(field),
      array(terms.map { t =>
        // loud single-token contract: a zero-token term would crash
        // with a bare NoSuchElementException, and a multi-token term
        // ("hash-join") would silently drop its tail while msm still
        // counts the full term — shifting the threshold semantics
        val analyzed = Analyzer.analyze(t)
        require(analyzed.length == 1,
          s"terms_set terms must analyze to exactly one token: '$t' -> $analyzed")
        lit(analyzed.head)
      }: _*))) >= minimumShouldMatch

  /** `{"query_string": {"query": q, "fields": [...]}}` (simplified: the
    * analyzed-OR semantics across multiple fields). */
  def queryString(fields: Seq[Column], query: String): Column =
    fields.map(f => matchQuery(f, query)).reduce(_ || _)

  /** `"title^2"`-style field spec -> (field, boost). */
  def parseBoostFields(specs: Seq[String]): Seq[(String, Double)] = {
    val fs = specs.map { s =>
      s.split("\\^") match {
        case Array(f) => f -> 1.0
        case Array(f, b) => f -> b.toDouble
        case _ => throw new IllegalArgumentException(s"bad field spec: $s")
      }
    }
    // ["text", "text^2"] would double text's df/n_docs in the one-pass
    // kernel and last-wins the boost CASE chain — refuse loudly
    require(fs.map(_._1).distinct.size == fs.size,
      s"duplicate fields in ${specs.mkString("[", ", ", "]")}")
    fs
  }

  /** Per-(doc, field) BM25 over SEVERAL fields in ONE corpus tokenize
    * pass — the shared kernel behind queryStringTopK / multiMatchTopK /
    * multiMatchPhraseTopK. One scan emits (id, field, toks) via an
    * exploded struct array, and per-field df/avgdl/n_docs all derive
    * from that stream, so the scan count is constant in the field
    * count. Per-field statistics are exactly the single-field ones
    * (the explode keeps every doc for every field), so scores are
    * bit-identical to the per-field bm25Scores path.
    *
    * `gates`: an optional per-field predicate (phrase match) carried
    * NEXT TO the score — df/idf stay index-wide (ES semantics: the
    * gate selects hits, it does not reshape term statistics); callers
    * filter on `gate` after scoring. Output: (id, field, gate, score),
    * score rounded 4 like bm25Scores. */
  private def bm25PerFieldScores(
      docs: DataFrame,
      idCol: String,
      fields: Seq[(String, Column)],
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // a duplicate field entry (fields: ["text", "text^2"]) would emit
    // two struct rows per doc for the same field name — doubling that
    // field's n_docs and merging tf rows, silently wrong scores. Loud
    // beats wrong; callers dedupe/boost-fold upstream if they mean it.
    require(fields.map(_._1).distinct.size == fields.size,
      s"duplicate field entries: ${fields.map(_._1).mkString(", ")}")
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"bm25 query analyzed to zero tokens: $query")
    val perFieldToks = docs
      .select(col(idCol).as("id"),
        explode(array(fields.map { case (f, gate) =>
          struct(lit(f).as("field"), Analyzer.tokens(col(f)).as("toks"),
            gate.as("gate"))
        }: _*)).as("ft"))
      .select(col("id"), col("ft.field").as("field"),
        col("ft.toks").as("toks"), col("ft.gate").as("gate"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // per-field corpus stats: |fields| rows -> broadcast
    val stats = perFieldToks.groupBy(col("field"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    // (doc, field, term) postings for query terms only — the explode
    // is filtered before the shuffle, so only matching postings move
    val tf = perFieldToks
      .select(col("id"), col("field"), col("gate"), col("dl"),
        explode(col("toks")).as("term"))
      .where(col("term").isin(q: _*))
      .groupBy(col("id"), col("field"), col("gate"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25TermScores(tf, Seq("field"), Left(stats), k1, b)
      .groupBy(col("id"), col("field"), col("gate"))
      .agg(Num.round(sum(col("term_score")), 4).as("score"))
  }

  /** Per-CLAUSE BM25 for a bool query's scoring clauses in ONE corpus
    * tokenize pass — the `_search`-body / readMetadata `_score`
    * formula: the sum of each clause's single-field BM25, each rounded
    * to 4 like bm25Scores. Clauses are keyed by INDEX, not field name:
    * two clauses on the same field (must match f:t1 + should match
    * f:t2) keep independent term statistics and per-clause rounding.
    * Per-clause df/avgdl/n_docs equal the single-field ones (the
    * explode keeps every doc for every clause), so each clause score
    * is bit-identical to bm25Scores on its field.
    * Returns (id, score) for docs with a nonzero clause score. */
  def bm25BoolClausesScores(
      docs: DataFrame,
      idCol: String,
      clauses: Seq[(String, String)],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25BoolClausesCScores(docs, idCol, clauses, k1, b)
      .groupBy(col("id"))
      .agg(Num.round(sum(col("cscore")), 4).as("score"))

  /** The per-clause half of bm25BoolClausesScores: one on-the-fly
    * corpus pass, rows (id, cscore) per clause BEFORE the doc sum —
    * the shape the mixed artifact/on-the-fly fold unions with, so a
    * mix has exactly one final rounding layer (a rounded fly SUBTOTAL
    * would flip 4th decimals near ties vs the pure path). */
  private def bm25BoolClausesCScores(
      docs: DataFrame,
      idCol: String,
      clauses: Seq[(String, String)],
      k1: Double,
      b: Double): DataFrame = {
    require(clauses.nonEmpty, "bm25BoolClausesScores needs at least one clause")
    val terms: Seq[(Int, Seq[String])] = clauses.zipWithIndex.map { case ((_, q), i) =>
      val ts = Analyzer.analyze(q)
      require(ts.nonEmpty, s"bm25 clause analyzed to zero tokens: $q")
      i -> ts
    }
    val perClauseToks = docs
      .select(col(idCol).as("id"),
        explode(array(clauses.zipWithIndex.map { case ((f, _), i) =>
          struct(lit(i).as("clause"), Analyzer.tokens(col(f)).as("toks"))
        }: _*)).as("ct"))
      .select(col("id"), col("ct.clause").as("clause"), col("ct.toks").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = perClauseToks.groupBy(col("clause"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    // each clause admits ONLY its own query terms — the posting stream
    // is filtered before any shuffle, so only matching postings move
    val allowed = terms.map { case (i, ts) =>
      col("clause") === i && col("term").isin(ts: _*)
    }.reduce(_ || _)
    val tf = perClauseToks
      .select(col("id"), col("clause"), col("dl"), explode(col("toks")).as("term"))
      .where(allowed)
      .groupBy(col("id"), col("clause"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25TermScores(tf, Seq("clause"), Left(stats), k1, b)
      // per-clause rounding FIRST (bit-compat with bm25Scores and its
      // oracles); the doc sum happens in bm25BoolClausesScores / the
      // Auto mixed fold — ONE final rounding layer wherever the
      // clauses came from
      .groupBy(col("id"), col("clause"))
      .agg(Num.round(sum(col("term_score")), 4).as("cscore"))
      .select(col("id"), col("cscore"))
  }

  /** A fresh analysis artifact: the postings table and the corpus
    * scalars BM25 reads (n_docs, avgdl), plus whether the build audited
    * the ids unique and non-null. */
  type AnalysisArtifact = graft.index.IndexArtifacts.Artifact[graft.index.ArtifactKind.Corpus]

  /** Artifact-aware bm25BoolClausesScores for the connector's
    * readMetadata `_score` path: a clause whose field carries FRESH
    * persisted analysis (graft.index.analysis) scores from the
    * postings side table — no corpus tokenize for that clause — while
    * the remaining clauses share one on-the-fly pass. Per-clause
    * round(4) then the doc sum keeps the result bit-identical to the
    * all-on-the-fly form in any mix (same stats, same fold order).
    * `excludeFields` (runtime-mapped names that shadow stored columns)
    * always score on the fly — their values are not what the write
    * path analyzed. `analysisOf(field)` is the field's fresh artifact
    * or None (`IndexArtifacts.load`). */
  def bm25BoolClausesScoresAuto(
      analysisOf: String => Option[AnalysisArtifact],
      docs: DataFrame,
      idCol: String,
      clauses: Seq[(String, String)],
      excludeFields: Set[String] = Set.empty,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(clauses.nonEmpty, "bm25BoolClausesScoresAuto needs at least one clause")
    val art = clauses.map(_._1).distinct.filterNot(excludeFields)
      .map(f => f -> analysisOf(f))
      .toMap
    val (indexed, fly) = clauses.partition(c => art.get(c._1).exists(_.isDefined))
    val idxFrames = indexed.map { case (f, q) =>
      val ts = Analyzer.analyze(q)
      require(ts.nonEmpty, s"bm25 clause analyzed to zero tokens: $q")
      bm25ArtifactTermScores(art(f).get, ts, k1, b)
        .groupBy(col("id"))
        .agg(Num.round(sum(col("term_score")), 4).as("cscore"))
    }
    val flyFrames =
      if (fly.isEmpty) Nil
      else Seq(bm25BoolClausesCScores(docs, idCol, fly, k1, b))
    (idxFrames ++ flyFrames).reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(Num.round(sum(col("cscore")), 4).as("score"))
  }

  /** Scored `query_string` over boosted fields — `fields:
    * ["text^2", "source"]` semantics: per-field BM25, weighted sum,
    * one ordered limit. One corpus tokenize pass for ALL fields
    * (bm25PerFieldScores); only (doc, field) pairs containing query
    * terms reach the combine, so the re-agg moves O(matching docs),
    * not the corpus. */
  def queryStringTopK(
      docs: DataFrame,
      idCol: String,
      fields: Seq[(String, Double)],
      query: String,
      k: Int): DataFrame = {
    require(fields.nonEmpty, "queryStringTopK needs at least one field")
    // per-field boost as a literal CASE chain (|fields| branches,
    // codegen'd — no join for the weight lookup)
    val boost = fields.foldLeft(lit(1.0)) { case (acc, (f, w)) =>
      when(col("field") === f, lit(w)).otherwise(acc)
    }
    bm25PerFieldScores(docs, idCol, fields.map { case (f, _) => f -> lit(true) }, query)
      .groupBy(col("id"))
      .agg(Num.round(sum(col("score") * boost), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** BM25 top-k: the `_score` the reference exposes via
    * `es.read.metadata`. Returns (id, score) with score rounded to 4
    * decimals (FP-stable across engines for the oracle compare) and a
    * deterministic (score desc, id asc) order.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))          [Lucene BM25]
    * tfp = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Scores(docs, idCol, textCol, query, k1, b)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** Unsorted (id, score) BM25 frame — the building block for every
    * relevance-ranked variant (plain/pinned/boosting/connector
    * metadata). Callers apply their OWN single ordered limit
    * (TakeOrderedAndProject); ranking here would force a wasted global
    * sort that the caller immediately re-sorts. */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Components(docs, idCol, textCol, query, k1, b)
      .groupBy(col("id"))
      .agg(Num.round(sum(col("term_score")), 4).as("score"))

  /** Body `explain: true`: per-hit `_explanation` — the BM25 term
    * breakdown folded to ONE string per doc
    * (`weight(t1)=w1 + weight(t2)=w2`, terms ascending), built from
    * the SAME component frame as the aggregate score so the numbers
    * cannot disagree with `_score`. Weights print through
    * decimal(18,4) so both engines render identically (double
    * stringification would go scientific on small weights). */
  def explainStrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Components(docs, idCol, textCol, query, k1, b)
      .groupBy(col("id"))
      .agg(concat_ws(" + ",
        transform(
          array_sort(collect_list(struct(col("term"), col("term_score")))),
          x => concat(lit("weight("), x.getField("term"), lit(")="),
            Num.round(x.getField("term_score"), 4)
              .cast("decimal(18,4)").cast("string"))))
        .as("_explanation"))

  /** Per-(doc, term) BM25 components — one frame feeding both the
    * aggregate score (bm25Scores) and the `_explain` breakdown, so the
    * formula can't drift between them. */
  private def bm25Components(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k1: Double,
      b: Double): DataFrame = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"bm25 query analyzed to zero tokens: $query")
    bm25ComponentsFromToks(
      docs.select(col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks")),
      q, k1, b)
  }

  /** BM25 (id, score) over a PREPARED (id, toks) frame — the hook for
    * custom analyzer chains (stop/stemmer/edge_ngram): document length,
    * tf and df are all computed over the ANALYZED token stream, exactly
    * as an ES index built with that analyzer would score. `terms` must
    * already be analyzed with the matching search chain. */
  def bm25ScoresFromToks(
      toksDf: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25ComponentsFromToks(toksDf, terms, k1, b)
      .groupBy(col("id"))
      .agg(Num.round(sum(col("term_score")), 4).as("score"))

  /** The BM25 formula, the one place every scoring path computes it.
    * `tf` holds (`keys`..., term, id, dl, tf) rows for the query's
    * terms, one row per (keys, term, doc), so counting them per
    * (keys, term) IS each term's document frequency. `stats` gives
    * (n_docs, avgdl) per `keys`: a frame of corpus stats when scoring
    * on the fly, the artifact meta's two scalars on the artifact path.
    * Adds df, n_docs, avgdl, idf and term_score to every tf row.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))          [Lucene BM25]
    * tfp = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) */
  private def bm25TermScores(
      tf: DataFrame,
      keys: Seq[String],
      stats: Either[DataFrame, (Double, Double)],
      k1: Double,
      b: Double): DataFrame = {
    // <= |keys| * |terms| rows -> broadcast
    val df = tf.groupBy((keys :+ "term").map(col): _*)
      .agg(count(lit(1)).cast("double").as("df"))
    val withDf = tf.join(broadcast(df), keys :+ "term")
    val withStats = stats match {
      case Left(rows) if keys.isEmpty => withDf.crossJoin(broadcast(rows))
      case Left(rows) => withDf.join(broadcast(rows), keys)
      case Right((nDocs, avgdl)) =>
        withDf.withColumn("n_docs", lit(nDocs)).withColumn("avgdl", lit(avgdl))
    }
    val tfPart = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    withStats
      .withColumn("idf", bm25Idf(col("n_docs"), col("df")))
      .withColumn("term_score", col("idf") * tfPart)
  }

  private def bm25Idf(nDocs: Column, df: Column): Column =
    log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))

  /** [[bm25TermScores]] over a fresh analysis artifact: the postings
    * slice of the query's terms (`term IN` pushes into the term-sorted
    * parquet and prunes row groups) with the meta's corpus stats. */
  private def bm25ArtifactTermScores(
      a: AnalysisArtifact,
      terms: Seq[String],
      k1: Double,
      b: Double): DataFrame =
    bm25TermScores(a.table("postings").where(col("term").isin(terms: _*)), Nil,
      Right((a.state.nDocs.toDouble, a.state.avgdl)), k1, b)

  private def bm25ComponentsFromToks(
      toksDf: DataFrame,
      q: Seq[String],
      k1: Double,
      b: Double): DataFrame = {
    require(q.nonEmpty, "bm25 needs at least one analyzed term")
    val toks = toksDf.withColumn("dl", size(col("toks")).cast("double"))

    // 1-row corpus stats; cross-joined (broadcast of a single row).
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

    // (doc, term, tf, dl) for query terms only — the explode is filtered
    // before the shuffle so only matching postings move.
    val tf = toks
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(q: _*))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

    bm25TermScores(tf, Nil, Left(stats), k1, b)
  }

  /** BM25 over PERSISTED analysis artifacts (graft.index.analysis,
    * graft.index.IndexArtifacts): when the index directory carries
    * fresh artifacts, the query reads only ITS OWN terms' postings —
    * the `term IN (...)` predicate pushes into the range-partitioned,
    * term-sorted postings parquet and prunes whole row groups, so
    * query cost tracks matched postings instead of corpus size and the
    * corpus tokenize is paid ONCE at write time, exactly like an ES
    * index amortizes analysis across queries. Stale or missing
    * artifacts (fingerprint mismatch after an append/swap) fall back
    * to the on-the-fly bm25Scores — same formula, same rounding, so
    * results are bit-equal in both regimes. */
  def bm25ScoresIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      idCol: String,
      textCol: String,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      fmt: String = "parquet"): DataFrame = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"bm25 query analyzed to zero tokens: $query")
    graft.index.IndexArtifacts.load(spark, graft.index.ArtifactKind.Analysis,
      indexPath, textCol, expectIdCol = Some(idCol)) match {
      case Some(a) =>
        bm25ArtifactTermScores(a, q, k1, b)
          .groupBy(col("id"))
          .agg(Num.round(sum(col("term_score")), 4).as("score"))
      case None =>
        // fmt matters on the FALLBACK only (artifacts are always
        // parquet; the index itself may be json/orc)
        bm25Scores(spark.read.format(fmt).load(indexPath),
          idCol, textCol, query, k1, b)
    }
  }

  /** `_explain` for one document: the BM25 term-by-term breakdown
    * (tf, df, idf, weight) with INDEX-WIDE statistics, exactly as ES
    * explains a hit. The doc-id filter pushes below the join on the
    * postings side; df and the corpus stats still see the whole
    * corpus (that's the semantics, not an accident). */
  def explainScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      docId: Long,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Components(docs, idCol, textCol, query, k1, b)
      .where(col("id") === docId)
      .select(
        col("term"), col("tf"), col("df"),
        Num.round(col("idf"), 4).as("idf"),
        Num.round(col("term_score"), 4).as("weight"))
      .orderBy(col("term"))

  /** `match_phrase` with `slop` (span_near-style): all analyzed terms
    * in order, each consecutive pair within `slop` intervening
    * positions — narrow per-row math, any term count. (ES's exact slop
    * counts total displacement; the per-gap bound is the common
    * span_near in_order=true usage.) */
  def matchPhraseSlop(field: Column, query: String, slop: Int): Column = {
    val q = Analyzer.analyze(query)
    require(q.length >= 2, "matchPhraseSlop needs at least two terms")
    // native compiled DP over the token array (one pass, O(n*terms));
    // the HOF formulation of the same chain (per-term position lists +
    // nested exists) was interpreted per node and ~100x slower.
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.PhraseSlopMatch(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(field)), q, slop))
  }

  /** `constant_score`: filter-context match with a fixed score. */
  def constantScore(docs: DataFrame, idCol: String, pred: Column, boost: Double): DataFrame =
    docs.where(pred)
      .select(col(idCol).as("id"), lit(boost).as("score"))
      .orderBy(col("id").asc)

  /** `pinned`: promoted ids first (in pin order), everything else by
    * relevance — one CASE sort key on top of the scored frame. */
  def pinnedTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      pinned: Seq[Long],
      k: Int): DataFrame =
    pinnedRanked(docs, idCol, bm25Scores(docs, idCol, textCol, query),
      pinned, Nil, k)

  /** Shared pin/exclude ranking over a scored frame — the body of
    * `pinnedTopK` and `ruleTopK` (one implementation, two ES
    * surfaces). ES promotes pinned docs EVEN when they match no query
    * term: ids absent from the scored frame come back as zero-scored
    * rows (a tiny isin corpus probe + anti join against the scored
    * ids — never a corpus shuffle). */
  private def pinnedRanked(
      docs: DataFrame, idCol: String, scored: DataFrame,
      pinned: Seq[Long], excluded: Seq[Long], k: Int): DataFrame = {
    val pinRank = pinned.zipWithIndex.foldLeft(when(lit(false), 0)) {
      case (acc, (id, i)) => acc.when(col("id") === id, i)
    }.otherwise(Int.MaxValue)
    val base = scored.select(col("id"), col("score"))
    val all =
      if (pinned.isEmpty) base
      else base.unionByName(
        docs.select(col(idCol).as("id")).where(col("id").isin(pinned: _*))
          .join(base.select(col("id")), Seq("id"), "left_anti")
          .withColumn("score", lit(0.0)))
    all
      .where(if (excluded.isEmpty) lit(true) else !col("id").isin(excluded: _*))
      .withColumn("pin_rank", pinRank)
      .orderBy(col("pin_rank").asc, col("score").desc, col("id").asc)
      .limit(k)
      .select(col("id"), col("score"), (col("pin_rank") < Int.MaxValue).as("pinned"))
  }

  /** ES 8.15 query rules (`rule` retriever / ruleset): `pinned` ids
    * promote to the top in rule order, `excluded` ids drop entirely,
    * everything else ranks organically. The rule application is one
    * CASE sort key + one NOT-IN predicate over the scored frame —
    * rules never touch the corpus scan. */
  def ruleTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      pinned: Seq[Long],
      excluded: Seq[Long],
      k: Int): DataFrame =
    pinnedRanked(docs, idCol, bm25Scores(docs, idCol, textCol, query),
      pinned, excluded, k)

  /** The STORED-ruleset form of query rules (ES `_query_rules` + the
    * `rule` retriever/query): resolve ruleset ids, evaluate each
    * rule's criteria against the request's match_criteria on the
    * driver (criteria describe the REQUEST, not documents — this is
    * plan-construction work, exactly like ES's rewrite phase), and
    * apply the fired rules' pinned/excluded ids through the shared
    * pinned kernel. A rule whose criteria don't match contributes
    * nothing — criteria-gated pinning, not unconditional. */
  def ruleQueryTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      rulesetIds: Seq[String],
      matchCriteria: Map[String, String],
      k: Int): DataFrame = {
    val (pinned, excluded) = graft.dsl.QueryRules.firedActions(
      rulesetIds.map(graft.dsl.RuleStore.resolve), matchCriteria)
    ruleTopK(docs, idCol, textCol, query, pinned, excluded, k)
  }

  /** `boosting`: positive relevance, demoted (not excluded) when the
    * negative clause matches — score x negativeBoost. */
  def boostingTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      positiveQuery: String,
      negative: Column,
      negativeBoost: Double,
      k: Int): DataFrame = {
    val scored = bm25Scores(docs, idCol, textCol, positiveQuery)
    val neg = docs.select(col(idCol).as("id"), negative.as("_neg"))
    scored.join(neg, "id")
      .select(
        col("id"),
        Num.round(col("score") * when(col("_neg"), negativeBoost).otherwise(1.0), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Percolator-index form: the stored queries are Query-DSL JSON
    * documents (exactly what an ES percolator field holds), compiled on
    * the driver and pushed through `percolate`. */
  def percolateJson(
      docs: DataFrame,
      idCol: String,
      registry: Seq[(String, String)],
      registryIdField: String = "_id"): DataFrame =
    percolate(docs, idCol, registry.map { case (qid, json) =>
      qid -> graft.dsl.QueryDslJson.compile(json, registryIdField)
    })

  /** `function_score`: field_value_factor x gauss decay — ES's
    * recency/proximity boosting re-expressed as a closed-form column.
    * gauss(x) = exp(ln(decay) * (x-origin)^2 / scale^2)  [ES formula
    * with offset=0, decay=0.5]. Pure codegen'd math, no shuffle until
    * the final top-k. */
  def functionScoreTopK(
      docs: DataFrame,
      idCol: String,
      numField: String,
      origin: Double,
      scale: Double,
      k: Int): DataFrame = {
    val x = col(numField).cast("double")
    val fvf = log(lit(1.0) + x) // field_value_factor log1p modifier
    val decay = exp(lit(math.log(0.5)) * pow(x - origin, 2) / lit(scale * scale))
    docs.select(
      col(idCol).as("id"),
      Num.round(fvf * decay, 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `_explain` for a `function_score` hit: one row per scoring
    * component (field_value_factor, gauss decay, final product) for
    * the requested document — the non-BM25 counterpart of
    * `explainScore`. One pushed-id scan; the breakdown inlines as an
    * array-of-struct, no union of scans. */
  def explainFunctionScore(
      docs: DataFrame,
      idCol: String,
      numField: String,
      origin: Double,
      scale: Double,
      docId: Long): DataFrame = {
    val x = col(numField).cast("double")
    val fvf = log(lit(1.0) + x)
    val decay = exp(lit(math.log(0.5)) * pow(x - origin, 2) / lit(scale * scale))
    docs.where(col(idCol) === docId)
      .select(inline(array(
        struct(lit("field_value_factor").as("component"),
          Num.round(fvf, 4).as("value")),
        struct(lit("gauss").as("component"), Num.round(decay, 4).as("value")),
        struct(lit("score").as("component"),
          Num.round(fvf * decay, 4).as("value")))))
      .orderBy(col("component"))
  }

  /** `collapse` with `inner_hits`: the group's top-`innerSize` hits
    * ranked within each collapse key — still ONE window pass (rank
    * <= n instead of rank == 1). */
  def collapseInnerHits(
      docs: DataFrame,
      groupField: String,
      sortField: String,
      idCol: String,
      innerSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupField))
      .orderBy(col(sortField).desc, col(idCol).asc)
    docs
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= innerSize)
      .select(col(groupField), col("rank"), col(idCol), col(sortField))
      .orderBy(col(groupField).asc, col("rank").asc)
  }

  /** `collapse`: one hit per group key, best by sort — ES field
    * collapsing. Single window pass. */
  def collapse(docs: DataFrame, groupField: String, sortField: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupField))
      .orderBy(col(sortField).desc, col(idCol).asc)
    docs.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** `search_after` pagination: hits strictly after the cursor in
    * (sortField DESC, id ASC) order. The cursor predicate is plain
    * comparisons, so deep paging costs one scan — no global offset. */
  def searchAfter(
      docs: DataFrame, idCol: String, sortField: String,
      afterSort: Any, afterId: Any, size: Int): DataFrame =
    docs
      .where(col(sortField) < lit(afterSort) ||
        (col(sortField) === lit(afterSort) && col(idCol) > lit(afterId)))
      .orderBy(col(sortField).desc, col(idCol).asc)
      .limit(size)

  /** Term suggester: corpus-vocabulary terms within edit distance
    * `maxEdits` of the input, by descending frequency. The vocab
    * aggregation is the only shuffle; the levenshtein filter runs on
    * the (tiny) vocab frame. */
  def suggest(
      docs: DataFrame, textCol: String, term: String,
      maxEdits: Int = 2, k: Int = 5): DataFrame =
    docs
      // DOCUMENT frequencies (termSet = per-doc distinct tokens), the
      // ES term-suggester ranking — total occurrences let a word
      // repeated many times in ONE doc out-rank a widespread word
      // (the rationale suggestMode already documents; same rule here)
      .select(explode(graft.analysis.Analyzer.termSet(col(textCol))).as("token"))
      // length-band prune BELOW the vocabulary aggregation: an edit
      // distance <= maxEdits forces |len(token) - len(term)| <= maxEdits,
      // so both the partial-agg hash table and the exchange shrink from
      // |vocab| to the levenshtein-feasible band (cheap length() vs the
      // O(len^2) levenshtein, which still runs only on the tiny band)
      .where(abs(length(col("token")) - lit(term.length)) <= maxEdits)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .where(col("token") =!= term && levenshtein(col("token"), lit(term)) <= maxEdits)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** term suggester with `suggest_mode` (ES: when to suggest at
    * all): `popular` keeps only corrections MORE frequent than the
    * input term — the "did you mean" gate that stops suggesting rarer
    * words for a common, correctly-spelled input; `missing` (the ES
    * default) emits suggestions only when the input term itself is
    * absent from the index. Same vocab-agg shape as `suggest`. */
  def suggestMode(
      docs: DataFrame, textCol: String, term: String,
      mode: String, maxEdits: Int = 2, k: Int = 5): DataFrame = {
    // ES term-suggester frequencies are DOCUMENT frequencies (the
    // term's doc freq in the shard), not total occurrences — a term
    // repeated many times in few docs must not out-rank a widespread
    // one. Per-doc distinct tokens (termSet) before the count.
    // same length-band prune as `suggest`, pushed below the partial
    // agg. The band includes the input term itself (length diff 0),
    // so the `popular`/`missing` input probe still finds it. The
    // input frequency is derived ON the banded vocab frame via a
    // whole-frame window — the frame is band-bounded tiny, so the
    // single-partition window is free, and the corpus tokenize pass
    // runs exactly once with NO persist (nothing to leak for callers
    // outside the harness's clearCache).
    import org.apache.spark.sql.expressions.Window
    val vocab = docs
      .select(explode(graft.analysis.Analyzer.termSet(col(textCol))).as("token"))
      .where(abs(length(col("token")) - lit(term.length)) <= maxEdits)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    def corrections(v: DataFrame): DataFrame =
      v.where(col("token") =!= term &&
        levenshtein(col("token"), lit(term)) <= maxEdits)
    def top(v: DataFrame): DataFrame =
      v.select(col("token"), col("freq"))
        .orderBy(col("freq").desc, col("token").asc).limit(k)
    lazy val withInput = vocab.withColumn("input_freq",
      coalesce(max(when(col("token") === term, col("freq")))
        .over(Window.partitionBy()), lit(0L)))
    mode match {
      case "always" => top(corrections(vocab))
      case "popular" =>
        // only corrections MORE frequent than the input survive
        top(corrections(withInput).where(col("freq") > col("input_freq")))
      case "missing" =>
        // ES's default gate: suggest ONLY when the input term itself
        // is absent from the index
        top(corrections(withInput).where(col("input_freq") === 0L))
      case other => throw new IllegalArgumentException(s"bad suggest_mode: $other")
    }
  }

  /** `completion` suggester: prefix-matched suggestions from a
    * weighted suggest field — best weight per suggestion, top-k.
    * The prefix predicate is a StringStartsWith, so it pushes into
    * the scan; the groupBy shuffles only matching suggestions. (ES
    * builds an FST per segment; the pushed prefix scan plays that
    * role here.) */
  def suggestCompletion(
      docs: DataFrame, suggestCol: String, weightCol: String,
      prefix: String, k: Int): DataFrame =
    docs.where(col(suggestCol).startsWith(prefix))
      .groupBy(col(suggestCol).as("suggestion"))
      .agg(max(col(weightCol)).as("weight"))
      .orderBy(col("weight").desc, col("suggestion").asc)
      .limit(k)

  /** Completion suggester with `contexts` (the category-filtered
    * form): suggestions come only from docs whose context field
    * matches one of the requested values, with an optional per-value
    * boost multiplying the weight (ES context boosting). The context
    * predicate is a plain isin that pushes to the scan; everything
    * else is the ordinary completion shape. */
  def suggestCompletionContexts(
      docs: DataFrame, suggestCol: String, weightCol: String,
      prefix: String, contextCol: String, contexts: Seq[(String, Double)],
      k: Int): DataFrame = {
    require(contexts.nonEmpty, "context suggester needs at least one context")
    val boost = contexts.tail.foldLeft(
      when(col(contextCol) === contexts.head._1, lit(contexts.head._2))) {
      case (acc, (v, b)) => acc.when(col(contextCol) === v, lit(b))
    }.otherwise(lit(0.0))
    docs.where(col(suggestCol).startsWith(prefix) &&
        col(contextCol).isin(contexts.map(_._1): _*))
      .groupBy(col(suggestCol).as("suggestion"))
      .agg(Num.round(max(col(weightCol) * boost), 4).as("weight"))
      .orderBy(col("weight").desc, col("suggestion").asc)
      .limit(k)
  }

  /** Completion suggester with `fuzzy` (ES `fuzziness` on the typed
    * prefix): a suggestion qualifies when its same-length head is
    * within `fuzziness` Damerau-Levenshtein edits of the prefix.
    * Exact-prefix hits rank first (ES scores exact prefixes higher),
    * then weight. The edit distance runs on a |prefix|-length head —
    * O(|p|²) per row via the compiled kernel, not O(|s|²). */
  def suggestCompletionFuzzy(
      docs: DataFrame, suggestCol: String, weightCol: String,
      prefix: String, fuzziness: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val head = substring(col(suggestCol), 1, prefix.length)
    val dist = GraftBridge.column(graft.expr.DamerauLevenshtein(
      GraftBridge.expression(head), GraftBridge.expression(lit(prefix))))
    docs.where(dist <= fuzziness)
      .groupBy(col(suggestCol).as("suggestion"))
      .agg(
        max(when(col(suggestCol).startsWith(prefix), 1).otherwise(0)).as("exact_prefix"),
        max(col(weightCol)).as("weight"))
      .orderBy(col("exact_prefix").desc, col("weight").desc, col("suggestion").asc)
      .limit(k)
  }

  /** search `min_score`: every hit at or above an absolute relevance
    * floor (not a top-k) — the filter applies after scoring, ordering
    * stays score-desc. */
  def bm25MinScore(
      docs: DataFrame, idCol: String, textCol: String,
      query: String, minScore: Double): DataFrame =
    bm25Scores(docs, idCol, textCol, query)
      .where(col("score") >= minScore)
      .orderBy(col("score").desc, col("id").asc)

  /** `rescore`: re-rank the top `windowSize` first-pass (BM25) hits
    * with a secondary scoring expression — ES's two-phase ranking.
    * The first pass bounds the window (TakeOrderedAndProject); the
    * rescorer runs only on `windowSize` rows, so an expensive
    * secondary signal costs O(window), not O(corpus).
    * `combined = queryWeight * score + rescoreWeight * secondary`. */
  def rescoreTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      secondary: Column,
      windowSize: Int,
      k: Int,
      queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0): DataFrame = {
    val window = bm25TopK(docs, idCol, textCol, query, windowSize)
    // join the corpus TO the broadcast window first and compute the
    // secondary expression on the joined rows — so it evaluates on
    // O(window) survivors, not under the join on the corpus side
    docs.join(broadcast(window), col(idCol) === window("id"))
      .select(window("id"),
        Num.round(window("score") * queryWeight + secondary * rescoreWeight, 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `learning_to_rank` rescorer (ES 8.13): a trained model re-ranks
    * the top `windowSize` first-pass hits over per-doc FEATURES. The
    * model here is the plugin's linear form — weights · features,
    * with "_score" naming the first-pass BM25 feature. Feature
    * extraction happens AFTER the broadcast join with the window, so
    * arbitrary feature columns evaluate on O(window) rows, not the
    * corpus — at 100 TB the model cost is invisible next to
    * retrieval, which is the LTR design point. */
  def ltrRescoreTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      features: Seq[(String, Column)],
      weights: Map[String, Double],
      windowSize: Int,
      k: Int): DataFrame = {
    val window = bm25TopK(docs, idCol, textCol, query, windowSize)
    val named = features.filter { case (n, _) => weights.contains(n) }
    // _score first, then features in declaration order: double
    // addition is order-dependent in the last bits, and the oracle
    // sums in this exact order
    val model = (weights.get("_score").map(w => window("score") * lit(w)).toSeq ++
      named.map { case (n, c) => c.cast("double") * lit(weights(n)) })
      .reduce(_ + _)
    docs.join(broadcast(window), col(idCol) === window("id"))
      .select(window("id"), Num.round(model, 4).as("ltr_score"))
      .orderBy(col("ltr_score").desc, col("id").asc)
      .limit(k)
  }

  /** `multi_match`: BM25 over several fields combined per `mode` —
    * `best_fields` (ES default: the best single field wins, max) or
    * `most_fields` (fields reinforce each other, sum). One corpus
    * tokenize pass for ALL fields (bm25PerFieldScores); only
    * (doc, field) pairs containing query terms reach the combine. */
  def multiMatchTopK(
      docs: DataFrame,
      idCol: String,
      fields: Seq[String],
      query: String,
      k: Int,
      mode: String = "best_fields"): DataFrame =
    multiMatchScores(docs, idCol, fields.map(_ -> 1.0), query, mode)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** Scored `match_phrase` (id, score): BM25 of the phrase's terms,
    * restricted to docs where the PHRASE matches — ES's semantics
    * (the phrase is a positional gate; scoring stays term-frequency
    * BM25 with index-wide df). Unranked, for the `_search`-body
    * composition (min_score/rescore/knn need the full frame). */
  def matchPhraseScores(
      docs: DataFrame, idCol: String, textCol: String, phrase: String): DataFrame =
    bm25Scores(docs, idCol, textCol, phrase)
      .join(docs.where(matchPhrase(col(textCol), phrase))
        .select(col(idCol).as("id")), Seq("id"), "left_semi")

  /** Unranked multi_match (id, score) — per-field boosts (`title^2`
    * semantics: the boost scales that field's score before the
    * combine) over the one-pass kernel. The building block for the
    * ranked multiMatchTopK AND the `_search`-body scored multi_match
    * (the body needs the full score frame for min_score/rescore/knn
    * composition, not a top-k). */
  def multiMatchScores(
      docs: DataFrame,
      idCol: String,
      fields: Seq[(String, Double)],
      query: String,
      mode: String = "best_fields"): DataFrame = {
    require(fields.nonEmpty, "multiMatchScores needs at least one field")
    val boost = fields.foldLeft(lit(1.0)) { case (acc, (f, w)) =>
      when(col("field") === f, lit(w)).otherwise(acc)
    }
    val combine = mode match {
      case "best_fields" => max(col("score") * boost)
      case "most_fields" => sum(col("score") * boost)
      case other => throw new IllegalArgumentException(s"unknown multi_match mode: $other")
    }
    bm25PerFieldScores(docs, idCol, fields.map(_._1 -> lit(true)), query)
      .groupBy(col("id"))
      .agg(Num.round(combine, 4).as("score"))
  }

  /** `multi_match` type `cross_fields`: query terms may match in
    * DIFFERENT fields — ES blends the fields' term statistics as if
    * they were one big field. Realized literally: BM25 over the
    * analyzed CONCATENATION of the fields (one derived column, one
    * scoring pass — Catalyst folds the concat into the scan
    * projection). With `operator: "and"` the gate is every query term
    * appearing somewhere in the blended field — satisfiable across
    * fields, which best_fields/most_fields AND could never be. */
  def multiMatchCrossTopK(
      docs: DataFrame,
      idCol: String,
      fields: Seq[String],
      query: String,
      k: Int,
      operator: String = "or"): DataFrame = {
    require(fields.nonEmpty, "multiMatchCrossTopK needs at least one field")
    val blended = docs.withColumn("_xfield", concat_ws(" ", fields.map(col): _*))
    val scored = bm25Scores(blended, idCol, "_xfield", query)
    val gated = operator match {
      case "or" => scored
      case "and" =>
        val q = Analyzer.analyze(query)
        val gate = q.map(t => array_contains(Analyzer.tokens(col("_xfield")), t))
          .reduce(_ && _)
        scored.join(blended.where(gate).select(col(idCol).as("id")), Seq("id"), "left_semi")
      case other => throw new IllegalArgumentException(s"unknown operator: $other")
    }
    gated.orderBy(col("score").desc, col("id").asc).limit(k)
  }

  /** `multi_match` with `type: phrase` / `phrase_prefix`: each field
    * contributes its BM25 score only for docs where the PHRASE
    * matches in that field (prefix variant leaves the trailing term
    * open), combined best-fields. The phrase gate is the codegen'd
    * substring/boundary predicate; index-wide df statistics are kept
    * (ES semantics) by scoring first and semi-joining the gate. */
  def multiMatchPhraseTopK(
      docs: DataFrame,
      idCol: String,
      fields: Seq[String],
      query: String,
      k: Int,
      prefix: Boolean = false): DataFrame = {
    require(fields.nonEmpty, "multiMatchPhraseTopK needs at least one field")
    // the phrase gate rides NEXT TO the score through the one-pass
    // kernel (df/avgdl stay index-wide — the gate selects hits, it
    // does not reshape term statistics) and filters after scoring,
    // replacing the old per-field corpus re-scan + semi-join
    val gated = fields.map { f =>
      f -> (if (prefix) matchPhrasePrefix(col(f), query) else matchPhrase(col(f), query))
    }
    bm25PerFieldScores(docs, idCol, gated, query)
      .where(col("gate"))
      .groupBy(col("id"))
      .agg(Num.round(max(col("score")), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `rank_feature` query (saturation function): score = x / (x +
    * pivot) — the sub-linear boost ES applies to numeric feature
    * fields (pagerank, url_length...). Pure codegen'd column math. */
  def rankFeatureTopK(
      docs: DataFrame,
      idCol: String,
      featureField: String,
      pivot: Double,
      k: Int): DataFrame = {
    val x = col(featureField).cast("double")
    docs.select(
      col(idCol).as("id"),
      Num.round(x / (x + pivot), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** rank_feature's other functions: `log` (scaling_factor *
    * ln(1 + x)) and `sigmoid` (x^exp / (x^exp + pivot^exp)) — the
    * same closed-form codegen'd column math as saturation. */
  def rankFeatureLogTopK(
      docs: DataFrame, idCol: String, featureField: String,
      scalingFactor: Double, k: Int): DataFrame = {
    val x = col(featureField).cast("double")
    docs.select(col(idCol).as("id"),
      Num.round(lit(scalingFactor) * log(lit(1.0) + x), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  def rankFeatureSigmoidTopK(
      docs: DataFrame, idCol: String, featureField: String,
      pivot: Double, exponent: Double, k: Int): DataFrame = {
    val x = col(featureField).cast("double")
    docs.select(col(idCol).as("id"),
      Num.round(pow(x, exponent) / (pow(x, exponent) + lit(math.pow(pivot, exponent))),
        4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `dis_max` with `tie_breaker`: the best subquery's score plus
    * tie_breaker times the others' — ES's disjunction-max scoring
    * (multi_match best_fields is this with tie_breaker 0). Each
    * subquery contributes an unranked (id, score) frame; fusion is
    * union + ONE partial-aggregating groupBy computing max and sum
    * (best + tie * (sum - best)), no join. */
  def disMaxTopK(
      subqueries: Seq[DataFrame],
      tieBreaker: Double,
      k: Int): DataFrame = {
    require(subqueries.nonEmpty, "dis_max needs at least one subquery")
    subqueries.map(_.select(col("id"), col("score").as("s")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(max(col("s")).as("best"), sum(col("s")).as("total"))
      .select(col("id"),
        Num.round(col("best") + lit(tieBreaker) * (col("total") - col("best")), 4)
          .as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `scroll` / point-in-time deep export: pages of `pageSize` docs in
    * (sortCol asc, id asc) order, each page ONE TakeOrderedAndProject
    * driven by a search_after cursor — no global offset skip (offset N
    * costs O(N) everywhere; the cursor predicate costs O(page) and
    * pushes into the scan). The iterator is lazy: each `next()` runs
    * one bounded job, so a caller can stop after any page without
    * paying for the rest — the stop-anytime sampling pattern.
    *
    * NOT the tool for a FULL export: every page re-scans the remaining
    * corpus, so draining N docs costs O(pages × scan). Exporting
    * everything is what SLICED scroll is for (the q_slice shape:
    * disjoint deterministic md5-hash slices, each worker scans its
    * slice exactly once, embarrassingly parallel). Rule of thumb:
    * pages for "first k / peek / cursor UI", slices for "drain the
    * index". */
  def scrollPages(
      docs: DataFrame,
      idCol: String,
      sortCol: String,
      pageSize: Int): Iterator[Seq[org.apache.spark.sql.Row]] =
    new Iterator[Seq[org.apache.spark.sql.Row]] {
      private var cursor: Option[(Any, Any)] = None
      private var pending: Option[Seq[org.apache.spark.sql.Row]] = None
      private var done = false
      private def fetch(): Unit = if (!done && pending.isEmpty) {
        val base = cursor match {
          case None => docs
          case Some((sv, iv)) => docs.where(
            col(sortCol) > lit(sv) || (col(sortCol) === lit(sv) && col(idCol) > lit(iv)))
        }
        val page = base.orderBy(col(sortCol).asc, col(idCol).asc)
          .limit(pageSize).collect().toSeq
        if (page.isEmpty) done = true
        else {
          val r = page.last
          cursor = Some((r.getAs[Any](sortCol), r.getAs[Any](idCol)))
          if (page.size < pageSize) done = true
          pending = Some(page)
        }
      }
      def hasNext: Boolean = { fetch(); pending.nonEmpty }
      def next(): Seq[org.apache.spark.sql.Row] = {
        fetch()
        val p = pending.getOrElse(throw new NoSuchElementException("scroll exhausted"))
        pending = None
        p
      }
    }

  /** `_msearch`: a BATCH of queries answered in ONE scan. Each doc
    * evaluates every predicate into an array of matched query ids,
    * explodes (only matches survive), and a per-query window keeps the
    * top `k` by `sortCol`. ES runs msearch as independent searches;
    * at 100 TB one shared scan with N cheap codegen'd predicates beats
    * N scans by ~N — the window partitions by query id, so state per
    * partition is k rows. */
  def msearch(
      docs: DataFrame,
      idCol: String,
      queries: Seq[(String, Column)],
      sortCol: String,
      k: Int): DataFrame = {
    require(queries.nonEmpty, "msearch needs at least one query")
    val flags = array(queries.map { case (qid, pred) =>
      when(pred, lit(qid)).otherwise(lit(null))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col(sortCol).desc, col(idCol).asc)
    docs
      .select(col(idCol), col(sortCol), explode(flags).as("qid"))
      .where(col("qid").isNotNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol).as("id"), col(sortCol))
      .orderBy(col("qid").asc, col("rank").asc)
  }

  /** `_terms_enum`: sorted discovery of a keyword field's distinct
    * values under a prefix (the auto-complete-on-keyword API, ES
    * 7.14). The prefix predicate pushes to the scan, the distinct is
    * a partial aggregation over only the matching terms, and the
    * ordered limit is a TakeOrderedAndProject on the (tiny) term
    * frame — at 100 TB cost tracks the matching-term cardinality,
    * not the corpus. */
  def termsEnum(
      docs: DataFrame,
      field: String,
      prefix: String,
      size: Int,
      caseInsensitive: Boolean = false): DataFrame = {
    val (key, p) =
      if (caseInsensitive) (lower(col(field)), prefix.toLowerCase)
      else (col(field), prefix)
    docs.where(key.startsWith(p))
      .select(key.as("term")).distinct()
      .orderBy(col("term").asc)
      .limit(size)
  }

  /** `_msearch/template`: a batch of templated searches — each body
    * is a full `_search/template` payload (`source` or stored-`id` +
    * `params`), rendered and compiled driver-side, then answered in
    * msearch's ONE shared scan. Template rendering never touches the
    * plan: N templated queries cost the same as N inline ones. */
  def msearchTemplate(
      docs: DataFrame,
      idCol: String,
      requests: Seq[(String, String)],
      sortCol: String,
      k: Int): DataFrame =
    msearch(docs, idCol,
      requests.map { case (qid, body) =>
        qid -> graft.dsl.SearchTemplate.compile(body, idField = idCol)
      }, sortCol, k)

  /** ES 8 hybrid retrieval: reciprocal-rank fusion (`retriever.rrf`).
    * Each retriever frame is an unranked (id, score); RRF takes each
    * one's `windowSize` best hits (TakeOrderedAndProject — the only
    * part that touches the corpus-sized frames), ranks within the tiny
    * window, and scores docs by sum of 1/(rankConstant + rank).
    * Fusion itself is union + one partial-aggregating groupBy over
    * at most retrievers*windowSize rows — no join, no corpus shuffle.
    * This is the BM25+knn hybrid-search pattern for RAG retrieval. */
  def rrfTopK(
      retrievers: Seq[DataFrame],
      rankConstant: Int = 60,
      windowSize: Int = 100,
      k: Int = 10): DataFrame = {
    require(retrievers.nonEmpty, "rrf needs at least one retriever")
    // rank within an already-window-limited frame: the single-partition
    // window here only ever sees windowSize rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id").asc)
    val contribs = retrievers.map { r =>
      r.select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc).limit(windowSize)
        .withColumn("rank", row_number().over(w))
        .select(col("id"),
          (lit(1.0) / (lit(rankConstant.toDouble) + col("rank"))).as("contrib"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy("id")
      .agg(
        Num.round(sum(col("contrib")), 4).as("rrf_score"),
        count(lit(1)).cast("int").as("matched"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(k)
  }

  /** `script_score` query: the inner query gates (filter semantics);
    * the Painless script REPLACES the score. The script compiles once
    * on the driver to codegen'd Column math (graft.dsl.Painless), so a
    * scripted score costs the same as a built-in scoring function —
    * narrow projection + one TakeOrderedAndProject, no interpreter in
    * the row loop. `scoreCol` feeds the script's `_score` (pass the
    * BM25 column when the inner query is a scoring clause; ES gives
    * filter-only queries _score = 1.0, the default here). */
  def scriptScoreTopK(
      docs: DataFrame,
      idCol: String,
      query: Column,
      script: String,
      params: Map[String, Any],
      k: Int,
      scoreCol: Column = lit(1.0)): DataFrame = {
    val scored = graft.dsl.Painless.compile(script, params, scoreCol)
    docs.where(query)
      .select(col(idCol).as("id"), Num.round(scored, 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `distance_feature` query: relevance decays with geo distance from
    * an origin — score = pivot / (pivot + distance_km), ES's reciprocal
    * decay. Same shape as rank_feature: narrow scoring math + one
    * TakeOrderedAndProject; the haversine is codegen'd column math
    * (Relational.haversineKm). */
  def distanceFeatureTopK(
      docs: DataFrame,
      idCol: String,
      latCol: String,
      lonCol: String,
      originLat: Double,
      originLon: Double,
      pivotKm: Double,
      k: Int): DataFrame = {
    val d = graft.rel.Relational.haversineKm(
      col(latCol), col(lonCol), lit(originLat), lit(originLon))
    docs.select(
      col(idCol).as("id"),
      Num.round(lit(pivotKm) / (lit(pivotKm) + d), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Fuzzy `match`: fuzziness INSIDE full text — per query token, the
    * document must hold an analyzed token within `maxEdits`; tokens
    * combine with OR (default) or AND per the match `operator`, like
    * `{"match": {f: {"query": q, "fuzziness": n, "operator": ...}}}`. */
  def matchQueryFuzzy(
      field: Column, query: String, maxEdits: Int, andOperator: Boolean = false): Column =
    matchQueryFuzzyPerTerm(field, query, _ => maxEdits, andOperator)

  /** ES `"fuzziness": "AUTO"` — the edit budget scales with term
    * length: 0 edits for 1-2 chars, 1 for 3-5, 2 for 6+. A flat cap
    * over-matches short terms badly (levenshtein <= 2 of a 3-char
    * token is most of the alphabet). */
  def matchQueryFuzzyAuto(
      field: Column, query: String, andOperator: Boolean = false): Column =
    matchQueryFuzzyPerTerm(field, query,
      t => if (t.length < 3) 0 else if (t.length < 6) 1 else 2, andOperator)

  private def matchQueryFuzzyPerTerm(
      field: Column, query: String, edits: String => Int, andOperator: Boolean): Column = {
    val q = Analyzer.analyze(query)
    require(q.nonEmpty, s"fuzzy match analyzed to zero tokens: $query")
    val toks = Analyzer.tokens(field)
    val perTerm = q.map { term =>
      val n = edits(term)
      if (n == 0) array_contains(toks, term)
      else exists(toks, t => levenshtein(t, lit(term)) <= n)
    }
    if (andOperator) perTerm.reduce(_ && _) else perTerm.reduce(_ || _)
  }

  /** Phrase suggester: corrections for a two-term phrase from the
    * corpus's own bigram vocabulary — bigrams whose words are each
    * within `maxEdits` of the corresponding input term, ranked by
    * document frequency. The bigram vocabulary aggregation is the one
    * shuffle (same shape as the term suggester); the levenshtein
    * filter runs on the (tiny) vocabulary frame. */
  def phraseSuggest(
      docs: DataFrame, textCol: String, phrase: String,
      maxEdits: Int = 1, k: Int = 5): DataFrame = {
    val terms = Analyzer.analyze(phrase)
    require(terms.length == 2, s"phraseSuggest takes a two-term phrase: $phrase")
    val joined = terms.mkString(" ")
    docs
      .select(explode(Analyzer.shingles(Analyzer.tokens(col(textCol)), 2)).as("bigram"))
      // length-band prune BELOW the vocabulary aggregation: each word
      // of a candidate bigram must sit within maxEdits of its input
      // term's length, so the partial-agg hash table and the exchange
      // carry the feasible band, not the full corpus bigram vocabulary.
      // substring_index (codegen'd) splits without building an array.
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .where(abs(length(col("w1")) - lit(terms.head.length)) <= maxEdits &&
        abs(length(col("w2")) - lit(terms(1).length)) <= maxEdits)
      .groupBy(col("bigram"), col("w1"), col("w2")).agg(count(lit(1)).as("freq"))
      .where(col("bigram") =!= joined &&
        levenshtein(col("w1"), lit(terms.head)) <= maxEdits &&
        levenshtein(col("w2"), lit(terms(1))) <= maxEdits)
      .select(col("bigram").as("suggestion"), col("freq"))
      .orderBy(col("freq").desc, col("suggestion").asc)
      .limit(k)
  }

  /** Highlighting: the first match window (up to 3 tokens of context
    * each side) with the hit wrapped in <em> tags. Narrow per-row
    * regex; only matching docs are scanned thanks to the pushdown-able
    * match predicate. */
  def highlight(docs: DataFrame, idCol: String, textCol: String, term: String): DataFrame =
    docs
      .where(matchQuery(col(textCol), analyzedHighlightTerm(term)))
      .select(col(idCol).as("id"), highlightCol(col(textCol), term).as("snippet"))
      .orderBy(col("id").asc)

  /** The analyzed single token behind a highlight request — shared by
    * the operator and the `_search`-body front door so the guard and
    * the snippet regex can't diverge. */
  def analyzedHighlightTerm(term: String): String = {
    // analyze first (mirrors the guarding matchQuery: "Merge" and
    // "c++" become their analyzed token), then quote — the raw input
    // must never reach the regex engine as pattern syntax.
    val analyzed = Analyzer.analyze(term)
    require(analyzed.length == 1, s"highlight takes a single term: $term")
    analyzed.head
  }

  /** The `highlight` snippet as a bare column (±3-word context window,
    * `<em>` wrapping) — lets the `_search` body attach a snippet next
    * to the hit's own columns instead of returning a separate frame. */
  def highlightCol(textCol: Column, term: String,
      preTag: String = "<em>", postTag: String = "</em>"): Column = {
    val t = analyzedHighlightTerm(term)
    val quoted = java.util.regex.Pattern.quote(t)
    val replacement = java.util.regex.Matcher.quoteReplacement(s"$preTag$t$postTag")
    regexp_replace(
      regexp_extract(lower(textCol), s"([a-z0-9]+ ){0,3}\\b$quoted\\b( [a-z0-9]+){0,3}", 0),
      s"\\b$quoted\\b", replacement)
  }

  /** Multi-term `highlight` with `number_of_fragments`: one ±3-word
    * context window per distinct query term (ES's fragment-per-match
    * shape), empty misses dropped, capped at `numFragments`, joined
    * with the fragment separator. All codegen'd string/array builtins
    * — per-term regexes are compiled once per task, no HOF. */
  def highlightFragments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      numFragments: Int): DataFrame =
    docs.where(matchQuery(col(textCol), query))
      .select(col(idCol).as("id"),
        highlightFragmentsCol(col(textCol), query, numFragments).as("snippet"))
      .orderBy(col("id").asc)

  /** The multi-term fragment snippet as a bare column (one ±3-word
    * window per distinct query term, empty misses dropped, capped at
    * `numFragments`, " ... " separator) — shared by the operator and
    * the `_search`-body highlight so the fragment shape can't
    * diverge. */
  def highlightFragmentsCol(textCol: Column, query: String, numFragments: Int,
      preTag: String = "<em>", postTag: String = "</em>"): Column = {
    val terms = Analyzer.analyze(query).distinct
    require(terms.nonEmpty, s"highlight needs at least one analyzed term: $query")
    val frags = terms.map { t =>
      val quoted = java.util.regex.Pattern.quote(t)
      val repl = java.util.regex.Matcher.quoteReplacement(s"$preTag$t$postTag")
      regexp_replace(
        regexp_extract(lower(textCol),
          s"([a-z0-9]+ ){0,3}\\b$quoted\\b( [a-z0-9]+){0,3}", 0),
        s"\\b$quoted\\b", repl)
    }
    concat_ws(" ... ", slice(array_remove(array(frags: _*), ""), 1, numFragments))
  }

  /** Highlighter `order: "score"` (the FVH fragment-ranking mode):
    * fragments are ranked by the sum of BM25 idf weights of the query
    * terms they CONTAIN — a context window around one term can swallow
    * a second, rarer term and outrank that term's own window — and the
    * top `numFragments` survive, highest-scored first. Windows come
    * from the same per-term regexes as highlightFragments; (N, df per
    * term) come from ONE corpus aggregate broadcast as a 1-row frame,
    * so the per-row work stays a narrow projection. */
  def highlightFragmentsByScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      numFragments: Int): DataFrame = {
    val terms = Analyzer.analyze(query).distinct
    require(terms.nonEmpty, s"highlight needs at least one analyzed term: $query")
    val toks = Analyzer.tokens(col(textCol))
    val statAggs = count(lit(1)).cast("double").as("n_docs") +:
      terms.map(t => sum(when(array_contains(toks, t), 1).otherwise(0))
        .cast("double").as(s"df_$t"))
    val statCols = "n_docs" +: terms.map(t => s"df_$t")
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    def idf(u: String): Column = bm25Idf(col("n_docs"), col(s"df_$u"))
    // materialize each term's window ONCE as a named column before the
    // scoring tree references it — the full-text regex is the dominant
    // cost, and inside the struct/score expressions it would be
    // re-evaluated per reference (4.99 s -> regex-once brings it in
    // line with the other highlight queries)
    val fragCols = terms.zipWithIndex.map { case (t, i) =>
      val quoted = java.util.regex.Pattern.quote(t)
      val repl = java.util.regex.Matcher.quoteReplacement(s"<em>$t</em>")
      regexp_replace(
        regexp_extract(lower(col(textCol)),
          s"([a-z0-9]+ ){0,3}\\b$quoted\\b( [a-z0-9]+){0,3}", 0),
        s"\\b$quoted\\b", repl).as(s"_f$i")
    }
    val fragStructs = terms.indices.map { i =>
      val frag = col(s"_f$i")
      val ftoks = split(regexp_replace(frag, "</?em>", ""), " ")
      // fixed fold order (the analyzed term order) so the float sum
      // is reproducible on both engines
      val score = terms.map(u =>
        when(array_contains(ftoks, u), idf(u)).otherwise(lit(0.0))).reduce(_ + _)
      struct((-score).as("ns"), frag.as("frag"))
    }
    docs.where(matchQuery(col(textCol), query))
      .crossJoin(broadcast(stats))
      .select(col(idCol).as("id") +: (statCols.map(col) ++ fragCols): _*)
      .select(
        col("id"),
        concat_ws(" ... ", transform(
          slice(sort_array(filter(array(fragStructs: _*),
            s => s.getField("frag") =!= "")), 1, numFragments),
          s => s.getField("frag"))).as("snippet"))
      .orderBy(col("id").asc)
  }

  /** `percolate`: reverse search — a registry of stored queries is
    * matched AGAINST each document. Queries are compiled once on the
    * driver (they're Query-DSL strings); per document, the matched
    * query ids come from one array-valued projection (N codegen'd
    * predicates per row, no join, no shuffle) — the Spark-native shape
    * of ES's percolator index. */
  def percolate(
      docs: DataFrame,
      idCol: String,
      storedQueries: Seq[(String, Column)]): DataFrame = {
    val matched = array(storedQueries.map { case (qid, pred) =>
      when(pred, lit(qid)).otherwise(lit(null))
    }: _*)
    docs.select(
      col(idCol).as("id"),
      filter(matched, x => x.isNotNull).as("matched_queries"))
      .where(size(col("matched_queries")) > 0)
      .select(col("id"), explode(col("matched_queries")).as("query_id"))
      .orderBy(col("id").asc, col("query_id").asc)
  }

  /** Percolation for LARGE query registries: stored conjunctive
    * term-set queries live in a TABLE of (query_id, terms) and match
    * via ONE exploded-token join + per-(doc, query) count comparison —
    * the inverted-index shape of ES's percolator field. The compiled
    * form (`percolate`) inlines every stored query into the plan and
    * caps at a few hundred queries before codegen blows up; this scales
    * to millions of stored queries (the registry broadcasts, the
    * corpus explodes only tokens appearing in some query). */
  def percolateTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      registry: DataFrame): DataFrame = {
    val q = registry.select(
      col("query_id"),
      explode(col("terms")).as("term"),
      size(col("terms")).as("n_terms"))
    // no broadcast hint: small registries broadcast via AQE on their
    // own, and a millions-of-queries registry must be free to fall
    // back to a shuffle join instead of hitting the broadcast limit
    docs
      .select(col(idCol).as("id"), explode(Analyzer.termSet(col(textCol))).as("term"))
      .join(q, "term")
      .groupBy(col("id"), col("query_id"), col("n_terms"))
      .agg(count(lit(1)).as("matched"))
      .where(col("matched") === col("n_terms"))
      .select(col("id"), col("query_id"))
      .orderBy(col("id").asc, col("query_id").asc)
  }

  /** Percolation for LARGE registries over a bounded DSL subset:
    * each stored query is a DATA row
    * `(query_id, terms, range_field, range_min, range_max, phrase)` —
    * a conjunctive term set, an optional numeric range
    * (`field in [min, max)`, null range_field = no range clause) and
    * an optional phrase (consecutive analyzed tokens, null = none).
    * That covers the `bool{ filter: terms + range + match_phrase }`
    * class of percolator queries, evaluated entirely as data:
    *
    *  1. per query, ONE SELECTOR TERM — the corpus-rarest of its
    *     conjunctive terms (df from one corpus aggregate; a term
    *     absent from the corpus has df 0 and kills the query's
    *     candidates outright). A doc can only match a conjunction if
    *     it contains the rarest term, so joining doc-tokens against
    *     selectors alone yields a complete candidate superset — this
    *     is ES's percolator candidate-selection trick, and it is
    *     load-bearing: joining on ALL terms explodes when a stopword-
    *     grade term appears in a large fraction of stored queries
    *     (500k-query probe: ~10^10 joined rows, disk-full spill);
    *     the selector join is bounded by the rarest term's postings;
    *  2. the full conjunction verified on candidates only, keyed on
    *     (id, term) — output bounded by candidates × terms-per-query;
    *  3. range + phrase verified on the surviving pairs, as
    *     data-driven column predicates (range_field dispatches over
    *     `numericFields` via one CASE; the phrase check is a
    *     substring scan of the space-joined token stream).
    *
    * Registry scales to millions of rows (it is never inlined into
    * the plan); the corpus shuffles only (token, id) pairs. */
  def percolateDsl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      registry: DataFrame,
      numericFields: Seq[String]): DataFrame = {
    // r18: ONE term-keyed exchange replaces the r17 cache+count. The
    // three consumers (df stats, candidate join, conjunction verify)
    // all read the SAME repartition exchange via ReusedExchange, so
    // the scan + tokenize + explode runs once WITHIN the query's own
    // plan — no eager count job, no pinned storage blocks, no final
    // localCheckpoint to release them, and shuffle files scale past
    // what the storage pool could pin at 100 TB (§2.4 within-plan
    // reuse). Exchange reuse is SUBTREE EQUALITY, so the branches must
    // not be pruned apart: the explicit isNotNull mirrors the filter
    // the id-keyed joins push into their branches anyway, and df
    // counts col("id") (identical to count(1) under that filter) so
    // column pruning cannot narrow the df branch's scan — verified in
    // plans/r18: one documents scan, ReusedExchange reads.
    // Output unchanged: a null-id doc can never reach the output (it
    // is keyed by id), and df stats only pick WHICH conjunctive term
    // selects candidates — any term yields a complete superset and the
    // full conjunction is re-verified after.
    val docTerms = docs
      .select(col(idCol).as("id"), explode(Analyzer.termSet(col(textCol))).as("term"))
      .where(col("id").isNotNull)
      .repartition(col("term"))
    val dfStats = docTerms.groupBy(col("term")).agg(count(col("id")).as("df"))
    val q = registry.select(
      col("query_id"),
      explode(col("terms")).as("term"),
      size(col("terms")).as("n_terms"))
    val selW = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("df").asc, col("term").asc)
    val selector = q
      .join(dfStats, Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("_rn", row_number().over(selW))
      .where(col("_rn") === 1)
      .select(col("term"), col("query_id"))
    val cand = docTerms.join(selector, "term")
      .select(col("id"), col("query_id"))
    val matched = cand
      .join(q.select(col("query_id"), col("term"), col("n_terms")), "query_id")
      .join(docTerms, Seq("id", "term"), "left_semi")
      .groupBy(col("id"), col("query_id"))
      .agg(count(lit(1)).as("matched"), first(col("n_terms")).as("n_terms"))
      .where(col("matched") === col("n_terms"))
      .select(col("id"), col("query_id"))
    val docSide = docs.select(
      (col(idCol).as("id") +:
        concat(lit(" "), concat_ws(" ", Analyzer.tokens(col(textCol))), lit(" "))
          .as("_joined") +:
        numericFields.map(f => col(f))): _*)
    val fieldVal = numericFields.foldRight(lit(null).cast("double")) {
      case (f, other) => when(col("range_field") === f, col(f).cast("double")).otherwise(other)
    }
    val out = matched
      .join(docSide, "id")
      .join(registry.select(col("query_id"), col("range_field"),
        col("range_min"), col("range_max"), col("phrase")), "query_id")
      .where(
        (col("range_field").isNull ||
          (fieldVal >= col("range_min") && fieldVal < col("range_max"))) &&
        (col("phrase").isNull ||
          col("_joined").contains(concat(lit(" "), col("phrase"), lit(" ")))))
      .select(col("id"), col("query_id"))
      .orderBy(col("id").asc, col("query_id").asc)
    out
  }

  /** Percolation for LARGE registries of ARBITRARY nested bool trees —
    * the generalization of percolateDsl's flat conjunction class. Each
    * stored query is a SET of clause rows
    * `(query_id, path, kind, term, range_field, range_min, range_max,
    * phrase, msm)`:
    *
    *  - `path` encodes the tree position as `occ.idx` segments joined
    *    by `/` — e.g. `must.0`, `must.1/should.0`, `""` = the root
    *    bool node. The occurrence (`must` / `filter` / `should` /
    *    `must_not`) lives IN the child's path, so inner bool rows
    *    (`kind = 'bool'`) exist only to carry `minimum_should_match`.
    *  - leaf kinds: `term` (analyzed token present), `range`
    *    (`range_field` in `[range_min, range_max)`, dispatched over
    *    `numericFields`), `phrase` (consecutive analyzed tokens).
    *
    * Candidate selection keeps the percolator's rarest-term trick,
    * generalized: a leaf whose path contains no `should`/`must_not`
    * edge is REQUIRED (the root can only match if it does), so per
    * query the corpus-rarest required term (phrase tokens included)
    * is the selector, and the selector join bounds candidates by that
    * term's postings. Queries with NO required leaf (pure-should /
    * pure-negation roots) cannot be term-selected and fall back to
    * match-all candidates — loudly the expensive class, kept correct;
    * ES's percolator verifies the same class against every doc.
    *
    * Evaluation is data-driven bottom-up: every leaf evaluates once
    * per candidate pair, then one groupBy per tree LEVEL folds
    * children into their parent (must = all, should = >= msm with the
    * ES default — explicit msm, else 1 when the node has no must
    * children, else 0 — must_not = none). Shuffle count is bounded by
    * the registry's max depth, never by its row count; the registry is
    * never inlined into the plan, so it scales to millions of clause
    * rows. */
  def percolateBool(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      registry: DataFrame,
      numericFields: Seq[String]): DataFrame = {
    val leaves = registry.where(col("kind") =!= "bool")
    val bools = registry.where(col("kind") === "bool")
      .select(col("query_id"), col("path").as("_bpath"), col("msm"))
    // registry validation as ONE job (distinct bad kinds + max depth):
    // unknown kinds evaluate as NOTHING in the leaf union — the query
    // would silently lose clauses — and an empty/leafless registry has
    // no defined fold depth. A NULL kind is unknown too: it is named
    // "<null>" so collect_set (which skips NULLs) reports it.
    val knownKinds = Set("bool", "term", "range", "phrase", "prefix", "wildcard")
    val depthOf = when(col("path") === "", lit(0))
      .otherwise(size(split(col("path"), "/")))
    val kind = coalesce(col("kind"), lit("<null>"))
    val vRow = registry.agg(
      collect_set(when(!kind.isInCollection(knownKinds), kind)).as("bad"),
      max(depthOf).as("d")).head()
    val badKinds = vRow.getSeq[String](0)
    require(badKinds.isEmpty,
      s"percolateBool: unknown clause kind(s) ${badKinds.mkString(", ")}")
    require(!vRow.isNullAt(1) && vRow.getInt(1) >= 1,
      "percolateBool needs a non-empty registry with at least one leaf clause")
    val maxDepth = vRow.getInt(1)

    // one term-keyed exchange shared by BOTH corpus-term consumers
    // (df stats, candidate join) via ReusedExchange — the percolateDsl
    // rationale and the same pruning-alignment tricks (explicit
    // isNotNull, df counts the id column); nothing is cached or
    // checkpointed.
    val docTerms = docs
      .select(col(idCol).as("id"), explode(Analyzer.termSet(col(textCol))).as("term"))
      .where(col("id").isNotNull)
      .repartition(col("term"))
    val dfStats = docTerms.groupBy(col("term")).agg(count(col("id")).as("df"))

    // required terms: term leaves (and phrase tokens) on pure-must
    // paths — every edge above them is must/filter
    val pureMust = !col("path").contains("should") && !col("path").contains("must_not")
    val required = leaves.where(col("kind") === "term" && pureMust)
      .select(col("query_id"), col("term"))
      .unionByName(leaves.where(col("kind") === "phrase" && pureMust)
        .select(col("query_id"), explode(split(col("phrase"), " ")).as("term")))
    // rarest required term as a min_by PARTIAL agg — no sort+window
    // (one combiner-side exchange instead of a per-query sort)
    val selector = required
      .join(dfStats, Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("query_id"))
      .agg(min_by(col("term"), struct(col("df"), col("term"))).as("term"))
      .select(col("term"), col("query_id"))
    val unselective = registry.select(col("query_id")).distinct()
      .join(selector.select(col("query_id")), Seq("query_id"), "left_anti")
    val cand = docTerms.join(selector, "term").select(col("id"), col("query_id"))
      .unionByName(docs.select(col(idCol).as("id")).crossJoin(unselective))

    // one evaluated row per (candidate pair, leaf) — absent matches
    // surface as ok=false rows, never as missing rows (must_not and
    // should folds need the full child set)
    val docSide = docs.select(
      (col(idCol).as("id") +:
        Analyzer.tokens(col(textCol)).as("_toks") +:
        concat(lit(" "), concat_ws(" ", Analyzer.tokens(col(textCol))), lit(" "))
          .as("_joined") +:
        numericFields.map(f => col(f))): _*)
    val fieldVal = numericFields.foldRight(lit(null).cast("double")) {
      case (f, other) => when(col("range_field") === f, col(f).cast("double")).otherwise(other)
    }
    def evalLeaves(lv: DataFrame): DataFrame = {
      val candLeaf = cand.join(lv, "query_id")
      // r17: term leaves used to take a separate (id, term) join
      // against the exploded docTerms frame, unioned with the docSide
      // join the other four kinds need — but union branches execute
      // regardless of which kinds the registry holds, so the doc-side
      // tokenize ran in every percolation anyway. ONE join against
      // docSide now evaluates every kind (term presence =
      // array_contains over the same analyzer's token stream — the
      // vocabulary termSet/tokens share), dropping the extra exchange
      // of the exploded term frame and the union.
      candLeaf
        .join(docSide, "id")
        // ES wildcard -> SQL LIKE: escape LIKE's own metachars, then
        // * -> % and ? -> _ (stored in the `term` column, like prefix)
        .withColumn("_wpat",
          replace(replace(replace(replace(replace(col("term"),
            lit("\\"), lit("\\\\")), lit("%"), lit("\\%")), lit("_"), lit("\\_")),
            lit("*"), lit("%")), lit("?"), lit("_")))
        .select(col("id"), col("query_id"), col("path"),
          when(col("kind") === "term", array_contains(col("_toks"), col("term")))
            .when(col("kind") === "range",
              fieldVal >= col("range_min") && fieldVal < col("range_max"))
            .when(col("kind") === "phrase",
              col("_joined").contains(concat(lit(" "), col("phrase"), lit(" "))))
            // a token starts with the prefix iff " <prefix>" occurs
            .when(col("kind") === "prefix",
              col("_joined").contains(concat(lit(" "), col("term"))))
            .otherwise(expr("exists(_toks, t -> t LIKE _wpat)"))
            .as("ok"))
    }

    // bottom-up fold: one level at a time, deepest first; depth is a
    // property of the stored tree shape (collected as one scalar),
    // so the loop — and the shuffle count — is bounded by structure,
    // not data. Each level's LEAF SLICE is its own frame (the depth
    // filter applies on the small registry side, before the candidate
    // joins), and the fold carry chains LINEARLY: every candidate ×
    // leaf join appears exactly once in the final plan. The first cut
    // carried the whole union forward and re-filtered it per level —
    // union branches execute regardless of runtime filters, so leaf
    // evaluation ran ~2^depth times.
    val parentExpr = expr("CASE WHEN instr(path, '/') = 0 THEN '' " +
      "ELSE substr(path, 1, length(path) - instr(reverse(path), '/')) END")
    val occExpr = element_at(
      split(element_at(split(col("path"), "/"), -1), "\\."), 1)
    var carry: Option[DataFrame] = None
    for (d <- maxDepth to 1 by -1) {
      val isMust = col("occ") === "must" || col("occ") === "filter"
      val levelIn = carry.foldLeft(
        evalLeaves(leaves.where(depthOf === d)))(_ unionByName _)
      val folded = levelIn
        .withColumn("parent", parentExpr)
        .withColumn("occ", occExpr)
        .groupBy(col("id"), col("query_id"), col("parent"))
        .agg(
          sum(when(isMust, 1).otherwise(0)).as("n_must"),
          sum(when(isMust && col("ok"), 1).otherwise(0)).as("must_ok"),
          sum(when(col("occ") === "should", 1).otherwise(0)).as("n_should"),
          sum(when(col("occ") === "should" && col("ok"), 1).otherwise(0)).as("should_ok"),
          sum(when(col("occ") === "must_not" && col("ok"), 1).otherwise(0)).as("mustnot_hits"))
        .join(bools.withColumnRenamed("_bpath", "parent"),
          Seq("query_id", "parent"), "left")
        .withColumn("msm_eff",
          coalesce(col("msm"), when(col("n_must") > 0, 0).otherwise(1)))
        .select(col("id"), col("query_id"), col("parent").as("path"),
          (col("must_ok") === col("n_must") && col("mustnot_hits") === 0 &&
            (col("n_should") === 0 || col("should_ok") >= col("msm_eff"))).as("ok"))
      carry = Some(folded)
    }
    // after the last fold every surviving row sits at the root
    carry.get.where(col("ok"))
      .select(col("id"), col("query_id"))
      .orderBy(col("id").asc, col("query_id").asc)
  }

  /** `more_like_this`: take the seed document's top-`m` terms by term
    * frequency (tie-broken by term asc), then find other documents
    * containing at least `minMatch` of them. Seed term extraction is a
    * tiny aggregate over one document; the candidate scan is a narrow
    * filter over the corpus — no O(corpus) shuffle.
    */
  def moreLikeThis(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seedId: Long,
      m: Int = 5,
      minMatch: Int = 2,
      unlikeId: Option[Long] = None): DataFrame = {
    // `unlike`: terms of the negative example are EXCLUDED from the
    // seed's interesting-term selection (ES's unlike semantics) —
    // the exclusion happens before the top-m cut, so the selection
    // backfills with the next-most-frequent seed terms
    val rawSeed = docs
      .where(col(idCol) === seedId)
      .select(explode(Analyzer.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val filteredSeed = unlikeId match {
      case Some(uid) =>
        rawSeed.join(
          docs.where(col(idCol) === uid)
            .select(explode(Analyzer.termSet(col(textCol))).as("term")),
          Seq("term"), "left_anti")
      case None => rawSeed
    }
    val seedTerms = filteredSeed
      .orderBy(col("tf").desc, col("term").asc)
      .limit(m)

    val toks = docs.select(
      col(idCol).as("id"),
      Analyzer.termSet(col(textCol)).as("terms"))

    toks
      .where(col("id") =!= seedId)
      .crossJoin(broadcast(seedTerms.agg(collect_list(col("term")).as("seed_terms"))))
      .withColumn(
        "overlap",
        size(array_intersect(col("terms"), array_sort(col("seed_terms")))))
      .where(col("overlap") >= minMatch)
      .select(col("id"), col("overlap"))
      .orderBy(col("overlap").desc, col("id").asc)
  }

  /** The `_rank_eval` API: search-quality metrics of a ranked result
    * set against graded relevance ratings — precision@k, recall@k,
    * MRR and DCG@k per query. `results` = (query_id, id, rank),
    * `ratings` = (query_id, id, rating); ratings are the small frame
    * (human-judged lists) and broadcast, so the ranked results never
    * shuffle for the join — one partial-aggregating groupBy ends the
    * plan. */
  def rankEval(results: DataFrame, ratings: DataFrame, k: Int): DataFrame = {
    val topK = results.where(col("rank") <= k)
      .join(broadcast(ratings), Seq("query_id", "id"), "left")
      .withColumn("rel", coalesce(col("rating"), lit(0)) > 0)
    val totalRel = ratings.where(col("rating") > 0)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    topK
      .groupBy(col("query_id"))
      .agg(
        // precision = relevant_retrieved / RETRIEVED (ES divides by the
        // rows actually in the top k, not by the constant k — a query
        // returning fewer than k hits is not penalized for the gap)
        Num.round(sum(when(col("rel"), 1.0).otherwise(0.0)) /
          count(lit(1)).cast("double"), 4).as("precision_k"),
        // MRR: reciprocal of the FIRST relevant rank (0 when none)
        Num.round(coalesce(lit(1.0) /
          min(when(col("rel"), col("rank"))), lit(0.0)), 4).as("mrr"),
        // DCG@k with the standard (2^rating - 1) / log2(rank + 1) gain
        Num.round(sum(when(col("rel"),
          (pow(lit(2.0), col("rating")) - 1.0) /
            (log(col("rank") + 1.0) / log(lit(2.0)))).otherwise(0.0)), 4).as("dcg_k"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("rel_in_k"))
      .join(broadcast(totalRel), Seq("query_id"), "left")
      .select(
        col("query_id"), col("precision_k"), col("mrr"), col("dcg_k"),
        Num.round(col("rel_in_k") /
          coalesce(col("n_rel"), lit(Long.MaxValue)).cast("double"), 4).as("recall_k"))
      .orderBy(col("query_id"))
  }

  /** `span_not`: the include term occurs at a position with no exclude
    * term within `pre` positions before / `post` after — one compiled
    * pass per row (SpanNotMatch kernel), same pattern as span_near. */
  def spanNot(field: Column, include: String, exclude: String,
      pre: Int = 0, post: Int = 0): Column = {
    val inc = Analyzer.analyze(include)
    val exc = Analyzer.analyze(exclude)
    require(inc.length == 1 && exc.length == 1,
      s"span_not takes single include/exclude terms: $include / $exclude")
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.SpanNotMatch(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(field)),
        inc.head, exc.head, pre, post))
  }

  /** function_score decay functions — gauss / exp / linear over a
    * numeric field, ES's closed forms with origin/offset/scale/decay
    * (distance d = max(0, |x - origin| - offset); score(scale) =
    * decay). Pure column math, codegen'd:
    *   gauss:  exp(d^2 * ln(decay) / scale^2)
    *   exp:    exp(d * ln(decay) / scale)
    *   linear: max(0, (s - d) / s), s = scale / (1 - decay)
    */
  def decayScore(
      x: Column, kind: String, origin: Double, scale: Double,
      offset: Double = 0.0, decay: Double = 0.5): Column = {
    require(scale > 0 && decay > 0 && decay < 1,
      s"decay needs scale > 0 and 0 < decay < 1: scale=$scale decay=$decay")
    val d = greatest(abs(x.cast("double") - origin) - offset, lit(0.0))
    kind match {
      case "gauss" => exp(d * d * lit(math.log(decay) / (scale * scale)))
      case "exp" => exp(d * lit(math.log(decay) / scale))
      case "linear" =>
        val s = scale / (1.0 - decay)
        greatest(lit(0.0), (lit(s) - d) / s)
      case other => throw new IllegalArgumentException(s"unknown decay function: $other")
    }
  }

  /** `span_within` / `span_containing`: a `little` span occurrence
    * enclosed by a `big` span match. Little is a single analyzed term;
    * big is a two-term unordered near-span with `slop` (the common ES
    * shape). Both DSL keys compile here: as a doc-level filter the two
    * differ only in which span would be EMITTED to an enclosing span
    * query, not in which docs match. Compiled kernel, stays in
    * whole-stage codegen. */
  def spanWithin(field: Column, little: String, big: String, slop: Int): Column = {
    val l = Analyzer.analyze(little)
    val b = Analyzer.analyze(big).distinct
    require(l.length == 1, s"span_within little must analyze to one term: $little")
    require(b.length == 2, s"span_within big must analyze to two distinct terms: $big")
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.SpanWithinMatch(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(field)),
        l.head, b(0), b(1), slop))
  }

  /** `sparse_vector` / `text_expansion` query (the ELSER-shaped
    * retrieval surface): score = Σ weight(t) · tf(t, doc) over the
    * query's (token, weight) pairs. The doc-side sparse features are
    * term frequencies from the standard analyzer — the model that
    * would produce learned weights isn't in this container, but the
    * retrieval plumbing (sparse dot product as a compiled one-pass
    * kernel, score-ordered top-k) is the real thing. Scale shape: a
    * narrow map-only projection then one TakeOrderedAndProject; no
    * join, no shuffle beyond the top-k. */
  /** The `search_as_you_type` FIELD TYPE's query-time behavior: the
    * mapping materializes `_2gram` / `_3gram` shingle subfields and
    * an `_index_prefix` field; a `multi_match type: bool_prefix`
    * query then sums the subfield signals. Here the subfields are the
    * compiled shingle kernel applied at query time (same values the
    * mapping would store): candidates come from the bool_prefix
    * predicate; the score sums full-term hits, 2/3-gram phrase hits
    * (weighted by shingle width, rewarding in-order adjacency) and a
    * final-partial-term prefix hit — all integer-valued codegen'd
    * counts, deterministic for the oracle. */
  def searchAsYouTypeTopK(
      docs: DataFrame,
      idCol: String,
      field: String,
      query: String,
      k: Int): DataFrame = {
    val terms = Analyzer.analyze(query)
    require(terms.nonEmpty, "empty search_as_you_type query")
    val toks = Analyzer.tokens(col(field))
    def gramHits(n: Int): Column = {
      val grams = terms.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) lit(0)
      else grams.map(g => when(array_contains(
        Analyzer.shingles(toks, n), g), lit(n)).otherwise(lit(0))).reduce(_ + _)
    }
    val fullHits = terms.map(t =>
      when(array_contains(toks, t), lit(1)).otherwise(lit(0))).reduce(_ + _)
    val prefixHit =
      when(exists(toks, t => t.startsWith(terms.last)), lit(1)).otherwise(lit(0))
    docs.where(matchBoolPrefix(col(field), query))
      .select(col(idCol).as("id"),
        (fullHits + gramHits(2) + gramHits(3) + prefixHit).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** ES 8.15 `semantic` query over a semantic_text-shaped field. The
    * real feature runs an inference model; with no model in this
    * environment the honest stand-in is the model-free text-expansion
    * degenerate: the query's analyzed tokens with unit weights
    * through the SAME sparse-dot kernel the sparse_vector query uses
    * (an ELSER expansion is exactly such a term-weight map — the
    * plumbing, plan shape and scale behavior are identical; only the
    * weights differ). */
  def semanticTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k: Int): DataFrame =
    // query expansion routes through the Inference seam — the default
    // stub is unit-weight analyzed terms (the model-free degenerate);
    // a real ELSER endpoint drops in via Inference.service
    sparseVectorTopK(docs, idCol, textCol,
      graft.inference.Inference.service.expandQuery(query), k)

  def sparseVectorTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryVector: Seq[(String, Double)],
      k: Int): DataFrame = {
    val score = org.apache.spark.sql.GraftBridge.column(
      graft.expr.SparseTfDot(
        org.apache.spark.sql.GraftBridge.expression(Analyzer.tokens(col(textCol))),
        queryVector.map(_._1), queryVector.map(_._2)))
    docs.select(col(idCol).as("id"), Num.round(score, 4).as("score"))
      .where(col("score") > 0.0)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** `_termvectors` with `term_statistics: true`: per-term stats for
    * ONE document — term frequency in the doc, plus corpus document
    * frequency and total term frequency.
    *
    * Scale shape: the corpus side is restricted to the single doc's
    * term set BEFORE aggregating — explode is a narrow map, the
    * broadcast semi-join prunes every non-query term at the scan, and
    * only |doc terms| groups shuffle (same postings-restriction shape
    * as BM25). No driver-side term list: the doc's terms broadcast as
    * a 1-partition frame. */
  def termVectors(docs: DataFrame, idCol: String, textCol: String, docId: Long): DataFrame = {
    val toks = Analyzer.tokens(col(textCol))
    val docTf = docs.where(col(idCol) === docId)
      .select(explode(toks).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_freq"))
    val corpus = docs.select(explode(toks).as("term"), col(idCol))
      .join(broadcast(docTf.select("term")), Seq("term"))
      .groupBy("term")
      .agg(
        countDistinct(col(idCol)).as("doc_freq"),
        count(lit(1)).as("ttf"))
    docTf.join(broadcast(corpus), Seq("term"))
      .orderBy(col("term"))
  }

  /** `_mtermvectors`: term vectors for a BATCH of docs in one pass.
    * Per-doc tf from one explode restricted to the id set (pushed to
    * the scan); corpus df/ttf computed ONCE over the union of the
    * batch's terms via the same broadcast semi-join restriction as
    * termVectors — N docs cost one corpus pass, not N. */
  def mtermVectors(
      docs: DataFrame, idCol: String, textCol: String,
      docIds: Seq[Long]): DataFrame = {
    val toks = Analyzer.tokens(col(textCol))
    val docTf = docs.where(col(idCol).isin(docIds: _*))
      .select(col(idCol).as("id"), explode(toks).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("term_freq"))
    val terms = docTf.select("term").distinct()
    val corpus = docs.select(explode(toks).as("term"), col(idCol))
      .join(broadcast(terms), Seq("term"))
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("doc_freq"), count(lit(1)).as("ttf"))
    docTf.join(broadcast(corpus), Seq("term"))
      .select(col("id"), col("term"), col("term_freq"), col("doc_freq"), col("ttf"))
      .orderBy(col("id"), col("term"))
  }

  /** ES 8.16 `linear` retriever: per-retriever min-max normalization
    * over its top-`windowSize` results, then a weighted sum across
    * retrievers (missing side contributes 0). Same two-retriever
    * hybrid shape as rrfTopK — each retriever is window-limited FIRST,
    * so the fusion only ever touches windowSize rows per retriever. */
  def linearTopK(
      retrievers: Seq[(DataFrame, Double)],
      windowSize: Int = 100,
      k: Int = 10): DataFrame = {
    require(retrievers.nonEmpty, "linear fusion needs at least one retriever")
    val contribs = retrievers.map { case (r, weight) =>
      val top = r.select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc).limit(windowSize)
      // min/max over the tiny window: 1-row aggregate, broadcast back
      val mm = top.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
      top.crossJoin(broadcast(mm))
        .select(col("id"),
          (when(col("mx") > col("mn"),
            (col("score") - col("mn")) / (col("mx") - col("mn")))
            .otherwise(lit(1.0)) * weight).as("contrib"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy("id")
      .agg(
        Num.round(sum(col("contrib")), 4).as("linear_score"),
        count(lit(1)).cast("int").as("matched"))
      .orderBy(col("linear_score").desc, col("id").asc)
      .limit(k)
  }

  /** `function_score` `random_score` with a `seed` + `field`
    * (reproducible shuffle — ES hashes seed:fieldValue per doc).
    * Deterministic stand-in for Lucene's hash: the repo-wide 48-bit
    * md5 fold of "seed:value" (Num.uniformHash48 — the same draw every
    * sampling operator uses), normalized to [0, 1). Pure codegen'd
    * column math, mirrored in oracles via hexFold / 2^48. */
  def randomScore(idValue: Column, seed: Long): Column =
    Num.uniformHash48(concat_ws(":", lit(seed), idValue))

  /** The full `function_score` surface: per-function `filter` +
    * `weight`, combined per `score_mode` (sum | multiply | max | min |
    * avg), capped at `max_boost`, then folded into the base query
    * score per `boost_mode` (multiply | sum | replace | max | min |
    * avg). A non-matching function contributes NOTHING (ES skips it —
    * it does not contribute an identity element), so each mode folds
    * over the matched subset only; no matches at all -> function score
    * 1.0 (ES's documented default). One narrow projection per row —
    * no join, no shuffle: the filters are plain predicates evaluated
    * inline, which is exactly how ES runs them per-shard. */
  def functionScoreModes(
      base: Column,
      functions: Seq[(Column, Column, Double)], // (filter, function, weight)
      scoreMode: String,
      boostMode: String,
      maxBoost: Double = Double.MaxValue): Column = {
    require(functions.nonEmpty, "function_score needs at least one function")
    val vals = functions.map { case (f, fn, w) =>
      when(f, fn.cast("double") * lit(w)) // null when the filter misses
    }
    val matched = functions.map { case (f, _, _) => when(f, 1).otherwise(0) }
      .reduce(_ + _)
    // null-skipping folds: Spark's +/greatest/least propagate null, so
    // route through coalesce(v, identity-for-this-doc) guarded by the
    // matched count
    def sumMatched = vals.map(v => coalesce(v, lit(0.0))).reduce(_ + _)
    val combined = scoreMode match {
      case "sum" => sumMatched
      case "avg" => sumMatched / matched.cast("double")
      case "multiply" => vals.map(v => coalesce(v, lit(1.0))).reduce(_ * _)
      case "max" => greatest(vals.map(v => coalesce(v, lit(Double.MinValue))): _*)
      case "min" => least(vals.map(v => coalesce(v, lit(Double.MaxValue))): _*)
      case other => throw new IllegalArgumentException(s"bad score_mode: $other")
    }
    val fnScore = least(
      when(matched === 0, lit(1.0)).otherwise(combined), lit(maxBoost))
    boostMode match {
      case "multiply" => base * fnScore
      case "sum" => base + fnScore
      case "replace" => fnScore
      case "max" => greatest(base, fnScore)
      case "min" => least(base, fnScore)
      case "avg" => (base + fnScore) / lit(2.0)
      case other => throw new IllegalArgumentException(s"bad boost_mode: $other")
    }
  }

  /** Chained `rescore` (ES accepts a LIST of rescorers): each stage
    * re-ranks only the previous stage's top `windowSize` hits with
    * `query_weight * prev + rescore_weight * secondary`. Every stage
    * is one broadcast join against an already-limited window — the
    * corpus is scanned once by the first-pass BM25 and never again;
    * later stages touch O(window) rows. */
  def rescoreChainTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      stages: Seq[(Column, Int, Double, Double)], // (secondary, window, qw, rw)
      k: Int): DataFrame = {
    var cur = bm25Scores(docs, idCol, textCol, query)
    stages.foreach { case (secondary, windowSize, qw, rw) =>
      val window = cur.orderBy(col("score").desc, col("id").asc).limit(windowSize)
      cur = docs.join(broadcast(window), col(idCol) === window("id"))
        .select(window("id"),
          Num.round(window("score") * qw + secondary * rw, 4).as("score"))
    }
    cur.orderBy(col("score").desc, col("id").asc).limit(k)
  }

  /** `span_field_masking` inside an unordered two-clause `span_near`:
    * one clause matches `rawTerm` in the primary analyzed stream, the
    * other matches `maskedTerm` in a DIFFERENT analyzer's stream
    * (e.g. a stemmed subfield) *masked* to the primary field so the
    * two position spaces combine — ES's canonical use, legal exactly
    * because token FILTERS (stemmers, stopword-keepers with
    * positions) preserve positions 1:1. Spans must not overlap
    * (distinct positions) and at most `slop` positions may intervene.
    * Pure per-row HOF math over two small position lists — narrow,
    * no shuffle, no join. */
  def spanNearMasked(
      rawToks: Column, maskedToks: Column,
      rawTerm: String, maskedTerm: String, slop: Int): Column = {
    def positions(toks: Column, term: String): Column =
      filter(
        transform(toks, (t, i) => when(t === lit(term), i).otherwise(lit(-1))),
        x => x >= 0)
    val p1 = positions(rawToks, rawTerm)
    val p2 = positions(maskedToks, maskedTerm)
    exists(p1, a => exists(p2, b =>
      a =!= b && abs(a - b) - lit(1) <= lit(slop)))
  }

  /** `terminate_after`: each shard stops collecting once it has seen
    * `n` matching docs — results become a deterministic prefix of
    * every shard's hit stream (by index order = `idCol`), with
    * `terminated_early` marking shards that actually hit the cap.
    * The shard key mirrors ES routing (`hash(_id) % shards`). Scale
    * shape: filter pushes to the scan, then ONE hash exchange on the
    * shard key with a rank cut — at 1000 executors this is a bounded
    * per-shard top-n (shards × n rows survive), never a global sort. */
  def terminateAfter(
      docs: DataFrame, query: Column, idCol: String,
      shards: Int, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0 && n > 0, s"need shards > 0 and n > 0: $shards/$n")
    val shard = pmod(
      conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10).cast("long"),
      lit(shards.toLong)).as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    docs.where(query)
      .select(col(idCol), shard)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_shard_hits", count(lit(1)).over(Window.partitionBy(col("shard"))))
      .where(col("_rn") <= n)
      .withColumn("terminated_early", col("_shard_hits") > n)
      .select(col(idCol), col("shard"), col("terminated_early"))
      .orderBy(col("shard"), col(idCol))
  }
}

package graft

import graft.agg.Aggs
import graft.dedup.Dedup
import graft.dsl.QueryDsl
import graft.rel.Relational
import graft.search.{Search, Sorting}
import graft.sim.Ann
import graft.streaming.EventStreams
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: Full-text search (query context) + its oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesFulltext {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- B. Full-text (query context) ----
    "q_match" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchQuery(col("text"), "spark window"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_match_and" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchQueryAnd(col("text"), "spark window"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_match_phrase" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchPhrase(col("text"), "table scan"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_match_phrase_prefix" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchPhrasePrefix(col("text"), "table sc"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_span_first" -> ((s, d) => t(s, d, "documents")
      .where(Search.spanFirst(col("text"), "spark", 10))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_query_string" -> ((s, d) => t(s, d, "documents")
      .where(Search.queryString(Seq(col("text"), col("source")), "src5 merge"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_match_phrase_slop" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchPhraseSlop(col("text"), "table scan", slop = 1))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // analyzer chain: minimal_english stemmer — query "tables windows"
    // matches singular occurrences; raw_hit shows what a stemmerless
    // match would have seen on the same (morphed) stream
    "q_match_stemmed" -> ((s, d) => {
      import graft.analysis.Analyzer
      val m = morphedToks()
      val st = Analyzer.chain(m, stemmer = "minimal_english")
      t(s, d, "documents")
        .select(col("doc_id"), m.as("mt"), st.as("st"))
        .where(Search.matchChain(col("mt"), "tables windows",
          stemmer = "minimal_english"))
        .select(col("doc_id"),
          size(array_intersect(array_distinct(col("st")),
            lit(Array("table", "window")))).cast("long").as("n_terms"),
          arrays_overlap(col("mt"), lit(Array("tables", "windows"))).as("raw_hit"))
        .orderBy(col("doc_id"))
    }),
    // light_german stemming over the German-morphed stream: the query
    // terms 'vectoren hashen' and the morphed index forms both stem to
    // 'vector'/'hash'; raw_hit marks docs that held a morphed form
    "q_match_stemmed_de" -> ((s, d) => {
      import graft.analysis.Analyzer
      val m = germanMorphToks()
      val st = Analyzer.chain(m, stemmer = "light_german")
      t(s, d, "documents")
        .select(col("doc_id"), m.as("mt"), st.as("st"))
        .where(Search.matchChain(col("mt"), "vectoren hashen",
          stemmer = "light_german"))
        .select(col("doc_id"),
          size(array_intersect(array_distinct(col("st")),
            lit(Array("vector", "hash")))).cast("long").as("n_terms"),
          arrays_overlap(col("mt"), lit(Array("vectoren", "hashen"))).as("raw_hit"))
        .orderBy(col("doc_id"))
    }),
    // span_field_masking: a span_near combining a raw-stream clause
    // ("fast" in the morphed tokens) with a clause on the STEMMED
    // subfield ("table", matching tables too) masked back to the raw
    // field — legal because the stemmer preserves positions 1:1
    "q_span_masked" -> ((s, d) => {
      import graft.analysis.Analyzer
      val m = morphedToks()
      val st = Analyzer.chain(m, stemmer = "minimal_english")
      t(s, d, "documents")
        .select(col("doc_id"), m.as("mt"), st.as("st"))
        .where(Search.spanNearMasked(col("mt"), col("st"), "fast", "table", slop = 3))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // asciifolding: de docs get accented variants (a->ä, e->é), the
    // folded index matches 'merge' anyway; raw_hit shows the unfolded
    // tokenizer splitting 'mérgé' apart (accents are separators)
    "q_match_folded" -> ((s, d) => {
      import graft.analysis.Analyzer
      val raw = when(col("lang") === "de",
        translate(col("text"), "ae", "äé")).otherwise(col("text"))
      val folded = Analyzer.tokens(Analyzer.asciiFold(raw))
      t(s, d, "documents")
        .where(array_contains(folded, "merge") && col("lang").isin("de", "en"))
        .select(col("doc_id"), col("lang"),
          array_contains(Analyzer.tokens(raw), "merge").as("raw_hit"))
        .orderBy(col("doc_id"))
    }),
    // html_strip char filter: tags out, entities decoded (&amp; last),
    // then the standard chain — 'amp' must NOT surface as a token
    // shingle token filter, oracle-keyed (upgraded from spec): stream
    // sizes per width + the full unigram+2..3-gram stream length
    "q_analyze_shingle" -> ((s, d) => {
      import graft.analysis.Analyzer
      val toks = Analyzer.tokens(col("text"))
      t(s, d, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_uni"),
          size(Analyzer.shingleFilter(toks, 2, 2, outputUnigrams = false))
            .cast("long").as("n_2g"),
          size(Analyzer.shingleFilter(toks, 3, 3, outputUnigrams = false))
            .cast("long").as("n_3g"),
          size(Analyzer.shingleFilter(toks, 2, 3)).cast("long").as("n_stream"))
        .orderBy(col("doc_id"))
    }),
    // _analyze API: the token stream itself as rows — (position,
    // token) per doc through the standard chain, the response shape
    // the analyze endpoint returns (start/end offsets are a tokenizer
    // detail the split-based chain does not track; declared)
    "q_analyze_api" -> ((s, d) => {
      import graft.analysis.Analyzer
      t(s, d, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(Analyzer.tokens(col("text"))).as(Seq("position", "token")))
        .orderBy(col("doc_id"), col("position"))
    }),
    "q_analyze_html" -> ((s, d) => {
      import graft.analysis.Analyzer
      val html = concat(lit("<div class=\"x\"><p>"),
        substring(col("text"), 1, 60), lit(" &amp; more</p></div>"))
      val toks = Analyzer.tokens(Analyzer.htmlStrip(html))
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(toks)).as("n_toks"),
          sum(array_contains(toks, "more").cast("long")).as("n_more"),
          sum(array_contains(toks, "amp").cast("long")).as("n_amp"),
          sum(array_contains(toks, "div").cast("long")).as("n_div"))
        .orderBy(col("lang"))
    }),
    // analyzer chain: stop filter — "the" drops out of the AND query,
    // so docs lacking it still match (has_the marks them)
    "q_match_stopwords" -> ((s, d) => {
      import graft.analysis.Analyzer
      val toks = Analyzer.tokens(col("text"))
      t(s, d, "documents")
        .where(Search.matchChain(toks, "the fast table",
          stop = Analyzer.EnglishStop, operator = "and"))
        .select(col("doc_id"), array_contains(toks, "the").as("has_the"))
        .orderBy(col("doc_id"))
    }),
    // query-time synonym expansion: neither "rapid" nor "tbl" occurs in
    // the corpus; their synonym groups (fast/quick, table) do
    "q_match_synonyms" -> ((s, d) => {
      import graft.analysis.Analyzer
      val toks = Analyzer.tokens(col("text"))
      t(s, d, "documents")
        .where(Search.matchSynonyms(toks, "rapid tbl",
          Map("rapid" -> Seq("fast", "quick"), "tbl" -> Seq("table")),
          operator = "and"))
        .select(col("doc_id"),
          size(array_intersect(array_distinct(toks),
            lit(Array("rapid", "fast", "quick")))).cast("long").as("n_syn"))
        .orderBy(col("doc_id"))
    }),
    // BM25 over the full analyzed chain (stop + minimal_english): dl,
    // tf and df all change under the chain — the oracle recomputes the
    // whole scoring pipeline over the chained token stream
    "q_bm25_stemmed" -> ((s, d) => {
      import graft.analysis.Analyzer
      val toksDf = t(s, d, "documents").select(
        col("doc_id").as("id"),
        Analyzer.chain(morphedToks(),
          stop = Analyzer.EnglishStop, stemmer = "minimal_english").as("toks"))
      Search.bm25ScoresFromToks(toksDf,
        Analyzer.analyzeChain("tables fast", Analyzer.EnglishStop, "minimal_english"))
        .orderBy(col("score").desc, col("id").asc).limit(10)
    }),
    // index-time edge_ngram (2..4) — the sayt/completion index shape:
    // tf counts ngram tokens, showing the expansion is real
    "q_edge_ngram" -> ((s, d) => {
      import graft.analysis.Analyzer
      val eg = Analyzer.chain(Analyzer.tokens(col("text")), edge = Some((2, 4)))
      t(s, d, "documents")
        .select(col("doc_id"), eg.as("egs"))
        .where(array_contains(col("egs"), "tab"))
        .select(col("doc_id"),
          size(filter(col("egs"), g => g === "tab")).cast("long").as("tf"))
        .orderBy(col("doc_id"))
    }),
    "q_constant_score" -> ((s, d) =>
      Search.constantScore(t(s, d, "documents"), "doc_id",
        QueryDsl.term(col("lang"), "fr") && col("n_chars") > 300, 1.2)),
    "q_pinned" -> ((s, d) =>
      Search.pinnedTopK(t(s, d, "documents"), "doc_id", "text", "fast hash join", Seq(7L, 11L), 10)),
    "q_boosting" -> ((s, d) =>
      Search.boostingTopK(t(s, d, "documents"), "doc_id", "text", "fast hash join",
        QueryDsl.term(col("lang"), "de"), 0.5, 10)),
    "q_bm25" -> ((s, d) =>
      Search.bm25TopK(t(s, d, "documents"), "doc_id", "text", "fast hash join", 10)),
    // analyze-once persisted index: write the corpus with
    // graft.index.analysis, score the SAME query from the persisted
    // postings artifact and its meta — hash-equal to on-the-fly q_bm25
    // (same oracle SQL), but the corpus tokenize is paid at write time
    "q_bm25_indexed" -> ((s, d) => {
      // index dir keyed by the SOURCE file's fingerprint: repeated
      // runs (bench, verify) reuse the fresh artifacts — the whole
      // point of analyze-once — while a regenerated testdata file
      // changes the key and forces a rebuild
      // staged build + atomic rename: concurrent runs can't read a
      // half-written artifact, stale generations get swept
      val out = graft.index.IndexArtifacts.ensureArtifact("bm25idx", s"$d/documents.parquet")(
        p => graft.index.IndexArtifacts.loadAnalysis(s, p, "text").nonEmpty)(
        stage => graft.sources.Connector.save(t(s, d, "documents"), stage, Map(
          "graft.write.operation" -> "overwrite",
          "graft.mapping.id" -> "doc_id",
          "graft.index.analysis" -> "text")))
      Search.bm25ScoresIndexed(s, out, "doc_id", "text", "fast hash join")
        .orderBy(col("score").desc, col("id").asc).limit(10)
    }),
    "q_more_like_this" -> ((s, d) =>
      Search.moreLikeThis(t(s, d, "documents"), "doc_id", "text", seedId = 7L, m = 5, minMatch = 2)),
    // more_like_this with `unlike`: the negative example's terms are
    // excluded from the seed's interesting-term selection
    "q_mlt_unlike" -> ((s, d) =>
      Search.moreLikeThis(t(s, d, "documents"), "doc_id", "text", seedId = 7L,
        m = 5, minMatch = 2, unlikeId = Some(11L))),

    "q_function_score" -> ((s, d) =>
      Search.functionScoreTopK(t(s, d, "documents"), "doc_id", "n_chars", 300.0, 100.0, 15)),
    // _explain for a function_score hit: per-component breakdown
    // (field_value_factor, gauss, product) for one document
    "q_explain_function" -> ((s, d) =>
      Search.explainFunctionScore(t(s, d, "documents"), "doc_id", "n_chars",
        300.0, 100.0, docId = 42L)),
    // all three decay families over one numeric field, ES closed forms
    "q_score_decay" -> ((s, d) => t(s, d, "documents")
      .select(
        col("doc_id"),
        Num.round(Search.decayScore(col("n_chars"), "gauss", 300.0, 100.0, 50.0), 4).as("g"),
        Num.round(Search.decayScore(col("n_chars"), "exp", 300.0, 100.0, 50.0), 4).as("e"),
        Num.round(Search.decayScore(col("n_chars"), "linear", 300.0, 100.0, 50.0), 4).as("l"))
      .orderBy(col("doc_id"))),
    "q_collapse" -> ((s, d) =>
      Search.collapse(t(s, d, "documents"), "lang", "n_chars", "doc_id")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"))),
    "q_collapse_inner" -> ((s, d) =>
      Search.collapseInnerHits(t(s, d, "documents"), "lang", "n_chars", "doc_id", 3)),
    "q_search_after" -> ((s, d) =>
      Search.searchAfter(t(s, d, "documents"), "doc_id", "n_chars", 400L, 250L, 10)
        .select(col("doc_id"), col("n_chars"))),
    "q_suggest" -> ((s, d) => Search.suggest(t(s, d, "documents"), "text", "spak", 2, 5)),
    // suggest_mode missing (the ES default): corrections emitted ONLY
    // when the input term itself is absent from the index
    "q_suggest_missing" -> ((s, d) =>
      Search.suggestMode(t(s, d, "documents"), "text", "spar", "missing",
        maxEdits = 1, k = 5)),
    "q_highlight" -> ((s, d) =>
      Search.highlight(t(s, d, "documents"), "doc_id", "text", "merge").limit(20)),

    // es.read.metadata with a scored query: the connector read path
    // surfaces _score (BM25 over the match clause) alongside _id.
    // runtime_mappings: query-time computed fields (Painless emit
    // scripts), searchable like mapped fields — the predicate below
    // references one runtime and one mapped field
    "q_runtime_fields" -> ((s, d) => {
      import graft.sources.Connector.implicits._
      s.graftDF(s"$d/documents.parquet",
        """{"runtime_mappings": {
             "len_bucket": {"type": "long", "script": {"source": "emit(Math.floor(doc['n_chars'].value / 100))"}},
             "kchars": {"type": "double", "script": {"source": "emit(doc['n_chars'].value / 1000.0)"}}},
           "query": {"bool": {"must": [{"range": {"len_bucket": {"gte": 2}}}, {"term": {"lang": "en"}}]}}}""",
        idField = "doc_id")
        .select(col("doc_id"), col("len_bucket"), col("kchars"))
        .orderBy(col("doc_id"))
    }),
    // _mget: id-list point lookup in request order with found flags
    "q_mget" -> ((s, d) => {
      import graft.sources.Connector.implicits._
      s.graftMget(s"$d/documents.parquet", Seq(7L, 3L, 99999999L, 42L), "doc_id")
        .select(col("pos"), col("doc_id"), col("found"), col("lang"), col("n_chars"))
    }),
    // _msearch: a batch of queries answered in ONE shared scan
    "q_msearch" -> ((s, d) =>
      Search.msearch(t(s, d, "documents"), "doc_id",
        Seq(
          "m1" -> QueryDsl.term(col("lang"), "en"),
          "m2" -> (col("n_chars") >= 400L),
          "m3" -> Search.matchQueryAnd(col("text"), "hash join")),
        sortCol = "n_chars", k = 5)),
    "q_read_metadata_score" -> ((s, d) => {
      import graft.sources.Connector.implicits._
      s.graftDF(s"$d/documents.parquet", """{"match": {"text": "merge sort"}}""",
        idField = "doc_id", readMetadata = true)
        .select(col("_id").as("id"), col("_score").as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(15)
    }),

    "q_percolate" -> ((s, d) => Search.percolate(t(s, d, "documents"), "doc_id", Seq(
      "wants_spark" -> Search.matchQueryAnd(col("text"), "spark join"),
      "long_en" -> (QueryDsl.term(col("lang"), "en") && col("n_chars") > 350),
      "src1x_phrase" -> (QueryDsl.prefix(col("source"), "src1") &&
        Search.matchPhrase(col("text"), "table scan"))))),

    // inverted-index percolation: the registry is DATA, not plan
    "q_percolate_scale" -> ((s, d) => {
      import s.implicits._
      val registry = Seq(
        ("wants_spark", Seq("spark", "join")),
        ("table_scan", Seq("table", "scan")),
        ("merge_heavy", Seq("merge", "sort", "hash"))).toDF("query_id", "terms")
      Search.percolateTerms(t(s, d, "documents"), "doc_id", "text", registry)
    }),
    // registry-as-data percolation over the bounded DSL subset:
    // terms + numeric range + phrase per stored query (r8)
    "q_percolate_dsl" -> ((s, d) => {
      import s.implicits._
      val registry = Seq(
        ("r_spark_long", Seq("spark", "join"), Some("n_chars"),
          Some(300.0), Some(10000.0), None: Option[String]),
        ("r_table_phrase", Seq("table"), None: Option[String],
          None: Option[Double], None: Option[Double], Some("table scan")),
        ("r_merge", Seq("merge", "sort"), None: Option[String],
          None: Option[Double], None: Option[Double], None: Option[String]),
        ("r_fast_short", Seq("fast"), Some("n_chars"),
          Some(0.0), Some(350.0), None: Option[String]))
        .toDF("query_id", "terms", "range_field", "range_min", "range_max", "phrase")
      Search.percolateDsl(t(s, d, "documents"), "doc_id", "text",
        registry, Seq("n_chars"))
    }),
    // registry-as-data percolation over ARBITRARY nested bool trees
    // (r13): clause rows with tree paths; exercises nested should
    // under must, explicit root msm (the no-required-term fallback
    // class), a bool under must_not, phrase+range conjunction, and a
    // two-level nesting — all folded bottom-up as data
    "q_percolate_bool" -> ((s, d) => {
      import s.implicits._
      val n = None: Option[String]
      val nd = None: Option[Double]
      val ni = None: Option[Int]
      val registry = Seq(
        // fast AND (join OR scan)
        ("b_nested_should", "must.0", "term", Some("fast"), n, nd, nd, n, ni),
        ("b_nested_should", "must.1", "bool", n, n, nd, nd, n, ni),
        ("b_nested_should", "must.1/should.0", "term", Some("join"), n, nd, nd, n, ni),
        ("b_nested_should", "must.1/should.1", "term", Some("scan"), n, nd, nd, n, ni),
        // at least 2 of {merge, hash, sort} — no required term, so
        // this query exercises the match-all-candidates fallback
        ("b_msm2", "", "bool", n, n, nd, nd, n, Some(2)),
        ("b_msm2", "should.0", "term", Some("merge"), n, nd, nd, n, ni),
        ("b_msm2", "should.1", "term", Some("hash"), n, nd, nd, n, ni),
        ("b_msm2", "should.2", "term", Some("sort"), n, nd, nd, n, ni),
        // table AND NOT (scan AND n_chars in [300, 600))
        ("b_not_range", "must.0", "term", Some("table"), n, nd, nd, n, ni),
        ("b_not_range", "must_not.0", "bool", n, n, nd, nd, n, ni),
        ("b_not_range", "must_not.0/must.0", "term", Some("scan"), n, nd, nd, n, ni),
        ("b_not_range", "must_not.0/must.1", "range", n, Some("n_chars"),
          Some(300.0), Some(600.0), n, ni),
        // phrase "hash join" AND n_chars in [200, 10000)
        ("b_phrase_range", "must.0", "phrase", n, n, nd, nd, Some("hash join"), ni),
        ("b_phrase_range", "must.1", "range", n, Some("n_chars"),
          Some(200.0), Some(10000.0), n, ni),
        // vector AND (quantile OR stream)
        ("b_deep", "must.0", "term", Some("vector"), n, nd, nd, n, ni),
        ("b_deep", "must.1", "bool", n, n, nd, nd, n, ni),
        ("b_deep", "must.1/should.0", "term", Some("quantile"), n, nd, nd, n, ni),
        ("b_deep", "must.1/should.1", "term", Some("stream"), n, nd, nd, n, ni))
        .toDF("query_id", "path", "kind", "term",
          "range_field", "range_min", "range_max", "phrase", "msm")
      Search.percolateBool(t(s, d, "documents"), "doc_id", "text",
        registry, Seq("n_chars"))
    }),
    // prefix/wildcard leaf kinds in the stored bool trees (r13): the
    // leaf evaluates against the analyzed token stream (prefix = any
    // token starts-with; wildcard = ES *-? glob over tokens, escaped
    // into SQL LIKE). Not term-selectable, so wildcard-only queries
    // exercise the loud match-all-candidates class; the combo query
    // stays selector-bounded by its term sibling.
    "q_percolate_wild" -> ((s, d) => {
      import s.implicits._
      val n = None: Option[String]
      val nd = None: Option[Double]
      val ni = None: Option[Int]
      val registry = Seq(
        ("w_prefix", "must.0", "prefix", Some("ha"), n, nd, nd, n, ni),
        ("w_wild", "must.0", "wildcard", Some("j*n"), n, nd, nd, n, ni),
        ("w_combo", "must.0", "term", Some("fast"), n, nd, nd, n, ni),
        ("w_combo", "must.1", "wildcard", Some("sc?n"), n, nd, nd, n, ni),
        ("w_pref_not", "must.0", "prefix", Some("dat"), n, nd, nd, n, ni),
        ("w_pref_not", "must_not.0", "term", Some("join"), n, nd, nd, n, ni))
        .toDF("query_id", "path", "kind", "term",
          "range_field", "range_min", "range_max", "phrase", "msm")
      Search.percolateBool(t(s, d, "documents"), "doc_id", "text",
        registry, Seq("n_chars"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // ---- B ----
    "q_match" -> s"$TokCte SELECT doc_id FROM tok WHERE list_has_any(toks, ['spark','window']) ORDER BY doc_id",
    "q_match_and" -> s"$TokCte SELECT doc_id FROM tok WHERE list_has_all(toks, ['spark','window']) ORDER BY doc_id",
    "q_match_phrase" -> s"$TokCte SELECT doc_id FROM tok WHERE contains(' ' || array_to_string(toks, ' ') || ' ', ' table scan ') ORDER BY doc_id",
    "q_match_phrase_prefix" -> s"$TokCte SELECT doc_id FROM tok WHERE contains(' ' || array_to_string(toks, ' ') || ' ', ' table sc') ORDER BY doc_id",
    "q_span_first" -> (s"$TokCte SELECT doc_id FROM tok WHERE " +
      "list_position(toks, 'spark') >= 1 AND list_position(toks, 'spark') <= 10 ORDER BY doc_id"),
    "q_query_string" -> ("WITH f AS (SELECT doc_id, " +
      "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks, " +
      "list_filter(regexp_split_to_array(lower(source), '[^a-z0-9]+'), x -> len(x) > 0) AS stoks FROM documents) " +
      "SELECT doc_id FROM f WHERE list_has_any(toks, ['src5','merge']) OR list_has_any(stoks, ['src5','merge']) ORDER BY doc_id"),
    "q_match_phrase_slop" -> (TokCte + ", p AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'table') AS p0, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'scan') AS p1 FROM tok) " +
      "SELECT doc_id FROM p WHERE len(list_filter(p0, a -> len(list_filter(p1, b -> b > a AND b - a <= 2)) > 0)) > 0 ORDER BY doc_id"),
    "q_match_stemmed" -> (TokCte + MTokCte +
      ", mst AS (SELECT doc_id, toks, list_transform(toks, x -> " + mstem("x") + ") AS st FROM mtok) " +
      "SELECT doc_id, len(list_intersect(list_distinct(st), ['table', 'window']))::BIGINT AS n_terms, " +
      "list_has_any(toks, ['tables', 'windows']) AS raw_hit " +
      "FROM mst WHERE list_has_any(st, ['table', 'window']) ORDER BY doc_id"),
    "q_match_stemmed_de" -> (TokCte + MTokDeCte +
      ", g1 AS (SELECT doc_id, toks, list_transform(toks, x -> " + gstem1("x") + ") AS s1 FROM mtokde) " +
      ", gst AS (SELECT doc_id, toks, list_transform(s1, x -> " + gstem2("x") + ") AS st FROM g1) " +
      "SELECT doc_id, len(list_intersect(list_distinct(st), ['vector', 'hash']))::BIGINT AS n_terms, " +
      "list_has_any(toks, ['vectoren', 'hashen']) AS raw_hit " +
      "FROM gst WHERE list_has_any(st, ['vector', 'hash']) ORDER BY doc_id"),
    "q_span_masked" -> (TokCte + MTokCte +
      ", mst AS (SELECT doc_id, toks, list_transform(toks, x -> " + mstem("x") + ") AS st FROM mtok), " +
      "p AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'fast') AS p1, " +
      "list_filter(range(1, len(st) + 1), i -> st[i] = 'table') AS p2 FROM mst) " +
      "SELECT doc_id FROM p WHERE len(list_filter(p1, a -> " +
      "len(list_filter(p2, b -> a != b AND abs(a - b) - 1 <= 3)) > 0)) > 0 ORDER BY doc_id"),
    "q_match_folded" -> ("WITH r AS (SELECT doc_id, lang, CASE WHEN lang = 'de' " +
      "THEN translate(text, 'ae', 'äé') ELSE text END AS raw FROM documents), " +
      s"f AS (SELECT doc_id, lang, raw, list_filter(regexp_split_to_array(" +
      s"translate(raw, '${graft.analysis.Analyzer.FoldFrom}', '${graft.analysis.Analyzer.FoldTo}'), " +
      "'[^a-z0-9]+'), x -> len(x) > 0) AS ftoks FROM r) " +
      "SELECT doc_id, lang, list_contains(list_filter(regexp_split_to_array(raw, '[^a-z0-9]+'), " +
      "x -> len(x) > 0), 'merge') AS raw_hit " +
      "FROM f WHERE list_contains(ftoks, 'merge') AND lang IN ('de', 'en') ORDER BY doc_id"),
    "q_analyze_shingle" -> (TokCte +
      ", sh AS (SELECT doc_id, len(toks)::BIGINT AS n_uni, " +
      "len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))::BIGINT AS n_2g, " +
      "len(list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::BIGINT AS n_3g " +
      "FROM tok WHERE doc_id < 50) " +
      "SELECT doc_id, n_uni, n_2g, n_3g, (n_uni + n_2g + n_3g)::BIGINT AS n_stream " +
      "FROM sh ORDER BY doc_id"),
    "q_analyze_api" -> (TokCte +
      ", px AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks " +
      "FROM tok WHERE doc_id < 20) " +
      "SELECT doc_id, (p - 1)::INT AS position, toks[p] AS token " +
      "FROM px ORDER BY doc_id, position"),
    "q_analyze_html" -> ("WITH h AS (SELECT lang, '<div class=\"x\"><p>' || substring(text, 1, 60) || " +
      "' &amp; more</p></div>' AS html FROM documents), " +
      "s AS (SELECT lang, replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS txt FROM h), " +
      "t AS (SELECT lang, list_filter(regexp_split_to_array(lower(txt), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM s) " +
      "SELECT lang, sum(len(toks))::BIGINT AS n_toks, " +
      "sum(CASE WHEN list_contains(toks, 'more') THEN 1 ELSE 0 END)::BIGINT AS n_more, " +
      "sum(CASE WHEN list_contains(toks, 'amp') THEN 1 ELSE 0 END)::BIGINT AS n_amp, " +
      "sum(CASE WHEN list_contains(toks, 'div') THEN 1 ELSE 0 END)::BIGINT AS n_div " +
      "FROM t GROUP BY lang ORDER BY lang"),
    "q_match_stopwords" -> (TokCte +
      " SELECT doc_id, list_contains(toks, 'the') AS has_the FROM tok " +
      "WHERE list_contains(toks, 'fast') AND list_contains(toks, 'table') ORDER BY doc_id"),
    "q_match_synonyms" -> (TokCte +
      " SELECT doc_id, len(list_intersect(list_distinct(toks), ['rapid', 'fast', 'quick']))::BIGINT AS n_syn " +
      "FROM tok WHERE list_has_any(toks, ['rapid', 'fast', 'quick']) " +
      "AND list_has_any(toks, ['tbl', 'table']) ORDER BY doc_id"),
    "q_bm25_stemmed" -> (TokCte + MTokCte +
      ", cst AS (SELECT doc_id, list_transform(list_filter(toks, t2 -> t2 NOT IN (" + StopSql + ")), x -> " +
      mstem("x") + ") AS toks FROM mtok)" +
      bm25Ctes("m", "cst", Seq("table", "fast")) +
      " SELECT id, score FROM scm ORDER BY score DESC, id LIMIT 10"),
    "q_edge_ngram" -> (TokCte +
      ", eg AS (SELECT doc_id, flatten(list_transform(toks, t2 -> " +
      "list_transform(range(2, least(len(t2), 4) + 1), i -> substr(t2, 1, i)))) AS egs FROM tok) " +
      "SELECT doc_id, len(list_filter(egs, g -> g = 'tab'))::BIGINT AS tf " +
      "FROM eg WHERE list_contains(egs, 'tab') ORDER BY doc_id"),
    "q_constant_score" -> ("SELECT doc_id AS id, CAST(1.2 AS DOUBLE) AS score FROM documents " +
      "WHERE lang = 'fr' AND n_chars > 300 ORDER BY id"),
    "q_pinned" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", au AS (SELECT id, score FROM sc UNION ALL " +
      "SELECT doc_id AS id, 0.0 AS score FROM documents " +
      "WHERE doc_id IN (7, 11) AND doc_id NOT IN (SELECT id FROM sc)) " +
      " SELECT id, score, (CASE WHEN id = 7 THEN 0 WHEN id = 11 THEN 1 ELSE 2147483647 END) < 2147483647 AS pinned " +
      "FROM au ORDER BY CASE WHEN id = 7 THEN 0 WHEN id = 11 THEN 1 ELSE 2147483647 END, score DESC, id LIMIT 10"),
    "q_boosting" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      " SELECT sc.id, round(sc.score * CASE WHEN d.lang = 'de' THEN 0.5 ELSE 1.0 END, 4) AS score " +
      "FROM sc JOIN documents d ON d.doc_id = sc.id ORDER BY score DESC, id LIMIT 10"),
    "q_bm25" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      " SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 10"),
    // identical SQL to q_bm25 — the persisted-artifact path must be
    // bit-equal to the on-the-fly analysis
    "q_bm25_indexed" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      " SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 10"),
    "q_more_like_this" -> (TokCte + ", " +
      "seed AS (SELECT term FROM (SELECT unnest(toks) AS term FROM tok WHERE doc_id = 7) GROUP BY term ORDER BY count(*) DESC, term LIMIT 5), " +
      "st AS (SELECT list(term) AS terms FROM seed) " +
      "SELECT doc_id AS id, len(list_intersect(list_distinct(toks), st.terms))::INT AS overlap FROM tok, st " +
      "WHERE doc_id <> 7 AND len(list_intersect(list_distinct(toks), st.terms)) >= 2 ORDER BY overlap DESC, id"),

    "q_mlt_unlike" -> (TokCte + ", " +
      "neg AS (SELECT DISTINCT unnest(toks) AS term FROM tok WHERE doc_id = 11), " +
      "seed AS (SELECT term FROM (SELECT unnest(toks) AS term FROM tok WHERE doc_id = 7) " +
      "WHERE term NOT IN (SELECT term FROM neg) GROUP BY term ORDER BY count(*) DESC, term LIMIT 5), " +
      "st AS (SELECT list(term) AS terms FROM seed) " +
      "SELECT doc_id AS id, len(list_intersect(list_distinct(toks), st.terms))::INT AS overlap FROM tok, st " +
      "WHERE doc_id <> 7 AND len(list_intersect(list_distinct(toks), st.terms)) >= 2 ORDER BY overlap DESC, id"),
    "q_explain_function" -> ("WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS x " +
      "FROM documents WHERE doc_id = 42) " +
      "SELECT component, value FROM (" +
      "SELECT 'field_value_factor' AS component, round(ln(1.0 + x), 4) AS value FROM d " +
      "UNION ALL SELECT 'gauss', round(exp(ln(0.5) * pow(x - 300.0, 2) / (100.0 * 100.0)), 4) FROM d " +
      "UNION ALL SELECT 'score', round(ln(1.0 + x) * " +
      "exp(ln(0.5) * pow(x - 300.0, 2) / (100.0 * 100.0)), 4) FROM d) ORDER BY component"),
    "q_function_score" -> ("SELECT doc_id AS id, round(ln(1.0 + CAST(n_chars AS DOUBLE)) * " +
      "exp(ln(0.5) * pow(CAST(n_chars AS DOUBLE) - 300.0, 2) / (100.0 * 100.0)), 4) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 15"),
    "q_score_decay" -> ("SELECT doc_id, " +
      "round(exp(d * d * ln(0.5) / (100.0 * 100.0)), 4) AS g, " +
      "round(exp(d * ln(0.5) / 100.0), 4) AS e, " +
      "round(greatest(0.0, (200.0 - d) / 200.0), 4) AS l " +
      "FROM (SELECT doc_id, greatest(abs(CAST(n_chars AS DOUBLE) - 300.0) - 50.0, 0.0) AS d " +
      "FROM documents) ORDER BY doc_id"),
    "q_collapse" -> ("SELECT lang, doc_id, n_chars FROM (SELECT lang, doc_id, n_chars, " +
      "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn FROM documents) " +
      "WHERE rn = 1 ORDER BY lang"),
    "q_collapse_inner" -> ("SELECT lang, rank, doc_id, n_chars FROM (SELECT lang, doc_id, n_chars, " +
      "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank FROM documents) " +
      "WHERE rank <= 3 ORDER BY lang, rank"),
    "q_agg_percentiles_bucket" -> (MonthlySumCte +
      " SELECT round(quantile_cont(msum, 0.25), 4) AS p25, " +
      "round(quantile_cont(msum, 0.50), 4) AS p50, " +
      "round(quantile_cont(msum, 0.75), 4) AS p75 FROM b"),
    "q_agg_moving_percentiles" -> (MonthlySumCte +
      " SELECT m, round(msum, 4) AS msum, " +
      "round(quantile_cont(msum, 0.5) OVER (ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_p50 " +
      "FROM b ORDER BY m"),
    "q_agg_frequent_items" -> ("WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS item " +
      "FROM lineitem JOIN part ON p_partkey = l_partkey), " +
      "p AS (SELECT a.item AS item1, c.item AS item2 FROM items a JOIN items c " +
      "ON a.b = c.b AND a.item < c.item) " +
      "SELECT item1, item2, count(*)::BIGINT AS support FROM p GROUP BY item1, item2 " +
      "HAVING count(*) >= 50 ORDER BY support DESC, item1, item2 LIMIT 20"),
    "q_search_after" -> ("SELECT doc_id, n_chars FROM documents WHERE n_chars < 400 " +
      "OR (n_chars = 400 AND doc_id > 250) ORDER BY n_chars DESC, doc_id LIMIT 10"),
    "q_suggest_popular" -> (TokCte + ", v AS (SELECT token, count(*)::BIGINT AS freq FROM " +
      "(SELECT unnest(list_distinct(toks)) AS token FROM tok) GROUP BY token), " +
      "inp AS (SELECT coalesce(max(freq), 0) AS input_freq FROM v WHERE token = 'joins') " +
      "SELECT token, freq FROM v CROSS JOIN inp " +
      "WHERE token <> 'joins' AND levenshtein(token, 'joins') <= 1 AND freq > input_freq " +
      "ORDER BY freq DESC, token LIMIT 5"),
    "q_suggest" -> (TokCte + " SELECT token, count(*)::BIGINT AS freq FROM " +
      "(SELECT unnest(list_distinct(toks)) AS token FROM tok) GROUP BY token " +
      "HAVING token <> 'spak' AND levenshtein(token, 'spak') <= 2 " +
      "ORDER BY freq DESC, token LIMIT 5"),
    "q_suggest_missing" -> (TokCte + ", v AS (SELECT token, count(*)::BIGINT AS freq FROM " +
      "(SELECT unnest(list_distinct(toks)) AS token FROM tok) GROUP BY token), " +
      "inp AS (SELECT coalesce(max(freq), 0) AS input_freq FROM v WHERE token = 'spar') " +
      "SELECT token, freq FROM v CROSS JOIN inp " +
      "WHERE token <> 'spar' AND levenshtein(token, 'spar') <= 1 AND input_freq = 0 " +
      "ORDER BY freq DESC, token LIMIT 5"),
    "q_highlight" -> ("SELECT doc_id AS id, regexp_replace(regexp_extract(lower(text), " +
      "'([a-z0-9]+ ){0,3}\\bmerge\\b( [a-z0-9]+){0,3}'), '\\bmerge\\b', '<em>merge</em>', 'g') AS snippet " +
      "FROM documents WHERE list_contains(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), " +
      "x -> len(x) > 0), 'merge') ORDER BY id LIMIT 20"),

    "q_mget" -> ("WITH req(pos, rid) AS (VALUES (1, 7), (2, 3), (3, 99999999), (4, 42)) " +
      "SELECT pos::BIGINT AS pos, rid::BIGINT AS doc_id, " +
      "(doc_id IS NOT NULL)::INT AS found, lang, n_chars " +
      "FROM req LEFT JOIN documents ON doc_id = rid ORDER BY pos"),
    "q_msearch" -> (TokCte + ", m AS (" +
      "SELECT 'm1' AS qid, doc_id, n_chars FROM documents WHERE lang = 'en' " +
      "UNION ALL SELECT 'm2', doc_id, n_chars FROM documents WHERE n_chars >= 400 " +
      "UNION ALL SELECT 'm3', d.doc_id, d.n_chars FROM documents d JOIN tok ON tok.doc_id = d.doc_id " +
      "WHERE list_has_all(toks, ['hash', 'join'])), " +
      "r AS (SELECT qid, doc_id AS id, n_chars, " +
      "row_number() OVER (PARTITION BY qid ORDER BY n_chars DESC, doc_id) AS rank FROM m) " +
      "SELECT qid, rank, id, n_chars FROM r WHERE rank <= 5 ORDER BY qid, rank"),
    "q_runtime_fields" -> ("SELECT doc_id, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket, " +
      "n_chars / 1000.0 AS kchars FROM documents " +
      "WHERE floor(n_chars / 100) >= 2 AND lang = 'en' ORDER BY doc_id"),
    "q_read_metadata_score" -> (TokCte + bm25Ctes("", "tok", Seq("merge", "sort")) +
      " SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 15"),

    "q_percolate_scale" -> (TokCte + ", " +
      "reg AS (SELECT * FROM (VALUES ('wants_spark', ['spark','join']), " +
      "('table_scan', ['table','scan']), ('merge_heavy', ['merge','sort','hash'])) AS t(query_id, terms)), " +
      "qx AS (SELECT query_id, unnest(terms) AS term, len(terms) AS n_terms FROM reg), " +
      "dx AS (SELECT doc_id AS id, unnest(list_distinct(toks)) AS term FROM tok) " +
      "SELECT id, query_id FROM dx JOIN qx USING (term) " +
      "GROUP BY id, query_id, n_terms HAVING count(*) = n_terms ORDER BY id, query_id"),
    "q_percolate_dsl" -> (TokCte + ", " +
      "reg AS (SELECT * FROM (VALUES " +
      "('r_spark_long', ['spark','join'], 'n_chars', 300.0, 10000.0, NULL), " +
      "('r_table_phrase', ['table'], NULL, NULL, NULL, 'table scan'), " +
      "('r_merge', ['merge','sort'], NULL, NULL, NULL, NULL), " +
      "('r_fast_short', ['fast'], 'n_chars', 0.0, 350.0, NULL)) " +
      "AS t(query_id, terms, range_field, range_min, range_max, phrase)), " +
      "qx AS (SELECT query_id, unnest(terms) AS term, len(terms) AS n_terms FROM reg), " +
      "dx AS (SELECT doc_id AS id, unnest(list_distinct(toks)) AS term FROM tok), " +
      "cand AS (SELECT id, query_id FROM dx JOIN qx USING (term) " +
      "GROUP BY id, query_id, n_terms HAVING count(*) = n_terms), " +
      "j AS (SELECT doc_id AS id, ' ' || array_to_string(toks, ' ') || ' ' AS joined, n_chars " +
      "FROM tok JOIN documents USING (doc_id)) " +
      "SELECT cand.id AS id, cand.query_id AS query_id FROM cand JOIN j ON j.id = cand.id JOIN reg USING (query_id) " +
      "WHERE (range_field IS NULL OR " +
      "((CASE WHEN range_field = 'n_chars' THEN n_chars::DOUBLE END) >= range_min AND " +
      "(CASE WHEN range_field = 'n_chars' THEN n_chars::DOUBLE END) < range_max)) " +
      "AND (phrase IS NULL OR contains(joined, ' ' || phrase || ' ')) " +
      "ORDER BY cand.id, cand.query_id"),
    // each stored bool tree hand-translated to its predicate — the
    // oracle derives the same matches with no tree machinery at all
    "q_percolate_bool" -> (TokCte + ", " +
      "j AS (SELECT doc_id AS id, toks, ' ' || array_to_string(toks, ' ') || ' ' AS joined, n_chars " +
      "FROM tok JOIN documents USING (doc_id)) " +
      "SELECT id, query_id FROM (" +
      "SELECT id, 'b_nested_should' AS query_id FROM j " +
      "WHERE list_contains(toks, 'fast') AND (list_contains(toks, 'join') OR list_contains(toks, 'scan')) " +
      "UNION ALL SELECT id, 'b_msm2' FROM j " +
      "WHERE (CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END + " +
      "CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END + " +
      "CASE WHEN list_contains(toks, 'sort') THEN 1 ELSE 0 END) >= 2 " +
      "UNION ALL SELECT id, 'b_not_range' FROM j " +
      "WHERE list_contains(toks, 'table') AND NOT (list_contains(toks, 'scan') " +
      "AND n_chars::DOUBLE >= 300.0 AND n_chars::DOUBLE < 600.0) " +
      "UNION ALL SELECT id, 'b_phrase_range' FROM j " +
      "WHERE contains(joined, ' hash join ') AND n_chars::DOUBLE >= 200.0 AND n_chars::DOUBLE < 10000.0 " +
      "UNION ALL SELECT id, 'b_deep' FROM j " +
      "WHERE list_contains(toks, 'vector') AND (list_contains(toks, 'quantile') OR list_contains(toks, 'stream'))" +
      ") ORDER BY id, query_id"),
    "q_percolate_wild" -> (TokCte + ", " +
      "j AS (SELECT doc_id AS id, toks, ' ' || array_to_string(toks, ' ') || ' ' AS joined " +
      "FROM tok) " +
      "SELECT id, query_id FROM (" +
      "SELECT id, 'w_prefix' AS query_id FROM j WHERE contains(joined, ' ha') " +
      "UNION ALL SELECT id, 'w_wild' FROM j " +
      "WHERE len(list_filter(toks, t -> t LIKE 'j%n')) > 0 " +
      "UNION ALL SELECT id, 'w_combo' FROM j " +
      "WHERE list_contains(toks, 'fast') AND len(list_filter(toks, t -> t LIKE 'sc_n')) > 0 " +
      "UNION ALL SELECT id, 'w_pref_not' FROM j " +
      "WHERE contains(joined, ' dat') AND NOT list_contains(toks, 'join')" +
      ") ORDER BY id, query_id"),
    "q_percolate" -> (TokCte.replace("SELECT doc_id,", "SELECT doc_id, lang, source, n_chars,") +
      ", m AS (SELECT doc_id, " +
      "CASE WHEN list_has_all(toks, ['spark','join']) THEN 'wants_spark' END AS q1, " +
      "CASE WHEN lang = 'en' AND n_chars > 350 THEN 'long_en' END AS q2, " +
      "CASE WHEN source LIKE 'src1%' AND contains(' ' || array_to_string(toks, ' ') || ' ', ' table scan ') THEN 'src1x_phrase' END AS q3 " +
      "FROM tok) " +
      "SELECT doc_id AS id, query_id FROM (SELECT doc_id, unnest([q1, q2, q3]) AS query_id FROM m) " +
      "WHERE query_id IS NOT NULL ORDER BY id, query_id"),
  )
}

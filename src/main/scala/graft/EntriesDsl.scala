package graft

import graft.dsl.QueryDsl
import graft.rel.Relational
import graft.search.Search
import graft.sim.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.EntryShared._

/** SparkEntry registrations: Query DSL (filter context) + its oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesDsl {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. Query DSL (filter context) ----
    "q_term" -> ((s, d) => t(s, d, "documents")
      .where(QueryDsl.term(col("lang"), "en"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),
    "q_terms" -> ((s, d) => t(s, d, "lineitem")
      .where(QueryDsl.terms(col("l_returnflag"), Seq("A", "R")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q_range" -> ((s, d) => t(s, d, "orders")
      .where(QueryDsl.range(col("o_totalprice"), gte = Some(1000.0), lt = Some(5000.0)) &&
        QueryDsl.range(col("o_orderdate"), gte = Some("1996-01-01")))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))),
    "q_exists" -> ((s, d) => Tables.events(s, d)
      .where(QueryDsl.exists(col("value")) && QueryDsl.exists(col("props")))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))),
    "q_prefix" -> ((s, d) => t(s, d, "part")
      .where(QueryDsl.prefix(col("p_type"), "ECO"))
      .select(col("p_partkey"), col("p_type"))
      .orderBy(col("p_partkey"))),
    "q_wildcard" -> ((s, d) => t(s, d, "orders")
      .where(QueryDsl.wildcard(col("o_orderpriority"), "*-HIGH"))
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))),
    "q_regexp" -> ((s, d) => t(s, d, "documents")
      .where(QueryDsl.regexp(col("source"), "src1[0-9]"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))),
    "q_ids" -> ((s, d) => t(s, d, "documents")
      .where(QueryDsl.ids(col("doc_id"), Seq(3L, 7L, 11L, 19L)))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))),
    "q_bool" -> ((s, d) => t(s, d, "lineitem")
      .where(QueryDsl.bool(
        must = Seq(QueryDsl.range(col("l_shipdate"), gte = Some("1997-01-01"))),
        should = Seq(QueryDsl.term(col("l_returnflag"), "A"), QueryDsl.term(col("l_linestatus"), "F")),
        mustNot = Seq(col("l_quantity") > 45),
        minimumShouldMatch = 1))
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q_bool_msm" -> ((s, d) => t(s, d, "documents")
      .where(QueryDsl.bool(
        should = Seq(
          QueryDsl.term(col("lang"), "en"),
          QueryDsl.prefix(col("source"), "src1"),
          col("n_chars") > 300),
        minimumShouldMatch = 2))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),
    "q_fuzzy" -> ((s, d) => t(s, d, "documents")
      .where(QueryDsl.fuzzy(col("source"), "src12", maxEdits = 1))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))),

    // intervals rule tree: any_of alternatives inside an ordered
    // all_of proximity — expands to OR of compiled span passes
    "q_intervals" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"intervals": {"text": {"all_of": {"intervals": [
          |  {"any_of": {"intervals": [{"match": {"query": "hash"}},
          |                            {"match": {"query": "merge"}}]}},
          |  {"match": {"query": "join"}}],
          |  "max_gaps": 2, "ordered": true}}}}""".stripMargin))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // intervals filter: ordered "hash .. join" windows (gaps <= 3)
    // with NO "table" strictly inside — compiled position-list kernel
    "q_intervals_filter" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"intervals": {"text": {"match": {"query": "hash join",
          |  "max_gaps": 3, "ordered": true,
          |  "filter": {"not_containing": {"match": {"query": "table"}}}}}}}"""
          .stripMargin))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // the overlapping side of the intervals filter family, oracle-
    // keyed (containing/not_containing ride on q_intervals_filter):
    // a qualifying window must touch 'table' in the CLOSED window
    "q_intervals_overlap" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"intervals": {"text": {"match": {"query": "hash join",
          |  "max_gaps": 3, "ordered": true,
          |  "filter": {"overlapping": {"match": {"query": "table"}}}}}}}"""
          .stripMargin))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // case_insensitive term-level queries (ES 7.10 option)
    "q_term_ci" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"bool": {"must": [
          |  {"term": {"lang": {"value": "EN", "case_insensitive": true}}},
          |  {"wildcard": {"source": {"value": "SRC1*", "case_insensitive": true}}}]}}"""
          .stripMargin))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))),
    // _terms_enum: sorted keyword-term discovery under a prefix
    "q_terms_enum" -> ((s, d) =>
      Search.termsEnum(t(s, d, "part"), "p_name", prefix = "b", size = 12)),
    // fuzzy with transpositions: true (the ES default): an adjacent
    // swap is ONE edit — "rsc3" reaches "src3" in 1 (sr swap), every
    // single-digit srcN in 2; plain levenshtein needs 2 for the swap
    // alone, so the clause matches 11x the docs here
    "q_fuzzy_damerau" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"fuzzy": {"source": {"value": "rsc3", "fuzziness": 2,
          |  "transpositions": true}}}""".stripMargin))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))),

    // runtime_mappings: a Painless-computed field projected BEFORE the
    // query so the range predicate targets it like a mapped field;
    // Catalyst folds the projection into the scan stage
    "q_runtime_fields_agg" -> ((s, d) => {
      val (rf, inner) = graft.dsl.SearchBody.parse(
        """{"runtime_mappings": {
             "chars_per_100": {"type": "long",
               "script": {"source": "emit(doc['n_chars'].value / 100)"}}},
           "query": {"range": {"chars_per_100": {"gte": 2}}}}""")
      val df0 = rf.foldLeft(t(s, d, "documents")) {
        case (dd, (n, c)) => dd.withColumn(n, c)
      }
      val df1 = inner.fold(df0)(q => df0.where(graft.dsl.EsQuery.compile(q)))
      df1.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("chars_per_100")).as("s"))
        .orderBy(col("lang"))
    }),
    "q_dsl_json" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"bool": {"must": [{"term": {"lang": "en"}}],
                     "should": [{"prefix": {"source": "src1"}}, {"range": {"n_chars": {"gt": 300}}}],
                     "must_not": [{"wildcard": {"source": "src?"}}],
                     "minimum_should_match": 1}}"""))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),

    "q_uri_query" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.EsQuery.compile("?q=lang:en AND (n_chars:>300 OR source:src1*) AND NOT source:src19"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),
    // .keyword subfield addressing, oracle-keyed (upgraded from
    // spec): exact-match term + sort on the keyword twin
    "q_keyword_subfield" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"bool": {"must": [{"term": {"lang.keyword": "en"}},
            {"range": {"n_chars": {"gte": 400}}}]}}"""))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))),
    // zero_terms_query, oracle-keyed: a query the analyzer strips to
    // NOTHING (punctuation only) under "all" degrades to match_all;
    // under the default "none" it matches nothing
    "q_zero_terms" -> ((s, d) => t(s, d, "documents")
      .agg(
        sum(Search.matchQueryZeroTerms(col("text"), "?! -- !!", "all")
          .cast("long")).as("n_all"),
        sum(Search.matchQueryZeroTerms(col("text"), "?! -- !!", "none")
          .cast("long")).as("n_none"))),
    // KQL (Kibana) spelling: case-insensitive and/or/not keywords,
    // SPACED range operators — same predicate as q_uri_query
    "q_kql" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.Kql.compile(
        "lang:en and (n_chars > 300 or source:src1*) and not source:src19"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),
    // Lucene /regex/ clauses: anchored value regex on keyword fields,
    // per-token regex on the analyzed default field
    "q_uri_regex" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.EsQuery.compile("?q=lang:/e[nl]/ AND /m.rge/"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))),
    // multi_match cross_fields: terms match in DIFFERENT fields (one
    // blended field), operator=and satisfiable across fields
    "q_multi_match_cross" -> ((s, d) =>
      Search.multiMatchCrossTopK(t(s, d, "documents"), "doc_id",
        Seq("text", "source"), "merge src3", k = 10, operator = "and")),
    // Lucene +/- clause modifiers: +required -prohibited, plain clause
    // becomes optional (scoring-only, no filter effect)
    "q_uri_plusminus" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.UriQuery.compile("+lang:en -source:src19 n_chars:>300"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))),
    // fuzzy suffix on an analyzed field: any token within 1 edit
    "q_uri_fuzzy" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.UriQuery.compile("lang:en AND text:spak~1"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))),
    // default_operator=AND: bare adjacency requires every term
    "q_uri_default_and" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.UriQuery.compile("merge sort", "text", "and"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))),
    // boosted multi-field query_string: fields ["text^2","source"]
    "q_uri_boost" -> ((s, d) =>
      Search.queryStringTopK(t(s, d, "documents"), "doc_id",
        Search.parseBoostFields(Seq("text^2", "source")), "merge src5", 10)),
    // multi_match best_fields: max of per-field BM25
    "q_multi_match" -> ((s, d) =>
      Search.multiMatchTopK(t(s, d, "documents"), "doc_id",
        Seq("text", "source"), "merge src5", 10)),
    // multi_match type: phrase — per-field BM25 gated on the phrase
    // matching in THAT field, best-fields combine
    "q_multi_match_phrase" -> ((s, d) =>
      Search.multiMatchPhraseTopK(t(s, d, "documents"), "doc_id",
        Seq("text", "source"), "table scan", 10)),
    "q_rank_feature" -> ((s, d) =>
      Search.rankFeatureTopK(t(s, d, "documents"), "doc_id", "n_chars", 200.0, 15)),
    // rank_feature log + sigmoid function variants
    "q_rank_feature_log" -> ((s, d) =>
      Search.rankFeatureLogTopK(t(s, d, "documents"), "doc_id", "n_chars", 2.5, 15)),
    "q_rank_feature_sigmoid" -> ((s, d) =>
      Search.rankFeatureSigmoidTopK(t(s, d, "documents"), "doc_id", "n_chars",
        pivot = 300.0, exponent = 2.0, k = 15)),
    // dis_max with tie_breaker: best field's BM25 + 0.3x the other's
    "q_dis_max" -> ((s, d) => Search.disMaxTopK(
      Seq(
        Search.bm25Scores(t(s, d, "documents"), "doc_id", "text", "merge src5"),
        Search.bm25Scores(t(s, d, "documents"), "doc_id", "source", "merge src5")),
      tieBreaker = 0.3, k = 10)),
    // script_score: Painless subset compiled to codegen'd column math
    // span_near mixing an exact span_term with a span_multi prefix
    "q_span_multi" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"span_near": {"clauses": [
             {"span_term": {"text": "join"}},
             {"span_multi": {"match": {"prefix": {"text": "ha"}}}}],
           "slop": 3}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // completion suggester: pushed prefix scan, best weight per entry
    "q_suggest_completion" -> ((s, d) =>
      Search.suggestCompletion(t(s, d, "documents"), "source", "n_chars", "src1", 8)),
    // suggest_mode popular: only corrections MORE frequent than the
    // input term survive
    "q_suggest_popular" -> ((s, d) =>
      Search.suggestMode(t(s, d, "documents"), "text", "joins", "popular",
        maxEdits = 1, k = 5)),
    // completion suggester with contexts: suggestions gated to docs
    // in the requested categories, weights boosted per context value
    "q_suggest_context" -> ((s, d) =>
      Search.suggestCompletionContexts(t(s, d, "documents"), "source", "n_chars",
        prefix = "src", contextCol = "lang",
        contexts = Seq("en" -> 2.0, "fr" -> 1.0), k = 8)),
    // min_score: absolute relevance floor, not a top-k
    "q_min_score" -> ((s, d) =>
      Search.bm25MinScore(t(s, d, "documents"), "doc_id", "text", "vector hash", 0.8)),
    // WEIGHTED_AVG over STATS
    "q_esql_weighted_avg" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem
        | stats w = weighted_avg(l_extendedprice, l_quantity) by l_returnflag
        | eval w = round(w, 2) | sort l_returnflag""")),
    // int8 quantization audit over the embedding corpus (map-only)
    "q_embed_quant" -> ((s, d) =>
      graft.dedup.Vectors.quantizeInt8Stats(t(s, d, "embeddings"), "vec_id", "embedding")),
    // int4 twin (ES 8.18 int4_hnsw): same audit at 7 levels — run
    // both to price the extra error against 2x less storage/IO
    "q_embed_quant_int4" -> ((s, d) =>
      graft.dedup.Vectors.quantizeInt4Stats(t(s, d, "embeddings"), "vec_id", "embedding")),
    // script_score with dense-vector functions (ES semantic-search
    // scoring: cosineSimilarity over a stored embedding + 1.0)
    // Painless statement subset: a for-loop over the stored vector
    // compiles to ONE aggregate fold (no per-row interpreter)
    "q_script_loop" -> ((s, d) => Search.scriptScoreTopK(
      t(s, d, "embeddings"), "vec_id", query = lit(true),
      script = "def s = 0.0; for (x in doc['embedding']) { s += x * x } return Math.sqrt(s)",
      params = Map.empty, k = 15)),
    "q_script_vector" -> ((s, d) =>
      Search.scriptScoreTopK(t(s, d, "embeddings"), "vec_id",
        query = lit(true),
        script = "cosineSimilarity(params.qv, 'embedding') + 1.0",
        params = Map("qv" -> ScriptQv), k = 10)),
    "q_script_score" -> ((s, d) =>
      Search.scriptScoreTopK(t(s, d, "documents"), "doc_id",
        query = graft.dsl.QueryDslJson.compile(
          """{"script_score": {"query": {"range": {"n_chars": {"gte": 100}}},
             |"script": {"source": "ignored-here"}}}""".stripMargin),
        script = "saturation(doc['n_chars'].value, 250) * Math.log(2.0 + doc['n_chars'].value) + params.bump",
        params = Map("bump" -> 0.5), k = 12)),
    // relevance decaying with geo distance from an origin point
    "q_distance_feature" -> ((s, d) =>
      Search.distanceFeatureTopK(withGeo(t(s, d, "customer")), "c_custkey",
        "lat", "lon", originLat = 10.0, originLon = 20.0, pivotKm = 1000.0, k = 15)),
    // the ES wrapper query: base64-embedded query-dsl json
    "q_wrapper" -> ((s, d) => {
      val inner = """{"bool": {"must": [{"term": {"lang": "en"}}, {"range": {"n_chars": {"gte": 200}}}]}}"""
      val b64 = java.util.Base64.getEncoder.encodeToString(
        inner.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      t(s, d, "documents")
        .where(graft.dsl.QueryDslJson.compile(s"""{"wrapper": {"query": "$b64"}}"""))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // unordered positional proximity (span_near in_order=false)
    "q_span_near" -> ((s, d) => t(s, d, "documents")
      .where(Search.spanNear(col("text"), "join hash", 3))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // terms_set: >= 2 of the 3 terms present
    "q_terms_set" -> ((s, d) => t(s, d, "documents")
      .where(Search.termsSet(col("text"), Seq("merge", "hash", "scan"), lit(2)))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // simple_query_string mini-language: (hash AND join) OR
    // (phrase AND NOT slow) under default_operator=and
    "q_simple_query_string" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"simple_query_string": {"query": "hash join | \"merge batch\" -slow",
           "fields": ["text"], "default_operator": "and"}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // search-as-you-type: full terms anywhere + last term as prefix
    "q_match_bool_prefix" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchBoolPrefix(col("text"), "merge bat"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // match with minimum_should_match: 50% of 4 terms (floor) = 2
    "q_match_msm" -> ((s, d) => t(s, d, "documents")
      .where(Search.matchQueryMsm(col("text"), "spark window merge batch", "50%"))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // term-centric AND across text+source as one combined field
    "q_combined_fields" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"combined_fields": {"query": "hash src3", "fields": ["text", "source"]}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // span_or: single-term span OR an unordered span_near
    "q_span_or" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"span_or": {"clauses": [
             {"span_term": {"text": "vector"}},
             {"span_near": {"clauses": [{"span_term": {"text": "join"}},
               {"span_term": {"text": "hash"}}], "slop": 1, "in_order": false}}]}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // span_not: "vector" with no "join" within 3 positions either side
    "q_span_not" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"span_not": {"include": {"span_term": {"text": "vector"}},
             "exclude": {"span_term": {"text": "join"}}, "pre": 3, "post": 3}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // little term inside a 2-term near-span window (same predicate
    // powers span_containing — see Search.spanWithin)
    "q_span_within" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"span_within": {"little": {"span_term": {"text": "hash"}},
             "big": {"span_near": {"clauses": [
               {"span_term": {"text": "fast"}},
               {"span_term": {"text": "join"}}], "slop": 6}}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_span_containing" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"span_containing": {"little": {"span_term": {"text": "vector"}},
             "big": {"span_near": {"clauses": [
               {"span_term": {"text": "fast"}},
               {"span_term": {"text": "hash"}}], "slop": 8}}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // _termvectors with term_statistics for one document
    "q_termvectors" -> ((s, d) =>
      Search.termVectors(t(s, d, "documents"), "doc_id", "text", docId = 42L)),
    // _mtermvectors: a batch of docs through ONE corpus pass
    "q_mtermvectors" -> ((s, d) =>
      Search.mtermVectors(t(s, d, "documents"), "doc_id", "text", Seq(7L, 42L))),
    // ES 8.16 linear retriever: min-max-normalized weighted fusion
    "q_hybrid_linear" -> ((s, d) => {
      val lex = Search.bm25Scores(t(s, d, "documents"), "doc_id", "text", "fast hash join")
      val qv = array((0 until 64).map(i => lit((i * 37 % 100) / 100.0 - 0.5)): _*)
      val sem = t(s, d, "embeddings").select(
        col("vec_id").as("id"),
        // CosineSim declares double-array inputs: Catalyst casts the
        // float array natively (a transform() HOF here is interpreted
        // and was 6x super-linear in the 30x probe)
        graft.util.Num.round(
          graft.dedup.Vectors.cosine(col("embedding"), qv), 4).as("score"))
      Search.linearTopK(Seq((lex, 0.7), (sem, 0.3)), windowSize = 50, k = 10)
    }),
    // ES|QL piped queries compiled onto the same Catalyst plan
    "q_esql_where" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from orders | where o_totalprice >= 1000 and o_orderstatus == "O"
        | eval bucket = round(o_totalprice / 1000.0, 0)
        | keep o_orderkey, bucket | sort o_orderkey | limit 500""")),
    "q_esql_stats" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem
        | stats sum_qty = sum(l_quantity), n = count(*), max_p = max(l_extendedprice) by l_returnflag
        | sort l_returnflag""")),
    // ES|QL BUCKET in STATS..BY: calendar buckets by exact ns math,
    // numeric buckets by floor-width
    "q_esql_bucket" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events | stats n = count(*), mx = max(value) by day = bucket(ts_ns, "day")
        | eval mx = round(mx, 4) | sort day""")),
    // full-text functions inside ES|QL WHERE (8.17 surface): MATCH
    // composes with ordinary predicates in one Catalyst filter
    "q_esql_match" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | where match(text, "spark window") and lang == "en"
        | keep doc_id, lang | sort doc_id""")),
    // QSTR embeds the Lucene query-string grammar (field:term, AND)
    "q_esql_qstr" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | where qstr("lang:en AND spark")
        | stats n = count(*), max_chars = max(n_chars)""")),
    // 9.x family additions: MATCH_PHRASE (adjacency) + TERM (exact
    // keyword equality) composing in one WHERE
    "q_esql_match_phrase" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | where match_phrase(text, "table scan") and term(lang, "en")
        | keep doc_id | sort doc_id""")),
    // METADATA clause: _id (stringified key), _index, _version
    "q_esql_metadata" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents metadata _id, _index, _version | where lang == "en"
        | keep _id, _index, _version | sort _id | limit 50""")),
    "q_esql_eval_agg" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | where lang != "xx"
        | eval kchars = n_chars / 100
        | stats n = count(*), avg_k = avg(kchars) by lang
        | eval avg_k = round(avg_k, 4) | sort lang""")),
    // ENRICH (broadcast lookup join) + DISSECT (literal-anchored
    // field extraction) in one pipeline
    "q_esql_enrich" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from customer | enrich nation on c_nationkey == n_nationkey with n_name
        | stats n = count(*), acct = sum(c_acctbal) by n_name
        | eval acct = round(acct, 2) | sort n_name""")),
    "q_esql_dissect" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from orders | dissect o_orderpriority "%{pr_num}-%{pr_name}"
        | stats n = count(*) by pr_name | sort pr_name""")),
    // function long tail: SPLIT -> multivalue fold, string functions
    "q_esql_functions" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | eval toks = split(text, " ")
        | eval n = mv_count(toks) | eval ini = to_upper(left(lang, 1))
        | where n >= 40 | stats c = count(*), mx = max(n) by ini | sort ini""")),
    // multivalue family over SPLIT output: sort/dedupe/first/last
    "q_esql_mv" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | eval toks = split(text, " ")
        | eval u = mv_count(mv_dedupe(toks)), srt = mv_sort(toks)
        | eval first = mv_first(srt), last = mv_last(srt)
        | keep doc_id, u, first, last | sort doc_id | limit 200""")),
    // MV_MEDIAN (sorted middle; even counts average the two middles)
    // over the 64-dim embedding multivalue
    "q_esql_mv_median" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from embeddings | eval med = mv_median(embedding)
        | keep vec_id, med | sort vec_id | limit 100""")),
    // MV_PERCENTILE: linear interpolation at rank p/100*(n-1)
    "q_esql_mv_pctl" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from embeddings | eval p75 = mv_percentile(embedding, 75)
        | keep vec_id, p75 | sort vec_id | limit 100""")),
    // MV_EXPAND with ES|QL null semantics: a null multivalue stays as
    // ONE row with null (explode_outer), never a dropped row — the
    // non-en docs here keep exactly their doc count
    "q_esql_mv_expand" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents | eval toks = case(lang == "en", split(text, " "))
        | mv_expand toks | stats n = count(*) by lang | sort lang""")),
    // CASE with and without a default (absent default = null, which
    // STATS BY groups as its own bucket)
    "q_esql_case" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from orders | eval band = case(o_totalprice < 50000.0, "low",
            o_totalprice < 150000.0, "mid", "high")
        | eval urgent = case(o_orderpriority == "1-URGENT", 1)
        | stats n = count(*), u = count(urgent) by band | sort band""")),
    // sparse_vector / text_expansion: weighted term-frequency dot
    // product (one-pass compiled kernel), score-ordered top-k
    "q_sparse_vector" -> ((s, d) =>
      Search.sparseVectorTopK(t(s, d, "documents"), "doc_id", "text",
        Seq("vector" -> 1.2, "hash" -> 0.8, "merge" -> 0.5), 15)),
    // script filter clause: boolean Painless compiled to one codegen'd
    // predicate (params substituted at compile time)
    "q_script_filter" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"script": {"script": {
             "source": "doc['n_chars'].value * 2 > params.t",
             "params": {"t": 900}}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // ES SQL (`POST /_sql`): plain ANSI SQL routes straight through
    // spark.sql onto the same Catalyst plan shapes
    "q_sql_basic" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT lang, count(*) AS n, min(n_chars) AS lo, max(n_chars) AS hi
         FROM documents WHERE n_chars > 200 GROUP BY lang ORDER BY lang""")),
    // ES SQL MATCH() — full-text predicate inside the WHERE clause
    "q_sql_match" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT doc_id, lang FROM documents
         WHERE MATCH(text, 'vector hash', 'operator=and') AND n_chars > 150
         ORDER BY doc_id""")),
    // ES SQL SCORE() — BM25 relevance as a selectable/sortable column
    "q_sql_score" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT doc_id, SCORE() AS score FROM documents
         WHERE MATCH(text, 'vector join')
         ORDER BY score DESC, doc_id LIMIT 10""")),
    // ES SQL QUERY() — embedded Lucene query-string syntax (bare term
    // hits the default full-text field)
    "q_sql_query" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT doc_id FROM documents
         WHERE QUERY('lang:en AND merge') ORDER BY doc_id""")),
    // ES SQL PIVOT — rides Spark SQL's native PIVOT through the same
    // rewrite path (implicit GROUP BY on the non-pivot columns);
    // decimal cast keeps the cell sums order-independent exact
    "q_sql_pivot" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT bucket, CAST(s_o AS DOUBLE) AS s_o, CAST(s_f AS DOUBLE) AS s_f,
           CAST(s_p AS DOUBLE) AS s_p
         FROM (SELECT o_custkey % 10 AS bucket, o_orderstatus,
           CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders)
         PIVOT (SUM(price) FOR o_orderstatus IN ('O' AS s_o, 'F' AS s_f, 'P' AS s_p))
         ORDER BY bucket""")),
    // ES SQL scalar-function spellings Spark lacks: IIF,
    // DATE_DIFF('unit',..)/DATE_ADD('unit',..) — text-rewritten to
    // IF/timestampdiff/timestampadd before spark.sql
    // ES SQL PERCENTILE (0-100 scale) / PERCENTILE_RANK aggregates;
    // rounding happens OUTSIDE the SQL via Num.round (Spark's SQL
    // ROUND diverges from DuckDB's on binary doubles)
    "q_sql_percentile" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT o_orderstatus, PERCENTILE(o_totalprice, 50) AS p50,
           PERCENTILE_RANK(o_totalprice, 100000) AS pr
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      .select(col("o_orderstatus"),
        graft.util.Num.round(col("p50"), 4).as("p50"),
        graft.util.Num.round(col("pr"), 4).as("pr"))
      .orderBy(col("o_orderstatus"))),
    // ES SQL HISTOGRAM() grouping function -> bucket-start expression
    "q_sql_histogram" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT HISTOGRAM(o_totalprice, 50000) AS bucket, COUNT(*) AS n
         FROM orders GROUP BY bucket ORDER BY bucket""")),
    // ES|QL COMPLETION (9.x LLM operator): stubbed deterministic
    // inference — named output column, expression prompt, WITH ignored
    "q_esql_completion" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | where doc_id < 20
        | completion summary = text with { "inference_id" : "stub" }
        | keep doc_id, summary
        | sort doc_id""")),
    "q_sql_funcs" -> ((s, d) => graft.dsl.EsSql.run(s, d,
      """SELECT o_orderkey AS id,
           IIF(o_totalprice > 200000, 'big', 'small') AS sz,
           DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS dd,
           DATE_ADD('day', 30, o_orderdate) AS due
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
         ORDER BY id""")),
    // _explain: BM25 term-by-term breakdown for one doc, index-wide stats
    "q_explain" -> ((s, d) =>
      Search.explainScore(t(s, d, "documents"), "doc_id", "text",
        "vector hash join", docId = 42L)),
    // VALUES / TOP multivalue aggregates (projected to scalars — the
    // driver's comparator can't sort list cells)
    "q_esql_values" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | stats langs = values(lang), tops = top(n_chars, 3) by source
        | eval nl = mv_count(langs), l1 = mv_first(langs), ln = mv_last(langs),
               t1 = mv_first(tops), t3 = mv_last(tops)
        | keep source, nl, l1, ln, t1, t3
        | sort source | limit 20""")),
    // STATS ... WHERE: per-aggregate row filters sharing one agg pass
    "q_esql_stats_where" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem
        | stats n = count(*), nret = count(*) where l_returnflag == "R",
                rqty = sum(l_quantity) where l_returnflag == "R" by l_linestatus
        | sort l_linestatus""")),
    // FORK: branch sub-pipelines over one scan, tagged union
    "q_esql_fork" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | fork ( where n_chars > 450 | keep doc_id, n_chars )
               ( sort n_chars desc, doc_id | limit 5 | keep doc_id, n_chars )
        | sort _fork, doc_id""")),
    // FUSE (ES|QL 9.x): RRF merge of FORK branches — per-branch rank
    // window over the LIMIT-ed fork outputs, one partial-agg groupBy
    "q_esql_fuse" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | fork ( where n_chars > 450 | eval _score = n_chars + 0.0 | sort _score desc, doc_id | limit 20 | keep doc_id, _score )
               ( where source == "src3" | eval _score = doc_id + 0.0 | sort _score desc, doc_id | limit 20 | keep doc_id, _score )
        | fuse rrf key by doc_id with rank_constant = 60
        | eval _score = round(_score, 6)
        | sort _score desc, doc_id
        | limit 15""")),
    // GROK: named-pattern extraction (the log-pipeline sibling of
    // DISSECT) — one regexp_extract per capture, narrow codegen
    "q_esql_grok" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events
        | grok props "{"k": %{INT:kval:long}}"
        | stats n = count(*), ktot = sum(kval), kmax = max(kval) by event_type
        | sort event_type""")),
    // RERANK (inference stubbed to the deterministic term-overlap
    // scorer): _score recompute + re-sort on the narrowed window
    "q_esql_rerank" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | where match(text, "merge")
        | rerank "fast hash merge" on text
        | eval _score = round(_score, 4)
        | sort _score desc, doc_id
        | limit 10
        | keep doc_id, _score""")),
    // spatial family: ST_POINT/ST_X/ST_Y structs, ST_DISTANCE in
    // meters (great-circle) — pure codegen'd column math
    "q_esql_spatial" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from customer
        | eval lat = (c_custkey * 7919 % 18000) / 100.0 - 90.0,
               lon = (c_custkey * 104729 % 36000) / 100.0 - 180.0
        | eval p = st_point(lon, lat)
        | eval d_m = round(st_distance(p, st_point(0.0, 0.0)), 2), x = st_x(p), y = st_y(p)
        | where d_m < 2000000.0
        | keep c_custkey, d_m, x, y
        | sort c_custkey""")),
    // STD_DEV aggregate (8.15): per-group population stddev
    "q_esql_stddev" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem
        | stats sd = std_dev(l_quantity), n = count(*) by l_returnflag
        | eval sd = round(sd, 4)
        | sort l_returnflag""")),
    // function long tail: base64, angle conversions, 2-arg LOG, MV_ZIP
    "q_esql_functions2" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from documents
        | where doc_id <= 20
        | eval b64 = to_base64(lang), rt = from_base64(b64),
               deg = round(to_degrees(1.0), 4), rad = round(to_radians(180.0), 4),
               lg = round(log(2.0, 8.0), 4),
               z = mv_zip(split(lang, "n"), split(source, "rc"))
        | eval zn = mv_count(z), zl = mv_last(z)
        | keep doc_id, b64, rt, deg, rad, lg, zn, zl
        | sort doc_id""")),
    // spatial predicates (8.14): ST_CONTAINS/ST_WITHIN/ST_DISJOINT
    // over a WKT polygon — the Spark plan AND the oracle SQL generate
    // from the same vertex list (GeoPolygonVertices), so the ray-cast
    // can't drift between them
    "q_esql_st" -> ((s, d) => {
      val wkt = "POLYGON((" + (GeoPolygonVertices :+ GeoPolygonVertices.head)
        .map { case (lat, lon) => s"$lon $lat" }.mkString(", ") + "))"
      graft.dsl.Esql.run(s, d,
        s"""from customer
           | eval lat = (c_custkey * 7919 % 18000) / 100.0 - 90.0,
                  lon = (c_custkey * 104729 % 36000) / 100.0 - 180.0
           | eval p = st_point(lon, lat)
           | where st_contains(to_geoshape("$wkt"), p)
           | where case(st_within(p, to_geoshape("$wkt")), 1, 0) == 1
           | where case(st_disjoint(to_geoshape("$wkt"), p), 0, 1) == 1
           | keep c_custkey, lat, lon
           | sort c_custkey""")
    }),
    // KNN as an ES|QL WHERE function (9.x tech preview): keeps the k
    // nearest rows — rewrites to score + TakeOrderedAndProject, the
    // same distributed-top-k shape as the Query-DSL knn clause
    "q_esql_knn" -> ((s, d) => {
      val vec = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      graft.dsl.Esql.run(s, d,
        s"from embeddings | where knn(embedding, [${vec.mkString(", ")}], 10) " +
          "| eval lbl = label | keep vec_id, lbl | sort vec_id")
    }),
    // the 8.15-9.x scalar tail: HASH dispatch, SPACE, HYPOT, SCALB,
    // TO_BOOLEAN, and the scalar IP_PREFIX (the agg twin is
    // q_agg_ip_prefix)
    "q_esql_functions3" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events
        | where event_id <= 40
        | eval ip = concat(to_string(10), ".", to_string(user_id * 7 % 256),
               ".", to_string(user_id * 13 % 256), ".", to_string(user_id % 256))
        | eval net = ip_prefix(ip, 20, 64),
               h = hash("sha256", event_type),
               sp = concat("[", space(3), "]"),
               hy = round(hypot(3.0, 4.0), 4),
               sc = scalb(1.5, 4),
               ti = case(to_boolean(value > 100), 1, 0)
        | keep event_id, net, h, sp, hy, sc, ti
        | sort event_id""")),
    // 9.x sweep tail (r14): ROUND_TO point-list bucketing, COPY_SIGN,
    // TO_DATE_NANOS (string -> the ns-long domain), the mv tail
    // (median absolute deviation, p-series weighted sum), and a
    // multi-key LOOKUP JOIN is spec-covered in EsqlSpec
    "q_esql_functions4" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem
        | where l_orderkey <= 160
        | eval qb = round_to(l_quantity, 10.0, 20.0, 30.0, 40.0),
               cs = round(copy_sign(l_tax, l_discount - 0.04), 2),
               dn = to_date_nanos("2024-03-05 06:30:00"),
               mv = split(concat(to_string(l_linenumber), ",", to_string(l_quantity),
                 ",", to_string(l_orderkey % 7)), ","),
               mad = mv_median_absolute_deviation(mv),
               pw = round(mv_pseries_weighted_sum(mv, 1.5), 4)
        | keep l_orderkey, l_linenumber, qb, cs, dn, mad, pw
        | sort l_orderkey, l_linenumber""")),
    // date function family over ns-long event time
    "q_esql_dates" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events
        | eval day = date_format("yyyy-MM-dd", ts_ns),
               age_h = date_diff("hour", ts_ns, 1710000000000000000),
               mo = date_extract("month", ts_ns)
        | stats n = count(*), mx = max(age_h), mom = max(mo) by day
        | sort day | limit 10""")),
    // DATE_TRUNC over ns-long event time (exact integer math)
    "q_esql_date_trunc" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events | eval day = date_trunc("day", ts_ns)
        | stats n = count(*), lo = min(value), hi = max(value) by day
        | sort day | limit 14""")),
    // INLINESTATS: per-group aggregate appended to every row (the
    // partial-agg + broadcast-join-back plan), then filtered against
    "q_esql_inlinestats" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem | inlinestats mx = max(l_quantity) by l_returnflag
        | where l_quantity >= mx - 1
        | stats n = count(*) by l_returnflag | sort l_returnflag""")),
    // LOOKUP JOIN (ES 8.18): broadcast left join on the shared field
    "q_esql_lookup" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from customer | rename c_nationkey as n_nationkey
        | lookup join nation on n_nationkey
        | stats n = count(*) by n_name | sort n_name""")),
    // IN over a literal list (value and NOT-IN forms)
    "q_esql_in" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from lineitem | where l_returnflag in ("A", "R") and l_linestatus not in ("O")
        | stats n = count(*), q = sum(l_quantity) by l_returnflag
        | eval q = round(q, 2) | sort l_returnflag""")),
    // RENAME with multiple clauses; renamed columns flow through STATS
    "q_esql_rename" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from orders | rename o_orderpriority as prio, o_totalprice as price
        | stats n = count(*), mx = max(price) by prio | sort prio""")),
    // CHANGE_POINT: step-change detection over the daily value series
    "q_esql_change_point" -> ((s, d) => graft.dsl.Esql.run(s, d,
      """from events | eval day = date_trunc("day", ts_ns)
        | stats v = avg(value) by day | eval v = round(v, 4)
        | change_point v on day""")),
    // _search/template: mustache-rendered query -> DSL compile; the
    // min_chars param exercises scalar substitution, the absent
    // boost param exercises the inverted-section default
    "q_search_template" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.SearchTemplate.compile(
        """{"source": "{\"bool\": {\"must\": [{\"term\": {\"lang\": \"{{lang}}\"}}, {\"range\": {\"n_chars\": {\"gte\": {{min_chars}}{{^min_chars}}100{{/min_chars}}}}}]}}",
           "params": {"lang": "en", "min_chars": 200}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // _rank_eval: precision/MRR/DCG/recall of the BM25 top-10 against
    // graded ratings (rating = matched-query-terms - 1)
    "q_rank_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val results = Search.bm25TopK(docs, "doc_id", "text", "fast hash join", 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id").asc)))
        .select(lit(1L).as("query_id"), col("id"), col("rank"))
      val toks = graft.analysis.Analyzer.tokens(col("text"))
      val ratings = docs.select(
        lit(1L).as("query_id"),
        col("doc_id").as("id"),
        (Seq("fast", "hash", "join")
          .map(t => when(array_contains(toks, t), 1).otherwise(0))
          .reduce(_ + _) - 1).as("rating"))
        .where(col("rating") > 0)
      Search.rankEval(results, ratings, 10)
    }),
    // geo_shape envelope relation over doc-side envelopes
    "q_geo_shape" -> ((s, d) => {
      val c = withGeo(t(s, d, "customer"))
        .withColumn("min_lat", col("lat") - (col("c_custkey") % 10).cast("double") / 10.0)
        .withColumn("max_lat", col("lat") + (col("c_custkey") % 10).cast("double") / 10.0)
        .withColumn("min_lon", col("lon") - (col("c_custkey") % 7).cast("double") / 7.0)
        .withColumn("max_lon", col("lon") + (col("c_custkey") % 7).cast("double") / 7.0)
      c.where(Relational.envelopeRelation(
          col("min_lat"), col("max_lat"), col("min_lon"), col("max_lon"),
          -10.0, 10.0, -20.0, 20.0, "intersects"))
        .select(col("c_custkey"), col("min_lat"), col("max_lon"))
        .orderBy(col("c_custkey"))
    }),
    // indexed geo_shape POLYGONS: each doc carries its own vertex
    // ring; contains = compiled per-row ray cast, within = vertex
    // extremes vs envelope. The oracle checks the generic kernel
    // INDEPENDENTLY: test shapes are diamonds, whose containment has
    // a closed form (|dy|/armY + |dx|/armX <= 1) that shares no code
    // path with the ray cast.
    "q_geo_shape_indexed" -> ((s, d) => {
      val c = withGeo(t(s, d, "customer"))
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double"))
        .withColumn("ae", (col("c_custkey") % 5 + 2).cast("double"))
        .withColumn("aso", (col("c_custkey") % 3 + 2).cast("double"))
        .withColumn("aw", (col("c_custkey") % 11 + 2).cast("double"))
        .withColumn("lats", array(
          col("lat") + col("an"), col("lat"), col("lat") - col("aso"), col("lat")))
        .withColumn("lons", array(
          col("lon"), col("lon") + col("ae"), col("lon"), col("lon") - col("aw")))
      c.select(
          col("c_custkey"),
          Relational.shapeContainsPoint(col("lats"), col("lons"),
            5.1234567, 10.7654321).cast("int").as("contains_pt"),
          Relational.shapeWithinEnvelope(col("lats"), col("lons"),
            top = 29.876, left = -59.43, bottom = -29.954, right = 59.781)
            .cast("int").as("within_env"))
        .where(col("contains_pt") === 1 || col("within_env") === 1)
        .orderBy(col("c_custkey"))
    }),
    // geo_shape full topology 1: polygon WITH A HOLE. The shape is a
    // diamond with a concentric 1/3-scale diamond hole; containment is
    // even-odd parity across both rings (one compiled loop). The
    // oracle checks the generic kernel independently via the diamond
    // closed form: in_shape = outer <= 1 AND NOT hole <= 1.
    "q_geo_shape_holes" -> ((s, d) => {
      val c = withGeo(t(s, d, "customer"))
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double") * 8.0)
        .withColumn("ae", (col("c_custkey") % 5 + 2).cast("double") * 8.0)
        .withColumn("aso", (col("c_custkey") % 3 + 2).cast("double") * 8.0)
        .withColumn("aw", (col("c_custkey") % 11 + 2).cast("double") * 8.0)
        .withColumn("hn", col("an") / 3.0).withColumn("he", col("ae") / 3.0)
        .withColumn("hs", col("aso") / 3.0).withColumn("hw", col("aw") / 3.0)
      val outerLats = array(
        col("lat") + col("an"), col("lat"), col("lat") - col("aso"), col("lat"))
      val outerLons = array(
        col("lon"), col("lon") + col("ae"), col("lon"), col("lon") - col("aw"))
      val latRings = array(outerLats, array(
        col("lat") + col("hn"), col("lat"), col("lat") - col("hs"), col("lat")))
      val lonRings = array(outerLons, array(
        col("lon"), col("lon") + col("he"), col("lon"), col("lon") - col("hw")))
      c.select(
          col("c_custkey"),
          Relational.shapeContainsPoint(outerLats, outerLons,
            5.1234567, 10.7654321).cast("int").as("in_outer"),
          Relational.shapeRingsContainPoint(latRings, lonRings,
            5.1234567, 10.7654321).cast("int").as("in_shape"))
        .where(col("in_outer") === 1)
        .orderBy(col("c_custkey"))
    }),
    // geo_shape full topology 2: MULTIPOLYGON — two disjoint-by-
    // construction diamond parts (second centered at the negated
    // coordinates with rotated arms); even-odd across parts = union.
    "q_geo_shape_multi" -> ((s, d) => {
      val c = withGeo(t(s, d, "customer"))
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double") * 8.0)
        .withColumn("ae", (col("c_custkey") % 5 + 2).cast("double") * 8.0)
        .withColumn("aso", (col("c_custkey") % 3 + 2).cast("double") * 8.0)
        .withColumn("aw", (col("c_custkey") % 11 + 2).cast("double") * 8.0)
        .withColumn("lat2", -col("lat")).withColumn("lon2", -col("lon"))
      val latRings = array(
        array(col("lat") + col("an"), col("lat"), col("lat") - col("aso"), col("lat")),
        array(col("lat2") + col("ae"), col("lat2"), col("lat2") - col("aw"), col("lat2")))
      val lonRings = array(
        array(col("lon"), col("lon") + col("ae"), col("lon"), col("lon") - col("aw")),
        array(col("lon2"), col("lon2") + col("an"), col("lon2"), col("lon2") - col("aso")))
      c.select(
          col("c_custkey"),
          Relational.shapeRingsContainPoint(latRings, lonRings,
            5.1234567, 10.7654321).cast("int").as("in_shape"))
        .where(col("in_shape") === 1)
        .orderBy(col("c_custkey"))
    }),
    // geo_shape full topology 3: LINESTRING intersects envelope — a
    // 4-vertex per-row polyline vs a fixed query box; per segment,
    // bbox reject then the separating-axis corner test (compiled).
    // Oracle mirrors the identical closed-form comparisons.
    "q_geo_shape_line" -> ((s, d) => {
      val c = withGeo(t(s, d, "customer"))
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double") * 4.0)
        .withColumn("ae", (col("c_custkey") % 5 + 2).cast("double") * 4.0)
        .withColumn("aso", (col("c_custkey") % 3 + 2).cast("double") * 4.0)
        .withColumn("aw", (col("c_custkey") % 11 + 2).cast("double") * 4.0)
      val lats = array(
        col("lat"), col("lat") + col("an"),
        col("lat") - col("aso"), col("lat") + col("an") / 2.0)
      val lons = array(
        col("lon"), col("lon") + col("ae"),
        col("lon") + lit(2.0) * col("ae"), col("lon") - col("aw"))
      c.select(
          col("c_custkey"),
          Relational.linestringIntersectsEnvelope(lats, lons,
            top = 20.0, left = -30.0, bottom = -20.0, right = 30.0)
            .cast("int").as("hits"))
        .where(col("hits") === 1)
        .orderBy(col("c_custkey"))
    }),
    // ES 8 hybrid search: BM25 + vector retrievers fused by
    // reciprocal rank (retriever.rrf) — the RAG retrieval pattern
    "q_hybrid_rrf" -> ((s, d) => {
      val lex = Search.bm25Scores(t(s, d, "documents"), "doc_id", "text", "fast hash join")
      val qv = array((0 until 64).map(i => lit((i * 37 % 100) / 100.0 - 0.5)): _*)
      val sem = t(s, d, "embeddings").select(
        col("vec_id").as("id"),
        // CosineSim declares double-array inputs: Catalyst casts the
        // float array natively (a transform() HOF here is interpreted
        // and was 6x super-linear in the 30x probe)
        graft.util.Num.round(
          graft.dedup.Vectors.cosine(col("embedding"), qv), 4).as("score"))
      Search.rrfTopK(Seq(lex, sem), rankConstant = 60, windowSize = 50, k = 10)
    }),
    // search_as_you_type: bool_prefix candidates ranked by the
    // 2/3-gram shingle-subfield signals
    "q_sayt" -> ((s, d) =>
      Search.searchAsYouTypeTopK(t(s, d, "documents"), "doc_id", "text",
        "fast hash jo", 10)),
    // semantic query (8.15): model-free text-expansion degenerate —
    // unit-weight query tokens through the sparse-dot kernel
    "q_semantic" -> ((s, d) =>
      Search.semanticTopK(t(s, d, "documents"), "doc_id", "text",
        "vector hash merge", 15)),
    // the ES 8.16 retriever TREE (same fusion params as q_hybrid_rrf,
    // declared as the JSON retriever body instead of hand-wiring)
    "q_retriever_rrf" -> ((s, d) => {
      val vec = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      graft.dsl.Retrievers.topK(
        t(s, d, "documents"), "doc_id", t(s, d, "embeddings"), "vec_id",
        s"""{"retriever": {"rrf": {"retrievers": [
            |  {"standard": {"query": {"match": {"text": "fast hash join"}}}},
            |  {"knn": {"field": "embedding", "query_vector": [${vec.mkString(",")}]}}],
            |  "rank_window_size": 50, "rank_constant": 60}}}""".stripMargin,
        k = 10)
    }),
    // ES 8 knn search surface: pre-filter + exact top-k at a
    // num_candidates budget that covers the corpus
    "q_knn" -> ((s, d) => {
      val vec = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      Ann.knnSearch(t(s, d, "embeddings"), "vec_id",
        s"""{"knn": {"field": "embedding", "query_vector": [${vec.mkString(",")}],
            "k": 5, "num_candidates": 100000, "filter": {"term": {"label": 3}}}}""")
    }),
    // rank_vectors maxSim (ES 8.17 late interaction): multi-vector
    // docs scored by sum-of-best dot products against 2 query vectors
    "q_rank_vectors" -> ((s, d) => {
      val q1 = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      val q2 = (0 until 64).map(i => (i * 53 % 100) / 100.0 - 0.5)
      Ann.maxSimTopK(
        t(s, d, "embeddings").withColumn("doc_id", pmod(col("vec_id"), lit(50))),
        "doc_id", "embedding", Seq(q1, q2), k = 10)
    }),
    // knn with a similarity cutoff (ES 8.8): only hits at cosine >=
    // s survive the top-k window
    "q_knn_similarity" -> ((s, d) => {
      val vec = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      Ann.knnSearch(t(s, d, "embeddings"), "vec_id",
        s"""{"knn": {"field": "embedding", "query_vector": [${vec.mkString(",")}],
            "k": 20, "num_candidates": 100000, "similarity": 0.15}}""")
    }),
    // point-in-polygon geo filter (even-odd ray cast)
    "q_geo_polygon" -> ((s, d) =>
      withGeo(t(s, d, "customer"))
        .where(graft.rel.Relational.geoPolygon(col("lat"), col("lon"), GeoPolygonVertices))
        .select(col("c_custkey"), col("lat"), col("lon"))
        .orderBy(col("c_custkey"))),
    // cartesian `shape` query (ES point/shape field types over an x/y
    // plane, not lat/lon): graft's ray cast was always PLANAR (no
    // spherical math), so the cartesian surface is the identical
    // even-odd kernel over unprojected coordinates
    "q_shape_query" -> ((s, d) => t(s, d, "customer")
      .withColumn("x", (col("c_custkey") % 2000).cast("double") - 1000.0)
      .withColumn("y", ((col("c_custkey") * 7) % 2000).cast("double") - 1000.0)
      .where(graft.rel.Relational.geoPolygon(col("y"), col("x"), ShapeQueryVertices))
      .select(col("c_custkey"), col("x"), col("y"))
      .orderBy(col("c_custkey"))),
    // two-phase ranking: BM25 window, re-ranked by a secondary signal
    "q_rescore" -> ((s, d) =>
      Search.rescoreTopK(t(s, d, "documents"), "doc_id", "text", "fast hash join",
        log(lit(1.0) + col("n_chars")), windowSize = 50, k = 10,
        queryWeight = 1.0, rescoreWeight = 0.5)),
    "q_text_clean" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.cleanText(col("text")).as("clean"),
        length(TextAnalysis.cleanText(col("text"))).as("clean_len"))
      .orderBy(col("doc_id"))),
    // learning_to_rank rescorer: linear model over (bm25, doc
    // features) applied to the top-50 window only
    "q_ltr" -> ((s, d) => Search.ltrRescoreTopK(
      t(s, d, "documents"), "doc_id", "text", "fast hash join",
      features = Seq(
        "len" -> log(lit(1.0) + col("n_chars")),
        "is_en" -> (col("lang") === "en").cast("double")),
      weights = Map("_score" -> 0.6, "len" -> 0.2, "is_en" -> 1.5),
      windowSize = 50, k = 10)),
    // corpus n-gram heavy hitters (boilerplate mining): top document
    // frequencies over per-doc-distinct 3-gram shingles
    "q_ngram_topk" -> ((s, d) =>
      TextAnalysis.ngramTopK(t(s, d, "documents"), "text", n = 3, k = 20)),
  )

  val oracleSql: Map[String, String] = Map(
    // ---- A ----
    "q_term" -> "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en' ORDER BY doc_id",
    "q_terms" -> "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag IN ('A','R') ORDER BY l_orderkey, l_linenumber",
    "q_range" -> "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= 1000 AND o_totalprice < 5000 AND o_orderdate >= TIMESTAMP '1996-01-01' ORDER BY o_orderkey",
    "q_exists" -> "SELECT event_type, count(*)::BIGINT AS n FROM events WHERE value IS NOT NULL AND props IS NOT NULL GROUP BY event_type ORDER BY event_type",
    "q_prefix" -> "SELECT p_partkey, p_type FROM part WHERE p_type LIKE 'ECO%' ORDER BY p_partkey",
    "q_wildcard" -> "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority LIKE '%-HIGH' ORDER BY o_orderkey",
    "q_regexp" -> "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^(?:src1[0-9])$') ORDER BY doc_id",
    "q_ids" -> "SELECT doc_id, lang FROM documents WHERE doc_id IN (3, 7, 11, 19) ORDER BY doc_id",
    "q_bool" -> ("SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
      "AND (l_returnflag = 'A' OR l_linestatus = 'F') AND NOT (l_quantity > 45) ORDER BY l_orderkey, l_linenumber"),
    "q_bool_msm" -> ("SELECT doc_id, lang, source, n_chars FROM documents WHERE " +
      "(CASE WHEN lang = 'en' THEN 1 ELSE 0 END + CASE WHEN source LIKE 'src1%' THEN 1 ELSE 0 END + " +
      "CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) >= 2 ORDER BY doc_id"),
    "q_fuzzy" -> "SELECT doc_id, source FROM documents WHERE levenshtein(source, 'src12') <= 1 ORDER BY doc_id",
    "q_fuzzy_damerau" -> ("SELECT doc_id, source FROM documents " +
      "WHERE damerau_levenshtein(source, 'rsc3') <= 2 ORDER BY doc_id"),
    "q_intervals_filter" -> (TokCte + ", p AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS ph, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS pj, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'table') AS pt FROM tok) " +
      "SELECT doc_id FROM p WHERE len(list_filter(ph, a -> len(list_filter(pj, " +
      "b -> b > a AND b - a <= 4 AND len(list_filter(pt, t -> t > a AND t < b)) = 0)) > 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_intervals_overlap" -> (TokCte + ", p AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS ph, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS pj, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'table') AS pt FROM tok) " +
      "SELECT doc_id FROM p WHERE len(list_filter(ph, a -> len(list_filter(pj, " +
      "b -> b > a AND b - a <= 4 AND len(list_filter(pt, t -> t >= a AND t <= b)) > 0)) > 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_intervals" -> (TokCte + ", p AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS ph, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'merge') AS pm, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS pj FROM tok) " +
      "SELECT doc_id FROM p WHERE " +
      "len(list_filter(ph, a -> len(list_filter(pj, b -> b > a AND b - a <= 3)) > 0)) > 0 OR " +
      "len(list_filter(pm, a -> len(list_filter(pj, b -> b > a AND b - a <= 3)) > 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_term_ci" -> ("SELECT doc_id, lang, source FROM documents " +
      "WHERE lower(lang) = 'en' AND lower(source) LIKE 'src1%' ORDER BY doc_id"),
    "q_terms_enum" -> ("SELECT DISTINCT p_name AS term FROM part " +
      "WHERE p_name LIKE 'b%' ORDER BY term LIMIT 12"),

    "q_runtime_fields_agg" -> ("WITH r AS (SELECT lang, CAST(trunc(n_chars / 100.0) AS BIGINT) AS cp " +
      "FROM documents) SELECT lang, count(*)::BIGINT AS n, sum(cp)::BIGINT AS s " +
      "FROM r WHERE cp >= 2 GROUP BY lang ORDER BY lang"),
    "q_dsl_json" -> ("SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en' " +
      "AND (source LIKE 'src1%' OR n_chars > 300) AND NOT (source LIKE 'src_') ORDER BY doc_id"),

    "q_keyword_subfield" -> ("SELECT doc_id, lang, n_chars FROM documents " +
      "WHERE lang = 'en' AND n_chars >= 400 ORDER BY doc_id"),
    "q_zero_terms" -> ("SELECT count(*)::BIGINT AS n_all, 0::BIGINT AS n_none FROM documents"),
    "q_kql" -> ("SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en' " +
      "AND (n_chars > 300 OR source LIKE 'src1%') AND NOT source = 'src19' ORDER BY doc_id"),
    "q_uri_query" -> ("SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en' " +
      "AND (n_chars > 300 OR source LIKE 'src1%') AND NOT source = 'src19' ORDER BY doc_id"),
    "q_uri_plusminus" -> ("SELECT doc_id, source, n_chars FROM documents " +
      "WHERE lang = 'en' AND NOT source = 'src19' ORDER BY doc_id"),
    "q_uri_regex" -> (TokCte + " SELECT d.doc_id, d.lang FROM documents d " +
      "JOIN tok ON tok.doc_id = d.doc_id " +
      "WHERE regexp_full_match(d.lang, '(?:e[nl])') " +
      "AND len(list_filter(tok.toks, t -> regexp_full_match(t, '(?:m.rge)'))) > 0 " +
      "ORDER BY d.doc_id"),
    "q_multi_match_cross" -> (TokCte +
      ", xtok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text || ' ' || source), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents)" +
      bm25Ctes("x", "xtok", Seq("merge", "src3")) +
      " SELECT id, score FROM scx JOIN xtok ON xtok.doc_id = scx.id " +
      "WHERE list_has_all(xtok.toks, ['merge', 'src3']) " +
      "ORDER BY score DESC, id LIMIT 10"),
    "q_uri_fuzzy" -> (TokCte.replace("FROM documents", "FROM documents WHERE lang = 'en'") +
      " SELECT doc_id FROM tok WHERE len(list_filter(toks, t -> levenshtein(t, 'spak') <= 1)) > 0 ORDER BY doc_id"),
    "q_uri_default_and" -> (TokCte +
      " SELECT doc_id FROM tok WHERE list_has_all(toks, ['merge','sort']) ORDER BY doc_id"),
    "q_uri_boost" -> (TokCte + STokCte +
      bm25Ctes("1", "tok", Seq("merge", "src5")) +
      bm25Ctes("2", "stok", Seq("merge", "src5")) +
      ", u AS (SELECT id, score * 2.0 AS s FROM sc1 UNION ALL SELECT id, score * 1.0 FROM sc2) " +
      "SELECT id, round(sum(s), 4) AS score FROM u GROUP BY id ORDER BY score DESC, id LIMIT 10"),
    "q_multi_match" -> (TokCte + STokCte +
      bm25Ctes("1", "tok", Seq("merge", "src5")) +
      bm25Ctes("2", "stok", Seq("merge", "src5")) +
      ", u AS (SELECT id, score AS s FROM sc1 UNION ALL SELECT id, score FROM sc2) " +
      "SELECT id, round(max(s), 4) AS score FROM u GROUP BY id ORDER BY score DESC, id LIMIT 10"),
    "q_rank_feature_log" -> ("SELECT doc_id AS id, round(2.5 * ln(1.0 + n_chars), 4) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 15"),
    "q_rank_feature_sigmoid" -> ("SELECT doc_id AS id, " +
      "round(pow(n_chars, 2.0) / (pow(n_chars, 2.0) + pow(300.0, 2.0)), 4) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 15"),
    "q_dis_max" -> (TokCte + STokCte +
      bm25Ctes("1", "tok", Seq("merge", "src5")) +
      bm25Ctes("2", "stok", Seq("merge", "src5")) +
      ", u AS (SELECT id, score AS s FROM sc1 UNION ALL SELECT id, score FROM sc2) " +
      "SELECT id, round(max(s) + 0.3 * (sum(s) - max(s)), 4) AS score FROM u " +
      "GROUP BY id ORDER BY score DESC, id LIMIT 10"),
    "q_multi_match_phrase" -> (TokCte + STokCte +
      bm25Ctes("1", "tok", Seq("table", "scan")) +
      bm25Ctes("2", "stok", Seq("table", "scan")) +
      ", g1 AS (SELECT doc_id FROM tok WHERE contains(' ' || array_to_string(toks, ' ') || ' ', ' table scan ')), " +
      "g2 AS (SELECT doc_id FROM stok WHERE contains(' ' || array_to_string(toks, ' ') || ' ', ' table scan ')), " +
      "u AS (SELECT id, score AS s FROM sc1 WHERE id IN (SELECT doc_id FROM g1) " +
      "UNION ALL SELECT id, score FROM sc2 WHERE id IN (SELECT doc_id FROM g2)) " +
      "SELECT id, round(max(s), 4) AS score FROM u GROUP BY id ORDER BY score DESC, id LIMIT 10"),
    "q_distance_feature" -> (GeoCte + " SELECT c_custkey AS id, " +
      "round(1000.0 / (1000.0 + 2 * 6371 * asin(sqrt(pow(sin(radians(10.0 - lat) / 2), 2) + " +
      "cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(20.0 - lon) / 2), 2)))), 4) AS score " +
      "FROM g ORDER BY score DESC, id LIMIT 15"),
    "q_wrapper" -> ("SELECT doc_id, n_chars FROM documents " +
      "WHERE lang = 'en' AND n_chars >= 200 ORDER BY doc_id"),
    "q_geo_polygon" -> geoPolygonOracleSql(GeoPolygonVertices),
    "q_shape_query" -> shapeQueryOracleSql(ShapeQueryVertices),
    "q_span_near" -> (TokCte + ", pos AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS p1, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS p2 FROM tok) " +
      "SELECT doc_id FROM pos WHERE len(p1) > 0 AND len(p2) > 0 AND " +
      "len(list_filter(p1, i -> len(list_filter(p2, j -> greatest(i, j) - least(i, j) + 1 - 2 <= 3)) > 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_terms_set" -> (TokCte + " SELECT doc_id FROM tok " +
      "WHERE len(list_intersect(list_distinct(toks), ['merge', 'hash', 'scan'])) >= 2 " +
      "ORDER BY doc_id"),
    // (hash AND join) OR (phrase("merge batch") AND NOT slow)
    "q_simple_query_string" -> (TokCte + " SELECT doc_id FROM tok WHERE " +
      "((list_contains(toks, 'hash') AND list_contains(toks, 'join')) OR " +
      "contains(' ' || array_to_string(toks, ' ') || ' ', ' merge batch ')) " +
      "AND NOT list_contains(toks, 'slow') ORDER BY doc_id"),
    "q_match_bool_prefix" -> (TokCte + " SELECT doc_id FROM tok WHERE " +
      "list_contains(toks, 'merge') AND " +
      "contains(' ' || array_to_string(toks, ' ') || ' ', ' bat') ORDER BY doc_id"),
    "q_match_msm" -> (TokCte + " SELECT doc_id FROM tok WHERE " +
      "(list_contains(toks, 'spark')::INT + list_contains(toks, 'window')::INT + " +
      "list_contains(toks, 'merge')::INT + list_contains(toks, 'batch')::INT) >= 2 " +
      "ORDER BY doc_id"),
    "q_agg_sig_text" -> (
      s"WITH s AS (SELECT doc_id, text FROM documents WHERE lang = 'en' AND ${hexFold("doc_id::VARCHAR", 12)} / 281474976710656.0 < 0.5), " +
      "d AS (SELECT text FROM (SELECT text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM s) WHERE rn = 1), " +
      "ft AS (SELECT unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM d), " +
      "fc AS (SELECT term, count(*)::BIGINT AS fg_count FROM ft GROUP BY 1), " +
      "bt AS (SELECT unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "bc AS (SELECT term, count(*)::BIGINT AS bg_count FROM bt GROUP BY 1), " +
      "tot AS (SELECT (SELECT count(*) FROM d)::DOUBLE AS fg_total, (SELECT count(*) FROM documents)::DOUBLE AS bg_total) " +
      "SELECT term, fg_count, bg_count, " +
      "round((fg_count / fg_total) * ln((fg_count / fg_total) / (bg_count / bg_total)), 4) AS score " +
      "FROM fc JOIN bc USING (term) CROSS JOIN tot WHERE fg_count >= 5 " +
      "ORDER BY score DESC, term LIMIT 10"),
    "q_combined_fields" -> (TokCte + STokCte +
      " SELECT t.doc_id FROM tok t JOIN stok s USING (doc_id) WHERE " +
      "(list_contains(t.toks, 'hash') OR list_contains(s.toks, 'hash')) AND " +
      "(list_contains(t.toks, 'src3') OR list_contains(s.toks, 'src3')) " +
      "ORDER BY t.doc_id"),
    // vector-term OR unordered window(join, hash, slop 1)
    "q_span_or" -> (TokCte + ", pos AS (SELECT doc_id, toks, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS p1, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS p2 FROM tok) " +
      "SELECT doc_id FROM pos WHERE list_contains(toks, 'vector') OR " +
      "(len(p1) > 0 AND len(p2) > 0 AND " +
      "len(list_filter(p1, i -> len(list_filter(p2, j -> greatest(i, j) - least(i, j) + 1 - 2 <= 1)) > 0)) > 0) " +
      "ORDER BY doc_id"),
    "q_span_not" -> (TokCte + ", pos AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'vector') AS pinc, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS pexc FROM tok) " +
      "SELECT doc_id FROM pos WHERE len(list_filter(pinc, " +
      "p -> len(list_filter(pexc, q -> q >= p - 3 AND q <= p + 3)) = 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_span_within" -> (TokCte + ", pos AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS p0, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'fast') AS p1, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS p2 FROM tok) " +
      "SELECT doc_id FROM pos WHERE len(list_filter(p1, i -> len(list_filter(p2, " +
      "j -> greatest(i, j) - least(i, j) - 1 <= 6 AND len(list_filter(p0, " +
      "k -> k >= least(i, j) AND k <= greatest(i, j))) > 0)) > 0)) > 0 ORDER BY doc_id"),
    "q_span_containing" -> (TokCte + ", pos AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'vector') AS p0, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'fast') AS p1, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'hash') AS p2 FROM tok) " +
      "SELECT doc_id FROM pos WHERE len(list_filter(p1, i -> len(list_filter(p2, " +
      "j -> greatest(i, j) - least(i, j) - 1 <= 8 AND len(list_filter(p0, " +
      "k -> k >= least(i, j) AND k <= greatest(i, j))) > 0)) > 0)) > 0 ORDER BY doc_id"),
    "q_mtermvectors" -> (TokCte + ", doc AS (SELECT doc_id AS id, unnest(toks) AS term FROM tok WHERE doc_id IN (7, 42)), " +
      "dtf AS (SELECT id, term, count(*)::BIGINT AS term_freq FROM doc GROUP BY id, term), " +
      "corpus AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
      "st AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq, count(*)::BIGINT AS ttf " +
      "FROM corpus WHERE term IN (SELECT DISTINCT term FROM dtf) GROUP BY term) " +
      "SELECT id, term, term_freq, doc_freq, ttf FROM dtf JOIN st USING (term) ORDER BY id, term"),
    "q_termvectors" -> (TokCte + ", doc AS (SELECT unnest(toks) AS term FROM tok WHERE doc_id = 42), " +
      "dtf AS (SELECT term, count(*)::BIGINT AS term_freq FROM doc GROUP BY term), " +
      "corpus AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
      "st AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq, count(*)::BIGINT AS ttf " +
      "FROM corpus WHERE term IN (SELECT term FROM dtf) GROUP BY term) " +
      "SELECT term, term_freq, doc_freq, ttf FROM dtf JOIN st USING (term) ORDER BY term"),
    "q_hybrid_linear" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "sem AS (SELECT vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS score " +
      "FROM n CROSS JOIN qn), " +
      "wl AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 50), " +
      "ws AS (SELECT id, score FROM sem ORDER BY score DESC, id LIMIT 50), " +
      "ml AS (SELECT min(score) AS mn, max(score) AS mx FROM wl), " +
      "ms AS (SELECT min(score) AS mn, max(score) AS mx FROM ws), " +
      "u AS (SELECT id, (CASE WHEN mx > mn THEN (score - mn) / (mx - mn) ELSE 1.0 END) * 0.7 AS c FROM wl CROSS JOIN ml " +
      "UNION ALL SELECT id, (CASE WHEN mx > mn THEN (score - mn) / (mx - mn) ELSE 1.0 END) * 0.3 AS c FROM ws CROSS JOIN ms) " +
      "SELECT id, round(sum(c), 4) AS linear_score, count(*)::INT AS matched FROM u " +
      "GROUP BY id ORDER BY linear_score DESC, id LIMIT 10"),
    "q_esql_where" -> ("SELECT o_orderkey, round(o_totalprice / 1000.0, 0) AS bucket " +
      "FROM orders WHERE o_totalprice >= 1000 AND o_orderstatus = 'O' " +
      "ORDER BY o_orderkey LIMIT 500"),
    "q_esql_stats" -> ("SELECT l_returnflag, sum(l_quantity) AS sum_qty, " +
      "count(*)::BIGINT AS n, max(l_extendedprice) AS max_p " +
      "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),
    "q_esql_bucket" -> ("SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day, " +
      "count(*)::BIGINT AS n, round(max(value), 4) AS mx FROM events " +
      "GROUP BY 1 ORDER BY day"),
    "q_esql_match" -> (TokCte.replace(
      "SELECT doc_id, list_filter", "SELECT doc_id, lang, list_filter") +
      " SELECT doc_id, lang FROM tok " +
      "WHERE list_has_any(toks, ['spark','window']) AND lang = 'en' ORDER BY doc_id"),
    "q_esql_qstr" -> (TokCte.replace(
      "SELECT doc_id, list_filter", "SELECT doc_id, lang, n_chars, list_filter") +
      " SELECT count(*)::BIGINT AS n, max(n_chars)::BIGINT AS max_chars FROM tok " +
      "WHERE lang = 'en' AND list_contains(toks, 'spark')"),
    "q_esql_metadata" -> ("SELECT doc_id::VARCHAR AS _id, 'documents' AS _index, " +
      "1::BIGINT AS _version FROM documents WHERE lang = 'en' ORDER BY _id LIMIT 50"),
    "q_esql_match_phrase" -> (TokCte.replace(
      "SELECT doc_id, list_filter", "SELECT doc_id, lang, list_filter") +
      " SELECT doc_id FROM tok WHERE contains(' ' || array_to_string(toks, ' ') || ' ', " +
      "' table scan ') AND lang = 'en' ORDER BY doc_id"),
    "q_esql_eval_agg" -> ("SELECT lang, count(*)::BIGINT AS n, " +
      "round(avg(n_chars / 100), 4) AS avg_k FROM documents " +
      "WHERE lang <> 'xx' GROUP BY 1 ORDER BY lang"),
    "q_esql_enrich" -> ("SELECT n_name, count(*)::BIGINT AS n, " +
      "round(sum(c_acctbal), 2) AS acct FROM customer " +
      "LEFT JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY 1 ORDER BY n_name"),
    "q_esql_functions" -> ("WITH s AS (SELECT len(string_split(text, ' ')) AS n, " +
      "upper(left(lang, 1)) AS ini FROM documents) " +
      "SELECT ini, count(*)::BIGINT AS c, max(n)::INT AS mx FROM s WHERE n >= 40 " +
      "GROUP BY ini ORDER BY ini"),
    "q_esql_mv" -> ("SELECT doc_id, len(list_distinct(string_split(text, ' ')))::INT AS u, " +
      "list_sort(string_split(text, ' '))[1] AS first, " +
      "list_sort(string_split(text, ' '))[-1] AS last " +
      "FROM documents ORDER BY doc_id LIMIT 200"),
    "q_esql_mv_median" -> ("SELECT vec_id, " +
      "(list_sort(embedding)[32]::DOUBLE + list_sort(embedding)[33]::DOUBLE) / 2.0 AS med " +
      "FROM embeddings ORDER BY vec_id LIMIT 100"),
    // rank 0.75*(64-1) = 47.25 exactly: lo index 48 (1-based), frac .25
    "q_esql_mv_pctl" -> ("SELECT vec_id, " +
      "list_sort(embedding)[48]::DOUBLE + " +
      "(list_sort(embedding)[49]::DOUBLE - list_sort(embedding)[48]::DOUBLE) * 0.25 AS p75 " +
      "FROM embeddings ORDER BY vec_id LIMIT 100"),
    "q_sayt" -> (TokCte + ", g AS (SELECT doc_id, toks, " +
      "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS sh2, " +
      "list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh3 FROM tok) " +
      "SELECT doc_id AS id, (" +
      "list_contains(toks, 'fast')::INT + list_contains(toks, 'hash')::INT + list_contains(toks, 'jo')::INT + " +
      "(CASE WHEN list_contains(sh2, 'fast hash') THEN 2 ELSE 0 END) + " +
      "(CASE WHEN list_contains(sh2, 'hash jo') THEN 2 ELSE 0 END) + " +
      "(CASE WHEN list_contains(sh3, 'fast hash jo') THEN 3 ELSE 0 END) + " +
      "(len(list_filter(toks, t -> starts_with(t, 'jo'))) > 0)::INT) AS score FROM g " +
      "WHERE list_contains(toks, 'fast') AND list_contains(toks, 'hash') " +
      "AND len(list_filter(toks, t -> starts_with(t, 'jo'))) > 0 " +
      "ORDER BY score DESC, id LIMIT 10"),
    "q_semantic" -> (TokCte + " SELECT doc_id AS id, CAST(round(" +
      "1.0 * len(list_filter(toks, t -> t = 'vector')) + " +
      "1.0 * len(list_filter(toks, t -> t = 'hash')) + " +
      "1.0 * len(list_filter(toks, t -> t = 'merge')), 4) AS DOUBLE) AS score " +
      "FROM tok WHERE score > 0 ORDER BY score DESC, id LIMIT 15"),
    "q_sparse_vector" -> (TokCte + " SELECT doc_id AS id, CAST(round(" +
      "1.2 * len(list_filter(toks, t -> t = 'vector')) + " +
      "0.8 * len(list_filter(toks, t -> t = 'hash')) + " +
      "0.5 * len(list_filter(toks, t -> t = 'merge')), 4) AS DOUBLE) AS score " +
      "FROM tok WHERE score > 0 ORDER BY score DESC, id LIMIT 15"),
    "q_script_filter" -> "SELECT doc_id FROM documents WHERE n_chars * 2 > 900 ORDER BY doc_id",
    "q_sql_basic" -> ("SELECT lang, count(*)::BIGINT AS n, min(n_chars) AS lo, max(n_chars) AS hi " +
      "FROM documents WHERE n_chars > 200 GROUP BY lang ORDER BY lang"),
    "q_sql_match" -> ("WITH tok AS (SELECT doc_id, lang, n_chars, " +
      "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents) " +
      "SELECT doc_id, lang FROM tok WHERE list_contains(toks, 'vector') AND list_contains(toks, 'hash') " +
      "AND n_chars > 150 ORDER BY doc_id"),
    "q_sql_score" -> (TokCte + bm25Ctes("", "tok", Seq("vector", "join")) +
      " SELECT id AS doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10"),
    "q_sql_query" -> (TokCte.replace("SELECT doc_id,", "SELECT doc_id, lang,") +
      " SELECT doc_id FROM tok WHERE lang = 'en' AND list_contains(toks, 'merge') ORDER BY doc_id"),
    "q_sql_pivot" -> ("SELECT o_custkey % 10 AS bucket, " +
      "CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS s_o, " +
      "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS s_f, " +
      "CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS s_p " +
      "FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_sql_percentile" -> ("SELECT o_orderstatus, " +
      "round(quantile_cont(o_totalprice, 0.50), 4) AS p50, " +
      "round(100.0 * avg(CASE WHEN o_totalprice <= 100000 THEN 1.0 ELSE 0.0 END), 4) AS pr " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_sql_histogram" -> ("SELECT CAST(floor(o_totalprice / 50000) AS DOUBLE) * 50000 AS bucket, " +
      "count(*)::BIGINT AS n FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_esql_completion" -> (TokCte +
      " SELECT doc_id, 'stub: ' || array_to_string(list_reverse(toks[1:8]), ' ') AS summary " +
      "FROM tok WHERE doc_id < 20 ORDER BY doc_id"),
    "q_sql_funcs" -> ("SELECT o_orderkey AS id, " +
      "CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS sz, " +
      "date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS dd, " +
      "o_orderdate + INTERVAL 30 DAY AS due FROM orders " +
      "WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' " +
      "AND o_orderdate < TIMESTAMP '1995-02-01 00:00:00' ORDER BY id"),
    "q_explain" -> (TokCte + ", dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM tok), " +
      "st AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl), " +
      "tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM " +
      "(SELECT doc_id, dl, unnest(toks) AS term FROM dl) " +
      "WHERE term IN ('vector','hash','join') GROUP BY doc_id, dl, term), " +
      "df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term) " +
      "SELECT tf.term, tf.tf, df.df, " +
      "round(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)), 4) AS idf, " +
      "round(ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) * tf.tf * (1.2 + 1.0) / " +
      "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl)), 4) AS weight " +
      "FROM tf JOIN df USING (term) CROSS JOIN st WHERE tf.doc_id = 42 ORDER BY term"),
    "q_esql_values" -> ("SELECT source, len(ll)::INT AS nl, ll[1] AS l1, ll[-1] AS ln, " +
      "tt[1] AS t1, tt[-1] AS t3 FROM (SELECT source, " +
      "list_sort(list_distinct(list(lang))) AS ll, " +
      "list_sort(list(n_chars), 'DESC')[1:3] AS tt FROM documents GROUP BY source) " +
      "ORDER BY source LIMIT 20"),
    "q_esql_stats_where" -> ("SELECT l_linestatus, count(*)::BIGINT AS n, " +
      "(count(*) FILTER (l_returnflag = 'R'))::BIGINT AS nret, " +
      "sum(l_quantity) FILTER (l_returnflag = 'R') AS rqty " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "q_esql_fork" -> ("SELECT doc_id, n_chars, 'fork1' AS _fork FROM documents WHERE n_chars > 450 " +
      "UNION ALL SELECT doc_id, n_chars, 'fork2' AS _fork FROM " +
      "(SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 5) " +
      "ORDER BY _fork, doc_id"),
    "q_esql_fuse" -> ("WITH f1 AS (SELECT doc_id, n_chars + 0.0 AS _score FROM documents " +
      "WHERE n_chars > 450 ORDER BY _score DESC, doc_id LIMIT 20), " +
      "f2 AS (SELECT doc_id, doc_id + 0.0 AS _score FROM documents " +
      "WHERE source = 'src3' ORDER BY _score DESC, doc_id LIMIT 20), " +
      "r AS (SELECT doc_id, row_number() OVER (ORDER BY _score DESC, doc_id) AS rnk FROM f1 " +
      "UNION ALL SELECT doc_id, row_number() OVER (ORDER BY _score DESC, doc_id) AS rnk FROM f2) " +
      "SELECT doc_id, round(sum(1.0 / (60.0 + rnk)), 6) AS _score FROM r GROUP BY doc_id " +
      "ORDER BY _score DESC, doc_id LIMIT 15"),
    "q_esql_grok" -> ("SELECT event_type, count(*)::BIGINT AS n, " +
      "sum(CAST(regexp_extract(props, '\\{\"k\": (-?\\d+)\\}', 1) AS BIGINT))::BIGINT AS ktot, " +
      "max(CAST(regexp_extract(props, '\\{\"k\": (-?\\d+)\\}', 1) AS BIGINT))::BIGINT AS kmax " +
      "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_esql_spatial" -> (GeoCte +
      " SELECT c_custkey, d_m, x, y FROM (SELECT c_custkey, " +
      "round((2 * 6371 * asin(sqrt(pow(sin(radians(0.0 - lat) / 2), 2) + " +
      "cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2)))) * 1000, 2) AS d_m, " +
      "lon AS x, lat AS y FROM g) WHERE d_m < 2000000.0 ORDER BY c_custkey"),
    "q_esql_stddev" -> ("SELECT l_returnflag, round(stddev_pop(l_quantity), 4) AS sd, " +
      "count(*)::BIGINT AS n FROM lineitem GROUP BY 1 ORDER BY 1"),
    // identical ray-cast formula, generated from the same vertices
    "q_esql_st" -> geoPolygonOracleSql(GeoPolygonVertices),
    // the oracle ranks by the SAME rounded cosine with the vec_id
    // tie-break the rewrite pins
    "q_esql_knn" -> ("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "p AS (SELECT vec_id, label, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS c " +
      "FROM n, qn), " +
      "t AS (SELECT vec_id, label FROM p ORDER BY c DESC, vec_id ASC LIMIT 10) " +
      "SELECT vec_id, label AS lbl FROM t ORDER BY vec_id"),
    "q_esql_functions3" -> (IpCte +
      ", p AS (SELECT event_id, (ipn // 4096) * 4096 AS net_n, event_type, value " +
      "FROM ipv WHERE event_id <= 40) " +
      "SELECT event_id, " +
      "(net_n // 16777216 % 256) || '.' || (net_n // 65536 % 256) || '.' || " +
      "(net_n // 256 % 256) || '.' || (net_n % 256) AS net, " +
      "sha256(event_type) AS h, '[   ]' AS sp, 5.0::DOUBLE AS hy, 24.0::DOUBLE AS sc, " +
      "(CASE WHEN value > 100 THEN 1 ELSE 0 END)::INT AS ti " +
      "FROM p ORDER BY event_id"),
    "q_esql_functions4" -> ("WITH b AS (SELECT l_orderkey, l_linenumber, " +
      "l_quantity::DOUBLE AS q, l_tax::DOUBLE AS tax, l_discount::DOUBLE AS disc, " +
      "string_split(l_linenumber::VARCHAR || ',' || l_quantity::VARCHAR || ',' || (l_orderkey % 7)::VARCHAR, ',') AS mv " +
      "FROM lineitem WHERE l_orderkey <= 160), " +
      "m AS (SELECT *, list_sort(mv) AS sv, len(mv) AS n FROM b), " +
      "m2 AS (SELECT *, (sv[(n + 1) // 2]::DOUBLE + sv[(n + 1) // 2 + (n + 1) % 2]::DOUBLE) / 2.0 AS med FROM m), " +
      "m3 AS (SELECT *, list_sort(list_transform(mv, v -> abs(v::DOUBLE - med))) AS dv FROM m2) " +
      "SELECT l_orderkey, l_linenumber, " +
      "(CASE WHEN q >= 40.0 THEN 40.0 WHEN q >= 30.0 THEN 30.0 WHEN q >= 20.0 THEN 20.0 ELSE 10.0 END)::DOUBLE AS qb, " +
      // + 0.0 folds IEEE -0.0 (a zero tax under a negative sign) back
      // to 0.0, matching the Spark side's Num.round convention
      "(round(CASE WHEN disc - 0.04 < 0 THEN -abs(tax) ELSE abs(tax) END, 2) + 0.0) AS cs, " +
      "epoch_ns(TIMESTAMP '2024-03-05 06:30:00')::BIGINT AS dn, " +
      "(dv[(n + 1) // 2] + dv[(n + 1) // 2 + (n + 1) % 2]) / 2.0 AS mad, " +
      "round(list_reduce(list_prepend(0.0, list_transform(list_reverse_sort(mv), " +
      "(v, i) -> v::DOUBLE / power(i::DOUBLE, 1.5))), (a, x) -> a + x), 4) AS pw " +
      "FROM m3 ORDER BY l_orderkey, l_linenumber"),
    "q_esql_functions2" -> ("SELECT doc_id, to_base64(encode(lang)) AS b64, " +
      "decode(from_base64(to_base64(encode(lang)))) AS rt, " +
      "round(degrees(1.0), 4) AS deg, round(radians(180.0), 4) AS rad, " +
      "round(ln(8.0) / ln(2.0), 4) AS lg, " +
      "greatest(len(string_split(lang, 'n')), len(string_split(source, 'rc')))::INT AS zn, " +
      "list_last(list_transform(range(1, greatest(len(string_split(lang, 'n')), len(string_split(source, 'rc'))) + 1), " +
      "i -> concat_ws(',', string_split(lang, 'n')[i], string_split(source, 'rc')[i]))) AS zl " +
      "FROM documents WHERE doc_id <= 20 ORDER BY doc_id"),
    "q_esql_dates" -> ("SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n, " +
      "max((1710000000000000000 - epoch_ns(ts)) // 3600000000000)::BIGINT AS mx, " +
      "max(month(ts))::BIGINT AS mom FROM events GROUP BY 1 ORDER BY day LIMIT 10"),
    "q_esql_date_trunc" -> ("SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day, " +
      "count(*)::BIGINT AS n, min(value) AS lo, max(value) AS hi FROM events " +
      "GROUP BY day ORDER BY day LIMIT 14"),
    "q_esql_dissect" -> ("SELECT regexp_extract(o_orderpriority, '^(.*?)-(.*)$', 2) AS pr_name, " +
      "count(*)::BIGINT AS n FROM orders GROUP BY 1 ORDER BY pr_name"),
    "q_esql_mv_expand" -> ("WITH t AS (SELECT lang, CASE WHEN lang = 'en' " +
      "THEN regexp_split_to_array(text, ' ') END AS toks FROM documents), " +
      "e AS (SELECT lang, unnest(toks) FROM t WHERE toks IS NOT NULL " +
      "UNION ALL SELECT lang, NULL FROM t WHERE toks IS NULL) " +
      "SELECT lang, count(*)::BIGINT AS n FROM e GROUP BY lang ORDER BY lang"),
    "q_esql_case" -> ("WITH t AS (SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low' " +
      "WHEN o_totalprice < 150000.0 THEN 'mid' ELSE 'high' END AS band, " +
      "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END AS urgent FROM orders) " +
      "SELECT band, count(*)::BIGINT AS n, count(urgent)::BIGINT AS u " +
      "FROM t GROUP BY band ORDER BY band"),
    "q_esql_inlinestats" -> ("WITH s AS (SELECT l_returnflag, max(l_quantity) AS mx " +
      "FROM lineitem GROUP BY 1) " +
      "SELECT l.l_returnflag, count(*)::BIGINT AS n FROM lineitem l " +
      "JOIN s USING (l_returnflag) WHERE l_quantity >= mx - 1 " +
      "GROUP BY 1 ORDER BY l_returnflag"),
    "q_esql_in" -> ("SELECT l_returnflag, count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS q " +
      "FROM lineitem WHERE l_returnflag IN ('A', 'R') AND l_linestatus NOT IN ('O') " +
      "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_esql_rename" -> ("SELECT o_orderpriority AS prio, count(*)::BIGINT AS n, " +
      "max(o_totalprice) AS mx FROM orders GROUP BY 1 ORDER BY prio"),
    "q_esql_lookup" -> ("SELECT n_name, count(*)::BIGINT AS n FROM customer " +
      "LEFT JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY 1 ORDER BY n_name"),
    "q_esql_change_point" -> ("WITH b AS (SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day, " +
      "round(avg(value), 4) AS v FROM events GROUP BY day), " +
      "t AS (SELECT count(v)::DOUBLE AS n, CAST(sum(CAST(v AS DECIMAL(24,6))) AS DOUBLE) AS s FROM b), " +
      "c AS (SELECT day, v, " +
      "(count(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS n1, " +
      "sum(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1 FROM b), " +
      "st AS (SELECT day, v, round(n1 * ((s1/n1) - (s/n)) * ((s1/n1) - (s/n)) + " +
      "(n - n1) * (((s-s1)/(n-n1)) - (s/n)) * (((s-s1)/(n-n1)) - (s/n)), 4) AS cp_stat " +
      "FROM c CROSS JOIN t WHERE n1 < n) " +
      "SELECT day, v, cp_stat FROM st ORDER BY cp_stat DESC, day LIMIT 1"),
    "q_search_template" -> ("SELECT doc_id FROM documents " +
      "WHERE lang = 'en' AND n_chars >= 200 ORDER BY doc_id"),
    "q_rank_eval" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", rk AS (SELECT id, rank FROM (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM sc) WHERE rank <= 10), " +
      "rt AS (SELECT doc_id AS id, (list_contains(toks, 'fast')::INT + list_contains(toks, 'hash')::INT + list_contains(toks, 'join')::INT) - 1 AS rating " +
      "FROM tok WHERE (list_contains(toks, 'fast')::INT + list_contains(toks, 'hash')::INT + list_contains(toks, 'join')::INT) - 1 > 0), " +
      "j AS (SELECT rk.rank, rt.rating FROM rk LEFT JOIN rt USING (id)) " +
      "SELECT 1::BIGINT AS query_id, " +
      "round(sum(CASE WHEN rating > 0 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS precision_k, " +
      "round(coalesce(1.0 / min(CASE WHEN rating > 0 THEN rank END), 0.0), 4) AS mrr, " +
      "round(sum(CASE WHEN rating > 0 THEN (pow(2.0, rating) - 1.0) / (ln(rank + 1.0) / ln(2.0)) ELSE 0.0 END), 4) AS dcg_k, " +
      "round(sum(CASE WHEN rating > 0 THEN 1 ELSE 0 END)::DOUBLE / (SELECT count(*) FROM rt), 4) AS recall_k " +
      "FROM j"),
    "q_geo_shape" -> (GeoCte +
      ", env AS (SELECT c_custkey, " +
      "lat - (c_custkey % 10) / 10.0 AS min_lat, lat + (c_custkey % 10) / 10.0 AS max_lat, " +
      "lon - (c_custkey % 7) / 7.0 AS min_lon, lon + (c_custkey % 7) / 7.0 AS max_lon FROM g) " +
      "SELECT c_custkey, min_lat, max_lon FROM env " +
      "WHERE max_lat >= -10.0 AND min_lat <= 10.0 AND max_lon >= -20.0 AND min_lon <= 20.0 " +
      "ORDER BY c_custkey"),
    "q_geo_shape_indexed" -> (GeoCte +
      ", a AS (SELECT c_custkey, lat, lon, " +
      "CAST(c_custkey % 7 + 2 AS DOUBLE) AS an, CAST(c_custkey % 5 + 2 AS DOUBLE) AS ae, " +
      "CAST(c_custkey % 3 + 2 AS DOUBLE) AS aso, CAST(c_custkey % 11 + 2 AS DOUBLE) AS aw FROM g), " +
      "f AS (SELECT c_custkey, " +
      "(CASE ((CASE WHEN 5.1234567 >= lat THEN (5.1234567 - lat) / an ELSE (lat - 5.1234567) / aso END) + " +
      "(CASE WHEN 10.7654321 >= lon THEN (10.7654321 - lon) / ae ELSE (lon - 10.7654321) / aw END)) <= 1.0 " +
      "WHEN TRUE THEN 1 ELSE 0 END)::INT AS contains_pt, " +
      "(CASE WHEN lat - aso >= -29.954 AND lat + an <= 29.876 AND lon - aw >= -59.43 AND lon + ae <= 59.781 " +
      "THEN 1 ELSE 0 END)::INT AS within_env FROM a) " +
      "SELECT c_custkey, contains_pt, within_env FROM f " +
      "WHERE contains_pt = 1 OR within_env = 1 ORDER BY c_custkey"),
    "q_geo_shape_holes" -> (GeoCte +
      ", a AS (SELECT c_custkey, lat, lon, " +
      "CAST(c_custkey % 7 + 2 AS DOUBLE) * 8.0 AS an, CAST(c_custkey % 5 + 2 AS DOUBLE) * 8.0 AS ae, " +
      "CAST(c_custkey % 3 + 2 AS DOUBLE) * 8.0 AS aso, CAST(c_custkey % 11 + 2 AS DOUBLE) * 8.0 AS aw FROM g), " +
      "h AS (SELECT *, an / 3.0 AS hn, ae / 3.0 AS he, aso / 3.0 AS hs, aw / 3.0 AS hw FROM a), " +
      "f AS (SELECT c_custkey, " +
      s"(CASE WHEN ${diamondTSql("lat", "lon", "an", "aso", "ae", "aw")} <= 1.0 THEN 1 ELSE 0 END)::INT AS in_outer, " +
      s"(CASE WHEN ${diamondTSql("lat", "lon", "an", "aso", "ae", "aw")} <= 1.0 AND " +
      s"NOT (${diamondTSql("lat", "lon", "hn", "hs", "he", "hw")} <= 1.0) THEN 1 ELSE 0 END)::INT AS in_shape FROM h) " +
      "SELECT c_custkey, in_outer, in_shape FROM f WHERE in_outer = 1 ORDER BY c_custkey"),
    "q_geo_shape_multi" -> (GeoCte +
      ", a AS (SELECT c_custkey, lat, lon, -lat AS lat2, -lon AS lon2, " +
      "CAST(c_custkey % 7 + 2 AS DOUBLE) * 8.0 AS an, CAST(c_custkey % 5 + 2 AS DOUBLE) * 8.0 AS ae, " +
      "CAST(c_custkey % 3 + 2 AS DOUBLE) * 8.0 AS aso, CAST(c_custkey % 11 + 2 AS DOUBLE) * 8.0 AS aw FROM g), " +
      "f AS (SELECT c_custkey, " +
      s"(CASE WHEN (${diamondTSql("lat", "lon", "an", "aso", "ae", "aw")} <= 1.0) != " +
      s"(${diamondTSql("lat2", "lon2", "ae", "aw", "an", "aso")} <= 1.0) THEN 1 ELSE 0 END)::INT AS in_shape FROM a) " +
      "SELECT c_custkey, in_shape FROM f WHERE in_shape = 1 ORDER BY c_custkey"),
    "q_geo_shape_line" -> (GeoCte +
      ", a AS (SELECT c_custkey, lat, lon, " +
      "CAST(c_custkey % 7 + 2 AS DOUBLE) * 4.0 AS an, CAST(c_custkey % 5 + 2 AS DOUBLE) * 4.0 AS ae, " +
      "CAST(c_custkey % 3 + 2 AS DOUBLE) * 4.0 AS aso, CAST(c_custkey % 11 + 2 AS DOUBLE) * 4.0 AS aw FROM g), " +
      "v AS (SELECT c_custkey, lat AS y1, lon AS x1, lat + an AS y2, lon + ae AS x2, " +
      "lat - aso AS y3, lon + 2.0 * ae AS x3, lat + an / 2.0 AS y4, lon - aw AS x4 FROM a), " +
      "f AS (SELECT c_custkey, (CASE WHEN " +
      s"${segBoxSql("y1", "x1", "y2", "x2", 20.0, -30.0, -20.0, 30.0)} OR " +
      s"${segBoxSql("y2", "x2", "y3", "x3", 20.0, -30.0, -20.0, 30.0)} OR " +
      s"${segBoxSql("y3", "x3", "y4", "x4", 20.0, -30.0, -20.0, 30.0)} " +
      "THEN 1 ELSE 0 END)::INT AS hits FROM v) " +
      "SELECT c_custkey, hits FROM f WHERE hits = 1 ORDER BY c_custkey"),
    // identical fusion as q_hybrid_rrf: the retriever-tree body must
    // reproduce the hand-wired pipeline bit-for-bit
    "q_retriever_rrf" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "sem AS (SELECT vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS score " +
      "FROM n CROSS JOIN qn), " +
      "rl AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM sc), " +
      "rs AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM sem), " +
      "u AS (SELECT id, 1.0 / (60 + rank) AS c FROM rl WHERE rank <= 50 " +
      "UNION ALL SELECT id, 1.0 / (60 + rank) AS c FROM rs WHERE rank <= 50) " +
      "SELECT id, round(sum(c), 4) AS rrf_score, count(*)::INT AS matched FROM u " +
      "GROUP BY id ORDER BY rrf_score DESC, id LIMIT 10"),
    "q_hybrid_rrf" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "sem AS (SELECT vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS score " +
      "FROM n CROSS JOIN qn), " +
      "rl AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM sc), " +
      "rs AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank FROM sem), " +
      "u AS (SELECT id, 1.0 / (60 + rank) AS c FROM rl WHERE rank <= 50 " +
      "UNION ALL SELECT id, 1.0 / (60 + rank) AS c FROM rs WHERE rank <= 50) " +
      "SELECT id, round(sum(c), 4) AS rrf_score, count(*)::INT AS matched FROM u " +
      "GROUP BY id ORDER BY rrf_score DESC, id LIMIT 10"),
    "q_knn" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v " +
      "FROM embeddings WHERE label = 3), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "p AS (SELECT vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS cosine " +
      "FROM n CROSS JOIN qn) " +
      "SELECT id, cosine, rank FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, id) AS rank FROM p) " +
      "WHERE rank <= 5 ORDER BY rank"),
    "q_rank_vectors" -> ("WITH e AS (SELECT vec_id % 50 AS doc_id, " +
      "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS q1, " +
      "list_transform(range(0, 64), i -> (i * 53 % 100) / 100.0 - 0.5) AS q2), " +
      "p AS (SELECT doc_id, " +
      "list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * q1[i])), (x, y) -> x + y) AS d1, " +
      "list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * q2[i])), (x, y) -> x + y) AS d2 " +
      "FROM e CROSS JOIN q) " +
      "SELECT doc_id AS id, round(max(d1) + max(d2), 4) AS maxsim FROM p " +
      "GROUP BY 1 ORDER BY maxsim DESC, id LIMIT 10"),
    "q_knn_similarity" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 37 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "p AS (SELECT vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS cosine " +
      "FROM n CROSS JOIN qn) " +
      "SELECT id, cosine, rank FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, id) AS rank FROM p) " +
      "WHERE rank <= 20 AND cosine >= 0.15 ORDER BY rank"),
    "q_rank_feature" -> ("SELECT doc_id AS id, " +
      "round(CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 200.0), 4) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 15"),
    "q_span_multi" -> (TokCte + ", pos AS (SELECT doc_id, " +
      "list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS p1, " +
      "list_filter(range(1, len(toks) + 1), i -> starts_with(toks[i], 'ha')) AS p2 FROM tok) " +
      "SELECT doc_id FROM pos WHERE len(p1) > 0 AND len(p2) > 0 AND " +
      "len(list_filter(p1, i -> len(list_filter(p2, j -> greatest(i, j) - least(i, j) + 1 - 2 <= 3)) > 0)) > 0 " +
      "ORDER BY doc_id"),
    "q_suggest_completion" -> ("SELECT source AS suggestion, max(n_chars) AS weight " +
      "FROM documents WHERE starts_with(source, 'src1') GROUP BY 1 " +
      "ORDER BY weight DESC, suggestion LIMIT 8"),
    "q_suggest_context" -> ("SELECT source AS suggestion, " +
      "CAST(round(max(n_chars * (CASE lang WHEN 'en' THEN 2.0 WHEN 'fr' THEN 1.0 ELSE 0.0 END)), 4) AS DOUBLE) AS weight " +
      "FROM documents WHERE starts_with(source, 'src') AND lang IN ('en', 'fr') " +
      "GROUP BY 1 ORDER BY weight DESC, suggestion LIMIT 8"),
    "q_min_score" -> (TokCte + bm25Ctes("", "tok", Seq("vector", "hash")) +
      " SELECT id, score FROM sc WHERE score >= 0.8 ORDER BY score DESC, id"),
    "q_esql_weighted_avg" -> ("SELECT l_returnflag, " +
      "round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS w " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "q_embed_quant" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e), " +
      "r AS (SELECT vec_id, scale, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> abs(least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale - x)) END AS errs FROM s) " +
      "SELECT vec_id AS id, round(scale, 6) AS scale, round(list_max(errs), 6) AS max_err, " +
      "round(list_reduce(list_prepend(0.0, list_transform(errs, e -> e * e)), (a, b) -> a + b) / len(v), 6) AS mse " +
      "FROM r JOIN e USING (vec_id) ORDER BY id"),
    "q_embed_quant_int4" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 7.0 AS scale FROM e), " +
      "r AS (SELECT vec_id, scale, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> abs(least(greatest(floor(x / scale + 0.5), -7.0), 7.0) * scale - x)) END AS errs FROM s) " +
      "SELECT vec_id AS id, round(scale, 6) AS scale, round(list_max(errs), 6) AS max_err, " +
      "round(list_reduce(list_prepend(0.0, list_transform(errs, e -> e * e)), (a, b) -> a + b) / len(v), 6) AS mse " +
      "FROM r JOIN e USING (vec_id) ORDER BY id"),
    "q_script_loop" -> ("SELECT vec_id AS id, round(sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)), 4) AS score " +
      "FROM embeddings ORDER BY score DESC, id LIMIT 15"),
    "q_script_vector" -> ("WITH q AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS v), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM q) " +
      "SELECT vec_id AS id, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> n.v[i] * qn.v[i])), (x, y) -> x + y) / (n.nrm * qn.nrm) + 1.0, 4) AS score " +
      "FROM n CROSS JOIN qn ORDER BY score DESC, id LIMIT 10"),
    "q_script_score" -> ("SELECT doc_id AS id, " +
      "round((CAST(n_chars AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 250.0)) * " +
      "ln(2.0 + CAST(n_chars AS DOUBLE)) + 0.5, 4) AS score " +
      "FROM documents WHERE n_chars >= 100 ORDER BY score DESC, id LIMIT 12"),
    "q_rescore" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", w AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 50) " +
      "SELECT w.id, round(w.score * 1.0 + ln(1.0 + d.n_chars) * 0.5, 4) AS score " +
      "FROM w JOIN documents d ON d.doc_id = w.id ORDER BY score DESC, id LIMIT 10"),
    "q_ltr" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", w AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 50) " +
      "SELECT w.id, round(w.score * 0.6 + ln(1.0 + d.n_chars) * 0.2 + " +
      "(CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END) * 1.5, 4) AS ltr_score " +
      "FROM w JOIN documents d ON d.doc_id = w.id ORDER BY ltr_score DESC, id LIMIT 10"),
    "q_ngram_topk" -> (TokCte + ", sh AS (SELECT doc_id, " +
      "unnest(list_distinct(list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS ngram FROM tok) " +
      "SELECT ngram, count(*)::BIGINT AS df FROM sh GROUP BY 1 " +
      "ORDER BY df DESC, ngram LIMIT 20"),
    "q_text_clean" -> ("SELECT doc_id, " +
      "trim(regexp_replace(regexp_replace(regexp_replace(text, 'https?://[^ \\t\\n\\f\\r]+', ' ', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', ' ', 'g'), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS clean, " +
      "length(trim(regexp_replace(regexp_replace(regexp_replace(text, 'https?://[^ \\t\\n\\f\\r]+', ' ', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', ' ', 'g'), '[ \\t\\n\\f\\r]+', ' ', 'g')))::INT AS clean_len " +
      "FROM documents ORDER BY doc_id"),
    "q_agg_pipeline" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1) " +
      "SELECT bucket, doc_count, sum_v, " +
      "round(sum(sum_v) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING), 4) AS cum_sum, " +
      "round(sum_v - lag(sum_v) OVER (ORDER BY bucket), 4) AS deriv, " +
      "round(avg(sum_v) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg " +
      "FROM b ORDER BY bucket"),
  )
}

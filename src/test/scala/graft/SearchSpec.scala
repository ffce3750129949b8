package graft

import graft.search.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick red fox"),
    (3L, "slow brown turtle walks"),
    (4L, "Quick, BROWN fox!")).toDF("doc_id", "text")

  test("match OR vs AND") {
    assert(docs.where(Search.matchQuery(col("text"), "quick turtle")).count() == 4)
    assert(docs.where(Search.matchQueryAnd(col("text"), "quick brown")).count() == 2) // 1 and 4
  }

  test("match is analyzed (case/punct-insensitive)") {
    assert(docs.where(Search.matchQueryAnd(col("text"), "QUICK brown FOX")).count() == 2)
  }

  test("match_phrase needs adjacency in order") {
    assert(docs.where(Search.matchPhrase(col("text"), "quick brown")).count() == 2) // 1, 4
    assert(docs.where(Search.matchPhrase(col("text"), "brown quick")).count() == 0)
  }

  test("query_string over multiple fields") {
    val df = docs.withColumn("title", lit("zebra"))
    assert(df.where(Search.queryString(Seq(col("text"), col("title")), "zebra")).count() == 4)
  }

  test("bm25 ranks rarer terms higher and is deterministic") {
    val r = Search.bm25TopK(docs, "doc_id", "text", "brown turtle", 4)
      .as[(Long, Double)].collect()
    // doc3 has both query terms incl. rare 'turtle' -> top
    assert(r.head._1 == 3L)
    assert(r.map(_._2).toSeq == r.map(_._2).sortBy(-_).toSeq)
  }

  test("percolateBool: nested trees as data — ES msm defaults, must_not, required-term selection") {
    import graft.search.Search
    val pdocs = Seq(
      (1L, "fast join table", 150L),
      (2L, "fast scan", 400L),
      (3L, "join scan", 120L),
      (4L, "merge hash", 500L),
      (5L, "table alone", 500L)).toDF("doc_id", "text", "n_chars")
    val n = None: Option[String]
    val nd = None: Option[Double]
    val ni = None: Option[Int]
    val registry = Seq(
      // must[fast] + top-level should[join]: must present and no msm
      // -> ES default msm 0, the should is OPTIONAL
      ("qA", "must.0", "term", Some("fast"), n, nd, nd, n, ni),
      ("qA", "should.0", "term", Some("join"), n, nd, nd, n, ni),
      // should-only {join, scan}: default msm 1 — either matches;
      // also the no-required-term fallback (candidates = all docs)
      ("qB", "should.0", "term", Some("join"), n, nd, nd, n, ni),
      ("qB", "should.1", "term", Some("scan"), n, nd, nd, n, ni),
      // table AND NOT n_chars in [100, 200)
      ("qC", "must.0", "term", Some("table"), n, nd, nd, n, ni),
      ("qC", "must_not.0", "range", n, Some("n_chars"), Some(100.0), Some(200.0), n, ni))
      .toDF("query_id", "path", "kind", "term",
        "range_field", "range_min", "range_max", "phrase", "msm")
    val got = Search.percolateBool(pdocs, "doc_id", "text", registry, Seq("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "qA"), (2L, "qA"),             // fast docs; the should is optional
      (1L, "qB"), (2L, "qB"), (3L, "qB"), // any of join/scan (fallback class)
      (5L, "qC")),                        // table doc OUTSIDE the negated range
      s"unexpected: $got")
  }

  test("percolateBool: a NULL clause kind is rejected as unknown, never silently dropped") {
    val pdocs = Seq((1L, "fast join", 150L)).toDF("doc_id", "text", "n_chars")
    val n = None: Option[String]
    val nd = None: Option[Double]
    val ni = None: Option[Int]
    // qA's must[join] has no kind: dropped, qA would match on fast alone
    val registry = Seq(
      ("qA", "must.0", Some("term"), Some("fast"), n, nd, nd, n, ni),
      ("qA", "must.1", n, Some("join"), n, nd, nd, n, ni))
      .toDF("query_id", "path", "kind", "term",
        "range_field", "range_min", "range_max", "phrase", "msm")
    val e = intercept[IllegalArgumentException](
      Search.percolateBool(pdocs, "doc_id", "text", registry, Seq("n_chars")).collect())
    assert(e.getMessage.contains("unknown clause kind(s) <null>"), e.getMessage)
  }

  test("percolate over a JSON query registry (percolator-index form)") {
    val r = graft.search.Search.percolateJson(docs, "doc_id", Seq(
      "q_quick" -> """{"match": {"text": "quick"}}""",
      "q_brown_phrase" -> """{"match_phrase": {"text": "quick brown"}}""",
      "q_none" -> """{"term": {"text": "zzz_nothing"}}"""))
      .as[(Long, String)].collect()
    assert(r.count(_._2 == "q_quick") == 3) // docs 1, 2, 4
    assert(r.count(_._2 == "q_brown_phrase") == 2) // docs 1, 4
    assert(!r.exists(_._2 == "q_none"))
  }

  test("more_like_this finds overlapping docs, excludes seed") {
    val r = Search.moreLikeThis(docs, "doc_id", "text", seedId = 1L, m = 3, minMatch = 2)
      .as[(Long, Int)].collect()
    assert(!r.map(_._1).contains(1L))
    assert(r.nonEmpty)
  }

  test("spanNear: unordered window match with slop; termsSet threshold") {
    import graft.search.Search
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "hash join x"), // adjacent, reversed order: window 2, slop 0
      (2L, "join a b c hash"), // window 5 -> 3 intervening
      (3L, "join only here"),
      (4L, "a hash b join c")).toDF("id", "text")
    def ids(slop: Int) = df.where(Search.spanNear(col("text"), "join hash", slop))
      .select("id").as[Long].collect().toSet
    assert(ids(0) == Set(1L))
    assert(ids(1) == Set(1L, 4L)) // id4: window 3, 1 intervening
    assert(ids(3) == Set(1L, 2L, 4L))

    val ts = df.where(Search.termsSet(col("text"), Seq("join", "hash", "zzz"), lit(2)))
      .select("id").as[Long].collect().toSet
    assert(ts == Set(1L, 2L, 4L)) // need 2 of {join, hash, zzz}

    // single distinct term (also "hash hash", which analyzes to one
    // distinct term) is a valid span_near / intervals clause — it
    // degrades to plain containment instead of throwing
    val single = df.where(Search.spanNear(col("text"), "hash", 0))
      .select("id").as[Long].collect().toSet
    assert(single == Set(1L, 2L, 4L))
    val dupTerm = df.where(Search.spanNear(col("text"), "hash hash", 2))
      .select("id").as[Long].collect().toSet
    assert(dupTerm == Set(1L, 2L, 4L))
  }

  test("simple_query_string: operators, phrase, prefix, negation, grouping") {
    import graft.search.Search
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "fast hash join plan"),
      (2L, "merge batch stream"),
      (3L, "slow merge batch"),
      (4L, "hash only here"),
      (5L, "prefix battalion x")).toDF("id", "text")
    def ids(q: String, andOp: Boolean = false) =
      df.where(Search.simpleQueryString(Seq(col("text")), q, defaultAnd = andOp))
        .select("id").as[Long].collect().toSet
    // AND via +, OR via |
    assert(ids("hash + join") == Set(1L))
    assert(ids("join | stream") == Set(1L, 2L))
    // phrase + negation: "merge batch" but not slow
    assert(ids("\"merge batch\" + -slow") == Set(2L))
    // prefix: bat* matches batch and battalion
    assert(ids("bat*") == Set(2L, 3L, 5L))
    // default operator: OR vs AND
    assert(ids("hash stream") == Set(1L, 2L, 4L))
    assert(ids("hash stream", andOp = true) == Set.empty)
    // grouping
    assert(ids("(join | stream) + merge") == Set(2L))
    // lenient on dangling operators — no throw, no match explosion
    assert(ids("+ | -") == Set.empty)
    // Lucene MUST_NOT semantics: a pure-negative query matches
    // NOTHING (not the complement), and a negative clause conjoins
    // over the whole level even under OR
    assert(ids("-slow") == Set.empty)
    assert(ids("join | -slow") == Set(1L))
    // a punctuated word analyzes to several tokens — ALL required
    assert(ids("hash-join") == Set(1L))
  }

  test("match_bool_prefix and combined_fields") {
    import graft.search.Search
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "merge the batch now", "src1"),
      (2L, "batch then merge", "src2"),
      (3L, "merge alone", "src1"),
      (4L, "bat merge", "src9")).toDF("id", "text", "source")
    // merge anywhere + "bat" prefix anywhere (order-free, unlike
    // match_phrase_prefix)
    val mbp = df.where(Search.matchBoolPrefix(col("text"), "merge bat"))
      .select("id").as[Long].collect().toSet
    assert(mbp == Set(1L, 2L, 4L))
    // term-centric AND across the combined (text, source) field
    val cf = df.where(Search.combinedFields(Seq(col("text"), col("source")), "merge src1"))
      .select("id").as[Long].collect().toSet
    assert(cf == Set(1L, 3L))
  }

  test("matchQueryMsm: absolute, percentage (floor), negative forms") {
    import graft.search.Search
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a x y z"), (4L, "x y z w"))
      .toDF("id", "text")
    def ids(msm: String) =
      df.where(Search.matchQueryMsm(col("text"), "a b c d", msm))
        .select("id").as[Long].collect().toSet
    assert(ids("3") == Set(1L))
    assert(ids("50%") == Set(1L, 2L)) // floor(0.5*4)=2 terms
    assert(ids("-1") == Set(1L))     // all but one = 3
    assert(ids("1") == Set(1L, 2L, 3L))
    assert(ids("99%") == Set(1L))    // floor(3.96)=3... never below 1, capped at n
  }

  test("rankEval: precision / MRR / DCG / recall against graded ratings") {
    import graft.search.Search
    import spark.implicits._
    val results = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "id", "rank")
    val ratings = Seq((1L, 20L, 2), (1L, 30L, 1), (1L, 99L, 1))
      .toDF("query_id", "id", "rating")
    val r = Search.rankEval(results, ratings, 3).collect().head
    assert(r.getAs[Double]("precision_k") == 0.6667) // 2 of 3 relevant
    assert(r.getAs[Double]("mrr") == 0.5)            // first relevant at rank 2
    // DCG = (2^2-1)/log2(3) + (2^1-1)/log2(4) = 3/1.585 + 0.5
    assert(math.abs(r.getAs[Double]("dcg_k") - 2.3928) < 1e-9)
    assert(r.getAs[Double]("recall_k") == 0.6667)    // 2 of 3 rated>0 found
  }

  test("rrfTopK: reciprocal-rank fusion rewards docs both retrievers find") {
    // retriever A ranks 1,2,3; retriever B ranks 3,4 — doc 3 appears
    // in both (rank 3 and rank 1) and must outrank single-list docs
    val a = Seq((1L, 9.0), (2L, 8.0), (3L, 7.0)).toDF("id", "score")
    val b = Seq((3L, 0.9), (4L, 0.8)).toDF("id", "score")
    val out = Search.rrfTopK(Seq(a, b), rankConstant = 60, windowSize = 10, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val exp = Seq(
      (3L, graft.util.Num.roundDouble(1.0 / 63 + 1.0 / 61, 4), 2),
      (1L, graft.util.Num.roundDouble(1.0 / 61, 4), 1),
      (4L, graft.util.Num.roundDouble(1.0 / 62, 4), 1),
      (2L, graft.util.Num.roundDouble(1.0 / 62, 4), 1))
    // 4 and 2 tie at 1/62: id asc breaks it -> 2 before 4
    assert(out.head == exp.head)
    assert(out(1) == exp(1))
    assert(out(2) == (2L, exp(2)._2, 1))
    assert(out(3) == (4L, exp(3)._2, 1))
  }

  test("rrfTopK: windowSize caps each retriever's contribution") {
    val a = (1L to 100L).map(i => (i, 1000.0 - i)).toDF("id", "score")
    val out = Search.rrfTopK(Seq(a), rankConstant = 60, windowSize = 5, k = 100)
    assert(out.count() == 5) // docs ranked past the window contribute nothing
  }

  test("span_not: include hit clear of the exclude window") {
    val d = Seq(
      (1L, "alpha gamma delta"),          // no exclude at all -> match
      (2L, "alpha noise beta"),           // exclude 1 after include, post=2 -> blocked
      (3L, "beta noise noise noise alpha"), // exclude 4 before include, pre=2 -> clear
      (4L, "alpha beta noise alpha")      // second alpha is 2 after beta but pre=2 blocks; first blocked by post
    ).toDF("doc_id", "text")
    val hits = d.where(Search.spanNot(col("text"), "alpha", "beta", pre = 2, post = 2))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L, 3L))
  }

  test("termVectors: per-doc tf + corpus df/ttf for that doc's terms") {
    val d = Seq(
      (1L, "cat cat dog"),
      (2L, "dog bird"),
      (3L, "cat fish")).toDF("doc_id", "text")
    val tv = Search.termVectors(d, "doc_id", "text", 1L)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(tv == Seq(("cat", 2L, 2L, 3L), ("dog", 1L, 2L, 2L)))
  }

  test("intervals rule tree: prefix leaves, any_of, unordered all_of") {
    import graft.dsl.QueryDslJson
    val docs = Seq(
      (1L, "fast hash join wins"),
      (2L, "join the hash set"),
      (3L, "merge sort only"),
      (4L, "hashing join")).toDF("id", "text")
    def ids(q: String): Set[Long] =
      docs.where(QueryDslJson.compile(q)).select("id").as[Long].collect().toSet
    // prefix leaf: any token starting with "hash"
    assert(ids("""{"intervals": {"text": {"prefix": {"prefix": "hash"}}}}""")
      == Set(1L, 2L, 4L))
    // unordered all_of with a prefix slot: hash* near join, any order
    assert(ids(
      """{"intervals": {"text": {"all_of": {"intervals": [
           {"prefix": {"prefix": "hash"}}, {"match": {"query": "join"}}],
           "max_gaps": 1, "ordered": false}}}}""") == Set(1L, 2L, 4L))
    // ordered all_of: hash must PRECEDE join within the gap bound
    assert(ids(
      """{"intervals": {"text": {"all_of": {"intervals": [
           {"match": {"query": "hash"}}, {"match": {"query": "join"}}],
           "max_gaps": 0, "ordered": true}}}}""") == Set(1L))
    // any_of at the top level
    assert(ids(
      """{"intervals": {"text": {"any_of": {"intervals": [
           {"match": {"query": "merge"}}, {"match": {"query": "wins"}}]}}}}""")
      == Set(1L, 3L))
    // filter rules: (not_)containing over the source windows
    val fdocs = Seq(
      (10L, "hash quick join"), (11L, "hash table join"),
      (12L, "join then hash")).toDF("id", "text")
    def fids(q: String): Set[Long] =
      fdocs.where(QueryDslJson.compile(q)).select("id").as[Long].collect().toSet
    assert(fids(
      """{"intervals": {"text": {"match": {"query": "hash join",
           "max_gaps": 2, "ordered": true,
           "filter": {"not_containing": {"match": {"query": "table"}}}}}}}""")
      == Set(10L))
    assert(fids(
      """{"intervals": {"text": {"match": {"query": "hash join",
           "max_gaps": 2, "ordered": true,
           "filter": {"containing": {"match": {"query": "table"}}}}}}}""")
      == Set(11L))
    // overlapping tests the CLOSED window: a filter term equal to an
    // endpoint token counts (here "hash" itself)
    assert(fids(
      """{"intervals": {"text": {"match": {"query": "hash join",
           "max_gaps": 2, "ordered": true,
           "filter": {"overlapping": {"match": {"query": "hash"}}}}}}}""")
      == Set(10L, 11L))
    assert(fids(
      """{"intervals": {"text": {"match": {"query": "hash join",
           "max_gaps": 2, "ordered": true,
           "filter": {"not_overlapping": {"match": {"query": "table"}}}}}}}""")
      == Set(10L))
    // unordered windows accept either term order
    assert(fids(
      """{"intervals": {"text": {"match": {"query": "hash join",
           "max_gaps": 2, "ordered": false,
           "filter": {"not_containing": {"match": {"query": "table"}}}}}}}""")
      == Set(10L, 12L))
    // multi-term match inside all_of is rejected toward any_of nesting
    intercept[IllegalArgumentException](ids(
      """{"intervals": {"text": {"all_of": {"intervals": [
           {"match": {"query": "hash join"}}, {"match": {"query": "wins"}}],
           "max_gaps": 1}}}}"""))
  }

  test("Sorting: multivalue modes, missing placement, geo and script keys") {
    import graft.search.Sorting
    val df = Seq(
      (1L, Seq(5.0, 1.0, 3.0), Option(2.0)),
      (2L, Seq(4.0, 4.0), None),
      (3L, Seq(2.0), Option(9.0))).toDF("id", "vals", "maybe")
    def order(spec: String): Seq[Long] =
      df.orderBy(Sorting.compile(spec) :+ col("id").asc: _*).select("id").as[Long]
        .collect().toSeq
    // modes fold the array to one key: min 1/4/2, max 5/4/2, avg 3/4/2,
    // median 3/4/2, sum 9/8/2
    assert(order("""[{"vals": {"order": "asc", "mode": "min"}}]""") == Seq(1L, 3L, 2L))
    assert(order("""[{"vals": {"order": "desc", "mode": "max"}}]""") == Seq(1L, 2L, 3L))
    assert(order("""[{"vals": {"order": "desc", "mode": "sum"}}]""") == Seq(1L, 2L, 3L))
    assert(order("""[{"vals": {"order": "asc", "mode": "avg"}}]""") == Seq(3L, 1L, 2L))
    // median of even cardinality averages the middle two (ES semantics)
    assert(order("""[{"vals": {"order": "asc", "mode": "median"}}]""") == Seq(3L, 1L, 2L))
    // missing: _last is the ES default in BOTH directions; _first and
    // literal substitution override
    assert(order("""[{"maybe": "asc"}]""") == Seq(1L, 3L, 2L))
    assert(order("""[{"maybe": {"order": "desc"}}]""") == Seq(3L, 1L, 2L))
    assert(order("""[{"maybe": {"order": "asc", "missing": "_first"}}]""") == Seq(2L, 1L, 3L))
    assert(order("""[{"maybe": {"order": "asc", "missing": 5.0}}]""") == Seq(1L, 2L, 3L))
    // nested sort: filtered struct-array fold; empty match = missing
    val nested = Seq(
      (1L, Seq((5.0, "R"), (2.0, "N"))),
      (2L, Seq((9.0, "R"), (1.0, "R"))),
      (3L, Seq((4.0, "N")))).toDF("id", "items")
      .select(col("id"), col("items").cast(
        "array<struct<qty:double,flag:string>>"))
    val nOrder = nested.orderBy(Sorting.compile(
      """[{"items.qty": {"order": "asc", "mode": "min",
           "nested": {"path": "items", "filter": {"term": {"flag": "R"}}}}}]""")
      :+ col("id").asc: _*).select("id").as[Long].collect().toSeq
    // id2 min R-qty 1.0, id1 5.0, id3 no R items -> missing, last
    assert(nOrder == Seq(2L, 1L, 3L))
    val nBool = nested.orderBy(Sorting.compile(
      """[{"items.qty": {"order": "desc", "mode": "max",
           "nested": {"path": "items", "filter": {"bool": {
             "must": [{"range": {"qty": {"lt": 9.0}}}],
             "must_not": [{"term": {"flag": "N"}}]}}}}}]""")
      :+ col("id").asc: _*).select("id").as[Long].collect().toSeq
    // id1 max 5.0 (R only), id2 max 1.0 (9.0 excluded by lt), id3 missing
    assert(nBool == Seq(1L, 2L, 3L))
    // geo + script keys compile to plain column math
    val geo = Seq((1L, 0.0, 1.0), (2L, 0.0, 50.0)).toDF("id", "p_lat", "p_lon")
    val gOrder = geo.orderBy(Sorting.compile(
      """[{"_geo_distance": {"p": {"lat": 0.0, "lon": 0.0}, "order": "desc"}}]"""): _*)
      .select("id").as[Long].collect().toSeq
    assert(gOrder == Seq(2L, 1L))
    // option keys (unit, mode, distance_type, ignore_unmapped) must
    // not be mistaken for the point field, regardless of map order
    val gOpts = geo.orderBy(Sorting.compile(
      """[{"_geo_distance": {"unit": "mi", "mode": "min", "distance_type": "arc",
           "ignore_unmapped": true, "p": {"lat": 0.0, "lon": 0.0}, "order": "desc"}}]"""): _*)
      .select("id").as[Long].collect().toSeq
    assert(gOpts == Seq(2L, 1L))
    intercept[IllegalArgumentException] {
      Sorting.compile("""[{"_geo_distance": {"p": {"lat": 0.0, "lon": 0.0}, "unit": "fathoms"}}]""")
    }
    intercept[IllegalArgumentException] {
      Sorting.compile("""[{"_geo_distance": {"p": {"lat": 0.0, "lon": 0.0}, "distance_type": "plane"}}]""")
    }
    val sOrder = df.orderBy(Sorting.compile(
      """[{"_script": {"script": {"source": "10 - doc['id'].value"}, "order": "asc"}}]"""): _*)
      .select("id").as[Long].collect().toSeq
    assert(sOrder == Seq(3L, 2L, 1L))
  }

  test("zero_terms_query: all-stopword queries match none or all") {
    import graft.dsl.QueryDslJson
    val docs = Seq((1L, "spark core"), (2L, "flink")).toDF("id", "text")
    def n(q: String): Long = docs.where(QueryDslJson.compile(q)).count()
    // "!!!" analyzes to zero tokens
    assert(n("""{"match": {"text": {"query": "!!!", "zero_terms_query": "none"}}}""") == 0)
    assert(n("""{"match": {"text": {"query": "!!!"}}}""") == 0) // none is the default
    assert(n("""{"match": {"text": {"query": "!!!", "zero_terms_query": "all"}}}""") == 2)
    // with surviving terms the option is inert
    assert(n("""{"match": {"text": {"query": "spark", "zero_terms_query": "all"}}}""") == 1)
  }

  test("Retrievers: linear tree body composes leaves with weights") {
    import graft.dsl.Retrievers
    val docs = Seq(
      (1L, "fast hash join"), (2L, "hash set"), (3L, "sort merge")).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Seq(0.0f, 1.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val out = Retrievers.topK(docs, "doc_id", vecs, "vec_id",
      """{"retriever": {"linear": {"retrievers": [
           {"retriever": {"standard": {"query": {"match": {"text": "hash"}}}}, "weight": 0.5},
           {"retriever": {"knn": {"field": "embedding", "query_vector": [1.0, 0.0]}}, "weight": 0.5}],
           "rank_window_size": 10}}}""", k = 3)
    val ids = out.select("id").as[Long].collect().toSeq
    // doc 2 tops both retrievers (matches "hash", vector aligned)
    assert(ids.head == 2L && ids.toSet == Set(1L, 2L, 3L))
    // a bare leaf retriever is just its own ordered top-k
    val leafIds = Retrievers.topK(docs, "doc_id", vecs, "vec_id",
      """{"retriever": {"knn": {"field": "embedding", "query_vector": [0.0, 1.0]}}}""",
      k = 2).select("id").as[Long].collect().toSeq
    assert(leafIds == Seq(1L, 3L))
    intercept[IllegalArgumentException](Retrievers.topK(docs, "doc_id", vecs, "vec_id",
      """{"retriever": {"rrf": {"retrievers": []}}}""", 5))
  }

  test("linearTopK: min-max normalized weighted fusion") {
    val a = Seq((1L, 10.0), (2L, 5.0), (3L, 0.0)).toDF("id", "score")
    val b = Seq((2L, 1.0), (3L, 3.0)).toDF("id", "score")
    val out = Search.linearTopK(Seq((a, 0.5), (b, 0.5)), windowSize = 10, k = 3)
      .as[(Long, Double, Int)].collect().toSeq
    // a normalizes to 1/0.5/0, b to 0/1; weighted: id1=0.5, id2=0.25, id3=0.5
    assert(out == Seq((1L, 0.5, 1), (3L, 0.5, 2), (2L, 0.25, 2)))
  }

  test("functionScoreModes: ES skips non-matching functions per mode") {
    val docs = Seq(
      (1L, "en", 10.0), // matches both functions
      (2L, "de", 10.0), // matches f2 only
      (3L, "en", 99.0), // matches f1 only
      (4L, "fr", 1.0)   // matches none -> function score 1.0
    ).toDF("id", "lang", "v")
    def score(sm: String, bm: String, maxBoost: Double = Double.MaxValue) =
      docs.select(col("id"), Search.functionScoreModes(
        base = lit(2.0),
        functions = Seq(
          (col("lang") === "en", lit(4.0), 1.0),
          (col("v") === 10.0, lit(6.0), 0.5)),
        scoreMode = sm, boostMode = bm, maxBoost = maxBoost).as("s"))
        .orderBy("id").select("s").as[Double].collect().toSeq
    // weighted function values: f1 -> 4.0, f2 -> 3.0; folds skip
    // non-matching functions entirely (no identity padding)
    assert(score("avg", "replace") == Seq(3.5, 3.0, 4.0, 1.0))
    assert(score("sum", "replace") == Seq(7.0, 3.0, 4.0, 1.0))
    assert(score("max", "replace") == Seq(4.0, 3.0, 4.0, 1.0))
    assert(score("min", "replace") == Seq(3.0, 3.0, 4.0, 1.0))
    assert(score("multiply", "replace") == Seq(12.0, 3.0, 4.0, 1.0))
    // boost modes fold the capped function score into the base (2.0)
    assert(score("sum", "multiply", maxBoost = 5.0) == Seq(10.0, 6.0, 8.0, 2.0))
    assert(score("sum", "sum") == Seq(9.0, 5.0, 6.0, 3.0))
    assert(score("sum", "max") == Seq(7.0, 3.0, 4.0, 2.0))
    assert(score("sum", "avg") == Seq(4.5, 2.5, 3.0, 1.5))
  }

  test("randomScore: deterministic in [0,1), seed changes the order") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val s1 = docs.select(Search.randomScore(col("id"), 1L)).as[Double].collect()
    val s1b = docs.select(Search.randomScore(col("id"), 1L)).as[Double].collect()
    val s2 = docs.select(Search.randomScore(col("id"), 2L)).as[Double].collect()
    assert(s1.toSeq == s1b.toSeq)
    assert(s1.forall(v => v >= 0.0 && v < 1.0))
    assert(s1.toSeq != s2.toSeq)
  }

  test("rescoreChainTopK: each stage re-ranks only the prior window") {
    val docs = Seq(
      (1L, "alpha beta", 100.0), (2L, "alpha beta", 1.0),
      (3L, "alpha", 50.0), (4L, "gamma", 999.0)).toDF("doc_id", "text", "aux")
    // stage window 2 keeps the two best bm25 docs; the aux rescore can
    // then only reorder within {those two} — doc 4 never enters
    val out = Search.rescoreChainTopK(docs, "doc_id", "text", "alpha beta",
      stages = Seq((col("aux"), 2, 1.0, 1.0)), k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(out.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
    assert(out.head._1 == 1L) // aux 100 dominates inside the window
  }

  test("multi_match cross_fields: AND satisfied ACROSS fields") {
    val docs = Seq(
      (1L, "alpha beta", "gamma"), // alpha in f1, gamma in f2
      (2L, "alpha gamma", "x"),    // both in f1
      (3L, "alpha", "y")).toDF("id", "f1", "f2")
    val cross = Search.multiMatchCrossTopK(docs, "id", Seq("f1", "f2"),
      "alpha gamma", k = 10, operator = "and")
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(cross == Set(1L, 2L)) // doc 1 only matches across fields
    // best_fields could never admit doc 1 under AND: no single field
    // holds both terms
    val best = Search.multiMatchTopK(docs, "id", Seq("f1", "f2"), "alpha gamma", 10)
      .as[(Long, Double)].collect()
    assert(best.nonEmpty) // or-mode scoring unaffected
  }

  test("query_string /regex/: keyword anchored, default field per token") {
    import graft.dsl.EsQuery
    val docs = Seq(
      (1L, "the merge path", "en"), (2L, "no match here", "enx"),
      (3L, "marge barge", "el")).toDF("id", "text", "lang")
    val r = docs.where(EsQuery.compile("?q=lang:/e[nl]/ AND /m.rge/"))
      .select("id").as[Long].collect().toSet
    // id1: lang en + token merge; id2: lang enx fails the ANCHORED
    // regex; id3: lang el + token marge
    assert(r == Set(1L, 3L))
  }

  test("_source filtering: include/exclude forms and wildcards") {
    import graft.dsl.SearchBody
    val df = Seq((1L, 2.0, 3.0, "x")).toDF("id", "v_min", "v_max", "k")
    assert(SearchBody.applySourceFilter(df,
      """{"includes": ["id", "v_*"], "excludes": ["v_max"]}""").columns.toSeq
      == Seq("id", "v_min"))
    assert(SearchBody.applySourceFilter(df, """["k", "id"]""").columns.toSeq
      == Seq("k", "id"))
    assert(SearchBody.applySourceFilter(df, "\"v_*\"").columns.toSeq
      == Seq("v_min", "v_max"))
    // no-match exclude is a no-op; no-match include fails loudly
    assert(SearchBody.applySourceFilter(df, """{"excludes": ["w_*"]}""").columns.length == 4)
    intercept[IllegalArgumentException] {
      SearchBody.applySourceFilter(df, """{"includes": ["w_*"]}""")
    }
  }

  test("docvalue_fields: bare/object specs, date format, epoch_millis") {
    import graft.dsl.SearchBody
    val df = Seq((1L, java.sql.Date.valueOf("2024-03-05"), 9.5))
      .toDF("id", "d", "v")
    val dv = SearchBody.docvalueFields(
      """["id", {"field": "d", "format": "yyyy/MM"}, {"field": "v"}]""")
    assert(dv.map(_._1) == Seq("id", "d", "v"))
    val row = df.select(dv.map { case (n, c) => c.as(n) }: _*).collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "2024/03" && row.getDouble(2) == 9.5)
    // epoch_millis renders the UTC instant of the date's midnight
    val ms = df.select(SearchBody.docvalueFields(
      """[{"field": "d", "format": "epoch_millis"}]""").head._2.as("ms"))
      .collect().head.getLong(0)
    assert(ms == java.time.LocalDate.of(2024, 3, 5)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    intercept[IllegalArgumentException] {
      SearchBody.docvalueFields("""[{"format": "yyyy"}]""")
    }
    intercept[IllegalArgumentException] {
      SearchBody.docvalueFields("""{"field": "d"}""")
    }
  }

  test("suggest_mode popular compares DOCUMENT frequencies") {
    // "spark" appears in 3 docs; "spork" is hammered 5x inside ONE doc
    // and typed once more; the input "spork" has doc freq 2, "spark"
    // doc freq 3 → popular mode suggests spark. Total-occurrence
    // counting would see spork 6 > spark 3 and wrongly stay silent.
    val docs = Seq(
      (1L, "spark rdd"), (2L, "spark sql"), (3L, "spark core"),
      (4L, "spork spork spork spork spork"), (5L, "spork time")).toDF("id", "text")
    val got = Search.suggestMode(docs, "text", "spork", "popular", maxEdits = 1, k = 5)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("spark", 3L)))
  }

  test("profile: executed-plan metrics, scan output rows visible") {
    import graft.search.Profile
    val q = docs.where(Search.matchQuery(col("text"), "quick"))
      .groupBy(col("doc_id")).count()
    val p = Profile.profile(q).collect()
    assert(p.nonEmpty)
    val outRows = p.filter(r => r.getAs[String]("metric") == "numOutputRows")
    assert(outRows.nonEmpty && outRows.exists(_.getAs[Long]("value") > 0))
    assert(p.exists(_.getAs[String]("operator").toLowerCase.contains("aggregate")))
  }

  test("_async_search: submit / partial get / await / cancel") {
    import graft.search.AsyncSearch
    // slow scan: 8 partitions, each sleeps — partitions complete one
    // by one, so a mid-flight GET sees genuine partial hits
    val slow = spark.range(0, 8, 1, 8)
      .mapPartitions { it => Thread.sleep(400); it }
      .toDF("id")
    AsyncSearch.submit(spark, "s1", slow)
    val stillRunning = AsyncSearch.await("s1", 1200)
    val (_, _, someRows) = AsyncSearch.get("s1")
    // after ~1.2s of a ~3.2s sequential pull: started but not done
    assert(stillRunning || someRows.size == 8)
    AsyncSearch.await("s1", 30000)
    val (running, partial, all) = AsyncSearch.get("s1")
    assert(!running && !partial && all.size == 8)
    assert(AsyncSearch.error("s1").isEmpty)
    AsyncSearch.delete("s1")

    // cancel mid-flight: job group dies, response stays partial
    val slow2 = spark.range(0, 8, 1, 8)
      .mapPartitions { it => Thread.sleep(2000); it }
      .toDF("id")
    AsyncSearch.submit(spark, "s2", slow2)
    Thread.sleep(300)
    AsyncSearch.cancel(spark, "s2")
    AsyncSearch.await("s2", 30000)
    val (running2, partial2, rows2) = AsyncSearch.get("s2")
    assert(!running2 && partial2)
    assert(rows2.size < 8)
    AsyncSearch.delete("s2")
    intercept[IllegalArgumentException] { AsyncSearch.get("s2") }

    // cancel IMMEDIATELY after submit: the group-set latch makes the
    // cancel wait for the worker's job group instead of firing into
    // the void (the submit/cancel race) — the search must still end,
    // partial, without running to completion
    val slow3 = spark.range(0, 8, 1, 8)
      .mapPartitions { it => Thread.sleep(1500); it }
      .toDF("id")
    AsyncSearch.submit(spark, "s3", slow3)
    AsyncSearch.cancel(spark, "s3")
    AsyncSearch.await("s3", 30000)
    val (running3, partial3, rows3) = AsyncSearch.get("s3")
    assert(!running3 && partial3 && rows3.size < 8)
    AsyncSearch.delete("s3")
  }

  test("graph explore matches a brute-force reference on randomized corpora") {
    import graft.search.GraphExplore
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (round <- 1 to 8) {
      val nDocs = 20 + rnd.nextInt(30)
      val corpus = (1 to nDocs).map { i =>
        (i.toLong, (1 to (4 + rnd.nextInt(12)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val seed = vocab(rnd.nextInt(vocab.size))
      val minDc = 1 + rnd.nextInt(3)
      // reference: plain-Scala hop expansion with the same uplift math;
      // verticesPerHop >= |vocab| so selection never truncates and
      // floating tie-breaks can't flip membership
      val tokSets = corpus.map { case (id, t) =>
        id -> t.split(" ").toSet }.toMap
      val bgCount = vocab.map(w =>
        w -> tokSets.values.count(_.contains(w)).toLong).toMap
      val n = nDocs.toDouble
      var known = Set(seed)
      var frontier = Seq(seed)
      var expect = if (bgCount(seed) > 0)
        Vector((seed, 0, bgCount(seed), bgCount(seed))) else Vector.empty
      for (hop <- 1 to 2 if frontier.nonEmpty) {
        val fgDocs = tokSets.filter(_._2.intersect(frontier.toSet).nonEmpty).keySet
        val cand = vocab.filterNot(known)
          .map { w => (w, fgDocs.count(tokSets(_).contains(w)).toLong) }
          .filter(_._2 >= minDc)
          .map { case (w, fc) => (w, hop, fc, bgCount(w)) }
        expect ++= cand.sortBy(_._1)
        known ++= cand.map(_._1)
        frontier = cand.map(_._1)
      }
      val got = GraphExplore.explore(corpus.toDF("doc_id", "text"),
        "doc_id", "text", Seq(seed), hops = 2,
        verticesPerHop = vocab.size, minDocCount = minDc)
        .as[(String, Int, Long, Long, Double)].collect().toSeq
      assert(got.map(r => (r._1, r._2, r._3, r._4)).sortBy(r => (r._2, r._1)) ==
        expect.sortBy(r => (r._2, r._1)).toSeq,
        s"round $round seed=$seed minDc=$minDc")
      // scores match the uplift formula on the reference counts
      for ((term, hop, fc, bc, score) <- got if hop > 0) {
        val fgTotal = {
          // frontier at this hop = previous hop's terms in the ref walk
          val prev = expect.filter(_._2 == hop - 1).map(_._1).toSet
          tokSets.count(_._2.intersect(prev).nonEmpty).toDouble
        }
        val ref = (fc / fgTotal) * math.log((fc / fgTotal) / (bc / n))
        assert(math.abs(score - ref) < 2e-6, s"round $round term=$term")
      }
    }
  }

  test("graph explore: seed at hop 0, bounded frontiers, consistent counts") {
    import graft.search.GraphExplore
    val docs = Tables.documents(spark, sfDir)
    val v = GraphExplore.explore(docs, "doc_id", "text", Seq("spark"),
      hops = 2, verticesPerHop = 4, minDocCount = 2)
      .as[(String, Int, Long, Long, Double)].collect().toSeq
    // hop 0 is exactly the seed, score 1.0, fg==bg==its doc count
    val seeds = v.filter(_._2 == 0)
    assert(seeds.map(_._1) == Seq("spark") && seeds.head._5 == 1.0)
    assert(seeds.head._3 == seeds.head._4)
    // per-hop bound holds; vertices never repeat across hops
    assert(v.count(_._2 == 1) <= 4 && v.count(_._2 == 2) <= 4)
    assert(v.map(_._1).distinct.size == v.size)
    // every expanded vertex cleared the min doc-count bar in fg and
    // appears at least that often in the background
    assert(v.filter(_._2 > 0).forall(r => r._3 >= 2 && r._4 >= r._3))
    // connections: pairs ordered, co-occurrence at least the floor
    val conn = GraphExplore.connections(docs, "doc_id", "text",
      v.map(_._1), minDocCount = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(conn.nonEmpty && conn.forall(c => c._1 < c._2 && c._3 >= 2))
    // seeds must exist
    intercept[IllegalArgumentException] {
      GraphExplore.explore(docs, "doc_id", "text", Nil)
    }
  }

  test("span_field_masking: masked stemmed clause combines with raw positions") {
    import graft.analysis.Analyzer
    val d = Seq(
      (1L, "quick fox eats tables daily"),   // fast absent
      (2L, "fast turtle likes tables a lot"), // fast@0, tables@3 -> stem table: slop 2 ok
      (3L, "fast code and far away from the table zone"), // distance 7-1=6 > 2
      (4L, "fast tables")).toDF("doc_id", "text")
    val raw = Analyzer.tokens(col("text"))
    val st = Analyzer.chain(raw, stemmer = "minimal_english")
    def hits(slop: Int) =
      d.where(Search.spanNearMasked(raw, st, "fast", "table", slop))
        .select("doc_id").as[Long].collect().toSet
    assert(hits(2) == Set(2L, 4L))
    assert(hits(6) == Set(2L, 3L, 4L))
    // spans may not overlap: the same token can't serve both clauses
    val one = Seq((9L, "fast")).toDF("doc_id", "text")
    val rawToks = Analyzer.tokens(col("text"))
    assert(one.where(Search.spanNearMasked(
      rawToks, rawToks, "fast", "fast", 5)).count() == 0)
  }

  test("terminate_after: per-shard prefix with terminated_early flags") {
    val d = (1L to 100L).map(i => (i, i % 7)).toDF("id", "v")
    val r = Search.terminateAfter(d, col("v") < 6, "id", shards = 3, n = 4)
      .as[(Long, Long, Boolean)].collect().toSeq
    // every shard capped at n, flags on (85 matching docs over 3 shards
    // means every shard overflows its cap of 4)
    assert(r.groupBy(_._2).forall(_._2.size <= 4))
    assert(r.forall(_._3))
    // deterministic prefix: per shard, the collected ids are the
    // smallest matching ids routed to it
    val full = Search.terminateAfter(d, col("v") < 6, "id", shards = 3, n = 1000)
    val byShard = full.as[(Long, Long, Boolean)].collect().toSeq.groupBy(_._2)
    r.groupBy(_._2).foreach { case (sh, got) =>
      assert(got.map(_._1).sorted == byShard(sh).map(_._1).sorted.take(got.size))
    }
    // a query with no terminated shard reports false
    assert(Search.terminateAfter(d, col("v") === 0, "id", shards = 3, n = 50)
      .as[(Long, Long, Boolean)].collect().forall(!_._3))
    intercept[IllegalArgumentException] {
      Search.terminateAfter(d, lit(true), "id", shards = 0, n = 4)
    }
  }
}

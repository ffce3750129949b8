package graft

import java.nio.file.Files

import graft.dsl.{QueryDsl, QueryDslJson}
import graft.sources.Connector
import graft.sources.Connector.implicits._
import org.apache.spark.sql.functions._

class ConnectorSpec extends SparkSpec with SpecTempRoot {
  import spark.implicits._

  override protected def tempRootPrefix = "gc"

  test("Query-DSL JSON compiles to the same results as the Scala DSL") {
    val docs = Tables.documents(spark, sfDir)
    def ids(c: org.apache.spark.sql.Column) =
      docs.where(c).select("doc_id").as[Long].collect().toSet

    assert(ids(QueryDslJson.compile("""{"term": {"lang": "en"}}""")) ==
      ids(QueryDsl.term(col("lang"), "en")))
    assert(ids(QueryDslJson.compile("""{"terms": {"lang": ["en", "de"]}}""")) ==
      ids(QueryDsl.terms(col("lang"), Seq("en", "de"))))
    assert(ids(QueryDslJson.compile("""{"range": {"n_chars": {"gte": 100, "lt": 300}}}""")) ==
      ids(QueryDsl.range(col("n_chars"), gte = Some(100L), lt = Some(300L))))
    assert(ids(QueryDslJson.compile("""{"ids": {"values": [1, 5, 9]}}""", idField = "doc_id")) ==
      Set(1L, 5L, 9L))
    assert(ids(QueryDslJson.compile(
      """{"bool": {"must": [{"term": {"lang": "en"}}],
         "should": [{"prefix": {"source": "src1"}}, {"range": {"n_chars": {"gt": 300}}}],
         "must_not": [{"wildcard": {"source": "src?"}}],
         "minimum_should_match": 1}}""")) ==
      ids(QueryDsl.bool(
        must = Seq(QueryDsl.term(col("lang"), "en")),
        should = Seq(QueryDsl.prefix(col("source"), "src1"), col("n_chars") > 300),
        mustNot = Seq(QueryDsl.wildcard(col("source"), "src?")),
        minimumShouldMatch = 1)))
    assert(ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "spark window", "operator": "and"}}}""")) ==
      ids(graft.search.Search.matchQueryAnd(col("text"), "spark window")))
    assert(ids(QueryDslJson.compile("""{"match_phrase": {"text": "table scan"}}""")) ==
      ids(graft.search.Search.matchPhrase(col("text"), "table scan")))
    assert(ids(QueryDslJson.compile("""{"match_all": {}}""")).size == docs.count())
    // fuzziness honors the operator: AND requires every term fuzzily
    assert(ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "spak window", "fuzziness": 1, "operator": "and"}}}""")) ==
      ids(graft.search.Search.matchQueryFuzzy(col("text"), "spak window", 1, andOperator = true)))
    val orSet = ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "spak window", "fuzziness": 1}}}"""))
    val andSet = ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "spak window", "fuzziness": 1, "operator": "and"}}}"""))
    assert(andSet.subsetOf(orSet) && andSet.size < orSet.size)
    // ES's "AUTO" fuzziness is length-scaled: 4-char term -> 1 edit
    assert(ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "spak", "fuzziness": "AUTO"}}}""")) ==
      ids(graft.search.Search.matchQueryFuzzy(col("text"), "spak", 1)))
    // <3 chars -> exact; >=6 chars -> 2 edits
    assert(ids(QueryDslJson.compile(
      """{"match": {"text": {"query": "ab", "fuzziness": "AUTO"}}}""")) ==
      ids(graft.search.Search.matchQuery(col("text"), "ab")))
    intercept[IllegalArgumentException](QueryDslJson.compile("""{"knn_unsupported": {}}"""))
  }

  test("readMetadata surfaces _score for scored queries, 0.0 for filter-only hits") {
    val path = s"$sfDir/documents.parquet"
    val scored = spark.graftDF(path, """{"match": {"text": "merge sort"}}""",
      idField = "doc_id", readMetadata = true)
    assert(scored.columns.contains("_score") && scored.columns.contains("_id"))
    // _score equals the direct BM25 ranking for the same query
    val viaConnector = scored
      .select(col("_id").as("id"), col("_score").as("score"))
      .orderBy(col("score").desc, col("id").asc).limit(5)
      .as[(Long, Double)].collect().toSeq
    val direct = graft.search.Search
      .bm25TopK(Tables.documents(spark, sfDir), "doc_id", "text", "merge sort", 5)
      .as[(Long, Double)].collect().toSeq
    assert(viaConnector == direct)
    // filter-context query: no scoring clause -> no _score column
    val filtered = spark.graftDF(path, """{"term": {"lang": "en"}}""",
      idField = "doc_id", readMetadata = true)
    assert(!filtered.columns.contains("_score"))
    // bool with a filter AND a match: hits kept by filter but missing
    // the match terms still appear when the match is in should (msm 0)
    val mixed = spark.graftDF(path,
      """{"bool": {"must": [{"match": {"text": "merge"}}], "filter": [{"term": {"lang": "en"}}]}}""",
      idField = "doc_id", readMetadata = true)
    assert(mixed.columns.contains("_score"))
    assert(mixed.where(col("_score") <= 0.0).count() == 0)
  }

  test("delete operation removes the batch's ids, leaves the rest") {
    val dir = Files.createTempDirectory(specRoot, "graft_del").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").saveToGraft(dir, cfg)
    Seq((2L, "x"), (9L, "x")).toDF("id", "v") // 9 absent: not_found is a no-op
      .saveToGraft(dir, cfg + ("graft.write.operation" -> "delete"))
    val after = spark.graftDF(dir).as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a", 3L -> "c"))
  }

  test("swap crash recovery: a leftover _graft_old index is restored on the next save") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = Files.createTempDirectory(specRoot, "graft_crash").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a")).toDF("id", "v").saveToGraft(dir, cfg)
    // simulate a crash between "rename live aside" and "rename tmp in":
    // the live directory sits at path_graft_old, nothing at path
    JFiles.move(Paths.get(dir), Paths.get(dir + "_graft_old"))
    assert(!JFiles.exists(Paths.get(dir)))
    // the next save must restore the old copy, then upsert into it —
    // NOT rebuild the index from this one batch
    Seq((2L, "b")).toDF("id", "v").saveToGraft(dir, cfg)
    val after = spark.graftDF(dir).as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "a", 2L -> "b"))
  }

  test("connector roundtrip: index write, JSON-query read, upsert semantics") {
    val dir = Files.createTempDirectory(specRoot, "graft_index").toString + "/idx"
    val v1 = Seq((1L, "alpha", 1), (2L, "beta", 1), (3L, "gamma", 1)).toDF("id", "name", "ver")
    v1.saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    assert(spark.graftDF(dir).count() == 3)

    // upsert: id 2 updated, id 4 inserted
    val v2 = Seq((2L, "beta2", 2), (4L, "delta", 2)).toDF("id", "name", "ver")
    v2.saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    val after = spark.graftDF(dir).as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(after.keySet == Set(1L, 2L, 3L, 4L))
    assert(after(2L)._1 == "beta2")

    // versioned upsert: stale version must NOT overwrite
    val stale = Seq((4L, "delta_old", 0)).toDF("id", "name", "ver")
    stale.saveToGraft(dir, Map("graft.mapping.id" -> "id", "graft.mapping.version" -> "ver"))
    val afterStale = spark.graftDF(dir).as[(Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(afterStale(4L)._1 == "delta")

    // JSON query read path
    val hits = spark.graftDF(dir, """{"prefix": {"name": "beta"}}""").count()
    assert(hits == 1)

    // append
    Seq((9L, "omega", 1)).toDF("id", "name", "ver")
      .saveToGraft(dir, Map("graft.write.operation" -> "append"))
    assert(spark.graftDF(dir).count() == 5)

    // create: only new ids land
    Seq((9L, "omega_NO", 9), (10L, "kappa", 1)).toDF("id", "name", "ver")
      .saveToGraft(dir, Map("graft.write.operation" -> "create", "graft.mapping.id" -> "id"))
    val afterCreate = spark.graftDF(dir).as[(Long, String, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(afterCreate(10L) == "kappa")
    assert(afterCreate(9L) == "omega") // existing id untouched

    // update: only existing ids are replaced
    Seq((10L, "kappa2", 2), (99L, "ghost", 1)).toDF("id", "name", "ver")
      .saveToGraft(dir, Map("graft.write.operation" -> "update", "graft.mapping.id" -> "id"))
    val afterUpdate = spark.graftDF(dir).as[(Long, String, Int)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(afterUpdate(10L) == "kappa2")
    assert(!afterUpdate.contains(99L))

    // dynamic mapping: a batch with a NEW field upserts cleanly,
    // existing docs get null for the new field
    Seq((11L, "lambda", 1, "extra")).toDF("id", "name", "ver", "note")
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    val evolved = spark.graftDF(dir)
    assert(evolved.columns.contains("note"))
    assert(evolved.where(col("id") === 11 && col("note") === "extra").count() == 1)
    assert(evolved.where(col("id") === 1).select("note").first().isNullAt(0))

    // es.read.metadata analog
    val meta = spark.graftDF(dir, idField = "id", readMetadata = true)
    assert(meta.columns.contains("_id") && meta.columns.contains("_index"))
    assert(meta.where(col("_id") =!= col("id")).count() == 0)
  }

  test("json-format index: same bulk semantics over es.input.json-style storage") {
    val dir = Files.createTempDirectory(specRoot, "graft_json").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id", "graft.format" -> "json")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").saveToGraft(dir, cfg)
    Seq((2L, "b2"), (3L, "c")).toDF("id", "name").saveToGraft(dir, cfg)
    val r = spark.graftDF(dir, format = "json")
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // and it is really json on disk
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json")))
  }

  test("nested bool-in-bool JSON compiles recursively") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.where(QueryDslJson.compile(
      """{"bool": {"must": [{"bool": {"should": [{"term": {"lang": "en"}},
           {"term": {"lang": "de"}}], "minimum_should_match": 1}},
           {"range": {"n_chars": {"gt": 200}}}]}}""")).count()
    val direct = docs.where((col("lang") === "en" || col("lang") === "de") && col("n_chars") > 200).count()
    assert(n == direct && n > 0)
  }

  test("GraftExtensions: native kernels callable from pure SQL") {
    // getOrCreate ignores withExtensions when a session already exists:
    // clear the active/default session, build a fresh one on the SAME
    // SparkContext, restore afterwards
    import org.apache.spark.sql.SparkSession
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = s2.sql(
        "SELECT simhash32(array('alpha','beta')) AS sh, " +
          "minhash_sig(token_shingles(array('a','b','c','d'), 3)) AS mh, " +
          "tokenize('Fast Hash-Join 42x') AS tk, " +
          "simhash64(tokenize('alpha beta')) AS sh64, " +
          "geohash(57.64911d, 10.40744d, 5) AS gh, " +
          "cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs")
        .collect().head
      assert(r.getAs[Long]("sh") >= 0L)
      assert(r.getSeq[Long](1).length == 32)
      assert(r.getSeq[String](2) == Seq("fast", "hash", "join", "42x"))
      assert(r.getAs[String]("gh") == "u4pru")
      assert(math.abs(r.getAs[Double]("cs") - 1.0) < 1e-12)
    } finally {
      SparkSession.clearActiveSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("updateByQuery / deleteByQuery: one-pass swap, NULL-safe match") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ubq").toString + "/idx"
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("doc_id", "lang", "score")
      .write.parquet(dir)
    Connector.updateByQuery(spark, dir,
      """{"term": {"lang": "en"}}""",
      Map("score" -> (col("score") + 100L)))
    val afterUpdate = spark.read.parquet(dir)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    assert(afterUpdate == Map(1L -> 110L, 2L -> 20L, 3L -> 130L))

    Connector.deleteByQuery(spark, dir, """{"range": {"score": {"gte": 120}}}""")
    val afterDelete = spark.read.parquet(dir)
      .select("doc_id").as[Long].collect().toSet
    assert(afterDelete == Set(1L, 2L))
  }

  test("ingest pipeline: uri_parts and user_agent structured extraction") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ingest4").toString + "/idx"
    val pipeline = """{"processors": [
      {"uri_parts": {"field": "u", "target_field": "url"}},
      {"user_agent": {"field": "ua", "target_field": "agent"}}]}"""
    Seq(
      (1L, "https://api.example.com:8443/v1/search?q=fast#frag",
        "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 Chrome/120.0.0.0 Safari/537.36"),
      (2L, "http://example.org/plain",
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Version/17.0 Mobile/15E148 Safari/604.1"))
      .toDF("doc_id", "u", "ua")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id",
        "graft.ingest.pipeline" -> pipeline))
    val out = spark.read.parquet(dir).orderBy("doc_id")
      .select("url.scheme", "url.host", "url.port", "url.path", "url.query",
        "agent.name", "agent.os", "agent.device")
      .as[(String, String, String, String, String, String, String, String)]
      .collect().toSeq
    assert(out == Seq(
      ("https", "api.example.com", "8443", "/v1/search", "q=fast",
        "Chrome", "Windows", "Other"),
      ("http", "example.org", "", "/plain", "",
        "Safari", "iOS", "Mobile Device")))
    // schemeless input: scheme/host empty, everything lands in path
    import graft.sources.IngestPipeline
    val bare = IngestPipeline.compile(
      """{"processors": [{"uri_parts": {"field": "u", "target_field": "url"}}]}""")(
      Seq((1L, "example.com/p?x=1")).toDF("id", "u"))
      .select("url.scheme", "url.host", "url.path", "url.query")
      .as[(String, String, String, String)].collect().head
    assert(bare == (("", "", "example.com/p", "x=1")))
    // redact masks EVERY occurrence, left to right
    val multi = IngestPipeline.compile(
      """{"processors": [{"redact": {"field": "t", "patterns": ["%{IP:ip}"]}}]}""")(
      Seq((1L, "from 1.2.3.4 to 5.6.7.8")).toDF("id", "t"))
      .select("t").as[String].collect().head
    assert(multi == "from <ip> to <ip>")
  }

  test("ingest on_failure: failing docs route to handler sets, clean docs untouched") {
    import graft.sources.IngestPipeline
    val pipeline = """{"processors": [
      {"convert": {"field": "n", "type": "long", "on_failure": [
        {"set": {"field": "err", "value": "parse_error"}},
        {"set": {"field": "n_src", "value": "fallback"}}]}},
      {"date": {"field": "d", "formats": ["yyyy-MM-dd"], "target_field": "ts",
        "on_failure": [{"set": {"field": "err", "value": "date_error"}}]}}]}"""
    val df = Seq(
      (1L, "42", "2024-01-02"),     // both clean
      (2L, "oops", "2024-01-03"),   // convert fails
      (3L, "7", "not-a-date"),      // date fails
      (4L, null, "2024-01-04"))     // null input is NOT a failure
      .toDF("id", "n", "d")
    val out = IngestPipeline.compile(pipeline)(df)
      .select(col("id"), col("n"), col("err"), col("n_src"),
        col("ts").isNotNull.as("has_ts"))
      .as[(Long, Option[Long], Option[String], Option[String], Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, Some(42L), None, None, true),
      (2L, None, Some("parse_error"), Some("fallback"), true),
      (3L, Some(7L), Some("date_error"), None, false),
      (4L, None, None, None, true)))
  }

  test("ingest enrich: policy lookup attaches flat target columns; " +
      "duplicate match keys and unknown policies are loud") {
    import graft.sources.IngestPipeline
    val policy = Seq((1L, "gold", 7L), (2L, "silver", 9L))
      .toDF("cust", "tier", "region")
    val chain = IngestPipeline.compile(
      """{"processors": [{"enrich": {"policy_name": "tiers",
           "field": "buyer", "target_field": "t"}}]}""",
      Map.empty, 0, Map("tiers" -> ((policy, "cust"))))
    val out = chain(Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "buyer"))
      .orderBy($"id")
      .select($"id", $"t_tier", $"t_region").as[(Long, String, Option[Long])]
      .collect().toSeq
    assert(out == Seq((10L, "gold", Some(7L)), (11L, "silver", Some(9L)),
      (12L, null, None)))
    // duplicate match keys would duplicate documents (ES max_matches=1)
    val dup = intercept[IllegalArgumentException] {
      IngestPipeline.compile(
        """{"processors": [{"enrich": {"policy_name": "tiers",
             "field": "buyer", "target_field": "t"}}]}""",
        Map.empty, 0,
        Map("tiers" -> ((policy.unionByName(policy), "cust"))))
    }
    assert(dup.getMessage.contains("duplicate"))
    val missing = intercept[IllegalArgumentException] {
      IngestPipeline.compile(
        """{"processors": [{"enrich": {"policy_name": "nope",
             "field": "buyer", "target_field": "t"}}]}""")
    }
    assert(missing.getMessage.contains("nope"))
  }

  test("ingest inference routes through the swappable InferenceService seam") {
    import graft.sources.IngestPipeline
    val chain = IngestPipeline.compile(
      """{"processors": [{"inference": {"model_id": "stub-llm",
           "field": "s", "target_field": "out"}}]}""")
    val out = chain(Seq((1L, "alpha beta gamma")).toDF("id", "s"))
      .select($"out").as[String].head()
    assert(out == "stub: gamma beta alpha")
  }

  test("ingest nested pipeline processor inlines the named chain") {
    import graft.sources.IngestPipeline
    val registry = Map(
      "clean" -> """{"processors": [
        {"lowercase": {"field": "s"}},
        {"pipeline": {"name": "tagging"}}]}""",
      "tagging" -> """{"processors": [{"set": {"field": "tag", "value": "t1"}}]}""")
    val out = IngestPipeline.compile(
      """{"processors": [{"pipeline": {"name": "clean"}},
                         {"trim": {"field": "s"}}]}""", registry)(
      Seq((1L, " MiXeD ")).toDF("id", "s"))
      .select("s", "tag").as[(String, String)].collect().toSeq
    assert(out == Seq(("mixed", "t1")))
    intercept[IllegalArgumentException] {
      IngestPipeline.compile(
        """{"processors": [{"pipeline": {"name": "nope"}}]}""", registry)(
        Seq((1L, "x")).toDF("id", "s"))
    }
    // cycle guard
    val loop = Map("a" -> """{"processors": [{"pipeline": {"name": "a"}}]}""")
    intercept[IllegalArgumentException] {
      IngestPipeline.compile("""{"processors": [{"pipeline": {"name": "a"}}]}""", loop)(
        Seq((1L, "x")).toDF("id", "s"))
    }
  }

  test("_simulate previews the pipeline on sample docs without a write") {
    import graft.sources.IngestPipeline
    val out = IngestPipeline.simulate(spark,
      """{"processors": [
           {"lowercase": {"field": "name"}},
           {"convert": {"field": "qty", "type": "double"}},
           {"set": {"field": "src", "value": "sim"}}]}""",
      """[{"name": "ALPHA", "qty": "3"}, {"name": "Beta", "qty": "7"}]""")
      .select("name", "qty", "src")
      .as[(String, Double, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(("alpha", 3.0, "sim"), ("beta", 7.0, "sim")))
    // malformed samples fail loudly instead of returning a corrupt row
    intercept[IllegalArgumentException] {
      IngestPipeline.simulate(spark,
        """{"processors": [{"trim": {"field": "s"}}]}""", """not json""")
    }
  }

  test("_mapping renders ES dynamic-mapping JSON; _cat/shards lists files") {
    import java.nio.file.Files
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val base = Files.createTempDirectory(specRoot, "graft_map").toString
    val dir = s"$base/idx"
    Seq((1L, "t", 1.5, Array(0.1f, 0.2f), Seq("a", "b")))
      .toDF("id", "name", "score", "vec", "tags")
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    val m = JsonMethods.parse(Connector.mappingJson(spark, dir))
    def tpe(f: String): String =
      (m \ "mappings" \ "properties" \ f \ "type") match {
        case JString(s) => s; case other => fail(s"no type for $f: $other")
      }
    assert(tpe("id") == "long")
    assert(tpe("name") == "text")
    assert((m \ "mappings" \ "properties" \ "name" \ "fields" \ "keyword" \ "type")
      == JString("keyword"))
    assert(tpe("score") == "double")
    assert(tpe("vec") == "dense_vector")
    assert(tpe("tags") == "text") // arrays are implicit in ES
    val shards = Connector.catShards(spark, base)
      .select("index", "store_bytes").as[(String, Long)].collect()
    assert(shards.nonEmpty && shards.forall(s => s._1 == "idx" && s._2 > 0))
  }

  test("ingest registered_domain: eTLD+1 with two-label suffixes") {
    import graft.sources.IngestPipeline
    val out = IngestPipeline.compile(
      """{"processors": [{"registered_domain": {"field": "host", "target_field": "rd"}}]}""")(
      Seq((1L, "www.example.com"), (2L, "a.b.news.co.uk"), (3L, "example.org"),
        (4L, "deep.sub.site.com.au"), (5L, "localhost"))
        .toDF("id", "host"))
      .select("id", "rd").as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, Some("example.com")),
      (2L, Some("news.co.uk")),
      (3L, Some("example.org")),
      (4L, Some("site.com.au")),
      (5L, None)))
  }

  test("ingest html_strip/sort/dot_expander/date_index_name/redact processors") {
    import graft.sources.IngestPipeline
    // html_strip + redact in one chain: tags drop, then captures mask
    val r1 = IngestPipeline.compile(
      """{"processors": [
           {"html_strip": {"field": "t"}},
           {"redact": {"field": "t", "patterns": ["%{EMAILADDRESS:email}", "%{IP:ip}"]}}]}""")(
      Seq((1L, "<p>mail a@b.com from 10.1.2.3 &amp; more</p>")).toDF("id", "t"))
      .select("t").as[String].collect().head
    assert(r1.contains("<email>") && r1.contains("<ip>") && r1.contains("&") &&
      !r1.contains("<p>") && !r1.contains("a@b.com"))
    // custom mask delimiters
    val r1b = IngestPipeline.compile(
      """{"processors": [{"redact": {"field": "t", "patterns": ["%{NUMBER:n}"],
           "prefix": "[", "suffix": "]"}}]}""")(
      Seq((1L, "x 42 y")).toDF("id", "t")).select("t").as[String].collect().head
    assert(r1b == "x [n] y")
    // sort: asc and desc over an array field
    val r2 = IngestPipeline.compile(
      """{"processors": [{"sort": {"field": "a", "order": "desc"}}]}""")(
      Seq((1L, Seq(2, 9, 4))).toDF("id", "a"))
      .select("a").as[Seq[Int]].collect().head
    assert(r2 == Seq(9, 4, 2))
    // dot_expander: dotted name becomes a nested object, source drops
    val r3 = IngestPipeline.compile(
      """{"processors": [{"dot_expander": {"field": "geo.city.name"}}]}""")(
      Seq((1L, "berlin")).toDF("id", "geo.city.name"))
    assert(r3.columns.toSeq == Seq("id", "geo"))
    assert(r3.select("geo.city.name").as[String].collect().head == "berlin")
    intercept[IllegalArgumentException] {
      IngestPipeline.compile(
        """{"processors": [{"dot_expander": {"field": "id.x"}}]}""")(
        Seq((1L, "v")).toDF("id", "id.x")).collect()
    }
    // date_index_name: rounded routing value with prefix + format
    val r4 = IngestPipeline.compile(
      """{"processors": [{"date_index_name": {"field": "ts",
           "index_name_prefix": "logs-", "date_rounding": "M",
           "index_name_format": "yyyy-MM"}}]}""")(
      Seq((1L, "2024-03-17 10:30:00")).toDF("id", "ts"))
      .select("_index").as[String].collect().head
    assert(r4 == "logs-2024-03")
    intercept[IllegalArgumentException] {
      IngestPipeline.compile(
        """{"processors": [{"date_index_name": {"field": "ts", "date_rounding": "x"}}]}""")
    }
  }

  test("ingest geoip: prefix-table lookup shape, private ranges null") {
    import graft.sources.IngestPipeline
    val out = IngestPipeline.compile(
      """{"processors": [{"geoip": {"field": "ip", "target_field": "geo"}}]}""")(
      Seq((1L, "8.8.8.8"), (2L, "95.44.1.2"), (3L, "150.1.2.3"),
        (4L, "10.0.0.1"), (5L, "192.168.3.4"), (6L, "172.20.1.1"))
        .toDF("id", "ip"))
      .select(col("id"), col("geo.continent_name"), col("geo.country_iso_code"))
      .as[(Long, Option[String], Option[String])].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, Some("North America"), Some("US")),
      (2L, Some("Europe"), Some("DE")),
      (3L, Some("Asia"), Some("JP")),
      (4L, None, None), (5L, None, None), (6L, None, None)))
  }

  test("index templates: applied at creation only, priority wins, cfg overrides") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_tmpl").toString
    val tdir = s"$base/templates"
    Connector.putTemplate(spark, tdir, "logs_low",
      """{"index_patterns": ["logs-*"], "priority": 1,
         "settings": {"graft.index.sort": "k", "graft.index.sort.partitions": "4"}}""")
    Connector.putTemplate(spark, tdir, "logs_high",
      """{"index_patterns": ["logs-2024*"], "priority": 10,
         "settings": {"graft.index.sort": "k:desc", "graft.index.sort.partitions": "2"}}""")
    intercept[IllegalArgumentException] {
      Connector.putTemplate(spark, tdir, "broken", """{"priority": 1}""")
    }
    val df = spark.range(1, 101).toDF("k").withColumn("v", col("k") % 7)
    val cfgT = Map("graft.mapping.id" -> "k", "graft.templates.dir" -> tdir)
    // highest-priority matching template applies on CREATE
    df.saveToGraft(s"$base/logs-2024", cfgT)
    val files = spark.read.parquet(s"$base/logs-2024").inputFiles
    assert(files.length == 2) // sort.partitions from the priority-10 template
    // non-matching index name: no template settings
    df.saveToGraft(s"$base/metrics-2024", cfgT)
    assert(spark.read.parquet(s"$base/metrics-2024").inputFiles.length != 2 ||
      spark.read.parquet(s"$base/metrics-2024").count() == 100)
    // explicit cfg beats the template
    df.saveToGraft(s"$base/logs-2025", cfgT + ("graft.index.sort.partitions" -> "3"))
    assert(spark.read.parquet(s"$base/logs-2025").inputFiles.length == 3)
    // existing index: template NOT re-applied on update writes
    df.saveToGraft(s"$base/logs-2024", cfgT) // upsert path, no error
    assert(spark.read.parquet(s"$base/logs-2024").count() == 100)
  }

  test("_clone and _snapshot/_restore: copies, manifests, crash-safe restore") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_snap").toString
    val idx = s"$base/logs"
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v").write.parquet(idx)
    // clone: byte copy, refuses existing targets
    Connector.cloneIndex(spark, idx, s"$base/logs_clone")
    assert(spark.read.parquet(s"$base/logs_clone").count() == 2)
    intercept[IllegalArgumentException] {
      Connector.cloneIndex(spark, idx, s"$base/logs_clone")
    }
    // snapshot, mutate the live index, restore -> original content back
    Connector.snapshotCreate(spark, idx, s"$base/repo", "snap1")
    Connector.deleteByQuery(spark, idx, """{"term": {"doc_id": 1}}""")
    assert(spark.read.parquet(idx).count() == 1)
    Connector.snapshotRestore(spark, s"$base/repo", "snap1", "logs", idx)
    assert(spark.read.parquet(idx)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // restore can also materialize a NEW index from the snapshot
    Connector.snapshotRestore(spark, s"$base/repo", "snap1", "logs", s"$base/logs2")
    assert(spark.read.parquet(s"$base/logs2").count() == 2)
  }

  test("updateByQueryScript: ctx._source assignments compile and see the snapshot") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ubqs").toString + "/idx"
    Seq((1L, 10.0, 2.0), (2L, 20.0, 3.0), (3L, 5.0, 4.0))
      .toDF("doc_id", "price", "factor")
      .write.parquet(dir)
    // Painless runs statements SEQUENTIALLY: the second assignment
    // reads the price the first one just rewrote (new value), while
    // the query still matches against the ORIGINAL snapshot
    Connector.updateByQueryScript(spark, dir,
      """{"range": {"price": {"gte": 10}}}""",
      "ctx._source.price = ctx._source.price * params.m; " +
        "ctx._source.markup = ctx._source.price + ctx._source.factor",
      params = Map("m" -> 2.0))
    val got = spark.read.parquet(dir)
      .select("doc_id", "price", "markup")
      .as[(Long, Double, Option[Double])].collect()
      .map { case (id, p, m) => id -> ((p, m)) }.toMap
    assert(got == Map(
      1L -> (20.0, Some(22.0)), // markup from UPDATED price 20 + 2
      2L -> (40.0, Some(43.0)),
      3L -> (5.0, None)))       // unmatched: untouched, new field null
  }

  test("updateByQueryScript: self-reference and re-assignment thread sequentially") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ubqs2").toString + "/idx"
    Seq((1L, 3.0)).toDF("doc_id", "v").write.parquet(dir)
    // v = v + 1 (→4); v = v * 10 (reads NEW v → 40); w = v - 2 (→38)
    Connector.updateByQueryScript(spark, dir, """{"term": {"doc_id": 1}}""",
      "ctx._source.v = ctx._source.v + 1; " +
        "ctx._source.v = ctx._source.v * 10; " +
        "ctx._source.w = ctx._source.v - 2")
    val row = spark.read.parquet(dir).select("v", "w").as[(Double, Double)].head()
    assert(row == (40.0, 38.0))
  }

  test("updateByQuery: multi-column set sees the ORIGINAL snapshot") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ubq2").toString + "/idx"
    Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("doc_id", "score")
      .write.parquet(dir)
    // the query references `score`, and the set ALSO assigns `score` —
    // ES evaluates the query once against the original docs, so both
    // the score bump and the new flag column must hit rows 1 and 2
    // (original score < 25), regardless of assignment order
    Connector.updateByQuery(spark, dir,
      """{"range": {"score": {"lt": 25}}}""",
      scala.collection.immutable.ListMap(
        "score" -> (col("score") + 100L),
        "flag"  -> lit("hit")))
    val rows = spark.read.parquet(dir)
      .select("doc_id", "score", "flag")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)))).toSet
    assert(rows == Set(
      (1L, 110L, Some("hit")),
      (2L, 120L, Some("hit")),
      (3L, 30L, None)))
  }

  test("index patterns: graftDF expands globs like ES logs-*") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_pat").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$base/logs-2026-01")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$base/logs-2026-02")
    Seq((9L, "x")).toDF("id", "v").write.parquet(s"$base/other")
    val r = spark.graftDF(s"$base/logs-*").select("id").as[Long].collect().toSet
    assert(r == Set(1L, 2L))
    // an index whose swap crashed (live gone, only _graft_old left)
    // must be recovered and INCLUDED by the pattern read
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(
      new org.apache.hadoop.fs.Path(s"$base/logs-2026-02"),
      new org.apache.hadoop.fs.Path(s"$base/logs-2026-02_graft_old"))
    spark.catalog.refreshByPath(s"$base/logs-2026-02")
    val r2 = spark.graftDF(s"$base/logs-*").select("id").as[Long].collect().toSet
    assert(r2 == Set(1L, 2L))
    // allow_no_indices (the ES default for wildcard expressions): an
    // unmatched pattern is zero hits, not an error...
    assert(spark.graftDF(s"$base/nope-*").count() == 0L)
    // ...while a missing LITERAL name still fails (ES 404)
    intercept[Exception] { spark.graftDF(s"$base/definitely-missing").count() }
    // es.index.read.missing.as.empty: opt into zero hits instead
    assert(spark.graftDF(s"$base/definitely-missing", missingAsEmpty = true)
      .count() == 0L)
    // and a multi-index read keeps the PRESENT parts
    assert(spark.graftDF(s"$base/logs-2026-01,$base/definitely-missing",
      missingAsEmpty = true).count() == 1L)
  }

  test("_analyze_disk_usage: per-field bytes from parquet footers") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_du").toString
    val docs = (1 to 200).map(i => (i.toLong, "body text " * 50 + i, i % 7))
      .toDF("id", "body", "small")
    Connector.save(docs, s"$base/idx", Map("graft.write.operation" -> "append"))
    val du = Connector.diskUsage(spark, s"$base/idx")
      .as[(String, Long, Long, Long)].collect()
    assert(du.map(_._1).toSet == Set("id", "body", "small"))
    assert(du.forall(r => r._2 > 0 && r._3 >= r._2 - 64 && r._4 == 200L))
    // the fat text column dominates, and the API says so first
    assert(du.head._1 == "body")
  }

  test("z-order write: per-file ranges narrow on BOTH dimensions") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_z").toString
    // a 64x64 grid: linear sort on x leaves every file spanning the
    // full y range; the z curve gives compact rectangles
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong * 64 + y, x.toDouble, y.toDouble))
      .toDF("id", "x", "y")
    def fileRanges(path: String): Seq[(Double, Double, Double, Double)] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getPath.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).collect()(0)
          (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
        }
    }
    Connector.save(grid, s"$base/zorder", Map(
      "graft.write.operation" -> "append",
      "graft.index.zorder" -> "x,y",
      "graft.index.zorder.bits" -> "6",
      "graft.index.sort.partitions" -> "16"))
    Connector.save(grid, s"$base/linear", Map(
      "graft.write.operation" -> "append",
      "graft.index.sort" -> "x,y",
      "graft.index.sort.partitions" -> "16"))
    val zr = fileRanges(s"$base/zorder")
    val lr = fileRanges(s"$base/linear")
    assert(zr.size > 4 && lr.size > 4)
    // per-file y-WIDTH (the non-leading dimension): linear files are
    // full-height slivers (width 64), z files are compact rectangles
    def meanYWidth(rs: Seq[(Double, Double, Double, Double)]): Double =
      rs.map { case (_, _, y0, y1) => y1 - y0 + 1 }.sum / rs.size
    assert(meanYWidth(zr) < meanYWidth(lr) / 2,
      s"z mean y-width ${meanYWidth(zr)} !< half of linear ${meanYWidth(lr)}")
    // pruning on the NON-leading column: a point query on y overlaps
    // fewer z files than linear files (which all span y fully)
    def overlapping(rs: Seq[(Double, Double, Double, Double)], yv: Double): Int =
      rs.count { case (_, _, y0, y1) => y0 <= yv && yv <= y1 }
    assert(overlapping(zr, 7.0) < overlapping(lr, 7.0),
      s"y=7 overlaps z=${overlapping(zr, 7.0)} vs linear=${overlapping(lr, 7.0)}")
    // content unchanged by the clustering
    assert(spark.read.parquet(s"$base/zorder").count() == 64L * 64)
  }

  test("dynamic write resources: media-{type} and logs-{ts|date} patterns") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_dyn").toString
    val batch = Seq(
      (1L, "image", "2026-03-01 10:00:00"),
      (2L, "audio", "2026-03-01 11:00:00"),
      (3L, "image", "2026-03-02 09:00:00")).toDF("id", "media_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    // field pattern: one index per media_type, bulk semantics per target
    Connector.saveDynamic(batch, base, "media-{media_type}",
      Map("graft.mapping.id" -> "id"))
    assert(spark.graftDF(s"$base/media-image").select("id").as[Long].collect().toSet
      == Set(1L, 3L))
    assert(spark.graftDF(s"$base/media-audio").count() == 1L)
    // upsert through the same pattern: id 1 routes back to media-image
    // and replaces, id 4 lands in a NEW index
    val more = Seq((1L, "image", "2026-03-05 00:00:00"), (4L, "video", "2026-03-05 00:00:00"))
      .toDF("id", "media_type", "ts").withColumn("ts", col("ts").cast("timestamp"))
    Connector.saveDynamic(more, base, "media-{media_type}",
      Map("graft.mapping.id" -> "id"))
    assert(spark.graftDF(s"$base/media-image").count() == 2L)
    assert(spark.graftDF(s"$base/media-video").count() == 1L)
    // date-math form: {ts|yyyy.MM.dd} makes daily indices (id-less
    // append, the log-shipping shape)
    Connector.saveDynamic(batch, base, "logs-{ts|yyyy.MM.dd}",
      Map("graft.write.operation" -> "append"))
    assert(spark.graftDF(s"$base/logs-2026.03.01").count() == 2L)
    assert(spark.graftDF(s"$base/logs-*").count() == 3L)
  }

  test("saveDynamic computes the batch exactly once regardless of target count") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_dyn1p").toString
    // 200 rows over 20 distinct targets; an accumulator in a narrow
    // stage counts how many times each source partition is COMPUTED —
    // the high-cardinality-dynamic-write guard: a per-target filtered
    // loop over an evicted cache would re-run the lineage per target
    val src = (1L to 200L).map(i => (i, s"t${i % 20}")).toDF("id", "tenant")
    val acc = spark.sparkContext.longAccumulator("batchPartitionPasses")
    val np = src.rdd.getNumPartitions
    val counted = spark.createDataFrame(
      src.rdd.mapPartitions { it => acc.add(1); it }, src.schema)
    Connector.saveDynamic(counted, base, "tenant-{tenant}",
      Map("graft.write.operation" -> "append"))
    assert(acc.value == np,
      s"batch computed ${acc.value} partition-tasks, expected $np (one pass)")
    // every target got exactly its slice, spool cleaned up
    assert(spark.graftDF(s"$base/tenant-*").count() == 200L)
    assert(spark.graftDF(s"$base/tenant-t7").count() == 10L)
    assert(!new java.io.File(s"$base/_graft_dynspool").exists())
  }

  test("filtered aliases resolve transparently through graftDF") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_alias").toString
    Seq((1L, "en"), (2L, "de"), (3L, "en"))
      .toDF("doc_id", "lang").write.parquet(s"$base/idx")
    // plain alias: all rows
    Connector.putAlias(spark, s"$base/all_docs", s"$base/idx")
    assert(spark.graftDF(s"$base/all_docs").count() == 3L)
    // filtered alias: the ES filtered-alias view
    Connector.putAlias(spark, s"$base/en_docs", s"$base/idx",
      """{"term": {"lang": "en"}}""")
    val en = spark.graftDF(s"$base/en_docs").select("doc_id").as[Long].collect().toSet
    assert(en == Set(1L, 3L))
    // a query over the alias composes with the alias filter
    assert(spark.graftDF(s"$base/en_docs",
      """{"range": {"doc_id": {"gte": 2}}}""").count() == 1L)
  }

  test("rollover: write alias repoints at maxDocs; writes go through the alias") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_roll").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v")
      .write.parquet(s"$base/idx-000001")
    Connector.putAlias(spark, s"$base/w", s"$base/idx-000001")
    // below threshold: no-op
    assert(!Connector.rollover(spark, s"$base/w", maxDocs = 10))
    // at/over threshold: creates -000002 (empty, same schema), repoints
    assert(Connector.rollover(spark, s"$base/w", maxDocs = 3))
    assert(spark.graftDF(s"$base/w").count() == 0L)
    // a write THROUGH the alias lands in the new generation only
    Seq((4L, "d")).toDF("doc_id", "v")
      .saveToGraft(s"$base/w", Map("graft.mapping.id" -> "doc_id"))
    assert(spark.graftDF(s"$base/w").count() == 1L)
    assert(spark.graftDF(s"$base/idx-000001").count() == 3L)
    // pattern reads see every generation
    assert(spark.graftDF(s"$base/idx-*").count() == 4L)
  }

  test("graftCount and fieldCaps") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_caps").toString + "/idx"
    Seq((1L, "en", Seq(1.0)), (2L, "de", Seq(2.0)), (3L, "en", Seq(3.0)))
      .toDF("doc_id", "lang", "vec").write.parquet(dir)
    assert(spark.graftCount(dir) == 3L)
    assert(spark.graftCount(dir, """{"term": {"lang": "en"}}""") == 2L)
    val caps = spark.fieldCaps(dir)
      .as[(String, String, Boolean, Boolean)].collect().toSeq
    assert(caps.map(_._1) == Seq("doc_id", "lang", "vec"))
    assert(caps.find(_._1 == "vec").exists(c => !c._3)) // arrays not primitive
    assert(caps.find(_._1 == "doc_id").exists(c => c._3 && c._4))
  }

  test("runtime_mappings: query references runtime fields like mapped ones") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_rt").toString + "/idx"
    Seq((1L, 100L, "en"), (2L, 250L, "en"), (3L, 900L, "de"))
      .toDF("doc_id", "n", "lang").write.parquet(dir)
    val out = spark.graftDF(dir,
      """{"runtime_mappings": {
           "bucket": {"type": "long", "script": {"source": "emit(Math.floor(doc['n'].value / 100))"}}},
         "query": {"range": {"bucket": {"gte": 2}}}}""",
      idField = "doc_id")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(out.columns.contains("bucket"))
    // body with only runtime_mappings (no query): all rows, field added
    val all = spark.graftDF(dir,
      """{"runtime_mappings": {
           "kn": {"type": "double", "script": {"source": "emit(doc['n'].value / 1000.0)"}}}}""",
      idField = "doc_id")
    assert(all.count() == 3 && all.columns.contains("kn"))
    // plain query JSON still works unchanged
    assert(spark.graftDF(dir, """{"term": {"lang": "de"}}""").count() == 1)
  }

  test("ingest pipeline: processor chain shapes docs at write time") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ingest").toString + "/idx"
    val pipeline = """{"processors": [
      {"set": {"field": "source", "value": "bulk"}},
      {"lowercase": {"field": "name"}},
      {"gsub": {"field": "name", "pattern": "[0-9]+", "replacement": "#"}},
      {"rename": {"field": "name", "target_field": "title"}},
      {"convert": {"field": "n", "type": "double"}},
      {"remove": {"field": "tmp"}}]}"""
    Seq((1L, "Alpha99", 10L, "x"), (2L, "BETA7", 20L, "y"))
      .toDF("doc_id", "name", "n", "tmp")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id",
        "graft.ingest.pipeline" -> pipeline))
    val out = spark.read.parquet(dir).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("title"),
        r.getAs[Double]("n"), r.getAs[String]("source"))).toSeq
    assert(out == Seq((1L, "alpha#", 10.0, "bulk"), (2L, "beta#", 20.0, "bulk")))
    assert(!spark.read.parquet(dir).columns.contains("tmp"))
    // upsert THROUGH the pipeline into the existing index
    Seq((2L, "Gamma123", 30L, "z")).toDF("doc_id", "name", "n", "tmp")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id",
        "graft.ingest.pipeline" -> pipeline))
    val r2 = spark.read.parquet(dir).where($"doc_id" === 2L).collect().head
    assert(r2.getAs[String]("title") == "gamma#")
  }

  test("ingest pipeline: dissect/grok/date/kv/json/script processors") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ingest2").toString + "/idx"
    val pipeline = """{"processors": [
      {"dissect": {"field": "line", "pattern": "%{lvl} %{msg}"}},
      {"grok": {"field": "msg", "patterns": ["%{WORD:verb} %{NUMBER:ms:int}"]}},
      {"date": {"field": "day", "formats": ["yyyy-MM-dd"], "target_field": "ts"}},
      {"kv": {"field": "tags", "field_split": ",", "value_split": "="}},
      {"json": {"field": "props", "target_field": "pm"}},
      {"script": {"source": "doc['ms'].value * params.f", "params": {"f": 2.0},
                  "target_field": "ms2"}}]}"""
    Seq(
      (1L, "INFO start 15", "2024-03-01", "a=1,b=2", """{"k": "v"}"""),
      (2L, "WARN stop 40", "2024-03-02", "c=3", """{"x": "y"}"""))
      .toDF("doc_id", "line", "day", "tags", "props")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id",
        "graft.ingest.pipeline" -> pipeline))
    val out = spark.read.parquet(dir).orderBy("doc_id")
    val r = out.collect().map(x => (
      x.getAs[String]("lvl"), x.getAs[String]("verb"), x.getAs[Int]("ms"),
      x.getAs[java.sql.Timestamp]("ts") != null,
      x.getAs[Map[String, String]]("tags"), x.getAs[Map[String, String]]("pm"),
      x.getAs[Double]("ms2"))).toSeq
    assert(r == Seq(
      ("INFO", "start", 15, true, Map("a" -> "1", "b" -> "2"), Map("k" -> "v"), 30.0),
      ("WARN", "stop", 40, true, Map("c" -> "3"), Map("x" -> "y"), 80.0)))
  }

  test("ingest pipeline: csv/split/join/append/urldecode/bytes/fingerprint/foreach/drop") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(specRoot, "graft_ingest3").toString + "/idx"
    val pipeline = """{"processors": [
      {"csv": {"field": "row", "target_fields": ["city", "pop"], "separator": ";"}},
      {"split": {"field": "path", "separator": "/"}},
      {"foreach": {"field": "path", "processor": {"uppercase": {"field": "_ingest._value"}}}},
      {"join": {"field": "path", "separator": "."}},
      {"append": {"field": "tags", "value": "indexed"}},
      {"urldecode": {"field": "q"}},
      {"bytes": {"field": "sz", "target_field": "sz_bytes"}},
      {"fingerprint": {"fields": ["city", "pop"], "target_field": "fp"}},
      {"drop": {"if": "doc['keep'].value == 0"}}]}"""
    Seq(
      (1L, "paris;210", "a/b/c", "x%20y", "2kb", 1L),
      (2L, "oslo;70", "d/e", "p%2Fq", "512b", 0L)) // dropped
      .toDF("doc_id", "row", "path", "q", "sz", "keep")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id",
        "graft.ingest.pipeline" -> pipeline))
    val out = spark.read.parquet(dir)
    assert(out.count() == 1)
    val x = out.collect().head
    assert(x.getAs[String]("city") == "paris" && x.getAs[String]("pop") == "210")
    assert(x.getAs[String]("path") == "A.B.C")
    assert(x.getAs[scala.collection.Seq[String]]("tags").toSeq == Seq("indexed"))
    assert(x.getAs[String]("q") == "x y")
    assert(x.getAs[Long]("sz_bytes") == 2048L)
    // fingerprint matches the documented construction
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("paris|210".getBytes).map("%02x".format(_)).mkString
    assert(x.getAs[String]("fp") == want)
  }

  test("write-side mapping include/exclude keep the id column alive") {
    import java.nio.file.Files
    val base = Files.createTempDirectory(specRoot, "graft_wmap").toString
    val df = Seq((1L, "a", 10, "secret")).toDF("doc_id", "v", "n", "internal")
    df.saveToGraft(s"$base/inc", Map(
      "graft.mapping.id" -> "doc_id", "graft.mapping.include" -> "v, n"))
    assert(spark.read.parquet(s"$base/inc").columns.sorted.toSeq ==
      Seq("doc_id", "n", "v"))
    df.saveToGraft(s"$base/exc", Map(
      "graft.mapping.id" -> "doc_id",
      "graft.mapping.exclude" -> "internal, doc_id")) // id exclusion ignored
    assert(spark.read.parquet(s"$base/exc").columns.sorted.toSeq ==
      Seq("doc_id", "n", "v"))
  }

  test("scrollPages: cursor pagination partitions the sorted export") {
    val df = (1L to 23L).map(i => (i, i % 5)).toDF("id", "s")
    val pages = graft.search.Search.scrollPages(df, "id", "s", 10).toList
    assert(pages.map(_.size) == Seq(10, 10, 3))
    val flat = pages.flatten.map(r => (r.getAs[Long]("s"), r.getAs[Long]("id")))
    assert(flat == flat.sorted && flat.map(_._2).toSet.size == 23)
    // stopping early costs nothing more: first page only
    val first = graft.search.Search.scrollPages(df, "id", "s", 7)
    assert(first.next().size == 7)
  }

  test("bucketed storage: co-located join plans with NO exchange") {
    val base = Files.createTempDirectory(specRoot, "graft_bucket").toString
    val facts = (1L to 5000L).toDF("k").withColumn("v", col("k") % 97)
    val dims = (1L to 5000L).toDF("k").withColumn("w", col("k") % 31)
    Connector.saveBucketed(facts, "graft_bkt_facts", base + "/facts", "k", 8)
    Connector.saveBucketed(dims, "graft_bkt_dims", base + "/dims", "k", 8)
    try {
      val joined = spark.table("graft_bkt_facts")
        .join(spark.table("graft_bkt_dims"), "k")
      assert(joined.count() == 5000)
      // force the sort-merge path so the bucket layout is what kills
      // the exchange (a broadcast would hide it)
      val smjPlan = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try spark.table("graft_bkt_facts").join(spark.table("graft_bkt_dims"), "k")
          .queryExecution.executedPlan.toString
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      assert(!smjPlan.contains("Exchange"), s"bucketed join still shuffles:\n$smjPlan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_dims")
    }
  }

  test("_source filter prunes the scan; _count pushes its predicate") {
    val dir = Files.createTempDirectory(specRoot, "graft_srcf").toString + "/idx"
    Seq((1L, "en", 2.0, 3.0)).toDF("id", "lang", "v1", "v2").write.parquet(dir)
    val pruned = graft.dsl.SearchBody
      .applySourceFilter(spark.read.parquet(dir), """["id", "v1"]""")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema") && !pruned.contains("v2"),
      s"_source filter did not prune the scan:\n$pruned")
    val counted = Connector.countQuery(spark.read.parquet(dir),
      """{"term": {"lang": "en"}}""", "id")
      .queryExecution.executedPlan.toString
    assert(counted.contains("EqualTo(lang,en)"),
      s"_count predicate not pushed:\n$counted")
  }

  test("_cat/indices + _validate/query") {
    val base = Files.createTempDirectory(specRoot, "graft_cat").toString
    (1L to 10L).toDF("id").write.parquet(base + "/idx_a")
    (1L to 25L).toDF("id").write.parquet(base + "/idx_b")
    val cat = Connector.catIndices(spark, base)
      .select("index", "docs_count").as[(String, Long)].collect().toSeq
    assert(cat == Seq(("idx_a", 10L), ("idx_b", 25L)))
    val (ok, exp) = Connector.validateQuery("""{"term": {"lang": "en"}}""")
    assert(ok && exp.contains("lang"))
    val (bad, msg) = Connector.validateQuery("""{"nope": {"x": 1}}""")
    assert(!bad && msg.contains("unsupported"))
  }

  test("_reindex: query filter + ingest pipeline + bulk-path id semantics") {
    val base = Files.createTempDirectory(specRoot, "graft_reindex").toString
    val src = base + "/src"
    Seq((1L, "en", 100L), (2L, "de", 300L), (3L, "en", 500L), (4L, "fr", 700L))
      .toDF("id", "lang", "n").write.parquet(src)
    val cfg = Map("graft.mapping.id" -> "id", "graft.write.operation" -> "upsert")
    // filtered + transformed copy
    val n1 = Connector.reindex(spark, src, base + "/dst",
      query = """{"range": {"n": {"gte": 300}}}""",
      pipeline = """{"processors": [{"set": {"field": "tag", "value": "ri"}}]}""",
      cfg = cfg)
    assert(n1 == 3)
    val dst = spark.read.parquet(base + "/dst")
    assert(dst.count() == 3 && dst.where(col("tag") === "ri").count() == 3)
    // second reindex upserts by id into the existing dest (no dupes)
    val n2 = Connector.reindex(spark, src, base + "/dst",
      query = """{"term": {"lang": "en"}}""",
      pipeline = """{"processors": [{"set": {"field": "tag", "value": "ri2"}}]}""",
      cfg = cfg)
    assert(n2 == 2)
    val after = spark.read.parquet(base + "/dst")
    assert(after.count() == 4) // ids 1..4: {2,3,4} ∪ {1,3}
    assert(after.where(col("tag") === "ri2").select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("_forcemerge compacts to N files, content and count preserved") {
    val dir = Files.createTempDirectory(specRoot, "graft_fm").toString + "/idx"
    val df = (1L to 200L).toDF("id").withColumn("v", col("id") * 3)
    df.repartition(16).write.parquet(dir)
    assert(spark.read.parquet(dir).inputFiles.length == 16)
    Connector.forceMerge(spark, dir, 2)
    val merged = spark.read.parquet(dir)
    assert(merged.inputFiles.length == 2)
    assert(merged.count() == 200)
    assert(merged.agg(sum("v")).as[Long].head() == (1L to 200L).map(_ * 3).sum)
    intercept[IllegalArgumentException](Connector.forceMerge(spark, dir, 0))
  }

  test("_shrink coalesces to fewer shards; _split repartitions to more") {
    val base = Files.createTempDirectory(specRoot, "graft_resize").toString
    val src = base + "/src"
    (1L to 100L).toDF("id").repartition(8).write.parquet(src)
    Connector.resize(spark, src, base + "/small", 2)
    assert(spark.read.parquet(base + "/small").inputFiles.length == 2)
    assert(spark.read.parquet(base + "/small").count() == 100)
    Connector.resize(spark, src, base + "/big", 16)
    assert(spark.read.parquet(base + "/big").inputFiles.length == 16)
    assert(spark.read.parquet(base + "/big").count() == 100)
    // ES requires a fresh target index
    intercept[Exception](Connector.resize(spark, src, base + "/small", 2))
  }

  test("PIT: an open point-in-time pins its generation across swaps") {
    val dir = Files.createTempDirectory(specRoot, "graft_pit").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").saveToGraft(dir, cfg)

    val pit = Connector.openPit(spark, dir)
    // bulk upsert rewrites the index through the crash-safe swap:
    // id 1 updated, id 3 inserted
    Seq((1L, "a2"), (3L, "c")).toDF("id", "v").saveToGraft(dir, cfg)

    val live = spark.graftDF(dir).as[(Long, String)].collect().toMap
    assert(live == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    // the PIT still reads the open-time generation
    val pinned = Connector.pitDF(spark, dir, pit).as[(Long, String)].collect().toMap
    assert(pinned == Map(1L -> "a", 2L -> "b"))
    // a second swap while the pit stays open: still the same view
    Connector.updateByQuery(spark, dir,
      """{"term": {"id": 2}}""", Map("v" -> lit("b9")), cfg)
    assert(Connector.pitDF(spark, dir, pit).as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b"))

    // close sweeps the retired generation
    Connector.closePit(spark, dir, pit)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    assert(!fs.listStatus(parent).exists(_.getPath.getName.contains("_graft_retired_")))
    intercept[IllegalArgumentException](Connector.pitDF(spark, dir, pit))
  }

  test("data streams: append-only generations behind a write alias") {
    val base = Files.createTempDirectory(specRoot, "graft_ds").toString + "/logs"
    val probe = Seq((1L, "a")).toDF("id", "v")
    Connector.createDataStream(spark, base, probe)
    Connector.appendToDataStream(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), base)
    assert(Connector.dataStreamDF(spark, base).count() == 2)
    // rollover at maxDocs=2: generation 000002 becomes the write target
    assert(Connector.rolloverDataStream(spark, base, 2))
    Connector.appendToDataStream(Seq((3L, "c")).toDF("id", "v"), base)
    // reads span every generation; gen 1 files were never touched
    assert(Connector.dataStreamDF(spark, base).as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(spark.read.parquet(s"${base}_ds_000001").count() == 2)
    assert(spark.read.parquet(s"${base}_ds_000002").count() == 1)
    intercept[IllegalArgumentException](
      Connector.appendToDataStream(probe, base + "_nope"))
  }

  test("stored scripts (_scripts) resolve in script clauses and templates") {
    import graft.dsl.{ScriptStore, SearchTemplate}
    val docs = Seq((1L, 10.0), (2L, 25.0), (3L, 40.0)).toDF("id", "price")
    ScriptStore.put("pricey", "doc['price'].value > params.cut ? 1 : 0")
    // script filter by stored id
    val byId = docs.where(QueryDslJson.compile(
      """{"script": {"script": {"id": "pricey", "params": {"cut": 20}}}}"""))
      .select("id").as[Long].collect().toSet
    assert(byId == Set(2L, 3L))
    // stored search template: {"id": ..., "params": ...}
    ScriptStore.put("tpl_range",
      """{"range": {"price": {"gte": {{lo}}, "lt": {{^hi}}100{{/hi}}}}}""")
    val byTpl = docs.where(SearchTemplate.compile(
      """{"id": "tpl_range", "params": {"lo": 20}}""", idField = "id"))
      .select("id").as[Long].collect().toSet
    assert(byTpl == Set(2L, 3L))
    ScriptStore.delete("pricey")
    intercept[IllegalArgumentException](QueryDslJson.compile(
      """{"script": {"script": {"id": "pricey"}}}"""))
  }

  test("_msearch/template: templated batch answered in one shared scan") {
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 300L), (3L, "de", 200L), (4L, "de", 400L))
      .toDF("doc_id", "lang", "n_chars")
    val out = graft.search.Search.msearchTemplate(docs, "doc_id",
      Seq(
        "a" -> """{"source": "{\"term\": {\"lang\": \"{{l}}\"}}", "params": {"l": "en"}}""",
        "b" -> """{"source": "{\"range\": {\"n_chars\": {\"gte\": {{min}}}}}", "params": {"min": 200}}"""),
      sortCol = "n_chars", k = 1)
      .select("qid", "id").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 2L), ("b", 4L)))
  }

  test("index sorting: sorted writes produce disjoint per-file key ranges") {
    val dir = Files.createTempDirectory(specRoot, "graft_sort").toString + "/idx"
    val rows = (1L to 400L).map(i => ((i * 131) % 400, s"v$i"))
    rows.toDF("k", "v").repartition(8) // deliberately scrambled input
      .saveToGraft(dir, Map("graft.index.sort" -> "k", "graft.mapping.id" -> "k",
        "graft.index.sort.partitions" -> "4"))
    // roundtrip intact
    assert(spark.read.parquet(dir).count() == 400)
    // every data file covers a disjoint k-range — the property that
    // makes parquet row-group stats prunable for range queries
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_"))
    assert(files.length > 1)
    val ranges = files.map { f =>
      val a = spark.read.parquet(f).agg(min("k"), max("k")).collect().head
      (a.getLong(0), a.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2)
      case _ => ()
    }
    // the pushed range filter reads correctly against the sorted index
    assert(spark.read.parquet(dir).where(col("k") >= 390).count() == 10)
  }

  test("field include/exclude wildcards; _cat/count and _cat/aliases") {
    val root = Files.createTempDirectory(specRoot, "graft_cat").toString
    val dir = root + "/widx"
    Seq((1L, 2.0, 3.0, "x"), (2L, 4.0, 5.0, "y"))
      .toDF("id", "v_min", "v_max", "k")
      .saveToGraft(dir, Map("graft.mapping.id" -> "id"))
    // include pattern expands against the schema
    assert(spark.graftDF(dir, fieldInclude = Seq("id", "v_*")).columns.toSeq
      == Seq("id", "v_min", "v_max"))
    assert(spark.graftDF(dir, fieldExclude = Seq("v_*")).columns.toSeq
      == Seq("id", "k"))
    // a typo'd include pattern fails loudly instead of silently
    // projecting zero columns; a no-match EXCLUDE stays a no-op
    intercept[IllegalArgumentException] {
      spark.graftDF(dir, fieldInclude = Seq("w_*")).columns
    }
    assert(spark.graftDF(dir, fieldExclude = Seq("w_*")).columns.toSeq
      == Seq("id", "v_min", "v_max", "k"))
    // cat APIs: footer metadata + descriptor reads only
    Connector.putAlias(spark, root + "/walias", dir, filter = """{"term": {"k": "x"}}""")
    val counts = Connector.catCount(spark, root)
      .as[(String, Long)].collect().toMap
    assert(counts("widx") == 2L)
    val aliases = Connector.catAliases(spark, root)
      .as[(String, String, String)].collect().toSeq
    assert(aliases.map(a => (a._1, a._2)) == Seq(("walias", "widx")))
    assert(aliases.head._3.contains("term"))
  }

  test("_analyze API: tokens with positions and offsets") {
    val out = graft.analysis.Analyzer.analyzeApi(spark, "The QUICK-brown fox2!")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(out == Seq(
      ("the", 0, 0, 3), ("quick", 1, 4, 9), ("brown", 2, 10, 15), ("fox2", 3, 16, 20)))
    // parity with the column tokenizer
    val colToks = Seq("The QUICK-brown fox2!").toDF("t")
      .select(graft.analysis.Analyzer.tokens($"t")).as[Seq[String]].collect().head
    assert(out.map(_._1) == colToks)
  }

  // ---- request-path schema cache (IndexArtifacts.readFingerprinted) ----

  test("schema cache: a cached read equals an uncached spark.read, routing partitions included") {
    val docs = Seq((1L, "en", 10, Option("a")), (2L, "de", 20, None), (3L, "en", 30, Option("c")))
      .toDF("doc_id", "lang", "n", "note")
    val plain = Files.createTempDirectory(specRoot, "graft_sc").toString + "/idx"
    val routed = Files.createTempDirectory(specRoot, "graft_scr").toString + "/idx"
    docs.saveToGraft(plain, Map("graft.mapping.id" -> "doc_id"))
    docs.saveToGraft(routed, Map("graft.mapping.id" -> "doc_id", "graft.mapping.routing" -> "lang"))
    for (dir <- Seq(plain, routed)) {
      spark.graftDF(dir).schema
      var cached: org.apache.spark.sql.DataFrame = null
      // no inference job: the schema came from the cache
      assert(jobsLaunchedBy { cached = spark.graftDF(dir) } == 0)
      val uncached = spark.read.parquet(dir)
      // names, types, nullability and order, partition columns included
      assert(cached.schema == uncached.schema)
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect().toSeq
      assert(rows(cached) == rows(uncached))
    }
    assert(spark.read.parquet(routed).columns.toSeq == Seq("doc_id", "n", "note", "lang"))
  }

  test("schema cache: the next read after an append or an index upsert sees the new rows") {
    val dir = Files.createTempDirectory(specRoot, "graft_scu").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    def rows() = spark.graftDF(dir).as[(Long, String)].collect().toMap
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").saveToGraft(dir, cfg)
    assert(rows() == Map(1L -> "a", 2L -> "b"))
    Seq((3L, "c")).toDF("id", "v").saveToGraft(dir, cfg + ("graft.write.operation" -> "append"))
    assert(rows() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    Seq((2L, "b2"), (4L, "d")).toDF("id", "v").saveToGraft(dir, cfg)
    assert(rows() == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
  }

  test("schema cache: the next read after an overwrite that adds a column sees the column") {
    val dir = Files.createTempDirectory(specRoot, "graft_sco").toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    Seq((1L, "a")).toDF("id", "v").saveToGraft(dir, cfg)
    assert(spark.graftDF(dir).columns.toSeq == Seq("id", "v"))
    Seq((1L, "a", 7)).toDF("id", "v", "w")
      .saveToGraft(dir, cfg + ("graft.write.operation" -> "overwrite"))
    val after = spark.graftDF(dir)
    assert(after.columns.toSeq == Seq("id", "v", "w"))
    assert(after.select("w").as[Int].collect().toSeq == Seq(7))
  }

  test("schema cache: an alias repoint reads the new target") {
    val base = Files.createTempDirectory(specRoot, "graft_sca").toString
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang").write.parquet(s"$base/idx-a")
    Seq((3L, "fr", 0.5)).toDF("doc_id", "lang", "w").write.parquet(s"$base/idx-b")
    Connector.putAlias(spark, s"$base/cur", s"$base/idx-a")
    assert(spark.graftDF(s"$base/cur").select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    Connector.putAlias(spark, s"$base/cur", s"$base/idx-b")
    val after = spark.graftDF(s"$base/cur")
    assert(after.columns.toSeq == Seq("doc_id", "lang", "w"))
    assert(after.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("schema cache: a session conf that changes inference is part of the key") {
    val dir = Files.createTempDirectory(specRoot, "graft_scc").toString + "/idx"
    Seq((1L, 7)).toDF("id", "shard").write.partitionBy("shard").parquet(dir)
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    def shardType() = spark.graftDF(dir).schema("shard").dataType
    assert(shardType() == org.apache.spark.sql.types.IntegerType)
    spark.conf.set(key, "false")
    try {
      assert(shardType() == org.apache.spark.sql.types.StringType)
      assert(spark.graftDF(dir).select("shard").as[String].collect().toSeq == Seq("7"))
    } finally spark.conf.unset(key)
    assert(shardType() == org.apache.spark.sql.types.IntegerType)
  }

  test("schema cache: a second read of an unchanged index launches no job") {
    val dir = Files.createTempDirectory(specRoot, "graft_scj").toString + "/idx"
    Seq((1L, "merge sort runs"), (2L, "window join"), (3L, "sort merge join"))
      .toDF("doc_id", "text")
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id", "graft.index.analysis" -> "text"))
    val matchQ = """{"match": {"text": "merge join"}}"""
    // the first read of a directory infers its schema with a job
    assert(jobsLaunchedBy(spark.graftDF(dir)) >= 1)
    assert(jobsLaunchedBy(spark.graftDF(dir)) == 0)
    // the artifact tables a match / scored read loads are cached too
    spark.graftDF(dir, matchQ, idField = "doc_id", readMetadata = true)
    assert(jobsLaunchedBy(spark.graftDF(dir, matchQ, idField = "doc_id")) == 0)
    assert(jobsLaunchedBy(
      spark.graftDF(dir, matchQ, idField = "doc_id", readMetadata = true)) == 0)
    val scored = spark.graftDF(dir, matchQ, idField = "doc_id", readMetadata = true)
      .select("doc_id", "_score").as[(Long, Double)].collect().toMap
    assert(scored.keySet == Set(1L, 2L, 3L) && scored.values.forall(_ > 0.0))
  }
}

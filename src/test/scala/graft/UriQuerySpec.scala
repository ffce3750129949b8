package graft

import java.nio.file.Files

import graft.dsl.{EsQuery, UriQuery}
import graft.streaming.GraftSink
import org.apache.spark.sql.functions._

class UriQuerySpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gu"

  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
  private def ids(c: org.apache.spark.sql.Column) =
    docs.where(c).select("doc_id").as[Long].collect().toSet

  test("field:term, wildcard, prefix-star") {
    assert(ids(UriQuery.compile("lang:en")) == ids(col("lang") === "en"))
    assert(ids(UriQuery.compile("source:src1*")) == ids(col("source").startsWith("src1")))
    assert(ids(UriQuery.compile("source:src?")) == ids(col("source").rlike("^src.$")))
  }

  test("comparisons and ranges") {
    assert(ids(UriQuery.compile("n_chars:>300")) == ids(col("n_chars") > 300))
    assert(ids(UriQuery.compile("n_chars:[100 TO 200]")) ==
      ids(col("n_chars") >= 100 && col("n_chars") <= 200))
    assert(ids(UriQuery.compile("n_chars:{100 TO *}")) == ids(col("n_chars") > 100))
  }

  test("boolean operators with parentheses and NOT") {
    val got = ids(UriQuery.compile("lang:en AND (n_chars:>300 OR source:src1*) AND NOT source:src19"))
    val want = ids(col("lang") === "en" &&
      (col("n_chars") > 300 || col("source").startsWith("src1")) && !(col("source") === "src19"))
    assert(got == want && got.nonEmpty)
  }

  test("bare terms hit the default field as analyzed match; quoted = phrase") {
    assert(ids(UriQuery.compile("spark")) ==
      ids(graft.search.Search.matchQuery(col("text"), "spark")))
    assert(ids(UriQuery.compile("text:\"table scan\"")) ==
      ids(graft.search.Search.matchPhrase(col("text"), "table scan")))
  }

  test("NOT keeps its position in the AND/OR chain; only '-' prohibits globally") {
    // a OR NOT b  ==  a || !b  (NOT is local, not a level-wide prohibit)
    assert(ids(UriQuery.compile("lang:en OR NOT source:src1*")) ==
      ids(col("lang") === "en" || !col("source").startsWith("src1")))
    assert(ids(UriQuery.compile("lang:en AND NOT source:src19 OR source:src1*")) ==
      ids((col("lang") === "en" && !(col("source") === "src19")) ||
        col("source").startsWith("src1")))
    // '-' by contrast prohibits across the level
    assert(ids(UriQuery.compile("lang:en OR lang:de -source:src19")) ==
      ids((col("lang") === "en" || col("lang") === "de") && !(col("source") === "src19")))
  }

  test("Lucene +/- modifiers: must / must_not, plain clauses optional") {
    assert(ids(UriQuery.compile("+lang:en -source:src19 n_chars:>300")) ==
      ids(col("lang") === "en" && !(col("source") === "src19")))
    // without any required clause, plain clauses filter as usual
    assert(ids(UriQuery.compile("-lang:en n_chars:>300")) ==
      ids(col("n_chars") > 300 && !(col("lang") === "en")))
  }

  test("fuzzy suffix: token-level on the default field, value-level on keywords") {
    assert(ids(UriQuery.compile("text:spak~1")) ==
      ids(exists(graft.analysis.Analyzer.tokens(col("text")),
        t => levenshtein(t, lit("spak")) <= 1)))
    assert(ids(UriQuery.compile("source:src12~1")) ==
      ids(levenshtein(col("source"), lit("src12")) <= 1))
    // bare ~ defaults to 2 edits
    assert(ids(UriQuery.compile("source:src12~")) ==
      ids(levenshtein(col("source"), lit("src12")) <= 2))
  }

  test("boost suffix is scoring-only (filter semantics unchanged)") {
    assert(ids(UriQuery.compile("lang:en^2")) == ids(col("lang") === "en"))
    assert(ids(UriQuery.compile("source:src1*^1.5")) == ids(col("source").startsWith("src1")))
  }

  test("default_operator AND; quoted phrase with ~slop") {
    assert(ids(UriQuery.compile("merge sort", "text", "and")) ==
      ids(graft.search.Search.matchQueryAnd(col("text"), "merge sort")))
    assert(ids(UriQuery.compile("merge sort", "text", "or")) ==
      ids(graft.search.Search.matchQuery(col("text"), "merge sort")))
    assert(ids(UriQuery.compile("text:\"table scan\"~1")) ==
      ids(graft.search.Search.matchPhraseSlop(col("text"), "table scan", 1)))
  }

  test("queryStringTopK: boosted fields sum per-field BM25") {
    val top = graft.search.Search.queryStringTopK(
      docs, "doc_id", graft.search.Search.parseBoostFields(Seq("text^2", "source")),
      "merge src5", 5).as[(Long, Double)].collect()
    assert(top.length == 5)
    assert(top.sortBy(-_._2).map(_._1).toSeq == top.map(_._1).toSeq)
    // a doc matching in both fields outscores its text-only score
    val textOnly = graft.search.Search.bm25Scores(docs, "doc_id", "text", "merge src5")
    val both = top.toMap
    val t = textOnly.as[(Long, Double)].collect().toMap
    both.keys.filter(t.contains).foreach(id => assert(both(id) >= 2.0 * t(id) - 1e-9))
  }

  test("EsQuery dispatches on payload shape") {
    assert(ids(EsQuery.compile("""{"term": {"lang": "en"}}""")) == ids(col("lang") === "en"))
    assert(ids(EsQuery.compile("?q=lang:en")) == ids(col("lang") === "en"))
    assert(ids(EsQuery.compile("q=lang:en")) == ids(col("lang") === "en"))
  }

  test("geo JSON clauses with the f_lat/f_lon convention") {
    val df = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 60.0, 120.0))
      .toDF("id", "loc_lat", "loc_lon")
    val near = df.where(graft.dsl.QueryDslJson.compile(
      """{"geo_distance": {"distance": "1000km", "loc": {"lat": 0, "lon": 0}}}"""))
      .select("id").as[Long].collect().toSet
    assert(near == Set(1L)) // (10,10) is ~1569km away, outside 1000km
    val inBox = df.where(graft.dsl.QueryDslJson.compile(
      """{"geo_bounding_box": {"loc": {"top_left": {"lat": 20, "lon": -5},
                                       "bottom_right": {"lat": -5, "lon": 20}}}}"""))
      .select("id").as[Long].collect().toSet
    assert(inBox == Set(1L, 2L))
  }

  test("streaming sink: micro-batch upsert into an index is idempotent-shaped") {
    val stage = Files.createTempDirectory(specRoot, "graft_sink_in").toString
    Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$stage/events.parquet"))
    val idxDir = Files.createTempDirectory(specRoot, "graft_sink_idx").toString + "/idx"
    val ckpt = Files.createTempDirectory(specRoot, "graft_sink_ckpt").toString

    val stream = spark.readStream.schema(Tables.eventsSchema).parquet(stage)
      .transform(Tables.normalizeEvents)
    val q = GraftSink.startUpsert(stream, idxDir,
      Map("graft.mapping.id" -> "user_id", "graft.mapping.version" -> "ts_ns"), ckpt)
    try q.processAllAvailable() finally q.stop()

    val out = spark.read.parquet(idxDir)
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(out.count() == users) // one doc per id after upsert
    // latest version won per user
    val expect = graft.rel.Relational
      .upsertLastWriteWins(Tables.events(spark, sfDir), Seq("user_id"), col("ts_ns"), col("event_id"))
      .select("user_id", "ts_ns").as[(Long, Long)].collect().toMap
    val got = out.select("user_id", "ts_ns").as[(Long, Long)].collect().toMap
    assert(got.keySet == expect.keySet)
    assert(got.forall { case (u, t) => expect(u) == t })
  }

  test("r13 hardening: regex literals survive the tokenizer, loud typo contracts, slop+boost") {
    val df = Seq(
      (1L, "abc merge sort xyz"),
      (2L, "abd quick brown fox"),
      (3L, "plain text here")).toDF("id", "text")
    def ids(q: String) =
      df.where(graft.dsl.UriQuery.compile(q, defaultField = "text"))
        .select("id").as[Long].collect().toSet
    // alternation + parens inside /re/ reach the regex engine intact
    assert(ids("text:/ab(c|d)/") == Set(1L, 2L))
    // phrase slop AND boost together: slop must not be dropped
    assert(ids("\"quick fox\"~2^3") == Set(2L))
    // unterminated quote is a loud error, not a silent phrase
    intercept[IllegalArgumentException](ids("lang:en AND \"merge sort"))
    // wildcard + fuzzy on one term is a loud error, not a literal ~
    intercept[IllegalArgumentException](ids("text:te?t~1"))
  }
}

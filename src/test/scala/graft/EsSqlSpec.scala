package graft

import graft.dsl.EsSql

class EsSqlSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gq"

  import spark.implicits._

  test("plain ANSI SQL routes through spark.sql") {
    val r = EsSql.run(spark, sfDir,
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")
      .as[(String, Long)].collect().toSeq
    assert(r.nonEmpty && r.map(_._1) == r.map(_._1).sorted)
    assert(r.map(_._2).sum == Tables.documents(spark, sfDir).count())
  }

  test("MATCH compiles to the analyzed-token predicate") {
    val or = EsSql.run(spark, sfDir,
      "SELECT doc_id FROM documents WHERE MATCH(text, 'vector hash')")
    val and = EsSql.run(spark, sfDir,
      "SELECT doc_id FROM documents WHERE MATCH(text, 'vector hash', 'operator=and')")
    assert(and.count() <= or.count() && or.count() > 0)
    // AND rows are a subset of OR rows
    assert(and.join(or, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("SCORE() attaches full-corpus BM25, helper columns never leak") {
    val r = EsSql.run(spark, sfDir,
      """SELECT doc_id, SCORE() AS s FROM documents
         WHERE MATCH(text, 'vector join') ORDER BY s DESC, doc_id LIMIT 5""")
    assert(r.columns.toSeq == Seq("doc_id", "s"))
    val scores = r.as[(Long, Double)].collect().map(_._2).toSeq
    assert(scores == scores.sorted.reverse && scores.forall(_ > 0))
    val star = EsSql.run(spark, sfDir,
      "SELECT * FROM documents WHERE MATCH(text, 'vector') LIMIT 1")
    assert(!star.columns.exists(_.startsWith("__graft_")))
  }

  test("QUERY() embeds Lucene syntax; SCORE() without MATCH fails loudly") {
    val r = EsSql.run(spark, sfDir,
      "SELECT doc_id FROM documents WHERE QUERY('lang:en AND merge')")
    assert(r.count() > 0)
    val e = intercept[IllegalArgumentException] {
      EsSql.run(spark, sfDir, "SELECT doc_id, SCORE() FROM documents")
    }
    assert(e.getMessage.contains("SCORE()"))
  }

  test("SHOW TABLES / DESCRIBE metadata statements") {
    val tables = EsSql.run(spark, sfDir, "SHOW TABLES")
      .select("name").as[String].collect().toSet
    assert(tables.contains("documents") && tables.contains("lineitem"))
    val desc = EsSql.run(spark, sfDir, "DESCRIBE documents")
      .as[(String, String)].collect().toMap
    assert(desc("doc_id") == "bigint" && desc("text") == "string")
    // events routes through the ns-normalizing loader
    val ev = EsSql.run(spark, sfDir, "DESC events")
      .as[(String, String)].collect().toMap
    assert(ev("ts_ns") == "bigint")
    // SHOW COLUMNS FROM is the same statement in ES SQL
    val sc = EsSql.run(spark, sfDir, "SHOW COLUMNS FROM documents")
      .as[(String, String)].collect().toMap
    assert(sc == desc)
  }

  test("HISTOGRAM grouping function: bucket starts, DOUBLE type") {
    val r = EsSql.run(spark, sfDir,
      "SELECT HISTOGRAM(n_chars, 100) AS b, COUNT(*) AS n FROM documents GROUP BY b ORDER BY b")
    assert(r.schema("b").dataType == org.apache.spark.sql.types.DoubleType)
    val buckets = r.select("b").as[Double].collect()
    assert(buckets.forall(b => b % 100 == 0.0))
    assert(buckets.sameElements(buckets.sorted))
  }

  test("unsupported MATCH option fails loudly") {
    val e = intercept[IllegalArgumentException] {
      EsSql.run(spark, sfDir,
        "SELECT doc_id FROM documents WHERE MATCH(text, 'x', 'fuzziness=2')")
    }
    assert(e.getMessage.contains("unsupported MATCH option"))
  }

  test("cursor paging: pages partition the ordered result exactly") {
    val full = EsSql.run(spark, sfDir,
      "SELECT doc_id, lang FROM documents ORDER BY doc_id")
      .as[(Long, String)].collect().toSeq
    var (page, cur) = EsSql.openCursor(spark, sfDir,
      "SELECT doc_id, lang FROM documents ORDER BY doc_id", 150)
    var got = page.as[(Long, String)].collect().toSeq
    assert(got.size == 150)
    var fetches = 0
    while (cur.isDefined && fetches < 20) {
      val (p, c) = EsSql.fetchCursor(cur.get)
      got ++= p.as[(Long, String)].collect().toSeq
      cur = c; fetches += 1
    }
    // 500 docs / 150 per page: 3 full pages + one 50-row page
    assert(got == full && fetches == 3)
    // a closed/unknown cursor fails loudly
    intercept[IllegalArgumentException] { EsSql.fetchCursor("nope") }
  }

  test("closeCursor (_sql/close) drops an open cursor: a later fetch fails") {
    val (page, cur) = EsSql.openCursor(spark, sfDir,
      "SELECT doc_id FROM documents ORDER BY doc_id", 100)
    assert(page.count() == 100 && cur.isDefined)
    EsSql.closeCursor(cur.get)
    val e = intercept[IllegalArgumentException] { EsSql.fetchCursor(cur.get) }
    assert(e.getMessage.contains("unknown or closed SQL cursor"), e.getMessage)
  }

  test("cursor over a PIT-pinned read stays stable under concurrent writes") {
    import graft.sources.Connector
    import graft.sources.Connector.implicits._
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_sqlcur")
      .toString + "/idx"
    val cfg = Map("graft.mapping.id" -> "id")
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").saveToGraft(dir, cfg)
    val pit = Connector.openPit(spark, dir)
    val (p1, c1) = EsSql.openCursorBy(
      () => Connector.pitDF(spark, dir, pit).orderBy("id"), 4)
    var got = p1.as[(Long, String)].collect().toSeq
    // a writer swaps the generation mid-scroll: update id 1, insert 11
    Seq((1L, "CHANGED"), (11L, "NEW")).toDF("id", "v").saveToGraft(dir, cfg)
    var cur = c1
    while (cur.isDefined) {
      val (p, c) = EsSql.fetchCursor(cur.get)
      got ++= p.as[(Long, String)].collect().toSeq
      cur = c
    }
    // every page served the open-time snapshot: original values, no id 11
    assert(got == (1L to 10L).map(i => (i, s"v$i")))
    Connector.closePit(spark, dir, pit)
  }
}

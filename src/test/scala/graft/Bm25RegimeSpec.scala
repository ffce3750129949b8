package graft

import scala.jdk.CollectionConverters._

import graft.index.{ArtifactKind, IndexArtifacts}
import graft.search.Search
import graft.sources.Connector
import graft.sources.Connector.implicits._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The two BM25 regimes — scoring from the analysis artifact (the
  * query terms' postings slice with the meta's corpus stats) and
  * scoring on the fly — return bit-equal scores on random small
  * corpora: null and zero-token texts, null and repeated ids, after a
  * build and after appends (merged, or rebuilt when an appended id
  * collides), and through the connector's readMetadata `_score` on a
  * bool query that mixes an artifact field with a runtime-shadowed
  * one. */
class Bm25RegimeSpec extends SparkSpec with SpecTempRoot {

  override protected def tempRootPrefix = "gb"

  private case class Doc(id: Option[Long], text: Option[String], title: Option[String])

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf")
  private val words: Gen[String] =
    Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))).map(_.mkString(" "))
  /** Mostly words; some null, some analyzing to zero tokens. */
  private val text: Gen[Option[String]] = Gen.frequency(
    6 -> words.map(Some(_)), 1 -> Gen.const(None),
    1 -> Gen.const(Some("")), 1 -> Gen.const(Some("-- !! ..")))
  /** One to three terms, "zulu" absent from every corpus. */
  private val query: Gen[String] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab :+ "zulu"))).map(_.mkString(" "))

  /** `n` docs with ids from `from`: mostly distinct, some null, some
    * repeated, and (with `collide`) some drawn from 1..collide. */
  private def docs(n: Int, from: Long, collide: Int = 0): Gen[Seq[Doc]] = {
    val id: Int => Gen[Option[Long]] = i => Gen.frequency(Seq(
      8 -> Gen.const(Some(from + i)), 1 -> Gen.const(None),
      1 -> Gen.choose(from, from + n - 1).map(Some(_))) ++
      (if (collide > 0) Seq(1 -> Gen.choose(1L, collide.toLong).map(Some(_))) else Nil): _*)
    Gen.sequence[Seq[Doc], Doc]((0 until n).map(i =>
      for (d <- id(i); t <- text; ti <- text) yield Doc(d, t, ti)))
  }

  private def frame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      ds.map(d => Row(d.id.orNull, d.text.orNull, d.title.orNull)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("title", StringType))))

  /** (id, score bits) as a sorted multiset: bit-equal, NaN included. */
  private def scores(df: DataFrame, score: String): Seq[(String, Long)] =
    df.select(df("id"), df(score)).collect().toSeq
      .map(r => (String.valueOf(r.get(0)), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      .sorted

  private def listing(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet

  private def seeded(cases: Int): SCTest.Parameters =
    SCTest.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L))

  private var cases = 0

  /** Fresh artifact in the postings/doclen/meta layout, and both
    * regimes agree on every query. */
  private def regimesAgree(idx: String, queries: Seq[String], stage: String): Prop = {
    val layout = listing(IndexArtifacts.analysisDir(idx, "text"))
    val fresh = IndexArtifacts.loadAnalysis(spark, idx, "text", Some("id")).isDefined
    val fly = spark.read.parquet(idx)
    val agree = queries.map { q =>
      val indexed = scores(Search.bm25ScoresIndexed(spark, idx, "id", "text", q), "score")
      val onTheFly = scores(Search.bm25Scores(fly, "id", "text", q), "score")
      Prop(indexed == onTheFly) :| s"$stage '$q':\nindexed $indexed\nfly     $onTheFly"
    }
    Prop.all((Prop(fresh) :| s"$stage: artifact not fresh") +:
      (Prop(layout == Set("postings", "doclen", "_graft_meta.json")) :| s"$stage: $layout") +:
      agree: _*)
  }

  test("property: artifact and on-the-fly BM25 are bit-equal after a build and after appends") {
    var merged, rebuilt = 0
    val gen = for {
      n <- Gen.choose(2, 10)
      base <- docs(n, 1)
      nAppends <- Gen.choose(1, 2)
      batches <- Gen.sequence[Seq[Seq[Doc]], Seq[Doc]]((1 to nAppends).map(k =>
        Gen.choose(1, 4).flatMap(m => docs(m, 100L * k, collide = n))))
      qs <- Gen.listOfN(2, query)
    } yield (base, batches, qs)
    val prop = Prop.forAll(gen) { case (base, batches, qs) =>
      cases += 1
      val idx = specRoot.resolve(s"idx$cases").toString
      frame(base).write.parquet(idx)
      IndexArtifacts.maintain(spark, ArtifactKind.Analysis, idx, "id", "text", append = false)
      val doclen = s"${IndexArtifacts.analysisDir(idx, "text")}/doclen"
      val atBuild = regimesAgree(idx, qs, "build")
      val atAppends = batches.zipWithIndex.map { case (b, i) =>
        val before = listing(doclen)
        frame(b).write.mode("append").parquet(idx)
        IndexArtifacts.maintain(spark, ArtifactKind.Analysis, idx, "id", "text", append = true)
        // a merge appends to doclen; a rebuild starts it over
        if (before.subsetOf(listing(doclen))) merged += 1 else rebuilt += 1
        regimesAgree(idx, qs, s"append $i of $b")
      }
      Prop.all(atBuild +: atAppends: _*)
    }
    val res = SCTest.check(seeded(5), prop)
    assert(res.passed, res.status.toString)
    // both refresh outcomes were compared
    assert(merged >= 2 && rebuilt >= 2, s"merged $merged, rebuilt $rebuilt")
  }

  test("property: readMetadata _score is the same with and without graft.index.analysis") {
    // `title` is a runtime keyword over the id ("3.0" -> terms 3, 0):
    // it shadows the stored, analyzed `title`, so its clause scores on
    // the fly in both indexes while the `text` clause reads the
    // artifact in one
    def body(qText: String, qTitle: String) =
      s"""{"runtime_mappings": {"title": {"type": "keyword",
            "script": {"source": "emit(doc['id'].value)"}}},
          "query": {"bool": {"should": [
            {"match": {"text": "$qText"}}, {"match": {"title": "$qTitle"}}]}}}"""
    val gen = for {
      n <- Gen.choose(2, 10)
      ds <- docs(n, 1)
      qs <- Gen.zip(query, Gen.listOfN(2, Gen.choose(0, 4)).map(_.mkString(" ")))
    } yield (ds, qs)
    val prop = Prop.forAll(gen) { case (ds, (qText, qTitle)) =>
      cases += 1
      val (plain, analyzed) = (specRoot.resolve(s"plain$cases").toString,
        specRoot.resolve(s"analyzed$cases").toString)
      val cfg = Map("graft.write.operation" -> "overwrite", "graft.mapping.id" -> "id")
      Connector.save(frame(ds), plain, cfg)
      Connector.save(frame(ds), analyzed, cfg + ("graft.index.analysis" -> "text, title"))
      def scored(dir: String) =
        scores(spark.graftDF(dir, body(qText, qTitle), idField = "id", readMetadata = true),
          "_score")
      val fresh = IndexArtifacts.loadAnalysis(spark, analyzed, "text", Some("id")).isDefined
      val (fromFly, fromArtifact) = (scored(plain), scored(analyzed))
      Prop.all(Prop(fresh) :| "artifact not fresh",
        Prop(fromFly == fromArtifact) :| s"'$qText' / '$qTitle' over $ds")
    }
    val res = SCTest.check(seeded(4), prop)
    assert(res.passed, res.status.toString)
  }
}

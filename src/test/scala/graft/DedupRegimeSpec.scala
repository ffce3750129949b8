package graft

import scala.jdk.CollectionConverters._

import graft.dedup.Dedup
import graft.index.IndexArtifacts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The two regimes of `Dedup.minhashLshCrossIndexed` — the driver-side
  * lookup for small batches and the artifact join — return the same
  * answer, and the caps pick between them where they say. */
class DedupRegimeSpec extends SparkSpec with SpecTempRoot {

  override protected def tempRootPrefix = "gr"

  /** (side, hit, byte) caps no input here reaches, and the forced join. */
  private val LookupCaps = (1 << 20, 1 << 20, 1L << 40)
  private val JoinCaps = (-1, -1, -1L)

  private def screen(batch: DataFrame, idx: String, threshold: Double,
      caps: (Int, Int, Long)): DataFrame =
    Dedup.minhashLshCrossIndexedCapped(spark, batch, idx, "id", "text", threshold,
      32, 8, caps._1, caps._2, caps._3).get

  private case class Doc(id: Option[Long], text: String)

  /** An index of `ref` with its MinHash artifact, written straight from
    * parquet so that null and repeated ids reach the artifact too. */
  private def index(name: String, ref: Seq[Doc], idType: DataType): String = {
    val dir = specRoot.resolve(name).toString
    frame(ref, idType).write.parquet(dir)
    IndexArtifacts.buildMinhash(spark, dir, "id", "text")
    dir
  }

  private def frame(docs: Seq[Doc], idType: DataType): DataFrame = {
    val id: Long => Any = if (idType == StringType) i => s"d$i" else i => i
    spark.createDataFrame(
      docs.map(d => Row(d.id.map(id).orNull, d.text)).asJava,
      StructType(Seq(StructField("id", idType), StructField("text", StringType))))
  }

  /** Same schema (nullability included) and the same rows in the same
    * order. Rows tying on (new_id, ref_id) — only a repeated artifact
    * id makes them — compare as a multiset: the join itself leaves
    * their order open. */
  private def sameAnswer(lookup: DataFrame, join: DataFrame): Prop = {
    val (l, j) = (lookup.collect().toSeq, join.collect().toSeq)
    def keys(rs: Seq[Row]) = rs.map(r => (r.get(0), r.get(1)))
    def bag(rs: Seq[Row]) = rs.map(_.toString).sorted
    Prop(lookup.schema == join.schema && keys(l) == keys(j) && bag(l) == bag(j)) :|
      s"lookup ${lookup.schema.simpleString} $l\njoin   ${join.schema.simpleString} $j"
  }

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "nova")
  private val text: Gen[String] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))).map(_.mkString(" "))

  /** One word replaced or one appended: Jaccard anywhere from 0.5 up. */
  private def nearCopy(t: String): Gen[String] = {
    val ws = t.split(" ").toVector
    Gen.oneOf(vocab).flatMap(w =>
      Gen.oneOf(Gen.choose(0, ws.size - 1).map(i => ws.updated(i, w)), Gen.const(ws :+ w)))
      .map(_.mkString(" "))
  }

  /** Mostly distinct ids from `from`; some null, some repeated. */
  private def ids(n: Int, from: Long): Gen[Seq[Option[Long]]] =
    Gen.sequence[Seq[Option[Long]], Option[Long]]((0 until n).map(i =>
      Gen.frequency(8 -> Gen.const(Some(from + i)), 1 -> Gen.const(None),
        1 -> Gen.choose(from, from + n - 1).map(Some(_)))))

  private val corpus: Gen[(Seq[Doc], Seq[Doc])] = for {
    nRef <- Gen.choose(3, 12)
    refTexts <- Gen.listOfN(nRef, text)
    refIds <- ids(nRef, 1)
    nNew <- Gen.choose(1, 8)
    newTexts <- Gen.listOfN(nNew, Gen.oneOf(
      Gen.oneOf(refTexts),
      Gen.oneOf(refTexts).flatMap(nearCopy),
      Gen.const(""),
      text))
    newIds <- ids(nNew, 100)
  } yield (refIds.zip(refTexts).map((Doc.apply _).tupled),
    newIds.zip(newTexts).map((Doc.apply _).tupled))

  private var cases = 0

  private def regimesAgree(idType: DataType): Unit = {
    var lookedUp, paired = 0
    val prop = Prop.forAll(corpus) { case (ref, batch) =>
      cases += 1
      val idx = index(s"case$cases", ref, idType)
      val nu = frame(batch, idType)
      Prop.all(Seq(0.5, 0.8, 0.99).map { t =>
        val lookup = screen(nu, idx, t, LookupCaps)
        // a local result means the lookup ran; duplicate ids fall back
        if (lookup.queryExecution.analyzed.isInstanceOf[LocalRelation]) {
          lookedUp += 1
          if (!lookup.isEmpty) paired += 1
        }
        sameAnswer(lookup, screen(nu, idx, t, JoinCaps))
      }: _*)
    }
    // a fixed seed: the floors below count lookups, which repeated
    // batch ids (drawn at random) turn into joins
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
    // the property compared real lookups, pairs among them
    assert(lookedUp >= 12 && paired >= 6, s"lookups $lookedUp, with pairs $paired")
  }

  test("property: lookup and join regimes agree on long ids (nulls, repeats, empty texts)") {
    regimesAgree(LongType)
  }

  test("property: lookup and join regimes agree on string ids") {
    regimesAgree(StringType)
  }

  private val fixedRef = Seq(
    Doc(Some(1L), "alpha bravo charlie delta echo fox golf hotel"),
    Doc(Some(2L), "india juliet kilo lima mike nova alpha bravo"),
    Doc(Some(3L), "charlie delta echo fox golf hotel india juliet"),
    Doc(Some(4L), "kilo lima mike nova alpha charlie echo golf"))
  private val fixedBatch = Seq(
    Doc(Some(101L), fixedRef(0).text),
    Doc(Some(102L), fixedRef(2).text + " kilo"),
    Doc(Some(103L), "nova mike lima kilo juliet india hotel golf"))
  private lazy val fixedIdx = index("fixed", fixedRef, LongType)
  private lazy val fixedNew = frame(fixedBatch, LongType)

  /** The screen's eager jobs, and the jobs collecting its result. */
  private def run(caps: (Int, Int, Long), batch: DataFrame = fixedNew,
      idx: String = fixedIdx): (Launched, Int, Seq[Row]) = {
    var df: DataFrame = null
    val eager = launchedBy { df = screen(batch, idx, 0.5, caps) }
    var rows = Seq.empty[Row]
    val atCollect = jobsLaunchedBy { rows = df.collect().toSeq }
    (eager, atCollect, rows)
  }

  private def isLookup(r: (Launched, Int, Seq[Row])): Boolean =
    r._1.jobs.size == 3 && r._2 == 0

  test("caps: a side at its cap and hits at their cap look up; one more takes the join") {
    val (lookup, _, want) = run(LookupCaps)
    assert(want.map(_.getLong(0)).distinct == Seq(101L, 102L), want)
    val hitRows = "hit rows (\\d+)".r.findFirstMatchIn(lookup.descriptions.last)
      .map(_.group(1).toInt).getOrElse(fail(lookup.descriptions.mkString("; ")))
    val atCaps = run((fixedBatch.size, hitRows, LookupCaps._3))
    assert(isLookup(atCaps), atCaps._1.descriptions)
    val sideOver = run((fixedBatch.size - 1, hitRows, LookupCaps._3))
    assert(!isLookup(sideOver) && sideOver._2 > 0, sideOver._1.descriptions)
    assert(sideOver._1.descriptions.last.startsWith("minhash screen join: side over cap"))
    val hitsOver = run((fixedBatch.size, hitRows - 1, LookupCaps._3))
    assert(!isLookup(hitsOver) && hitsOver._2 > 0, hitsOver._1.descriptions)
    assert(hitsOver._1.descriptions.last.startsWith("minhash screen join: hits over cap"))
    for (r <- Seq(atCaps, sideOver, hitsOver)) assert(r._3 == want)
  }

  test("a batch with a partition per core: lookup in 3 jobs; over a cap the join reuses its rows") {
    val docs = fixedBatch ++ fixedBatch.map(d => d.copy(id = d.id.map(_ + 10)))
    val wide = frame(docs, LongType)
    assert(wide.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    val want = screen(wide, fixedIdx, 0.5, JoinCaps).collect().toSeq
    assert(want.map(_.getLong(0)).distinct == Seq(101L, 102L, 111L, 112L), want)
    val looked = run(LookupCaps, wide)
    assert(isLookup(looked) && looked._3 == want, looked._1.descriptions)
    // the side probe's pinned rows, band keys included, feed the join
    def sides(df: DataFrame) = df.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.output.map(_.name)
    }
    var over: DataFrame = null
    val overJobs = launchedBy {
      over = screen(wide, fixedIdx, 0.5, (docs.size - 1, 1 << 20, 1L << 40))
    }.descriptions
    assert(sides(over).contains(Seq("new_id", "new_sh", "band_keys")), sides(over))
    assert(overJobs.last.startsWith("minhash screen join: side over cap: over 5 rows"), overJobs)
    assert(over.collect().toSeq == want)
    // the forced join computes its side as it always has
    assert(!sides(screen(wide, fixedIdx, 0.5, JoinCaps)).exists(_.contains("band_keys")))
  }

  test("job descriptions name the regime and its numbers; the caller's is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val caps = (1024, 200000, 1L << 20)
      val lookup = launchedBy(screen(fixedNew, fixedIdx, 0.5, caps)).descriptions
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(lookup.size == 3, lookup)
      assert(lookup(0) == "minhash screen lookup: side probe, caps 1024 docs, 1048576 bytes")
      assert(lookup(1).matches("minhash screen lookup: side docs 3 \\(\\d+ KB\\), band keys \\d+; " +
        "hit probe, caps 200000 rows, 1048576 bytes"), lookup(1))
      assert(lookup(2).matches("minhash screen lookup: side docs 3 \\(\\d+ KB\\), band keys \\d+, " +
        "hit rows \\d+ \\(\\d+ KB\\), candidate refs \\d+; shingle read, caps 200000 rows, " +
        "1048576 bytes"), lookup(2))

      val dup = frame(fixedBatch.map(_.copy(id = Some(7L))), LongType)
      val join = launchedBy(screen(dup, fixedIdx, 0.5, caps)).descriptions
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(join.head == "minhash screen lookup: side probe, caps 1024 docs, 1048576 bytes", join)
      assert(join.tail.nonEmpty &&
        join.tail.forall(_ == "minhash screen join: duplicate ids among 3 side docs"), join)
    } finally sc.setJobDescription(null)
  }

  private val Kb = "\\((\\d+) KB\\)".r

  /** The KB figures a lookup's shingle-read description reports: side, hits. */
  private def kbs(lookup: Launched): Seq[Long] = {
    val sizes = Kb.findAllMatchIn(lookup.descriptions.last).map(_.group(1).toLong).toSeq
    assert(sizes.size == 2, lookup.descriptions)
    sizes
  }

  test("byte cap: long docs whose shingle rows would pass it take the join, with the same answer") {
    // 60 copies of each of two 1,500-token pages: few side and hit
    // bytes, and a shingle read of 120 sets of about 45 KB each
    val rnd = new scala.util.Random(11)
    val pages = Seq.fill(2)(Seq.fill(1500)(s"w${rnd.nextInt(100000)}").mkString(" "))
    val ref = for (p <- pages.indices; c <- 0 until 60) yield Doc(Some(p * 100L + c), pages(p))
    val idx = index("long", ref, LongType)
    val batch = frame(Seq(Doc(Some(1001L), pages(0)), Doc(Some(1002L), pages(1) + " tail")),
      LongType)
    // the first screen also infers the fresh artifact's schema
    val joined = run(JoinCaps, batch, idx)._3
    val looked = run(LookupCaps, batch, idx)
    val (lookup, _, want) = looked
    assert(want.size == 120 && want == joined && isLookup(looked), lookup.descriptions)
    // every task's share holds the whole side and all hits; the
    // candidates' shingle rows, predicted from the batch's, are far over
    val cap = spark.sparkContext.defaultParallelism * (kbs(lookup).max + 64) * 1024
    assert(cap < 120L * 40 * 1024, s"cap $cap")
    val over = run((1024, 200000, cap), batch, idx)
    val descs = over._1.descriptions
    assert(!isLookup(over) && over._2 > 0, descs)
    assert(descs.last.startsWith("minhash screen join: shingles over cap") &&
      descs.last.endsWith("bytes predicted"), descs)
    // the shingle read never started: two probes, then the join's side
    assert(descs.count(_.startsWith("minhash screen lookup:")) == 2, descs)
    assert(over._3 == want)
    // a side over the byte cap never reads the artifact
    val sideOver = run((1024, 200000, 1L), batch, idx)
    assert(sideOver._1.descriptions.last == "minhash screen join: side over cap: over 1 bytes",
      sideOver._1.descriptions)
    assert(sideOver._3 == want)
  }

  test("byte cap: a hit probe over it takes the join, with the same answer") {
    // 300 copies of one short text: a one-doc batch hits 2,400 band rows
    val ref = (0 until 300).map(c => Doc(Some(c.toLong), fixedRef(0).text))
    val idx = index("copies", ref, LongType)
    val batch = frame(Seq(Doc(Some(1001L), fixedRef(0).text)), LongType)
    val joined = run(JoinCaps, batch, idx)._3
    val looked = run(LookupCaps, batch, idx)
    assert(isLookup(looked) && looked._3 == joined && joined.size == 300, looked._1.descriptions)
    val Seq(sideKb, hitKb) = kbs(looked._1)
    val cap = spark.sparkContext.defaultParallelism * (sideKb + 1) * 1024
    assert(cap < hitKb * 1024, s"cap $cap, hits $hitKb KB")
    val over = run((1024, 200000, cap), batch, idx)
    val descs = over._1.descriptions
    assert(!isLookup(over) && over._2 > 0, descs)
    assert(descs.last.startsWith("minhash screen join: hits over cap") &&
      descs.last.endsWith(s"hit probe over $cap bytes"), descs)
    assert(over._3 == joined)
  }
}

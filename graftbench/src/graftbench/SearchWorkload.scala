package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.Connector.implicits._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** `search`: a seeded mix of read requests against one generated
  * document index, written once with analysis and MinHash artifacts.
  * Per-request fixed cost (DataFrame/DSL build, Catalyst, codegen, job
  * launch and the artifact read path) dominates; nothing is written
  * while timed.
  *
  * The templates: a bool filter read, a `match` read (postings
  * artifact), a scored top-10 (`readMetadata`), a sorted page and a
  * filtered `knn` body (`SearchBody.search`), and a near-duplicate
  * screen of a small crawl batch against the MinHash artifact
  * (`Dedup.minhashLshCrossIndexed`, the read half of ingest).
  *
  * Every fifth request repeats an earlier request of the same template
  * exactly, the rest draw fresh literals, so a result or plan cache has
  * something to hit without the mix being all hits. */
final class SearchWorkload(seed: Long, size: Size) extends Workload {
  val nDocs: Int = if (size == Tiny) 600 else 4000
  val RepeatEvery = 5
  val K1 = 1.2
  val B = 0.75

  private var spark: SparkSession = _
  private var path: String = _
  private var gen: Array[Gen.Doc] = _
  private var corpus: Gen.Corpus = _
  private var rnd: SplittableRandom = _
  private val issued = mutable.Map.empty[String, mutable.ArrayBuffer[Op]]
  private var cursor = 0
  private var repeats = 0L
  private var drawn = 0L
  private var planted = 0L
  private var plantedFlagged = 0L

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    this.spark = spark
    path = s"$dir/docs"
    corpus = new Gen.Corpus(seed)
    gen = Array.tabulate(nDocs)(i => corpus.doc(i + 1L, 20, 80))
    tr.span("sources", "write") {
      Workload.docsFrame(spark, gen.toIndexedSeq).saveToGraft(path, Map(
        "graft.mapping.id" -> "doc_id",
        "graft.write.operation" -> "index",
        "graft.index.analysis" -> "text",
        "graft.index.minhash" -> "text"))
    }
    rnd = new SplittableRandom(seed * 1000003L + 17)
    issued.clear()
    cursor = 0; repeats = 0; drawn = 0; planted = 0; plantedFlagged = 0
    ref = null
  }

  /** The benchmark's own index of the generated docs, built on first
    * use, outside the set-up time. */
  private final class Reference {
    val byId: Map[Long, Gen.Doc] = gen.iterator.map(d => d.id -> d).toMap
    /** term -> (doc index, term frequency) */
    val postings: Map[String, Array[(Int, Int)]] = gen.indices.iterator.flatMap { i =>
      gen(i).tokens.groupBy(identity).iterator.map { case (t, occ) => (t, (i, occ.length)) }
    }.toSeq.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
    val avgdl: Double = gen.map(_.tokens.length.toDouble).sum / nDocs
    val shingleSets: Array[Set[String]] = gen.map(d => shingles(d.tokens))
  }
  private var ref: Reference = _
  private def reference: Reference = { if (ref == null) ref = new Reference; ref }

  /** Distinct 3-word sequences, the unit graft's MinHash screen compares. */
  private def shingles(toks: Array[String]): Set[String] =
    toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def userBytes: Long = gen.iterator.map(_.userBytes).sum
  def indexDirs: Seq[String] = Seq(path)
  private def analysisDir = graft.index.IndexArtifacts.analysisDir(path, "text")

  def describe: Seq[String] = Seq(
    s"search: $nDocs docs, ${Gen.VocabSize}-word Zipf vocabulary, ${Gen.Dim}-d vectors, " +
      f"${userBytes / 1e6}%.1f MB of field values; repeat share $repeatShare%.3f " +
      s"($repeats of $drawn requests); dedup screens flagged $plantedFlagged of $planted planted copies")

  def repeatShare: Double = if (drawn == 0) 0.0 else repeats.toDouble / drawn

  override def layerMetrics: Map[String, Double] = Map(
    "search.repeat_share" -> repeatShare,
    "dedup.dropped_over_planted" -> (if (planted == 0) 0.0 else plantedFlagged.toDouble / planted))

  // ---- request generation ----

  /** Terms from a band of frequency ranks. */
  private def terms(n: Int, lo: Int, hi: Int): Seq[String] =
    Iterator.continually(Gen.vocab(lo + rnd.nextInt(hi - lo))).distinct.take(n).toSeq

  private def langOf: String = Gen.weighted(rnd, Gen.Langs)

  private def fresh(kind: String): Op = kind match {
    case "filter" =>
      val lo = 60L + rnd.nextInt(400)
      new FilterOp(langOf, lo, lo + 40 + rnd.nextInt(60))
    case "match" => new MatchOp(terms(2, 300, 2000))
    case "scored" => new ScoredOp(terms(3, 30, 600))
    case "page" => new PageOp(f"src${rnd.nextInt(24)}%02d", 20 * rnd.nextInt(3), 20)
    case "knn" =>
      val base = gen(rnd.nextInt(nDocs)).vec
      new KnnOp(base.map(x => Workload.round(x + Gen.gauss(rnd) * 0.2, 4)), langOf, 10)
    case "dedup" => crawlBatch()
  }

  /** A crawl batch: fresh docs, exact copies and near-copies (one word
    * changed in a doc of 45 or more words) of indexed docs, under ids
    * the index does not hold. */
  private def crawlBatch(): Op = {
    val n = if (size == Tiny) 10 else 30
    val ids = Iterator.continually(1000000000L + drawn * 1000 + rnd.nextInt(1000)).distinct.take(n).toArray
    val nExact = n * 3 / 10
    val nNear = n * 3 / 10
    val exact = (0 until nExact).map(i => gen(rnd.nextInt(nDocs)).copy(id = ids(i)))
    val near = (0 until nNear).map { i =>
      var d = gen(rnd.nextInt(nDocs))
      while (d.tokens.length < 45) d = gen(rnd.nextInt(nDocs))
      val toks = d.tokens.clone()
      val at = rnd.nextInt(toks.length)
      var w = Gen.vocab(rnd.nextInt(Gen.VocabSize))
      while (w == toks(at)) w = Gen.vocab(rnd.nextInt(Gen.VocabSize))
      toks(at) = w
      d.copy(id = ids(nExact + i), text = toks.mkString(" "), tokens = toks)
    }
    val fresh = (nExact + nNear until n).map(i => corpus.doc(ids(i), 20, 80))
    new DedupOp(fresh, exact, near)
  }

  /** One cycle of templates; see `Workload.next`. */
  private val Cycle = Seq("filter", "match", "scored", "page", "knn", "dedup")
  def cycleLength: Int = Cycle.size
  def nominalCycleSeconds: Double = 3.5

  def warmup(): Seq[Op] = Cycle.map(fresh)

  def next(): Op = {
    val kind = Cycle(cursor % Cycle.size)
    cursor += 1
    drawn += 1
    val earlier = issued.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Op])
    if (earlier.nonEmpty && drawn % RepeatEvery == 0) {
      repeats += 1
      val again = earlier(rnd.nextInt(earlier.size)).asInstanceOf[Repeatable].again()
      again.repeat = true
      again
    } else {
      val op = fresh(kind)
      earlier += op
      op
    }
  }

  private trait Repeatable { def again(): Op }

  // ---- requests ----

  private def readRows(tr: Tracer, query: String): Array[Row] = {
    val df = tr.span("sources", "read_build") { spark.graftDF(path, query, idField = "doc_id") }
    tr.span("exec", "collect") { df.collect() }
  }

  private def checkRows(what: String, rows: Array[Row], expected: Set[Long]): Option[String] =
    Workload.sameIds(what, rows.map(_.getAs[Long]("doc_id")).toSeq, expected).orElse {
      rows.find { r =>
        val d = reference.byId(r.getAs[Long]("doc_id"))
        r.getAs[String]("text") != d.text || r.getAs[String]("lang") != d.lang ||
          r.getAs[Long]("n_chars") != d.nChars
      }.map(r => s"$what: row ${r.getAs[Long]("doc_id")} differs from the generated doc")
    }

  /** bool filter: a `lang` term and an `n_chars` range. */
  private final class FilterOp(lang: String, lo: Long, hi: Long) extends Op("filter") with Repeatable {
    var rows: Array[Row] = Array.empty
    val query = s"""{"bool": {"filter": [{"term": {"lang": "$lang"}}, {"range": {"n_chars": {"gte": $lo, "lt": $hi}}}]}}"""
    def run(tr: Tracer): Unit = rows = readRows(tr, query)
    def check(corrupt: Boolean): Option[String] = {
      val exp = gen.iterator.filter(d => d.lang == lang && d.nChars >= lo && d.nChars < hi).map(_.id).toSet
      checkRows("filter", rows, if (corrupt) exp + -1L else exp)
    }
    def resultRows: Long = rows.length
    def docsTouched: Long = rows.length
    def again(): Op = new FilterOp(lang, lo, hi)
  }

  /** plain OR `match`, which graft serves from the postings artifact. */
  private final class MatchOp(ts: Seq[String]) extends Op("match") with Repeatable {
    var rows: Array[Row] = Array.empty
    val query = s"""{"match": {"text": "${ts.mkString(" ")}"}}"""
    def run(tr: Tracer): Unit = rows = readRows(tr, query)
    def check(corrupt: Boolean): Option[String] = {
      val exp = ts.iterator.flatMap(t =>
        reference.postings.getOrElse(t, Array.empty).iterator.map(p => gen(p._1).id)).toSet
      checkRows("match", rows, if (corrupt) exp + -1L else exp)
    }
    def resultRows: Long = rows.length
    def docsTouched: Long = rows.length
    override def artifactsRead: Seq[String] = Seq(analysisDir)
    def again(): Op = new MatchOp(ts)
  }

  /** `match` read with `readMetadata`, top 10 by `_score` (BM25). */
  private final class ScoredOp(ts: Seq[String]) extends Op("scored") with Repeatable {
    var hits: Array[(Long, Double)] = Array.empty
    val query = s"""{"match": {"text": "${ts.mkString(" ")}"}}"""
    def run(tr: Tracer): Unit = {
      val df = tr.span("sources", "read_build") {
        spark.graftDF(path, query, idField = "doc_id", readMetadata = true)
          .select(col("doc_id"), col("_score"))
          .orderBy(col("_score").desc, col("doc_id").asc).limit(10)
      }
      hits = tr.span("exec", "collect") { df.collect() }.map(r => (r.getLong(0), r.getDouble(1)))
    }
    /** BM25 as ES scores it: idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
      * tf part = tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl)). */
    def check(corrupt: Boolean): Option[String] = {
      val scores = mutable.Map.empty[Long, Double]
      ts.foreach { t =>
        val ps = reference.postings.getOrElse(t, Array.empty)
        val idf = math.log(1.0 + (nDocs - ps.length + 0.5) / (ps.length + 0.5))
        ps.foreach { case (i, tf) =>
          val dl = gen(i).tokens.length.toDouble
          val s = idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / reference.avgdl))
          scores(gen(i).id) = scores.getOrElse(gen(i).id, 0.0) + s
        }
      }
      val exact = scores.map { case (id, s) => id -> Workload.round(s, 4) }.toMap
      val want = if (corrupt) exact.map { case (id, s) => id -> (s + 1.0) } else exact
      Workload.sameTopK("scored", hits.toSeq, want, 10, 2e-4)
    }
    def resultRows: Long = hits.length
    def docsTouched: Long = hits.length
    override def artifactsRead: Seq[String] = Seq(analysisDir)
    def again(): Op = new ScoredOp(ts)
  }

  /** search body: `term` query, sort by n_chars desc then id, one page. */
  private final class PageOp(source: String, from: Int, size: Int) extends Op("page") with Repeatable {
    var ids: Array[Long] = Array.empty
    val body = s"""{"query": {"term": {"source": "$source"}}, "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": {"order": "asc"}}], "from": $from, "size": $size}"""
    def run(tr: Tracer): Unit = {
      val all = tr.span("sources", "read_build") { spark.graftDF(path) }
      val df = tr.span("dsl", "build") { graft.dsl.SearchBody.search(all, body, "doc_id") }
      ids = tr.span("exec", "collect") { df.collect() }.map(_.getAs[Long]("doc_id"))
    }
    def check(corrupt: Boolean): Option[String] = {
      val exp = gen.filter(_.source == source)
        .sortBy(d => (-d.nChars, d.id)).slice(from, from + size).map(_.id)
      val want = if (corrupt) exp.reverse :+ -1L else exp
      if (ids.sameElements(want)) None
      else Some(s"page: got ${ids.take(5).mkString(",")}... expected ${want.take(5).mkString(",")}...")
    }
    def resultRows: Long = ids.length
    def docsTouched: Long = ids.length
    def again(): Op = new PageOp(source, from, size)
  }

  /** `knn` body with a `lang` filter, exact (num_candidates past graft's
    * exhaustive threshold), checked against a brute-force top-k. */
  private final class KnnOp(qv: Array[Double], lang: String, k: Int) extends Op("knn") with Repeatable {
    var hits: Array[(Long, Double)] = Array.empty
    val body = s"""{"knn": {"field": "vec", "query_vector": [${qv.mkString(", ")}], "k": $k, "num_candidates": 100000, "filter": {"term": {"lang": "$lang"}}}, "size": $k}"""
    def run(tr: Tracer): Unit = {
      val all = tr.span("sources", "read_build") { spark.graftDF(path) }
      val df = tr.span("dsl", "build") { graft.dsl.SearchBody.search(all, body, "doc_id") }
      hits = tr.span("exec", "collect") { df.collect() }
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("_score")))
    }
    def check(corrupt: Boolean): Option[String] = {
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val exact = gen.iterator.filter(_.lang == lang).map { d =>
        val dot = d.vec.indices.map(i => d.vec(i) * qv(i)).sum
        d.id -> Workload.round(dot / (qn * math.sqrt(d.vec.map(x => x * x).sum)), 4)
      }.toMap
      val want = if (corrupt) exact.map { case (id, s) => id -> -s } else exact
      Workload.sameTopK("knn", hits.toSeq, want, k, 2e-4)
    }
    def resultRows: Long = hits.length
    def docsTouched: Long = hits.length
    def again(): Op = new KnnOp(qv, lang, k)
  }

  /** Near-duplicate screen of a crawl batch against the index's MinHash
    * artifact (threshold 0.8). Exact copies must be flagged and fresh
    * docs never; every reported pair must carry its true shingle
    * Jaccard. Near-copies are flagged with high probability only (LSH),
    * so they are counted, not required. */
  private final class DedupOp(fresh: Seq[Gen.Doc], exact: Seq[Gen.Doc], near: Seq[Gen.Doc])
      extends Op("dedup") with Repeatable {
    val batch: Seq[Gen.Doc] = fresh ++ exact ++ near
    var pairs: Array[(Long, Long, Double)] = Array.empty
    def run(tr: Tracer): Unit = {
      val batchDf = Workload.docsFrame(spark, batch)
      pairs = tr.span("dedup", "screen") {
        val screened = graft.dedup.Dedup.minhashLshCrossIndexed(
          spark, batchDf, path, "doc_id", "text", 0.8)
          .getOrElse(sys.error("the index's MinHash artifact is missing or stale"))
        tr.span("exec", "collect") { screened.collect() }
      }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    def check(corrupt: Boolean): Option[String] = {
      val flagged = pairs.map(_._1).toSet ++ (if (corrupt) fresh.headOption.map(_.id) else None)
      planted += exact.size + near.size
      plantedFlagged += (exact ++ near).count(d => flagged(d.id))
      val batchSh = batch.map(d => d.id -> shingles(d.tokens)).toMap
      def jaccard(n: Long, r: Long): Double = {
        val a = batchSh(n)
        val b = reference.shingleSets((r - 1).toInt)
        Workload.round((a intersect b).size.toDouble / (a union b).size, 4)
      }
      exact.find(d => !flagged(d.id)).map(d => s"dedup: exact copy ${d.id} was not flagged")
        .orElse(fresh.find(d => flagged(d.id)).map(d => s"dedup: fresh doc ${d.id} was flagged"))
        .orElse(pairs.collectFirst {
          case (n, r, j) if math.abs(jaccard(n, r) - j) > 1e-4 || j < 0.8 =>
            s"dedup: pair ($n, $r) reports Jaccard $j, reference ${jaccard(n, r)}"
        })
    }
    def resultRows: Long = pairs.length
    def docsTouched: Long = batch.size
    override def artifactsRead: Seq[String] = Seq(graft.index.IndexArtifacts.minhashDir(path, "text"))
    def again(): Op = new DedupOp(fresh, exact, near)
  }
}

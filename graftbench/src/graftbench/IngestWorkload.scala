package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.Connector.implicits._
import org.apache.spark.sql.SparkSession

/** A request that writes documents, for `sources.written_bytes_per_user_byte`. */
trait WritesDocs { def userBytesWritten: Long }

/** `ingest`: seeded crawl batches upserted into an index that carries
  * analysis and MinHash artifacts. Each batch mixes new documents,
  * new versions of indexed ids, exact copies and near-copies (one word
  * changed) of indexed documents. One request is three steps:
  *
  *  1. `Dedup.minhashLshCrossIndexed` screens the batch against the
  *     index's MinHash artifact;
  *  2. `saveToGraft` upserts the survivors by id
  *     (`graft.write.operation=index`), rebuilding both artifacts;
  *  3. a read-your-writes check counts the index and fetches a sample
  *     of ids by `graftMget`.
  *
  * This is the only workload on the write path (id resolve, swap,
  * artifact rebuild) and on `dedup`; `search` only reads the index. The
  * benchmark keeps its own model of the index (id -> latest doc) and
  * checks every request against it. */
final class IngestWorkload(seed: Long, size: Size) extends Workload {
  val nBase: Int = if (size == Tiny) 300 else 4000
  val batchSize: Int = if (size == Tiny) 20 else 60
  val Threshold = 0.8
  val writeCfg = Map(
    "graft.mapping.id" -> "doc_id",
    "graft.write.operation" -> "index",
    "graft.index.analysis" -> "text",
    "graft.index.minhash" -> "text")

  private var spark: SparkSession = _
  private var path: String = _
  private var corpus: Gen.Corpus = _
  private var rnd: SplittableRandom = _
  private val model = mutable.LinkedHashMap.empty[Long, Gen.Doc]
  private var ids = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var batchNo = 0L
  private var planted = 0L
  private var plantedDropped = 0L

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    this.spark = spark
    path = s"$dir/crawl"
    corpus = new Gen.Corpus(seed)
    model.clear()
    (1 to nBase).foreach(i => model(i.toLong) = corpus.doc(i.toLong, 30, 90))
    ids = mutable.ArrayBuffer.from(model.keys)
    nextId = nBase + 1L
    batchNo = 0; planted = 0; plantedDropped = 0
    tr.span("sources", "write") {
      Workload.docsFrame(spark, model.values.toSeq).saveToGraft(path, writeCfg)
    }
    rnd = new SplittableRandom(seed * 1000003L + 41)
  }

  def userBytes: Long = model.valuesIterator.map(_.userBytes).sum
  def indexDirs: Seq[String] = Seq(path)

  def describe: Seq[String] = Seq(
    f"ingest: $nBase-doc base index, batches of $batchSize (40%% new, 25%% updates, 20%% exact " +
      f"copies, 15%% near-copies), ${model.size} docs after the run, " +
      f"near-dup threshold $Threshold; planted copies dropped $plantedDropped of $planted")

  override def layerMetrics: Map[String, Double] = Map(
    "dedup.dropped_over_planted" -> (if (planted == 0) 0.0 else plantedDropped.toDouble / planted))

  def warmup(): Seq[Op] = Seq(next())

  def cycleLength: Int = 1
  def nominalCycleSeconds: Double = 12.0

  def next(): Op = {
    batchNo += 1
    val picked = mutable.LinkedHashSet.empty[Long]
    def pick(ok: Gen.Doc => Boolean): Gen.Doc = {
      var d = model(ids(rnd.nextInt(ids.size)))
      while (picked(d.id) || !ok(d)) d = model(ids(rnd.nextInt(ids.size)))
      picked += d.id
      d
    }
    def newId(): Long = { nextId += 1; nextId - 1 }
    val nUpd = batchSize / 4
    val nExact = batchSize / 5
    val nNear = batchSize * 3 / 20
    val nFresh = batchSize - nUpd - nExact - nNear
    val fresh = Seq.fill(nFresh)(corpus.doc(newId(), 30, 90).copy(ver = batchNo))
    val updates = Seq.fill(nUpd) {
      val d = pick(_ => true)
      corpus.doc(d.id, 30, 90).copy(ver = batchNo)
    }
    val exact = Seq.fill(nExact) {
      val d = pick(_ => true)
      d.copy(id = newId(), ver = batchNo)
    }
    val near = Seq.fill(nNear) {
      val d = pick(_.tokens.length >= 45)
      val toks = d.tokens.clone()
      val at = rnd.nextInt(toks.length)
      var w = Gen.vocab(rnd.nextInt(Gen.VocabSize))
      while (w == toks(at)) w = Gen.vocab(rnd.nextInt(Gen.VocabSize))
      toks(at) = w
      d.copy(id = newId(), text = toks.mkString(" "), tokens = toks, ver = batchNo)
    }
    new BatchOp(fresh, updates, exact, near, Seq.fill(5)(ids(rnd.nextInt(ids.size))))
  }

  private final class BatchOp(fresh: Seq[Gen.Doc], updates: Seq[Gen.Doc], exact: Seq[Gen.Doc],
      near: Seq[Gen.Doc], oldSample: Seq[Long]) extends Op("batch") with WritesDocs {
    val batch: Seq[Gen.Doc] = fresh ++ updates ++ exact ++ near
    var dropped: Set[Long] = Set.empty
    var survivors: Seq[Gen.Doc] = Nil
    var count = -1L
    var sample: Seq[Long] = Nil
    var fetched: Map[Long, (Long, String)] = Map.empty

    def run(tr: Tracer): Unit = {
      val batchDf = Workload.docsFrame(spark, batch)
      val pairs = tr.span("dedup", "screen") {
        val screened = graft.dedup.Dedup.minhashLshCrossIndexed(
          spark, batchDf, path, "doc_id", "text", Threshold)
          .getOrElse(sys.error("the index's MinHash artifact is missing or stale"))
        tr.span("exec", "collect") { screened.select("new_id").collect() }
      }
      dropped = pairs.map(_.getLong(0)).toSet
      survivors = batch.filterNot(d => dropped(d.id))
      val survivorsDf = Workload.docsFrame(spark, survivors)
      tr.span("sources", "write") { survivorsDf.saveToGraft(path, writeCfg) }
      count = tr.span("sources", "read_build") { spark.graftCount(path) }
      sample = (survivors.take(10).map(_.id) ++ oldSample).distinct
      val got = tr.span("sources", "read_build") { spark.graftMget(path, sample, "doc_id") }
      fetched = tr.span("exec", "collect") { got.select("doc_id", "found", "ver", "text").collect() }
        .filter(_.getInt(1) == 1)
        .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    }

    def check(corrupt: Boolean): Option[String] = {
      planted += exact.size + near.size
      plantedDropped += (exact ++ near).count(d => dropped(d.id))
      // the model follows what graft kept, so later batches stay
      // comparable even after a wrong drop
      survivors.foreach { d =>
        if (!model.contains(d.id)) ids += d.id
        model(d.id) = d
      }
      val expectCount = model.size.toLong + (if (corrupt) 1 else 0)
      exact.find(d => !dropped(d.id)).map(d => s"batch: exact copy ${d.id} was not dropped")
        .orElse((fresh ++ updates).find(d => dropped(d.id)).map(d => s"batch: fresh doc ${d.id} was dropped"))
        .orElse(if (count != expectCount) Some(s"batch: index holds $count docs, expected $expectCount") else None)
        .orElse(sample.collectFirst {
          case id if !fetched.get(id).contains((model(id).ver, model(id).text)) =>
            s"batch: doc $id reads back ${fetched.get(id).map(_._1)}, expected version ${model(id).ver}"
        })
    }

    def resultRows: Long = fetched.size.toLong + 1
    def docsTouched: Long = batch.size
    def userBytesWritten: Long = survivors.map(_.userBytes).sum
    override def artifactsRead: Seq[String] = Seq(graft.index.IndexArtifacts.minhashDir(path, "text"))
  }
}

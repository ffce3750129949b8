package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One request of a workload, issued by the single closed-loop client. */
abstract class Op(val kind: String) {
  /** Issues the request through graft, wrapping each layer call in a
    * span. Only this runs inside the timed interval. */
  def run(tr: Tracer): Unit

  /** Compares what `run` returned with the benchmark's own reference.
    * `corrupt` perturbs the expected result first, which the self-test
    * uses to prove a wrong answer is counted as failed. Returns the
    * first difference, or None. */
  def check(corrupt: Boolean): Option[String]

  /** Rows graft returned to the client. */
  def resultRows: Long

  /** Documents the request returns, aggregates or writes, for `docs_per_s`. */
  def docsTouched: Long

  /** Artifact directories (each holding a `_graft_meta.json`) whose
    * freshness this request depends on. */
  def artifactsRead: Seq[String] = Nil

  /** True when the request repeats an earlier one exactly. */
  var repeat = false
}

/** Small and full sizes of a workload's inputs. `Tiny` serves the
  * self-test; benchmark runs always use `Full`. */
sealed trait Size
case object Full extends Size
case object Tiny extends Size

trait Workload {
  /** Generates the inputs from the seed and writes the index with its
    * artifacts under `dir`. */
  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit

  /** One request of every template, run and checked during set-up. */
  def warmup(): Seq[Op]

  /** The next request. Templates come in a fixed cycle of
    * `cycleLength`; the seed draws each request's literals. */
  def next(): Op

  def cycleLength: Int

  /** Seconds one cycle takes on a 4-core box at the time the benchmark
    * was defined; `--seconds` divided by it fixes the timed cycles. */
  def nominalCycleSeconds: Double

  /** Bytes of every generated field value the index holds. */
  def userBytes: Long

  /** The index directories whose bytes on disk count as stored. */
  def indexDirs: Seq[String]

  /** Values of `Layers.WorkloadLayers` this workload produces. */
  def layerMetrics: Map[String, Double] = Map.empty

  /** Lines describing the run's inputs, printed before the result. */
  def describe: Seq[String]
}

object Workload {
  def apply(name: String, seed: Long, size: Size): Workload = name match {
    case "search" => new SearchWorkload(seed, size)
    case "aggs" => new AggsWorkload(seed, size)
    case "ingest" => new IngestWorkload(seed, size)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (search | aggs | ingest)")
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType),
    StructField("vec", ArrayType(DoubleType, containsNull = false)),
    StructField("ver", LongType)))

  def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    val rows = docs.map(d => Row(d.id, d.lang, d.source, d.nChars, d.text, d.vec.toSeq, d.ver))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), docSchema)
  }

  /** Bytes of all files under `dir`. */
  def diskBytes(spark: SparkSession, dir: String, only: String => Boolean = _ => true): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var total = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (only(st.getPath.toString)) total += st.getLen
    }
    total
  }

  def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Exact set comparison with a short report of the first differences. */
  def sameIds(what: String, got: Seq[Long], expected: Set[Long]): Option[String] = {
    val g = got.toSet
    if (g.size != got.size) Some(s"$what: duplicate ids in result")
    else if (g == expected) None
    else Some(s"$what: ${g.size} ids vs ${expected.size} expected; " +
      s"missing ${(expected -- g).take(3).mkString(",")}, extra ${(g -- expected).take(3).mkString(",")}")
  }

  /** Tie-insensitive top-k check: the result must hold as many hits as
    * the reference, each hit's score must equal its reference score,
    * and the sorted scores must equal the reference's top-k scores. */
  def sameTopK(what: String, got: Seq[(Long, Double)], ref: Map[Long, Double], k: Int,
      tol: Double): Option[String] = {
    val want = ref.values.toSeq.sorted(Ordering[Double].reverse).take(k)
    if (got.size != want.size) return Some(s"$what: ${got.size} hits, expected ${want.size}")
    if (got.map(_._1).distinct.size != got.size) return Some(s"$what: duplicate hits")
    got.find { case (id, s) => ref.get(id).forall(r => math.abs(r - s) > tol) } match {
      case Some((id, s)) => return Some(s"$what: hit $id scored $s, reference ${ref.get(id)}")
      case None => ()
    }
    val gs = got.map(_._2).sorted(Ordering[Double].reverse)
    gs.zip(want).find { case (a, b) => math.abs(a - b) > tol }
      .map { case (a, b) => s"$what: top-k score $a where the reference has $b" }
  }

  /** Graft's output rounding: half away from zero at `scale` digits. */
  def round(v: Double, scale: Int): Double = {
    val m = math.pow(10, scale)
    val r = math.floor(math.abs(v) * m + 0.5) / m
    if (v < 0) -r else r
  }
}

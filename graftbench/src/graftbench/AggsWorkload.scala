package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.Connector.implicits._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `aggs`: a seeded sequence of `aggs` bodies through
  * `SearchBody.search` over a generated event log. Scan, partial
  * aggregation, shuffle and percentile work dominate; building the
  * plan is a small share, the opposite of `search`.
  *
  * Four body templates, each with a seeded query filter:
  * terms > date_histogram > avg, cardinality + percentiles, a filtered
  * terms top-10 with a sum, and range (or filters) buckets. Every
  * result is checked against a one-pass reference over the generated
  * columns. */
final class AggsWorkload(seed: Long, size: Size) extends Workload {
  val nEvents: Int = if (size == Tiny) 6000 else 200000

  private var spark: SparkSession = _
  private var path: String = _
  private var ev: Gen.Events = _
  private var rnd: SplittableRandom = _

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    this.spark = spark
    path = s"$dir/events"
    ev = new Gen.Events(seed, nEvents)
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts_ns", LongType), StructField("user_id", LongType),
      StructField("country", StringType), StructField("status", StringType),
      StructField("path", StringType), StructField("bytes", LongType),
      StructField("latency_ms", DoubleType)))
    val rows = (0 until nEvents).map(i => Row(ev.id(i), ev.tsNs(i), ev.userId(i), ev.country(i),
      ev.status(i), ev.path(i), ev.bytes(i), ev.latency(i)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)
    tr.span("sources", "write") {
      df.saveToGraft(path, Map("graft.mapping.id" -> "event_id", "graft.write.operation" -> "append"))
    }
    rnd = new SplittableRandom(seed * 1000003L + 29)
    cursor = 0
  }

  def userBytes: Long = ev.userBytes
  def indexDirs: Seq[String] = Seq(path)

  def describe: Seq[String] = Seq(
    f"aggs: $nEvents events over ${ev.Days} days, ${ev.Countries.length} countries, ${ev.nPaths} paths, " +
      f"${ev.nUsers} users, ${userBytes / 1e6}%.1f MB of field values")

  // ---- query filters: (JSON, the same predicate over event i) ----

  private final case class Filter(json: String, pred: Int => Boolean)

  private def statusFilter(): Filter = {
    val s = Gen.weighted(rnd, ev.Statuses.map { case (k, _) => k -> 1.0 })
    Filter(s"""{"term": {"status": "$s"}}""", i => ev.status(i) == s)
  }

  private def windowFilter(): (Long, Long) = {
    val d0 = rnd.nextInt(ev.Days - 3)
    val len = 3 + rnd.nextInt(ev.Days - d0 - 2)
    (ev.T0 + d0 * ev.Day, ev.T0 + (d0 + len) * ev.Day)
  }

  private def timeFilter(): Filter = {
    val (lo, hi) = windowFilter()
    Filter(s"""{"range": {"ts_ns": {"gte": $lo, "lt": $hi}}}""", i => ev.tsNs(i) >= lo && ev.tsNs(i) < hi)
  }

  private def countryOf(): String = ev.Countries(rnd.nextInt(ev.Countries.length))

  /** One cycle of templates; see `Workload.next`. */
  private val Cycle = Seq("histo", "cardinality", "top_terms", "ranges")
  private var cursor = 0
  def cycleLength: Int = Cycle.size
  def nominalCycleSeconds: Double = 2.5

  def warmup(): Seq[Op] = Cycle.map(fresh)

  def next(): Op = {
    cursor += 1
    fresh(Cycle((cursor - 1) % Cycle.size))
  }

  private def fresh(kind: String): Op = kind match {
    case "histo" => new HistoOp(if (rnd.nextBoolean()) statusFilter() else timeFilter())
    case "cardinality" =>
      val c = countryOf()
      new CardinalityOp(Filter(s"""{"term": {"country": "$c"}}""", i => ev.country(i) == c))
    case "top_terms" =>
      val c = countryOf()
      val (lo, hi) = windowFilter()
      new TopTermsOp(Filter(
        s"""{"bool": {"filter": [{"term": {"country": "$c"}}, {"range": {"ts_ns": {"gte": $lo, "lt": $hi}}}]}}""",
        i => ev.country(i) == c && ev.tsNs(i) >= lo && ev.tsNs(i) < hi))
    case "ranges" =>
      if (rnd.nextBoolean()) {
        val r1 = 500L * (1 + rnd.nextInt(6))
        new RangeOp(statusFilter(), r1, r1 * (4 + rnd.nextInt(8)))
      } else new FiltersOp(timeFilter(), 40.0 + rnd.nextInt(40), 10000L * (1 + rnd.nextInt(5)))
  }

  private abstract class AggOp(kind: String, filter: Filter) extends Op(kind) {
    var rows: Array[Row] = Array.empty
    var matched = 0L
    def aggs: String
    def body = s"""{"size": 0, "query": ${filter.json}, "aggs": $aggs}"""
    def run(tr: Tracer): Unit = {
      val all = tr.span("sources", "read_build") { spark.graftDF(path) }
      val df = tr.span("agg", "build") { graft.dsl.SearchBody.search(all, body, "event_id") }
      rows = tr.span("exec", "collect") { df.collect() }
    }
    /** Indices of the events the query selects (one pass). */
    def selected(): Array[Int] = {
      val out = (0 until ev.n).filter(filter.pred).toArray
      matched = out.length
      out
    }
    def resultRows: Long = rows.length
    def docsTouched: Long = matched
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 2e-4 + 1e-9 * math.abs(b)

  private def dbl(r: Row, c: String): Double = r.get(r.fieldIndex(c)) match {
    case null => Double.NaN
    case n: java.lang.Number => n.doubleValue
    case d: java.math.BigDecimal => d.doubleValue
    case other => sys.error(s"column $c holds $other")
  }

  private def lng(r: Row, c: String): Long = r.get(r.fieldIndex(c)) match {
    case n: java.lang.Number => n.longValue
    case other => sys.error(s"column $c holds $other")
  }

  /** terms(country) > date_histogram(1d) > avg(latency_ms). */
  private final class HistoOp(filter: Filter) extends AggOp("histo", filter) {
    def aggs = """{"by_country": {"terms": {"field": "country"}, "aggs": {"per_day": {"date_histogram": {"field": "ts_ns", "fixed_interval": "1d"}, "aggs": {"avg_latency": {"avg": {"field": "latency_ms"}}}}}}}"""
    def check(corrupt: Boolean): Option[String] = {
      val acc = mutable.Map.empty[(String, Long), (Long, Double)]
      selected().foreach { i =>
        val k = (ev.country(i), Math.floorDiv(ev.tsNs(i), ev.Day) * ev.Day)
        val (c, s) = acc.getOrElse(k, (0L, 0.0))
        acc(k) = (c + 1, s + ev.latency(i))
      }
      if (corrupt && acc.nonEmpty) acc(acc.keys.head) = (0L, 0.0)
      val got = rows.map(r => (r.getAs[String]("by_country"), lng(r, "per_day")) ->
        (lng(r, "doc_count"), dbl(r, "avg_latency"))).toMap
      if (got.size != rows.length) return Some("histo: duplicate buckets")
      if (got.keySet != acc.keySet) return Some(s"histo: ${got.size} buckets, expected ${acc.size}")
      acc.collectFirst {
        case (k, (c, s)) if got(k)._1 != c || !close(got(k)._2, Workload.round(s / c, 4)) =>
          s"histo: bucket $k is ${got(k)}, expected ($c, ${Workload.round(s / c, 4)})"
      }
    }
  }

  /** cardinality(user_id) and exact percentiles of latency_ms. */
  private final class CardinalityOp(filter: Filter) extends AggOp("cardinality", filter) {
    val percents = Seq(50, 95, 99)
    def aggs = """{"users": {"cardinality": {"field": "user_id"}}, "latency": {"percentiles": {"field": "latency_ms", "percents": [50, 95, 99]}}}"""
    def check(corrupt: Boolean): Option[String] = {
      val sel = selected()
      val users = sel.iterator.map(ev.userId(_)).toSet.size.toLong + (if (corrupt) 1 else 0)
      val lat = sel.map(ev.latency(_)).sorted
      // linear interpolation between closest ranks
      def pct(p: Double): Double = {
        val pos = p / 100 * (lat.length - 1)
        val lo = math.floor(pos).toInt
        val hi = math.min(lo + 1, lat.length - 1)
        Workload.round(lat(lo) + (pos - lo) * (lat(hi) - lat(lo)), 4)
      }
      if (rows.length != 1) return Some(s"cardinality: ${rows.length} rows, expected 1")
      val r = rows.head
      if (lng(r, "users") != users) return Some(s"cardinality: users ${lng(r, "users")}, expected $users")
      percents.collectFirst {
        case p if !close(dbl(r, s"latency_p$p"), pct(p)) =>
          s"cardinality: p$p ${dbl(r, s"latency_p$p")}, expected ${pct(p)}"
      }
    }
  }

  /** filtered terms(path, size 10) > sum(bytes), ordered by doc_count. */
  private final class TopTermsOp(filter: Filter) extends AggOp("top_terms", filter) {
    def aggs = """{"top_paths": {"terms": {"field": "path", "size": 10}, "aggs": {"bytes": {"sum": {"field": "bytes"}}}}}"""
    def check(corrupt: Boolean): Option[String] = {
      val acc = mutable.Map.empty[String, (Long, Long)]
      selected().foreach { i =>
        val (c, s) = acc.getOrElse(ev.path(i), (0L, 0L))
        acc(ev.path(i)) = (c + 1, s + ev.bytes(i))
      }
      if (corrupt && acc.nonEmpty) acc(acc.maxBy(_._2._1)._1) = (0L, 0L)
      val got = rows.map(r => (r.getAs[String]("top_paths"), lng(r, "doc_count"), dbl(r, "bytes")))
      val want = acc.values.map(_._1).toSeq.sorted(Ordering[Long].reverse).take(10)
      if (got.length != want.length) return Some(s"top_terms: ${got.length} buckets, expected ${want.length}")
      got.collectFirst {
        case (p, c, s) if !acc.get(p).exists { case (ec, es) => ec == c && es.toDouble == s } =>
          s"top_terms: bucket $p = ($c, $s), expected ${acc.get(p)}"
      }.orElse {
        val gc = got.map(_._2).sorted(Ordering[Long].reverse).toSeq
        if (gc == want) None else Some(s"top_terms: counts $gc, expected top $want")
      }
    }
  }

  /** range(bytes) buckets with avg(latency_ms). */
  private final class RangeOp(filter: Filter, r1: Long, r2: Long) extends AggOp("ranges", filter) {
    def aggs = s"""{"bytes_ranges": {"range": {"field": "bytes", "ranges": [{"to": $r1}, {"from": $r1, "to": $r2}, {"from": $r2}]}, "aggs": {"avg_latency": {"avg": {"field": "latency_ms"}}}}}"""
    def check(corrupt: Boolean): Option[String] = {
      val labels = Seq(s"*-${r1.toDouble}", s"${r1.toDouble}-${r2.toDouble}", s"${r2.toDouble}-*")
      val acc = mutable.Map.empty[String, (Long, Double)]
      selected().foreach { i =>
        val b = ev.bytes(i)
        val l = if (b < r1) labels(0) else if (b < r2) labels(1) else labels(2)
        val (c, s) = acc.getOrElse(l, (0L, 0.0))
        acc(l) = (c + 1, s + ev.latency(i))
      }
      if (corrupt && acc.nonEmpty) acc(acc.keys.head) = (0L, 0.0)
      val got = rows.map(r => r.getAs[String]("bytes_ranges") -> (lng(r, "doc_count"), dbl(r, "avg_latency"))).toMap
      if (got.keySet != acc.keySet) return Some(s"ranges: buckets ${got.keySet}, expected ${acc.keySet}")
      acc.collectFirst {
        case (k, (c, s)) if got(k)._1 != c || !close(got(k)._2, Workload.round(s / c, 4)) =>
          s"ranges: bucket $k is ${got(k)}, expected ($c, ${Workload.round(s / c, 4)})"
      }
    }
  }

  /** filters buckets: named Query-DSL predicates, one count each. */
  private final class FiltersOp(filter: Filter, slowMs: Double, bigBytes: Long) extends AggOp("ranges", filter) {
    def aggs = s"""{"classes": {"filters": {"filters": {"ok": {"term": {"status": "200"}}, "slow": {"range": {"latency_ms": {"gte": $slowMs}}}, "big": {"range": {"bytes": {"gte": $bigBytes}}}}}}}"""
    def check(corrupt: Boolean): Option[String] = {
      val sel = selected()
      val want = Map(
        "ok" -> sel.count(ev.status(_) == "200").toLong,
        "slow" -> sel.count(ev.latency(_) >= slowMs).toLong,
        "big" -> (sel.count(ev.bytes(_) >= bigBytes).toLong + (if (corrupt) 1 else 0)))
      if (rows.length != 1) return Some(s"filters: ${rows.length} rows, expected 1")
      want.collectFirst {
        case (k, c) if lng(rows.head, k) != c => s"filters: $k = ${lng(rows.head, k)}, expected $c"
      }
    }
  }
}

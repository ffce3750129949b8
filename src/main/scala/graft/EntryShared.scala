package graft

import graft.agg.Aggs
import graft.dedup.Dedup
import graft.dsl.QueryDsl
import graft.rel.Relational
import graft.search.{Search, Sorting}
import graft.sim.Ann
import graft.streaming.EventStreams
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
/** Shared fixtures for the SparkEntry registration files: table loader,
  * DuckDB oracle CTE fragments, deterministic query vectors, and
  * driver-side oracle-SQL builders. Registration-only code — every
  * member was previously a private helper inside SparkEntry (split in
  * r11 when the single file passed 4.3k lines). */
private[graft] object EntryShared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The ONE builder of the `warchtml` artifact: real .warc.gz bytes
    * wrapping the documents table in html. Three keys share the
    * (name, srcFp) cache key — q_warc_pipeline, q_wet_roundtrip,
    * q_stream_warc — so the wrapper MUST have a single definition:
    * with per-key copies, the artifact's bytes would depend on which
    * key built first if one copy were ever edited. */
  def ensureWarcHtml(s: SparkSession, d: String): String = {
    graft.index.IndexArtifacts.ensureArtifact("warchtml", s"$d/documents.parquet")(
      p => graft.index.IndexArtifacts.fsDirExists(s, p))(
      stage => graft.sources.Warc.saveWarc(
        t(s, d, "documents").select(
          concat(lit("https://corpus.test/doc/"), col("doc_id")).as("uri"),
          lit("text/html; charset=UTF-8").as("mime"),
          encode(concat(lit("<html><head><title>d</title></head><body><p>"),
            col("text"), lit("</p></body></html>")), "UTF-8").as("body")),
        stage, "2026-01-01T00:00:00Z"))
  }


  // shared DuckDB CTE: analyzed documents (mirror of Analyzer.tokens)
  val TokCte =
    "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents)"

  // Deterministic plural-morphed token stream (SURVEY §3 synthetic-
  // column pattern, like withGeo/withIp): the testdata vocabulary has
  // no inflected forms, so stemmer coverage derives one — token i
  // (0-based) gains an "s" when (doc_id + i) % 3 == 0. The DuckDB
  // mirror is MTokCte below.
  def morphedToks(): org.apache.spark.sql.Column =
    transform(graft.analysis.Analyzer.tokens(col("text")), (t, i) =>
      when(pmod(col("doc_id") + i, lit(3)) === 0 &&
          length(t) >= 3 && !t.endsWith("s"),
        concat(t, lit("s"))).otherwise(t))
  val MTokCte =
    ", mtok AS (SELECT doc_id, list_transform(range(1, len(toks) + 1), i -> " +
    "CASE WHEN (doc_id + i - 1) % 3 = 0 AND len(toks[i]) >= 3 AND substr(toks[i], len(toks[i]), 1) != 's' " +
    "THEN toks[i] || 's' ELSE toks[i] END) AS toks FROM tok)"

  // German-morphed token stream (same synthetic-column pattern as
  // morphedToks): token i gains "en" when (doc_id + i) % 3 == 0 —
  // light_german's dominant suffix. DuckDB mirror is MTokDeCte.
  def germanMorphToks(): org.apache.spark.sql.Column =
    transform(graft.analysis.Analyzer.tokens(col("text")), (t, i) =>
      when(pmod(col("doc_id") + i, lit(3)) === 0 &&
          length(t) >= 3 && !t.endsWith("n"),
        concat(t, lit("en"))).otherwise(t))
  val MTokDeCte =
    ", mtokde AS (SELECT doc_id, list_transform(range(1, len(toks) + 1), i -> " +
    "CASE WHEN (doc_id + i - 1) % 3 = 0 AND len(toks[i]) >= 3 AND substr(toks[i], len(toks[i]), 1) != 'n' " +
    "THEN toks[i] || 'en' ELSE toks[i] END) AS toks FROM tok)"

  /** DuckDB mirrors of Stemmers.lightGerman's two steps over a token
    * expression `x` — same ordered rule CASEs (umlaut folding is a
    * no-op on the [a-z0-9] token alphabet, so it is omitted). */
  def gstem1(x: String): String = {
    val st = "('b', 'd', 'f', 'g', 'h', 'k', 'l', 'm', 'n', 't')"
    s"(CASE WHEN len($x) > 5 AND substr($x, len($x) - 2, 3) = 'ern' THEN substr($x, 1, len($x) - 3) " +
    s"WHEN len($x) > 4 AND substr($x, len($x) - 1, 1) = 'e' AND substr($x, len($x), 1) IN ('m', 'n', 'r', 's') THEN substr($x, 1, len($x) - 2) " +
    s"WHEN len($x) > 3 AND substr($x, len($x), 1) = 'e' THEN substr($x, 1, len($x) - 1) " +
    s"WHEN len($x) > 3 AND substr($x, len($x), 1) = 's' AND substr($x, len($x) - 1, 1) IN $st THEN substr($x, 1, len($x) - 1) " +
    s"ELSE $x END)"
  }
  def gstem2(x: String): String = {
    val st = "('b', 'd', 'f', 'g', 'h', 'k', 'l', 'm', 'n', 't')"
    s"(CASE WHEN len($x) > 5 AND substr($x, len($x) - 2, 3) = 'est' THEN substr($x, 1, len($x) - 3) " +
    s"WHEN len($x) > 4 AND substr($x, len($x) - 1, 2) IN ('er', 'en') THEN substr($x, 1, len($x) - 2) " +
    s"WHEN len($x) > 4 AND substr($x, len($x) - 1, 2) = 'st' AND substr($x, len($x) - 2, 1) IN $st THEN substr($x, 1, len($x) - 2) " +
    s"ELSE $x END)"
  }

  /** DuckDB mirror of Stemmers.minimalEnglish over a token expression
    * `x` — the same ordered rule CASE, so stemmed-match oracles are
    * hash-exact. */
  def mstem(x: String): String =
    s"(CASE WHEN len($x) < 3 OR substr($x, len($x), 1) != 's' THEN $x " +
    s"WHEN substr($x, len($x) - 1, 2) IN ('us', 'ss') THEN $x " +
    s"WHEN substr($x, len($x) - 1, 2) = 'es' THEN " +
    s"(CASE WHEN len($x) > 3 AND substr($x, len($x) - 2, 1) = 'i' " +
    s"AND substr($x, len($x) - 3, 1) NOT IN ('a', 'e') THEN substr($x, 1, len($x) - 3) || 'y' " +
    s"WHEN substr($x, len($x) - 2, 1) IN ('i', 'a', 'o', 'e') THEN $x " +
    s"ELSE substr($x, 1, len($x) - 1) END) " +
    s"ELSE substr($x, 1, len($x) - 1) END)"

  // the English stop set as a SQL IN-list (mirror of Analyzer.EnglishStop)
  val StopSql: String =
    graft.analysis.Analyzer.EnglishStop.map(w => s"'$w'").mkString(", ")

  // DuckDB mirror of Dedup.baseHash: fold 12 hex chars of md5 to BIGINT
  def hexFold(expr: String, n: Int): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(regexp_extract_all(substr(md5($expr), 1, $n), '.'), " +
      "c -> (CASE WHEN ascii(c) <= 57 THEN ascii(c) - 48 ELSE ascii(c) - 87 END)::BIGINT)), (a, v) -> a * 16 + v)"

  /** Shared DuckDB CTE chain computing per-doc BM25 (k1=1.2, b=0.75,
    * round 4) over a (doc_id, toks) source CTE — appended as
    * dl/st/tf/df/sc with a distinguishing suffix. Single definition so
    * the BM25 formula can't silently diverge between the six scoring
    * oracles that use it. */
  def bm25Ctes(p: String, tokSrc: String, terms: Seq[String]): String = {
    val in = terms.map(t => s"'$t'").mkString(",")
    s", dl$p AS (SELECT doc_id, len(toks)::DOUBLE AS dl, toks FROM $tokSrc), " +
      s"st$p AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl$p), " +
      s"tf$p AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl$p) " +
      s"WHERE term IN ($in) GROUP BY doc_id, dl, term), " +
      s"df$p AS (SELECT term, count(*)::DOUBLE AS df FROM tf$p GROUP BY term), " +
      s"sc$p AS (SELECT tf$p.doc_id AS id, round(sum(ln(1.0 + (st$p.n_docs - df$p.df + 0.5) / (df$p.df + 0.5)) * " +
      s"tf$p.tf * (1.2 + 1.0) / (tf$p.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf$p.dl / st$p.avgdl))), 4) AS score " +
      s"FROM tf$p JOIN df$p USING (term) CROSS JOIN st$p GROUP BY tf$p.doc_id)"
  }

  // source-field token CTE used by the two-field scoring oracles
  val STokCte =
    ", stok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(source), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents)"

  // shared DuckDB CTE chain: MinHash-LSH verified near-dup pairs `vp`
  // (mirror of Dedup.minhashLsh; appended after TokCte)
  lazy val MinhashCtes: String = ", " +
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM tok WHERE len(toks) >= 3), " +
    s"hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${hexFold("x", 12)}) AS hs FROM sh), " +
    "sig AS (SELECT doc_id, sh, list_transform(range(0, 32), i -> " +
    "list_aggregate(list_transform(hs, h -> (h * (2*i + 3) + ((i + 1) * 2654435761) % 2305843009213693951) % 2305843009213693951), 'min')) AS sig FROM hs), " +
    "banded AS (SELECT doc_id, unnest(list_transform(range(0, 8), b -> " +
    "b::VARCHAR || ',' || sig[4*b+1]::VARCHAR || ',' || sig[4*b+2]::VARCHAR || ',' || sig[4*b+3]::VARCHAR || ',' || sig[4*b+4]::VARCHAR)) AS band FROM sig), " +
    "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id), " +
    "vp AS (SELECT id1, id2, round(inter / (n1 + n2 - inter), 4) AS jaccard FROM " +
    "(SELECT id1, id2, len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter, len(sa.sh) AS n1, len(sb.sh) AS n2 " +
    "FROM cand JOIN sh sa ON sa.doc_id = id1 JOIN sh sb ON sb.doc_id = id2) " +
    "WHERE round(inter / (n1 + n2 - inter), 4) >= 0.8)"

  // monthly order-total buckets shared by the percentile pipeline aggs
  def monthlyOrderSums(orders: DataFrame): DataFrame = orders
    .groupBy(trunc(col("o_orderdate"), "month").as("m"))
    .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("msum"))
  // shared by q_downsample AND q_rollup_search: the rollup-search
  // merge must reproduce exactly the all-raw daily aggregation
  val DownsampleOracle =
    "SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS bucket_ts, event_type, " +
    "count(*)::BIGINT AS doc_count, min(value) AS value_min, max(value) AS value_max, " +
    "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS value_sum " +
    "FROM events GROUP BY 1, 2 ORDER BY 1, 2"

  val MonthlySumCte =
    "WITH b AS (SELECT date_trunc('month', o_orderdate) AS m, " +
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS msum FROM orders GROUP BY m)"

  // deterministic synthetic geo columns (SURVEY.md §3)
  def withGeo(c: DataFrame): DataFrame = c
    .withColumn("lat", (col("c_custkey") * 7919 % 18000) / 100.0 - 90.0)
    .withColumn("lon", (col("c_custkey") * 104729 % 36000) / 100.0 - 180.0)
  val GeoCte =
    "WITH g AS (SELECT c_custkey, (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat, (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon FROM customer)"

  // deterministic synthetic IPv4 column over events (no ip field in
  // the testdata — same spirit as withGeo), + its DuckDB mirror with
  // the dotted-quad re-parsed to the numeric value like Aggs.ipValue
  def withIp(e: DataFrame): DataFrame = e.withColumn("ip",
    concat_ws(".", lit(10L),
      pmod(col("user_id") * 7L, lit(256L)),
      pmod(col("user_id") * 13L, lit(256L)),
      pmod(col("user_id"), lit(256L))))
  val IpCte =
    "WITH ips AS (SELECT *, 10 || '.' || (user_id * 7 % 256) || '.' || (user_id * 13 % 256) || '.' || (user_id % 256) AS ip FROM events), " +
    "ipv AS (SELECT *, string_split(ip, '.')[1]::BIGINT * 16777216 + string_split(ip, '.')[2]::BIGINT * 65536 + " +
    "string_split(ip, '.')[3]::BIGINT * 256 + string_split(ip, '.')[4]::BIGINT AS ipn FROM ips)"

  /** Shared polygon for q_geo_polygon — the ORACLE SQL is generated
    * from the same vertex list (same precomputed edge deltas as
    * Relational.geoPolygon), so the two ray casts are the identical
    * IEEE expression on both engines. */
  /** Deterministic 64-dim query vector shared by q_script_vector's
    * Spark side and its oracle SQL (two-decimal doubles: the literal
    * round-trips exactly through both engines' parsers). */
  val ScriptQv: Seq[Double] = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
  val ScriptQv2: Seq[Double] = (0 until 64).map(i => (i * 53 % 100) / 100.0 - 0.5)

  val GeoPolygonVertices: Seq[(Double, Double)] =
    Seq((0.0, -120.0), (60.0, -30.0), (30.0, 60.0), (-30.0, 90.0), (-60.0, -45.0))

  // geohash cell (precision 2) of customer 1's synthetic location —
  // computed through the SAME kernel the query column uses
  lazy val GeoGridQueryCell: String = {
    val lat = (1L * 7919 % 18000) / 100.0 - 90.0
    val lon = (1L * 104729 % 36000) / 100.0 - 180.0
    graft.expr.GeoKernels.geohashKernel(lat, lon, 2).toString
  }

  /** Mirror of the BBQ packed codec: identical bit packing (two 32-bit halves
    * as BIGINTs), identical ascending-dim fold for the asymmetric
    * estimate, same cosine formulation as the other vector oracles. */
  def bbqOracleSql(qv: Seq[Double], k: Int, ov: Int): String = {
    val loExpr = (0 until 32).map(i =>
      s"(CASE WHEN v[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val hiExpr = (32 until 64).map(i =>
      s"(CASE WHEN v[${i + 1}] > 0.0 THEN ${1L << (i - 32)} ELSE 0 END)").mkString(" + ")
    val est = (0 until 64).map { i =>
      val bits = if (i < 32) "b_lo" else "b_hi"
      val mask = 1L << (if (i < 32) i else i - 32)
      s"(CASE WHEN ($bits & $mask) != 0 THEN ${qv(i)} ELSE ${-qv(i)} END)"
    }.mkString(" + ")
    "WITH q AS (SELECT " + qv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      s"b AS (SELECT vec_id, $loExpr AS b_lo, $hiExpr AS b_hi FROM e), " +
      s"c AS (SELECT vec_id, $est AS bscore FROM b ORDER BY bscore DESC, vec_id LIMIT ${k * ov}), " +
      "ex AS (SELECT c.vec_id AS id, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))), 4) AS cosine, " +
      "CAST(round(c.bscore, 4) AS DOUBLE) AS bscore FROM c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q) " +
      s"SELECT id, cosine, bscore FROM ex ORDER BY cosine DESC, id LIMIT $k"
  }

  /** Mirror of Search.highlightFragmentsByScore: same per-term window
    * regexes, same idf formula, same fixed-order score fold, struct
    * sort on (-score, frag). */
  def highlightOrderOracleSql(terms: Seq[String], n: Int): String = {
    val dfCols = terms.map(t =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)::DOUBLE AS df_$t").mkString(", ")
    def idf(u: String) = s"ln(1.0 + (n_docs - df_$u + 0.5) / (df_$u + 0.5))"
    val fragCols = terms.map(t =>
      s"regexp_replace(regexp_extract(lower(text), '([a-z0-9]+ ){0,3}\\b$t\\b( [a-z0-9]+){0,3}'), " +
        s"'\\b$t\\b', '<em>$t</em>', 'g') AS f_$t").mkString(", ")
    def score(t: String) = terms.map(u =>
      s"(CASE WHEN list_contains(string_split(regexp_replace(f_$t, '</?em>', '', 'g'), ' '), '$u') " +
        s"THEN ${idf(u)} ELSE 0.0 END)").mkString(" + ")
    val structs = terms.map(t => s"{'ns': -(${score(t)}), 'frag': f_$t}").mkString("[", ", ", "]")
    val anyTerm = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    TokCte +
      s", hdf AS (SELECT count(*)::DOUBLE AS n_docs, $dfCols FROM tok), " +
      s"fr AS (SELECT doc_id, $fragCols FROM documents JOIN tok USING (doc_id) " +
      s"WHERE list_has_any(toks, $anyTerm)), " +
      s"sc AS (SELECT doc_id, $structs AS frs FROM fr CROSS JOIN hdf) " +
      s"SELECT doc_id AS id, array_to_string(list_transform(" +
      s"list_sort(list_filter(frs, s -> struct_extract(s, 'frag') != ''))[1:$n], " +
      s"s -> struct_extract(s, 'frag')), ' ... ') AS snippet FROM sc ORDER BY id"
  }

  /** Closed-form diamond containment term for the geo_shape oracles:
    * |dy|/arm_y + |dx|/arm_x of the fixed query point, with the arm
    * picked by which side of the centre the point falls. Shares no
    * code path with the ray-cast kernel the Spark side runs. */
  def diamondTSql(
      latC: String, lonC: String, n: String, s: String, e: String, w: String): String =
    s"((CASE WHEN 5.1234567 >= $latC THEN (5.1234567 - $latC) / $n ELSE ($latC - 5.1234567) / $s END) + " +
      s"(CASE WHEN 10.7654321 >= $lonC THEN (10.7654321 - $lonC) / $e ELSE ($lonC - 10.7654321) / $w END))"

  /** Segment-vs-box intersects (SQL): bbox reject, then the
    * separating-line corner test — the identical comparisons
    * PolyKernels.linestringIntersectsBox compiles, so the boolean
    * agrees bitwise with the kernel. */
  def segBoxSql(
      y1: String, x1: String, y2: String, x2: String,
      top: Double, left: Double, bottom: Double, right: Double): String = {
    def cross(cx: Double, cy: Double): String =
      s"(($x2 - $x1) * ($cy - $y1) - ($y2 - $y1) * ($cx - $x1))"
    val d1 = cross(left, bottom); val d2 = cross(left, top)
    val d3 = cross(right, bottom); val d4 = cross(right, top)
    s"(NOT (GREATEST($x1, $x2) < $left OR LEAST($x1, $x2) > $right OR " +
      s"GREATEST($y1, $y2) < $bottom OR LEAST($y1, $y2) > $top) AND NOT " +
      s"(($d1 > 0 AND $d2 > 0 AND $d3 > 0 AND $d4 > 0) OR " +
      s"($d1 < 0 AND $d2 < 0 AND $d3 < 0 AND $d4 < 0)))"
  }

  /** Cartesian `shape`-query fixture: (y, x) diamond vertices. */
  val ShapeQueryVertices: Seq[(Double, Double)] =
    Seq((0.0, -500.0), (600.0, 0.0), (0.0, 500.0), (-600.0, 0.0))

  /** Oracle for the cartesian shape query: the same even-odd ray cast
    * as geoPolygonOracleSql over the synthetic x/y plane. */
  def shapeQueryOracleSql(vertices: Seq[(Double, Double)]): String = {
    val terms = vertices.indices.map { i =>
      val (y1, x1) = vertices(i)
      val (y2, x2) = vertices((i + 1) % vertices.size)
      val dX = x2 - x1
      val dY = y2 - y1
      s"(CASE WHEN (($y1 > y) != ($y2 > y)) AND " +
        s"(x < $dX * (y - $y1) / $dY + $x1) THEN 1 ELSE 0 END)"
    }
    "WITH g AS (SELECT c_custkey, (c_custkey % 2000)::DOUBLE - 1000.0 AS x, " +
      "((c_custkey * 7) % 2000)::DOUBLE - 1000.0 AS y FROM customer) " +
      s"SELECT c_custkey, x, y FROM g WHERE (${terms.mkString(" + ")}) % 2 = 1 " +
      "ORDER BY c_custkey"
  }

  def geoPolygonOracleSql(vertices: Seq[(Double, Double)]): String = {
    val terms = vertices.indices.map { i =>
      val (lat1, lon1) = vertices(i)
      val (lat2, lon2) = vertices((i + 1) % vertices.size)
      val dLon = lon2 - lon1
      val dLat = lat2 - lat1
      s"(CASE WHEN (($lat1 > lat) != ($lat2 > lat)) AND " +
        s"(lon < $dLon * (lat - $lat1) / $dLat + $lon1) THEN 1 ELSE 0 END)"
    }
    GeoCte + " SELECT c_custkey, lat, lon FROM g WHERE " +
      s"(${terms.mkString(" + ")}) % 2 = 1 ORDER BY c_custkey"
  }

}

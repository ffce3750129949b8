package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Stages

/** Link-graph primitives for crawl-quality ranking — the top-of-funnel
  * signal a training-data pipeline derives from crawl STRUCTURE rather
  * than page content (Common Crawl publishes exactly this shape as its
  * host-level ranking artifact: outlink extraction → host graph →
  * centrality).
  *
  * Design for 100 TB:
  *   - extraction is plan-native (posexplode + linear-class regexps —
  *     `[^>]*` / `[^"]*` character classes cannot backtrack on hostile
  *     HTML, the Robots.scala lesson) and map-only: page bytes never
  *     shuffle, the exchange starts at the (src_host, dst_host) edge
  *     row, which is two short strings however large the page was;
  *   - the host graph is a groupBy over those edge rows — cardinality
  *     is hosts², not pages, and real graphs are sparse (the exchange
  *     carries one row per DISTINCT host pair);
  *   - PageRank is the Pregel-on-DataFrames shape: per iteration one
  *     hash join ranks⋈edges on src (both sides partitioned by the
  *     join key) + one partial-aggregated groupBy on dst; the only
  *     driver values are N (one count over the host-cardinality node
  *     frame) and the per-iteration 1-row dangling-mass aggregate,
  *     which re-enters the next round as a literal — no rank frame is
  *     ever collected. Lineage is cut per iteration via Stages.truncate
  *     (the r16 BPE lesson: accreting iteration lineage OOMs the
  *     driver on Catalyst re-analysis long before data size matters).
  *
  * All rank arithmetic is INTEGER (micro-units of 1e-6): per-edge
  * contributions floor with `div`, and long sums are exact and
  * order-independent — so a SQL engine replaying the same formulas
  * reproduces the ranks bit-for-bit, which no floating formulation
  * survives (float sum order differs across engines and partitionings).
  */
object LinkGraph {

  /** `<a>` tags out of an HTML column, one row per anchor:
    * (id, src_host, tag). Linear-class patterns only; (?i) folds the
    * tag NAME while the tag body keeps its original case (paths are
    * case-sensitive, so hrefs must survive unfolded). */
  private def anchorTags(pages: DataFrame, idCol: String, hostCol: String,
      htmlCol: String): DataFrame =
    pages.select(col(idCol), col(hostCol),
        expr(s"explode_outer(regexp_extract_all($htmlCol, '(?i)<a\\\\s[^>]*>', 0))")
          .as("tag"))

  /** The shared followability pass over a frame carrying a `tag`
    * column that is an `<a ...>` OPEN TAG only — attribute patterns
    * must never see anchor text, where a literal `href="..."` or
    * `rel="nofollow"` in the prose would hijack them. Resolves `href`
    * and `dst_host`, drops nofollow / unfollowable schemes; keeps
    * every other column. The attribute-name patterns carry a
    * `(?<![\\w-])` boundary so `data-href=` / `data-rel=` can't
    * shadow the real attributes. */
  private def followed(tagged: DataFrame, hostCol: String): DataFrame =
    tagged
      // href value: double- or single-quoted attribute, first match;
      // attribute names fold, values don't
      .withColumn("href", when(
          regexp_extract(col("tag"), "(?i)(?<![\\w-])href\\s*=\\s*\"([^\"]*)\"", 1) =!= "",
          regexp_extract(col("tag"), "(?i)(?<![\\w-])href\\s*=\\s*\"([^\"]*)\"", 1))
        .otherwise(regexp_extract(col("tag"), "(?i)(?<![\\w-])href\\s*=\\s*'([^']*)'", 1)))
      .withColumn("nofollow",
        lower(regexp_extract(col("tag"), "(?i)(?<![\\w-])rel\\s*=\\s*[\"']([^\"']*)[\"']", 1))
          .contains("nofollow"))
      .filter(col("href").isNotNull && col("href") =!= "" && !col("nofollow"))
      // followable schemes only: absolute http(s), protocol-relative
      // (//host/... inherits the page's scheme but NOT its host), or
      // site-relative
      .withColumn("lhref", lower(col("href")))
      .filter(col("lhref").startsWith("http://") ||
        col("lhref").startsWith("https://") || col("href").startsWith("/"))
      .withColumn("dst_host",
        when(col("href").startsWith("//"),
          regexp_extract(col("lhref"), "^//([^/]+)", 1))
        .when(col("href").startsWith("/"), col(hostCol))
        .otherwise(regexp_extract(col("lhref"), "^https?://([^/]+)", 1)))
      .filter(col("dst_host") =!= "")

  /** Outlink extraction: one row per followable anchor, href resolved
    * to a destination HOST. Drops rel=nofollow anchors (the crawl-
    * politeness signal), fragments, and non-http schemes; relative
    * hrefs resolve to the page's own host, protocol-relative ones to
    * their own authority; hosts case-fold (RFC 3986 — host is
    * case-insensitive, path is not, so only the recovered host is
    * lowered). Output: (id, src_host, dst_host, href). */
  def extractLinks(pages: DataFrame, idCol: String = "doc_id",
      hostCol: String = "host", htmlCol: String = "html"): DataFrame =
    followed(anchorTags(pages, idCol, hostCol, htmlCol), hostCol)
      .select(col(idCol), col(hostCol).as("src_host"), col("dst_host"),
        col("href"))

  /** Anchor TEXT per destination host — the classic external ranking
    * signal (what other sites call a page). Matches whole `<a ...>
    * ... </a>` ELEMENTS (lazy to the first close tag — HTML forbids
    * nesting anchors) so href and text pair exactly: an href-less
    * `<a name=...>` anchor can never shift the pairing the way two
    * independent extract-all passes would. The attribute pass sees
    * ONLY the open-tag prefix (anchor text mentioning href=/nofollow
    * must not hijack it), and nested markup inside the anchor
    * (<b>, <span>, <img>) is stripped to its text. Output:
    * (id, src_host, dst_host, anchor). */
  def extractAnchors(pages: DataFrame, idCol: String = "doc_id",
      hostCol: String = "host", htmlCol: String = "html"): DataFrame = {
    val elems = pages.select(col(idCol), col(hostCol),
      expr(s"explode_outer(regexp_extract_all($htmlCol, " +
        "'(?is)<a\\\\s[^>]*>.*?</a>', 0))").as("elem"))
      // the attribute pass sees only the open tag
      .withColumn("tag", regexp_extract(col("elem"), "^<[^>]*>", 0))
    followed(elems, hostCol)
      .withColumn("anchor", trim(regexp_replace(
        regexp_replace(
          regexp_extract(col("elem"), "(?is)^<[^>]*>(.*)</a>$", 1),
          "<[^>]*>", " "),
        "[ \\t\\n\\f\\r]+", " ")))
      .filter(col("anchor") =!= "")
      .select(col(idCol), col(hostCol).as("src_host"), col("dst_host"),
        col("anchor"))
  }

  /** Host graph: (src_host, dst_host, weight = anchor count,
    * pages = distinct linking pages). One exchange over edge rows. */
  def hostGraph(links: DataFrame, idCol: String = "doc_id"): DataFrame =
    links.groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("weight"),
        countDistinct(col(idCol)).as("pages"))

  /** Damped PageRank over a weighted host graph, in integer micro-units
    * (`scale` = total initial mass). Deterministic and SQL-replayable:
    * every division floors via `div`, every sum is over longs.
    *
    *   r0(v)   = scale div N
    *   contrib = (r(src) * w * dampNum) div (dampDen * outW(src))
    *   r'(v)   = (1-d) base + dangling share + Σ contrib(in-edges)
    *             where base     = ((dampDen-dampNum) * scale) div (dampDen * N)
    *                   dangling = (dampNum * Σ r(no-out-edge hosts)) div (dampDen * N)
    *
    * Floors shed a few micro-units of mass per round — deterministic,
    * and the bound is N + |E| units per iteration, stated so a mass
    * audit knows what drift is arithmetic rather than a bug.
    * Overflow headroom: r ≤ scale and contrib multiplies r * w * dampNum,
    * so callers need scale * maxWeight * dampNum < 2^63 (at the 1e6
    * default that allows per-pair weights up to ~10^11).
    *
    * Returns (host, rank) with ranks in micro-units. */
  def pageRankInt(edges: DataFrame, iters: Int = 3, dampNum: Long = 85,
      dampDen: Long = 100, scale: Long = 1000000L): DataFrame =
    pageRankIntCapped(edges, iters, dampNum, dampDen, scale, DriverEdgeCap)

  /** Edge rows at or under which PageRank runs driver-side: 2e5 edge
    * rows is ~10 MB of driver memory. */
  val DriverEdgeCap = 200000

  /** `pageRankInt` under an explicit driver-regime edge cap (negative:
    * always distributed). */
  private[graft] def pageRankIntCapped(edges: DataFrame, iters: Int, dampNum: Long,
      dampDen: Long, scale: Long, edgeCap: Int): DataFrame = {
    val spark = edges.sparkSession
    // materialize the edge frame once: it feeds outW, the fused edge
    // table AND the node set, and upstream of it sits the page-bytes
    // extraction walk — without the cut that walk would run once per
    // consumer
    val e = Stages.truncate(edges.select(col("src_host"), col("dst_host"),
      col("weight").cast("long").as("w")))
    val outW = e.groupBy(col("src_host").as("host"))
      .agg(sum(col("w")).as("outw"))
    // the source's total out-weight is fused into the edge table once,
    // and the rank frame carries an is-dangling flag, so one
    // distributed round is exactly one join + one groupBy
    val e2 = Stages.truncate(
      e.join(outW.withColumnRenamed("host", "src_host"), Seq("src_host"))
        .repartition(col("src_host")))
    val nodes = e.select(col("src_host").as("host"))
      .union(e.select(col("dst_host").as("host"))).distinct()
    val nodesF = Stages.truncate(
      nodes.join(outW.select(col("host"), lit(true).as("has_out")),
          Seq("host"), "left_outer")
        .select(col("host"), col("has_out").isNull.as("dangling")))

    // size-adaptive regime: the distributed loop costs 2 actions + a
    // localCheckpoint PER ROUND — right when the host graph is
    // cluster-sized, pure fixed overhead when it fits in a driver
    // array. A BOUNDED limit(cap+1) collect probes the edges (<= cap
    // rows back means the driver holds the WHOLE edge set); below the
    // cap, the node collect holds the endpoints of those edges — at
    // most 2 x cap hosts — and the identical integer recurrence runs
    // driver-side: same div floors, same long sums (addition order is
    // irrelevant on exact integers), so the ranks are bit-identical to
    // the distributed rounds.
    val probe = e2.select(col("src_host"), col("dst_host"), col("w"), col("outw"))
      .limit(edgeCap + 1).collect()
    val driverNodes =
      if (probe.length <= edgeCap)
        Some(nodesF.select(col("host"), col("dangling")).collect()
          .map(r => (r.getString(0), r.getBoolean(1))))
      else None
    // host cardinality: the distributed regime's one sizing count
    val n = driverNodes.fold(nodesF.count())(_.length.toLong)
    require(n > 0, "pageRankInt: empty graph")
    // integer ranks starve when a node's share of `scale` is a handful
    // of units (floors eat the whole signal): demand >= ~1000 units
    // per node, the same scale-with-corpus rule as PQ code bits. A
    // million-host graph runs scale = 1e9; the default 1e6 covers
    // graphs to ~1000 hosts.
    require(scale / n >= 1000,
      s"pageRankInt: scale $scale gives under 1000 micro-units per node " +
        s"for $n nodes - raise scale (e.g. ${n * 100000L}) so integer " +
        "floors can't starve the rank signal")
    val base = (dampDen - dampNum) * scale / (dampDen * n)

    driverNodes match {
      case Some(nf) =>
        val idx = nf.iterator.map(_._1).zipWithIndex.toMap
        val dangling = nf.map(_._2)
        val srcI = probe.map(r => idx(r.getString(0)))
        val dstI = probe.map(r => idx(r.getString(1)))
        val ws = probe.map(_.getLong(2))
        val outw = probe.map(_.getLong(3))
        var rank = Array.fill(nf.length)(scale / n)
        for (_ <- 0 until iters) {
          var dmass = 0L
          var i = 0
          while (i < rank.length) { if (dangling(i)) dmass += rank(i); i += 1 }
          val fixed = base + dmass * dampNum / (dampDen * n)
          val next = Array.fill(nf.length)(fixed)
          var j = 0
          while (j < srcI.length) {
            next(dstI(j)) += rank(srcI(j)) * ws(j) * dampNum / (dampDen * outw(j))
            j += 1
          }
          rank = next
        }
        import spark.implicits._
        nf.indices.map(i => (nf(i)._1, rank(i))).toDF("host", "rank")
      case None =>
        var ranks = nodesF.select(col("host"), col("dangling"),
          lit(scale / n).as("rank"))
        for (_ <- 0 until iters) {
          // dangling mass: one 1-row aggregate over the truncated rank
          // frame, returned as a driver scalar (no rank VALUES ever
          // reach the driver — one long does); both operands
          // nonnegative, so Scala / == SQL div
          val dmass = ranks.where(col("dangling"))
            .agg(coalesce(sum(col("rank")), lit(0L))).head().getLong(0)
          val fixed = base + dmass * dampNum / (dampDen * n)
          val contribs = ranks.join(e2, ranks("host") === e2("src_host"))
            .select(e2("dst_host").as("host"),
              expr(s"(rank * w * ${dampNum}L) div (${dampDen}L * outw)")
                .as("contrib"))
            .groupBy(col("host")).agg(sum(col("contrib")).as("cin"))
          ranks = Stages.truncate(
            ranks.select(col("host"), col("dangling"))
              .join(contribs, Seq("host"), "left_outer")
              .select(col("host"), col("dangling"),
                (lit(fixed) + coalesce(col("cin"), lit(0L))).as("rank")))
        }
        ranks.select(col("host"), col("rank"))
    }
  }
}

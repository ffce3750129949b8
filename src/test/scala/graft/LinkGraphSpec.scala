package graft

import graft.text.LinkGraph
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** r17 link-graph primitives: the anchor walk's followability rules
  * and the integer-PageRank contracts (determinism, mass accounting,
  * dangling redistribution, symmetry) that make the DuckDB replay a
  * bit-for-bit mirror rather than a tolerance compare. */
class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  private def pages(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "host", "html")

  test("extraction: quotes, case, nofollow, schemes, relative resolution") {
    val links = LinkGraph.extractLinks(pages(
      (1L, "a.example",
        """<p>x</p><a href="https://b.example/p1">d</a>""" +
          """<A HREF='HTTPS://C.EXAMPLE/Path'>u</A>""" +
          """<a href="/local/p">rel</a>""" +
          """<a href="https://d.example/n" rel="NoFollow">nf</a>""" +
          """<a href="mailto:x@y.z">m</a><a href="#top">f</a>""" +
          """<a name="anchor-without-href">plain</a>""")))
      .orderBy($"href")
      .select($"src_host", $"dst_host", $"href").collect().toSeq
    // 3 followable of 7 anchors: absolute double-quoted, absolute
    // single-quoted with case-folding HOST only, relative -> own host
    assert(links.map(r => (r.getString(0), r.getString(1))) ===
      Seq(("a.example", "a.example"),            // /local/p
        ("a.example", "c.example"),              // HTTPS://C.EXAMPLE
        ("a.example", "b.example")))             // https://b.example
    // the path keeps its case even though the host folded
    assert(links.map(_.getString(2)).contains("HTTPS://C.EXAMPLE/Path"))
  }

  test("hostGraph: weight counts anchors, pages counts distinct docs") {
    val g = LinkGraph.hostGraph(LinkGraph.extractLinks(pages(
      (1L, "a.example",
        """<a href="https://b.example/1">x</a><a href="https://b.example/2">y</a>"""),
      (2L, "a.example", """<a href="https://b.example/3">z</a>"""))))
      .collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("weight") === 3L)
    assert(g.head.getAs[Long]("pages") === 2L)
  }

  private def edges(rows: (String, String, Long)*) =
    rows.toSeq.toDF("src_host", "dst_host", "weight")

  test("pageRankInt: symmetric 2-cycle holds equal ranks; deterministic") {
    val e = edges(("a", "b", 1L), ("b", "a", 1L))
    val r1 = LinkGraph.pageRankInt(e, iters = 4).orderBy($"host")
      .as[(String, Long)].collect().toSeq
    val r2 = LinkGraph.pageRankInt(e, iters = 4).orderBy($"host")
      .as[(String, Long)].collect().toSeq
    assert(r1 === r2)
    assert(r1.map(_._2).distinct.size === 1) // symmetry -> equal ranks
    // no dangling, no floor starvation beyond N units/iter: total mass
    // stays within iters * (N + |E|) micro-units of scale
    assert(math.abs(r1.map(_._2).sum - 1000000L) <= 4 * 4)
  }

  test("property: pageRankInt driver and distributed regimes give equal ranks") {
    // sources s*, each with 1-3 weighted out-edges; sinks d* only ever
    // receive (d0 always does), so every graph has a dangling host
    val graph: Gen[(Seq[(String, String, Long)], Int)] = for {
      nSrc <- Gen.choose(1, 6)
      nSink <- Gen.choose(1, 3)
      hosts = (0 until nSrc).map(i => s"s$i") ++ (0 until nSink).map(i => s"d$i")
      out <- Gen.sequence[Seq[Seq[(String, String, Long)]], Seq[(String, String, Long)]](
        (0 until nSrc).map { i =>
          Gen.choose(1, 3).flatMap(Gen.listOfN(_, for {
            dst <- Gen.oneOf(hosts.filterNot(_ == s"s$i"))
            w <- Gen.choose(1L, 9L)
          } yield (s"s$i", dst, w)))
        })
      iters <- Gen.choose(1, 4)
    } yield ((("s0", "d0", 1L) +: out.flatten).groupBy(e => (e._1, e._2)).values.map(_.head)
      .toSeq.sortBy(e => (e._1, e._2)), iters)
    var cases = 0
    val prop = Prop.forAll(graph) { case (es, iters) =>
      cases += 1
      def ranks(cap: Int) = LinkGraph.pageRankIntCapped(edges(es: _*), iters, 85, 100,
        1000000L, cap).as[(String, Long)].collect().toMap
      val (driver, distributed) = (ranks(LinkGraph.DriverEdgeCap), ranks(-1))
      Prop(driver == distributed && driver.contains("d0")) :| s"$es\n$driver\n$distributed"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), prop)
    assert(res.passed, res)
    assert(cases >= 8)
  }

  test("pageRankInt: star sink accumulates, dangling mass recycles") {
    // a, b, c all -> sink; sink has no out-edges (dangling)
    val e = edges(("a", "sink", 1L), ("b", "sink", 1L), ("c", "sink", 1L))
    val r = LinkGraph.pageRankInt(e, iters = 3).orderBy($"host")
      .as[(String, Long)].collect().toMap
    assert(r("sink") > r("a"))
    // a, b, c have identical in-link structure (none) -> equal ranks
    assert(r("a") === r("b") && r("b") === r("c"))
    // the dangling share keeps sources above the bare base: with no
    // recycling their rank would be exactly base = 15000000/(100*4)
    assert(r("a") > 15000000L / 400L)
    // bounded mass loss: floors shed at most N + |E| units per round
    assert(r.values.sum <= 1000000L && r.values.sum >= 1000000L - 3 * 7)
  }

  test("extraction hardening: protocol-relative, data-href boundary, text hijack (r17 review)") {
    val links = LinkGraph.extractLinks(pages(
      (1L, "a.example",
        // protocol-relative resolves to ITS OWN authority, not the page
        """<a href="//CDN.Example/lib.js">cdn</a>""" +
          // data-href must not shadow the real href
          """<a data-href="https://tracker.example/x" href="/real">z</a>""" +
          // data-rel must not fake a nofollow
          """<a data-rel="nofollow" href="https://e.example/ok">ok</a>""")))
      .orderBy($"href").select($"dst_host", $"href")
      .as[(String, String)].collect().toSeq
    assert(links === Seq(
      ("cdn.example", "//CDN.Example/lib.js"),
      ("a.example", "/real"),
      ("e.example", "https://e.example/ok")))
    // anchor TEXT mentioning href=/nofollow must not hijack the
    // attribute pass (it runs on the open-tag prefix only)
    val a = LinkGraph.extractAnchors(pages(
      (2L, "a.example",
        """<a href="/p">see rel="nofollow" docs</a>""" +
          """<a href="/q">quote: href="https://x.example/e"</a>""")))
      .orderBy($"anchor").select($"dst_host", $"anchor")
      .as[(String, String)].collect().toSeq
    assert(a === Seq(
      ("a.example", "quote: href=\"https://x.example/e\""),
      ("a.example", "see rel=\"nofollow\" docs")))
  }

  test("extractAnchors: nested markup strips to text, edge parity with extractLinks") {
    val html = """<a href="https://x.example/p"><b>Click</b> <i>here</i></a>"""
    val p = pages((1L, "a.example", html))
    val anchors = LinkGraph.extractAnchors(p)
      .select($"dst_host", $"anchor").as[(String, String)].collect().toSeq
    assert(anchors === Seq(("x.example", "Click here")))
    // the element walk must see every edge the open-tag walk sees
    assert(LinkGraph.extractLinks(p).count() === anchors.size)
  }

  test("extractAnchors: element pairing survives href-less anchors") {
    val a = LinkGraph.extractAnchors(pages(
      (1L, "a.example",
        """<a name="x">not a link</a>""" +                // href-less: no row, no shift
          """<a href="https://b.example/p">First Text</a>""" +
          """<a href="/l">local</a>""" +
          """<a href="https://c.example/q" rel="nofollow">hidden</a>""" +
          """<a href="https://d.example/r">   </a>""")))  // blank text drops
      .orderBy($"anchor")
      .select($"dst_host", $"anchor").as[(String, String)].collect().toSeq
    assert(a === Seq(("b.example", "First Text"), ("a.example", "local")))
  }

  test("crawlDelay: group directive semantics, named-over-star, malformed ignored") {
    import graft.text.Robots
    val body = "User-agent: *\nCrawl-delay: 3\n\n" +
      "User-agent: graftbot\nCrawl-delay: 0.5\nDisallow: /x/\n"
    // the '*' group's delay CLOSES its agent list: graftbot opens a
    // new group rather than merging into '*'
    assert(Robots.crawlDelay(body, "graftbot-news") === Some(0.5))
    assert(Robots.crawlDelay(body, "othercrawler") === Some(3.0))
    assert(Robots.crawlDelay("User-agent: *\nDisallow: /y/\n", "any") === None)
    // malformed number ignored (NOT read as zero), first valid wins
    assert(Robots.crawlDelay(
      "User-agent: *\nCrawl-delay: fast\nCrawl-delay: 2\n", "any") === Some(2.0))
    // toDouble-parseable garbage is still malformed: NaN would read
    // as delay 0 downstream, Infinity/negatives would overflow the
    // schedule (r17 review)
    for (bad <- Seq("NaN", "Infinity", "-5"))
      assert(Robots.crawlDelay(
        s"User-agent: *\nCrawl-delay: $bad\nCrawl-delay: 1\n", "any") === Some(1.0))
    // parse() is unchanged by the delay lines: the graftbot group
    // still carries only its own rule
    assert(Robots.parse(body, "graftbot-news").map(_.pattern) === Seq("/x/"))
  }

  test("Frontier.schedule: per-host slots by priority, default delay fallback") {
    import graft.text.Frontier
    val frontier = Seq(
      (1L, "a.example", 5L), (2L, "a.example", 9L), (3L, "a.example", 9L),
      (4L, "b.example", 1L))
      .toDF("doc_id", "host", "priority")
    val delays = Seq(("a.example", 2000L)).toDF("host", "delay_ms")
    val out = Frontier.schedule(frontier, "doc_id", "host", "priority",
        delays, 1000L)
      .select($"doc_id", $"slot", $"delay_ms", $"fetch_offset_ms")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // a: priority desc, id tiebreak -> 2, 3, 1; b falls back to 1000
    assert(out === Seq((1L, 2L, 2000L, 4000L), (2L, 0L, 2000L, 0L),
      (3L, 1L, 2000L, 2000L), (4L, 0L, 1000L, 0L)))
  }

  test("crawlDelays: ms rounding, duplicate host rows collapse to min (r17 review)") {
    import graft.text.Frontier
    // 2.3 s must read 2300 ms (a bare *1000 floor gives 2299 through
    // binary-double error), and a re-fetched robots row beside the
    // old one must yield ONE delay row so schedule can't duplicate
    // frontier rows
    val robots = Seq(
      ("a.example", "User-agent: *\nCrawl-delay: 2.3\n"),
      ("a.example", "User-agent: *\nCrawl-delay: 4\n"))
      .toDF("host", "robots_txt")
    val d = Frontier.crawlDelays(robots, "host", "robots_txt", "any")
      .as[(String, Long)].collect().toSeq
    assert(d === Seq(("a.example", 2300L)))
    val frontier = Seq((1L, "a.example", 1L), (2L, "a.example", 2L))
      .toDF("doc_id", "host", "priority")
    val out = Frontier.schedule(frontier, "doc_id", "host", "priority",
        Frontier.crawlDelays(robots, "host", "robots_txt", "any"), 1000L)
    assert(out.count() === 2)
  }

  test("pageRankInt: integer-floor starvation guard rejects undersized scale") {
    // 3 nodes at scale 2000 = ~666 units/node, under the 1000 floor:
    // loud, with the fix (raise scale) in the message
    val e = edges(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.pageRankInt(e, iters = 1, scale = 2000L)
    }
    assert(ex.getMessage.contains("raise scale"))
  }

  test("pageRankInt: weights steer mass proportionally") {
    // a splits 3:1 between b and c -> b ends above c
    val e = edges(("a", "b", 3L), ("a", "c", 1L),
      ("b", "a", 1L), ("c", "a", 1L))
    val r = LinkGraph.pageRankInt(e, iters = 5).orderBy($"host")
      .as[(String, Long)].collect().toMap
    assert(r("b") > r("c"))
    assert(r("a") > r("b")) // both feed a alone
  }
}

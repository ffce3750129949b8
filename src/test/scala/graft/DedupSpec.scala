package graft

import graft.dedup.{Dedup, Vectors}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec with SpecTempRoot {
  import spark.implicits._

  override protected def tempRootPrefix = "gd"

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("exact duplicates grouped, min id kept") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa")).toDF("id", "text")
    val r = Dedup.exactDuplicates(docs, "id", "text").as[(String, Long, Long)].collect()
    assert(r.length == 1 && r.head._2 == 3L && r.head._3 == 1L)
  }

  test("substring dup spans: planted shared span found, unique docs clean") {
    import graft.text.TextAnalysis
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zeta eta $shared theta iota"),
      (3L, "completely different words " + (100 to 111).map(i => s"w$i").mkString(" ")))
      .toDF("id", "text")
    val r = TextAnalysis.substringDupSpans(docs, "id", "text", k = 10)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    // the 12-token shared run yields 3 shared 10-windows per doc
    assert(r(1L)._3 == 3L, r(1L).toString)
    assert(r(2L)._3 == 3L)
    assert(r(3L)._3 == 0L && r(3L)._4 == 0.0)
  }

  test("span removal keeps the globally-first occurrence, cuts covered tokens only") {
    import graft.text.TextAnalysis
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),          // first occurrence: untouched
      (2L, s"zeta eta $shared theta iota"),             // later occurrence: span cut
      (3L, "completely different words " + (100 to 111).map(i => s"w$i").mkString(" ")))
      .toDF("id", "text")
    val r = TextAnalysis.removeDupSpans(docs, "id", "text", k = 10)
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    // doc 1 holds the first occurrence of every shared window -> clean
    assert(r(1L)._3 == 0L, r(1L).toString)
    // doc 2's 3 cut windows (positions 2..4) cover tokens [2, 14) = 12
    // tokens — exactly the shared run; "zeta eta ... theta iota" survive
    assert(r(2L)._2 == 16L && r(2L)._3 == 12L, r(2L).toString)
    assert(r(3L)._3 == 0L)
    // the survivor fingerprint is the fingerprint of the uncovered text
    val expect = TextAnalysis.fingerprint(col("text"))
    val fp = Seq((9L, "zeta eta theta iota")).toDF("id", "text")
      .select(expect).as[Long].head()
    assert(r(2L)._4 == fp)
    // idempotence: running removal on already-clean docs changes nothing
    assert(r(1L)._4 == Seq((1L, s"alpha beta $shared gamma delta")).toDF("id", "text")
      .select(expect).as[Long].head())
  }

  test("property: span removal equals the naive keep-first reference on random corpora") {
    import graft.text.TextAnalysis
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 3
    // tiny vocabulary forces dense window duplication — the regime
    // where an off-by-one in coverage or rank order would surface
    val word = Gen.oneOf("ape", "bee", "cat", "dog", "elk", "fox")
    val docGen = Gen.choose(k, 14).flatMap(Gen.listOfN(_, word))
    val corpusGen = Gen.choose(2, 10).flatMap(Gen.listOfN(_, docGen))
    def reference(corpus: List[List[String]]): Seq[(Long, Seq[String])] = {
      val wins = for {
        (doc, id) <- corpus.zipWithIndex
        pos <- 0 to doc.length - k
      } yield (id.toLong, pos, doc.slice(pos, pos + k))
      val byWin = wins.groupBy(_._3)
      val cuts = byWin.values.filter(_.size > 1)
        .flatMap(_.sortBy(w => (w._1, w._2)).drop(1)).map(w => (w._1, w._2)).toSet
      corpus.zipWithIndex.map { case (doc, id) =>
        val kept = doc.indices.filterNot(i =>
          (math.max(0, i - k + 1) to i).exists(p => cuts((id.toLong, p))))
        (id.toLong, kept.map(doc))
      }
    }
    val prop = Prop.forAll(corpusGen) { corpus =>
      val df = corpus.zipWithIndex
        .map { case (doc, id) => (id.toLong, doc.mkString(" ")) }
        .toDF("id", "text")
      val got = TextAnalysis.removeDupSpans(df, "id", "text", k)
        .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
      val expectFp = reference(corpus).map { case (id, kept) =>
        id -> Seq((id, kept.mkString(" "))).toDF("id", "text")
          .select(TextAnalysis.fingerprint(col("text"))).as[Long].head()
      }.toMap
      reference(corpus).forall { case (id, kept) =>
        got(id)._3 == (corpus(id.toInt).length - kept.length).toLong &&
          got(id)._4 == expectFp(id)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status.toString)
  }

  test("span decontamination cuts EVERY occurrence of a benchmark span") {
    import graft.text.TextAnalysis
    val leak = (1 to 10).map(i => s"ev$i").mkString(" ")
    val bench = Seq((100L, s"question prefix $leak answer suffix")).toDF("id", "text")
    val corpus = Seq(
      (1L, s"alpha beta $leak gamma delta"),   // leaked span mid-doc
      (2L, s"zeta $leak eta"),                 // second occurrence: ALSO cut
      (3L, "totally clean document " + (200 to 211).map(i => s"c$i").mkString(" ")))
      .toDF("id", "text")
    val r = TextAnalysis.decontaminateSpans(corpus, "id", "text", bench, "text", k = 10)
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    // both occurrences cut (no keep-first here — a leaked test item
    // must not survive anywhere); surrounding prose survives
    assert(r(1L)._3 == 10L, r(1L).toString)
    assert(r(2L)._3 == 10L, r(2L).toString)
    assert(r(3L)._3 == 0L)
    val fp = TextAnalysis.fingerprint(col("text"))
    assert(r(1L)._4 == Seq((9L, "alpha beta gamma delta")).toDF("id", "text")
      .select(fp).as[Long].head())
    assert(r(2L)._4 == Seq((9L, "zeta eta")).toDF("id", "text")
      .select(fp).as[Long].head())
  }

  test("bloom screen: seen content dropped, unseen kept, output exact") {
    val seen = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("id", "text")
    val batch = Seq((10L, "aaa"), (11L, "new one"), (12L, "ccc"), (13L, "fresh"))
      .toDF("id", "text")
    val survivors = Dedup.bloomScreenNew(batch, seen, "id", "text",
      expectedSeen = 1000L, fpp = 0.01).as[Long].collect().toSeq
    assert(survivors == Seq(11L, 13L))
    // empty overlap: everything survives (bloom FPs are verified away)
    val none = Dedup.bloomScreenNew(batch, Seq((1L, "zzz")).toDF("id", "text"),
      "id", "text").as[Long].collect().toSeq
    assert(none == Seq(10L, 11L, 12L, 13L))
  }

  test("minhash LSH finds the planted near-dup and skips unrelated") {
    val docs = Seq(
      (1L, base),
      (2L, base + " x"), // near-dup of 1
      (3L, "completely different words about spark catalyst optimizer internals plans"),
      (4L, base.replace("quick", "slow"))).toDF("id", "text")
    val pairs = Dedup.minhashLsh(docs, "id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.8))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semanticDedupPairs: OFFSET id space (ids from 1e6) still seeds centroids and finds pairs") {
    // the old `id < nCentroids` seeding silently yielded ZERO centroids
    // here — an empty pair frame on a corpus full of duplicates
    val emb = Seq(
      (1000000L, Seq(1.0, 0.0, 0.0, 0.0)),   // centroid 0
      (1000001L, Seq(0.0, 1.0, 0.0, 0.0)),   // centroid 1
      (1000002L, Seq(0.99, 0.1, 0.0, 0.0)),  // near-dup of 1000000
      (1000003L, Seq(0.98, 0.15, 0.0, 0.0)), // near-dup of 1000000/1000002
      (1000004L, Seq(0.0, 1.0, 0.05, 0.0))   // near-dup of 1000001
    ).toDF("id", "v")
    val pairs = Dedup.semanticDedupPairs(emb, "id", "v", nCentroids = 2, minCosine = 0.9)
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.exists(p => p._2 == 1000002L && p._3 == 1000003L && p._4 > 0.99))
    assert(pairs.exists(p => p._2 == 1000001L && p._3 == 1000004L && p._4 > 0.99))
    // assignment plan: partial-agg argmax, no Window over the N x C frame
    val plan = Dedup.semanticDedupPairs(emb, "id", "v", 2, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "assignment must not shuffle the N x C frame through a window")
  }

  test("semanticDedupKeep: keeps the member farthest from its centroid per group") {
    val emb = Seq(
      (1000000L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1000001L, Seq(0.0, 1.0, 0.0, 0.0)),
      (1000002L, Seq(0.99, 0.1, 0.0, 0.0)),
      (1000003L, Seq(0.98, 0.15, 0.0, 0.0)),
      (1000004L, Seq(0.0, 1.0, 0.05, 0.0))
    ).toDF("id", "v")
    val kept = Dedup.semanticDedupKeep(emb, "id", "v", nCentroids = 2, minCosine = 0.9)
      .as[(Long, Long, Long, Double)].collect()
    // group {1000000,1000002,1000003}: farthest from centroid [1,0,0,0] is 1000003
    // group {1000001,1000004}: farthest from centroid [0,1,0,0] is 1000004
    assert(kept.map(k => (k._1, k._2, k._3)).toSeq.sorted ==
      Seq((1000000L, 3L, 1000003L), (1000001L, 2L, 1000004L)))
    assert(kept.forall(_._4 < 1.0)) // the keeper is never the centroid-identical member
  }

  test("dedupClusters: transitive pairs collapse to one cluster (min id label)") {
    // chain 1~2, 2~3 plus isolated pair 10~11: 2 clusters
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (10L, 11L, 0.85))
      .toDF("id1", "id2", "jaccard")
    val r = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer chain still converges (diameter > 2)
    val chain = (1L to 8L).sliding(2).map(s => (s.head, s.last, 0.9)).toSeq
      .toDF("id1", "id2", "jaccard")
    val rc = Dedup.dedupClusters(chain).as[(Long, Long)].collect()
    assert(rc.forall(_._2 == 1L) && rc.length == 8)
  }

  test("dedupClusters: local / minlabel regimes agree (incl. diameter-1000 chain, string ids)") {
    // the local-regime pair limit forces each regime: every graph here
    // is below Long.MaxValue pairs and above -1
    def local(g: org.apache.spark.sql.DataFrame) = Dedup.dedupClustersCapped(g, 20, Long.MaxValue)
    def minlabel(g: org.apache.spark.sql.DataFrame) = Dedup.dedupClustersCapped(g, 40, -1L)
    // mixed topology: two cliques bridged by a chain + an isolated pair
    val mixed = (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 7L), (7L, 9L),
      (9L, 20L), (20L, 21L), (21L, 22L), (20L, 22L), (50L, 51L))).map { case (a, b) => (a, b, 0.9) }
      .toDF("id1", "id2", "jaccard")
    // diameter-1000 chain: the shape minlabel needs O(log d) rounds
    // for — it must return the exact labeling
    val chain = (1L to 1001L).sliding(2).map(s => (s.head, s.last, 0.9)).toSeq
      .toDF("id1", "id2", "jaccard")
    for (g <- Seq(mixed, chain)) {
      val lc = local(g).as[(Long, Long)].collect().toMap
      val ml = minlabel(g).as[(Long, Long)].collect().toMap
      assert(lc == ml)
      assert(lc.values.toSet.forall(c => lc(c) == c)) // labels are component minima
    }
    // string ids: the local comparator must mean what SQL min() means
    val sids = Seq(("b", "c", 0.9), ("a", "b", 0.9), ("x", "y", 0.9)).toDF("id1", "id2", "jaccard")
    val ls = local(sids).as[(String, String)].collect().toMap
    val ds = minlabel(sids).as[(String, String)].collect().toMap
    assert(ls == ds && ls == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("dedupClusters: regime switch is counted — local plan below the edge limit, distributed above") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9)).toDF("id1", "id2", "jaccard")
    // below the (4M) limit: the labeling solves on the driver; the
    // returned plan reads a parallelized result, no Join in sight
    val below = Dedup.dedupClusters(pairs)
    // the driver-solved labeling reads back as ONE parallelized frame:
    // a single scan under the presentation sort, no aggregation
    val belowPlan = below.queryExecution.executedPlan.toString
    assert(belowPlan.contains("Scan ExistingRDD") && !belowPlan.contains("HashAggregate")
      && !belowPlan.contains("Union"), s"local regime plan drifted:\n$belowPlan")
    // a limit of 0 pushes the same input onto the distributed regime
    // (minlabel): the returned plan reads the final label checkpoint
    // (the iteration's joins ran eagerly behind the lineage
    // truncation); result stays identical
    val above = Dedup.dedupClustersCapped(pairs, 20, 0L)
    val abovePlan = above.queryExecution.executedPlan.toString
    assert(abovePlan.contains("Scan ExistingRDD") && !abovePlan.contains("Union"),
      s"minlabel regime plan drifted:\n$abovePlan")
    assert(below.as[(Long, Long)].collect().toMap == above.as[(Long, Long)].collect().toMap)
  }

  test("simhash: identical docs at hamming 0; pairs honor threshold") {
    val docs = Seq((1L, base), (2L, base), (3L, "zzz yyy xxx www vvv uuu ttt")).toDF("id", "text")
    val pairs = Dedup.simhashPairs(docs, "id", "text", 3).as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("ngram jaccard top-k ordering") {
    val docs = Seq((1L, base), (2L, base + " extra"), (3L, base.replace("fox", "cat") + " junk words here"))
      .toDF("id", "text")
    val r = Dedup.ngramJaccardTopK(docs, "id", "text", 2).as[(Long, Long, Double)].collect()
    assert(r.length == 2)
    assert(r.head._3 >= r.last._3)
    assert((r.head._1, r.head._2) == ((1L, 2L)))
  }

  test("embedding pairs blocked by label; cosine of identical vecs = 1") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f), 0),
      (2L, Array(1.0f, 0.0f, 1.0f), 0),
      (3L, Array(-1.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 1.0f), 1) // same vec, different block -> never paired
    ).toDF("vec_id", "embedding", "label")
    val r = Dedup.embeddingTopKPairs(e, "vec_id", "embedding", "label", 10)
      .as[(Long, Long, Double)].collect()
    assert(r.head == ((1L, 2L, 1.0)))
    assert(!r.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("Vectors.cosine HOF math") {
    val df = Seq((Array(1.0, 2.0, 2.0), Array(2.0, 4.0, 4.0))).toDF("a", "b")
    val c = df.select(Vectors.cosine(col("a"), col("b"))).as[Double].collect().head
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("tuneBands: S-curve inflection tracks the threshold") {
    // t*(b) = (1/b)^(b/n): high thresholds want few bands, low want many
    assert(Dedup.tuneBands(32, 0.95) == (2, 16))
    assert(Dedup.tuneBands(32, 0.8) == (4, 8))
    assert(Dedup.tuneBands(32, 0.6) == (8, 4))
    assert(Dedup.tuneBands(32, 0.3) == (16, 2))
    val (b, r) = Dedup.tuneBands(128, 0.5)
    assert(b * r == 128)
  }

  test("canonicalPerCluster keeps the best-quality member, ties to lowest id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "quality")
    val r = Dedup.canonicalPerCluster(clusters, docs, "doc_id", "quality")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // cluster 1: quality tie 50 between 2 and 3 -> lowest id 2;
    // cluster 7: tie 5 -> id 7
    assert(r == Seq((1L, 3L, 2L, 50.0), (7L, 2L, 7L, 5.0)))
  }

  test("line dedup: boilerplate lines stripped, order kept, blanks preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav bar\nunique one\n\nmore one\nfooter"),
      (2L, "nav bar\nunique two\nfooter"),
      (3L, "nav bar\nunique three\nfooter"),
      (4L, "all alone here"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", maxDocs = 2)
      .select("doc_id", "n_lines", "text_clean")
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    // "nav bar"/"footer" occur in 3 docs > 2 -> stripped everywhere;
    // the blank line in doc 1 is preserved (never counted)
    assert(out == Seq(
      (1L, 3L, "unique one\n\nmore one"),
      (2L, 1L, "unique two"),
      (3L, 1L, "unique three"),
      (4L, 1L, "all alone here")))
  }

  test("minhash screens leave the CacheManager unchanged; repeated screens agree") {
    val ref = Seq((1L, base),
      (2L, "completely different words about spark catalyst optimizer internals plans"))
      .toDF("id", "text")
    val fresh = Seq((10L, base + " x"),
      (11L, "a new document about something else entirely written today")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_dedup_cm")
    try {
      val idx = s"$dir/idx"
      graft.sources.Connector.save(ref, idx,
        Map("graft.mapping.id" -> "id", "graft.index.minhash" -> "text"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSeq
      val before = org.apache.spark.sql.CacheEntries.count(spark)
      val cross = (1 to 3).map(_ => rows(Dedup.minhashLshCross(fresh, ref, "id", "text", 0.5)))
      // the indexed screen in each regime: lookup (the default for a
      // 2-doc batch) and the join, forced
      val indexed = (1 to 3).map(_ =>
        rows(Dedup.minhashLshCrossIndexed(spark, fresh, idx, "id", "text", 0.5).get))
      val indexedJoin = (1 to 3).map(_ => rows(Dedup.minhashLshCrossIndexedCapped(
        spark, fresh, idx, "id", "text", 0.5, 32, 8, sideCap = -1, hitCap = -1, byteCap = -1).get))
      val self = (1 to 3).map(_ => rows(Dedup.minhashLsh(ref.union(fresh), "id", "text", 0.5)))
      assert(org.apache.spark.sql.CacheEntries.count(spark) == before)
      assert(cross.distinct.size == 1 && indexed.distinct == cross.distinct)
      assert(indexedJoin.distinct == cross.distinct)
      assert(cross.head.map(p => (p._1, p._2)) == Seq((10L, 1L)))
      assert(self.distinct.size == 1 && self.head.map(p => (p._1, p._2)) == Seq((1L, 10L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("incremental dedup: new docs drop only against OLD near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (2L, base),                 // old
      (3L, base),                 // new: dup of old 2 -> dropped
      (5L, base + " extra"),      // new: near-dup of old 2 -> dropped
      (7L, "completely different content about distributed query engines and shuffles"),
      (4L, "another old document speaking of unrelated things entirely here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupIncrementalNewIds(docs, "doc_id", "text",
      pmod(col("doc_id"), lit(2L)) === 1L, 0.8)
      .as[Long].collect().toSeq
    // 7 survives (no old partner); 3 and 5 drop (old 2 matches)
    assert(kept == Seq(7L))
  }

  test("DSIR: target-slice docs outrank the rest; the ratio table broadcasts") {
    import spark.implicits._
    import graft.text.Dsir
    val docs = Tables.documents(spark, sfDir)
    val target = docs.where(col("source") === "src1")
    val w = Dsir.importanceWeights(docs, target, "doc_id", "text", buckets = 1024)
    // docs FROM the target slice must look more like the target than
    // the corpus average: compare mean weights
    val joined = w.join(docs.select($"doc_id", $"source"), "doc_id")
    val means = joined.groupBy($"source" === "src1")
      .agg(avg($"log_weight")).as[(Boolean, Double)].collect().toMap
    assert(means(true) > means(false),
      s"target-mean ${means(true)} should beat non-target ${means(false)}")
    // scale shape: scoring against the fitted model is MAP-ONLY — the
    // dense log-ratio table rides into the compiled kernel as a
    // codegen reference, so the plan has no key-based exchange, no
    // join, and no explode (the fit pass pays the one bucket-bounded
    // exchange). The r17 fan-out may add ONE round-robin repartition
    // on tiny inputs (it is the identity at scale); any hash/range
    // exchange would still mean a per-key shuffle snuck in.
    val plan = w.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning")
      && !plan.contains("Generate"), plan.take(2000))
    // resampling is deterministic and k-bounded
    val r1 = Dsir.resampleTopK(w, "doc_id", 20).as[(Long, Double, Double)].collect()
    val r2 = Dsir.resampleTopK(w, "doc_id", 20).as[(Long, Double, Double)].collect()
    assert(r1.toSeq == r2.toSeq && r1.length == 20)
  }

  test("exactDedupKeep: min-id keeper per hash; no text-carrying exchange") {
    import graft.dedup.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"),
      (6L, null.asInstanceOf[String]), (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val kept = Dedup.exactDedupKeep(docs, "doc_id", "text")
      .select($"doc_id".as[Long]).collect().toSet
    // min-id keeper per duplicate group; null texts are unknown
    // content — ALL survive (never grouped as mutually identical)
    assert(kept == Set(1L, 2L, 4L, 6L, 7L))
    // plan shape: the drop set broadcasts into a LeftAnti hash join
    // (text never shuffles) and the keep window's exchange partitions
    // on the 24-byte hash projection, not the full row
    val plan = Dedup.exactDedupKeep(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("__h")),
      s"dedup exchanges must key on the narrow hash frame:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.contains("text#")),
      s"no exchange may carry document text:\n${exchanges.mkString("\n")}")
  }

  test("keepFirstByKey: anti-join is size-adaptive — broadcast below the drop limit, plain left_anti above") {
    import graft.dedup.Dedup
    import spark.implicits._
    // a frame with REAL duplicates: the drop count must be nonzero for
    // the limit-0 regime to trip (an sf0.001 corpus with no exact dups
    // has 0 drops, and 0 <= limit broadcasts in every regime)
    val docs = (1L to 50L).map(i => (i, s"text-${i % 10}")).toDF("doc_id", "text")
    def keep(limit: Long) = Dedup.keepFirstByKeyCapped(docs, "doc_id", md5(col("text")), limit)
    def planOf(limit: Long): String = keep(limit).queryExecution.executedPlan.toString
    // below-threshold regime: the hint is present — drop ids broadcast,
    // the corpus side never shuffles for the join
    val below = planOf(Dedup.BroadcastDropLimit)
    assert(below.contains("BroadcastHashJoin") && below.contains("LeftAnti"),
      below.take(2000))
    // above-threshold regime (limit forced to 0): the hint is ABSENT —
    // the plain left_anti lets AQE pick the strategy instead of
    // force-broadcasting a corpus-fraction-sized id frame. Stats-based
    // broadcast is disabled for the observation (at test SF the drop
    // frame is tiny, so Catalyst would broadcast it on stats alone and
    // mask the hint's absence — at the scale this regime exists for,
    // those stats are past any broadcast budget).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val above = try planOf(0L)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!above.contains("BroadcastHashJoin"), above.take(2000))
    assert(above.contains("LeftAnti"), above.take(2000))
    // both regimes keep the same answer
    val shuffled = keep(0L).select($"doc_id".as[Long]).collect().toSet
    val bcast = Dedup.exactDedupKeep(docs, "doc_id", "text")
      .select($"doc_id".as[Long]).collect().toSet
    assert(shuffled == bcast && bcast.nonEmpty)
  }

  test("kmeans SemDeDup: fitted screen non-empty; mega-cluster guard hard-caps every block") {
    import graft.dedup.Dedup
    import spark.implicits._
    // a 60-member near-clone cluster (the tie-heavy worst case a
    // cosine sub-route collapses on) + a 10-member orthogonal cluster
    val rows = (1L to 60L).map(i => (i, Seq(1.0, 0.00001 * i))) ++
      (101L to 110L).map(i => (i, Seq(0.00001 * i, 1.0)))
    val df = rows.toDF("vec_id", "xy")
    val capped = Dedup.semanticDedupPairsKmeans(df, "vec_id", "xy",
      nCentroids = 2, iters = 1, minCosine = 0.0, maxClusterSize = 25).collect()
    assert(capped.nonEmpty)
    // the mega cluster re-split into composite ring keys, and NO block
    // holds more members than the cap — C(cap,2) bounds every block's
    // pair count by construction
    val keys = capped.map(_.getString(0)).distinct
    assert(keys.exists(_.contains("#")), keys.mkString(","))
    val blockSizes = capped.groupBy(_.getString(0)).map { case (k, ps) =>
      k -> ps.flatMap(p => Seq(p.getLong(1), p.getLong(2))).distinct.length
    }
    assert(blockSizes.values.forall(_ <= 25), blockSizes.toString)
    // uncapped: same fit, one block per cluster, strictly more pairs
    val open = Dedup.semanticDedupPairsKmeans(df, "vec_id", "xy",
      nCentroids = 2, iters = 1, minCosine = 0.0).collect()
    assert(open.length > capped.length)
    assert(open.map(_.getString(0)).distinct.forall(!_.contains("#")))
  }

  test("whitened-cosine SemDeDup changes the pair set vs the raw-space screen") {
    import graft.dedup.Dedup
    val xy = Tables.load(spark, sfDir, "embeddings").select(col("vec_id"),
      array(element_at(col("embedding"), 1).cast("double"),
        element_at(col("embedding"), 2).cast("double")).as("xy"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id1"), col("id2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = pairSet(Dedup.semanticDedupPairs(xy, "vec_id", "xy", 8, 0.9999))
    val white = pairSet(Dedup.semanticDedupPairsWhitened(xy, "vec_id", "xy",
      dim = 2, nCentroids = 8, minCosine = 0.9999))
    // decorrelating the components must change WHICH pairs clear tau
    // (raw cosine is dominated by the highest-variance axis) — the
    // ablation is pointless if the screens coincide
    assert(raw != white,
      s"whitening must change the screen (raw ${raw.size}, white ${white.size})")
    assert(raw.nonEmpty && white.nonEmpty)
  }

  test("embedding decontamination: benchmark broadcasts, corpus never shuffles pre-filter") {
    import graft.dedup.Dedup
    val e = Tables.load(spark, sfDir, "embeddings")
    val out = Dedup.embeddingContamination(
      e.where(col("label") =!= 7), e.where(col("label") === 7),
      "vec_id", "embedding", minCosine = 0.35)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(2) >= 0.35))
    // flagged docs are unique (one best match each) and none is a
    // benchmark member
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
    val bench = e.where(col("label") === 7)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(!ids.exists(bench))
    // scale shape: the benchmark side is a BroadcastExchange; the only
    // hash exchange is the post-filter flagged-hits aggregation
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("diverse sample: per-cluster cap holds, sample is deterministic") {
    import graft.dedup.Dedup
    val e = Tables.load(spark, sfDir, "embeddings")
    val s1 = Dedup.diverseSample(e, "vec_id", "embedding", 16, 3).collect()
    val s2 = Dedup.diverseSample(e, "vec_id", "embedding", 16, 3).collect()
    assert(s1.toSeq == s2.toSeq)
    val perCluster = s1.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= 3) && perCluster.nonEmpty)
    // a larger cap keeps a SUPERSET (the draw order is stable)
    val s3 = Dedup.diverseSample(e, "vec_id", "embedding", 16, 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(s1.map(_.getLong(1)).forall(s3))
  }

  test("DSIR fitted-model kernel equals the declarative explode-join-sum pipeline") {
    import spark.implicits._
    import graft.text.Dsir
    val docs = Tables.documents(spark, sfDir)
    val model = Dsir.fitBucketModel(
      docs, col("source") === "src1", "doc_id", "text", 1024).toSeq
    val fast = Dsir.weightsWithModel(docs, model, "doc_id", "text")
    // declarative reference: explode -> bucket -> broadcast ratio join
    // -> decimal(18,4) sum -> double (the pre-kernel pipeline). The
    // kernel must reproduce it BIT-FOR-BIT — same rounding, same
    // decimal fold — or the oracle hash would drift.
    val ratio = model.zipWithIndex
      .map { case (v, b) => (b.toLong, v / 10000.0) }.toDF("b", "lr")
      .select($"b", $"lr".cast("decimal(18,4)").as("logr"))
    val ref = docs
      .select($"doc_id", explode(Dsir.ngrams($"text")).as("g"))
      .select($"doc_id", Dsir.featureBucket($"g", 1024).as("b"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy($"doc_id").agg(sum($"logr").cast("double").as("lw"))
    assert(fast.count() == ref.count())
    assert(fast.join(ref, "doc_id").where($"log_weight" =!= $"lw").count() == 0)
  }
}

package graft

import graft.agg.Aggs
import graft.dedup.Dedup
import graft.search.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shuffle-sizing validation at ~10x the bench SF (i.e. ~sf1) without
  * writing any data: each table is the sf0.1 parquet unioned N times
  * with shifted ids. Only the flagship shuffle-heavy operators run —
  * the point is to catch plans whose cost curves bend (candidate
  * explosions, single-reducer merges, skew) before a real cluster
  * does. Replicated docs are EXACT near-dup clone groups, which is the
  * worst case for the LSH verify stage and for connected components
  * (every group is a 10-clique), so the dedup numbers here are an
  * upper bound.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe [N]"
  */
object ScaleProbe {

  /** The ONE structured recall corpus both PQ-recall probes measure:
    * 4096 cluster centers, every vector = its center + 15%
    * deterministic splitmix64 noise, no clones — so the truth top-10
    * is 10 DISTINCT vectors and recall measures quantization quality.
    * A per-block copy would let the two probes drift onto different
    * corpora under a one-sided tweak. Returns the persisted frame,
    * the probe query vector, and the recall@10 scorer against the
    * int8-rescored truth set. */
  private def structuredRecallHarness(spark: org.apache.spark.sql.SparkSession,
      n: Int): (org.apache.spark.sql.DataFrame, Seq[Double],
        org.apache.spark.sql.DataFrame => Int) = {
    import spark.implicits._
    val nVec = 50000L * n
    val dim = 64; val clusters = 4096L
    def h(a: Long, b: Long): Double = {
      var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) & 0xFFFFFFL).toDouble / (1 << 24) - 0.5
    }
    val embR = spark.range(nVec).map { id =>
      val c = id % clusters
      val v = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        v(i) = (h(c * 131L + 7L, i.toLong) + 0.15 * h(id * 31L + 3L, i.toLong)).toFloat
        i += 1
      }
      (id, v)
    }.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    embR.count()
    val qv = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
    val truth = graft.sim.Ann.packedTopK(embR, "vec_id", "embedding",
      graft.index.PackedCodec.Int8, qv, k = 10, oversample = 8).select("id").collect().map(_.getLong(0)).toSet
    val r = (df: org.apache.spark.sql.DataFrame) =>
      df.select("id").collect().map(_.getLong(0)).count(truth.contains)
    (embR, qv, r)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    // optional 2nd arg: comma-separated substring filters — only
    // probes whose name contains one of them run (local iteration on
    // a single shape without paying for the dedup family at 30x)
    val only: Option[Seq[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def times(df: DataFrame, idCol: String, shift: Long): DataFrame =
      (0 until n).map(i => df.withColumn(idCol, col(idCol) + lit(i * shift)))
        .reduce(_ unionByName _)

    val docs = times(Tables.documents(spark, sfDir), "doc_id", 10000000L)
    val li = times(Tables.lineitem(spark, sfDir), "l_orderkey", 100000000L)

    // host load next to every number (the same starvation adjudication
    // BENCH carries since r6): loadavg plus the noise index
    // loadavg/nproc — a probe time at noise > ~0.5 is host-polluted
    def load(): (String, String) = try {
      val l = scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head
      (l, f"${l.toDouble / Runtime.getRuntime.availableProcessors()}%.2f")
    } catch { case _: Throwable => ("?", "?") }

    def time(name: String)(thunk: => Long): Unit = if (selected(name)) {
      val t0 = System.nanoTime()
      val rows = thunk
      val (l, ni) = load()
      // labels were written for the default 10x; report the ACTUAL
      // multiplier so a 30x/100x run's log can't be misread as 10x
      val shown = name.replaceAll("_10x$", s"_${n}x")
      println(f"[scaleprobe] $shown%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows, loadavg=$l noise=$ni)")
      // probes are billed standalone, same convention as Bench: drop
      // operator-cached intermediates (edge frames, shingle caches)
      // AFTER the timing so one probe's storage-pool residue can't
      // skew the next probe's measurement
      spark.catalog.clearCache()
    }

    time("tpch_q1_10x") {
      li.where(col("l_shipdate") <= "1998-09-02")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("s"), avg(col("l_extendedprice")).as("a"))
        .count()
    }
    time("percentiles_10x") {
      Aggs.percentilesExactDistributed(li, "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95)).count()
    }
    time("bm25_topk_10x") {
      Search.bm25TopK(docs, "doc_id", "text", "fast hash join", 10).count()
    }
    // r13: analyze-once BM25. The build pays the one-time corpus
    // tokenize (write-side, amortized across every later query); the
    // indexed query then reads only its own terms' postings — the
    // repeated-query win the probe pair quantifies against
    // bm25_topk_10x, which re-tokenizes the corpus per query.
    // r13: trainer-sized BPE — fit 512 merges (driver loop over the
    // word-count dictionary, like subword-nmt) and count the
    // replicated corpus through the compiled kernel; the 32-merge
    // oracle chain would be a 1024-deep expression tree here, the
    // kernel is one loop per row
    time("bpe_count_512merges_10x") {
      val merges = graft.text.Bpe.fit(
        Tables.documents(spark, sfDir), "text", 512)
      // head(), not count(): count over a global agg lets column
      // pruning drop the sum and the kernel below it — the probe
      // would then time only the driver-side fit
      docs.select(graft.text.Bpe.tokenCount(col("text"), merges).as("n"))
        .agg(sum(col("n"))).head().getLong(0)
    }
    time("bm25_index_build_10x") {
      val idx = "/tmp/graft_probe_bm25idx"
      docs.write.mode("overwrite").parquet(idx)
      graft.index.IndexArtifacts.buildAnalysis(spark, idx, "doc_id", "text")
      1L
    }
    time("bm25_indexed_query_10x") {
      Search.bm25ScoresIndexed(spark, "/tmp/graft_probe_bm25idx",
        "doc_id", "text", "fast hash join")
        .orderBy(col("score").desc, col("id").asc).limit(10).count()
    }
    time("minhash_pairs_10x") {
      Dedup.minhashLshUnsorted(docs, "doc_id", "text", 0.8).count()
    }
    // r13b: dedup-once — the artifact build pays the ref-side shingle
    // work ONCE; the indexed query tokenizes only the "new crawl"
    // (here: one replica) vs the on-the-fly cross screen that pays
    // both sides per run
    time("minhash_index_build_10x") {
      val idx = "/tmp/graft_probe_mhidx"
      docs.write.mode("overwrite").parquet(idx)
      graft.index.IndexArtifacts.buildMinhash(spark, idx, "doc_id", "text")
      1L
    }
    spark.catalog.clearCache()
    time("minhash_indexed_query_10x") {
      Dedup.minhashLshCrossIndexed(spark,
        Tables.documents(spark, sfDir)
          .withColumn("doc_id", col("doc_id") + lit(900000000L)),
        "/tmp/graft_probe_mhidx", "doc_id", "text", 0.8)
        .get.count()
    }
    spark.catalog.clearCache()
    time("minhash_cross_fly_10x") {
      Dedup.minhashLshCross(
        Tables.documents(spark, sfDir)
          .withColumn("doc_id", col("doc_id") + lit(900000000L)),
        docs, "doc_id", "text", 0.8).count()
    }
    spark.catalog.clearCache()
    // r13b: span removal under the clone worst case — EVERY window of
    // every non-first replica is cut, so the interval merge must
    // collapse per-doc cut lists to one span (the O(tokens x cuts)
    // hazard this probe exists to catch)
    time("dedup_spans_10x") {
      graft.text.TextAnalysis.removeDupSpans(docs, "doc_id", "text", 20).count()
    }
    spark.catalog.clearCache()
    // r13b: the wildcard-percolation EXPENSIVE class, quantified — 16
    // wildcard-only stored queries take match-all candidates by
    // construction (nothing to term-select), 16 term-anchored combos
    // stay selector-bounded; the gap is the documented cost of the
    // class, not a regression
    time("percolate_wild_10x") {
      import spark.implicits._
      val n = None: Option[String]
      val nd = None: Option[Double]
      val ni = None: Option[Int]
      val pats = Seq("*ash*", "f?st", "jo*", "*ble", "sc?n", "*erge*", "s?rt", "*ndex")
      val wildOnly = (0 until 16).map { i =>
        (s"wo$i", "must.0", "wildcard", Some(pats(i % pats.length)), n, nd, nd, n, ni)
      }
      val anchored = (0 until 16).flatMap { i =>
        Seq(
          (s"an$i", "must.0", "term", Some(Seq("fast", "hash", "join", "table")(i % 4)), n, nd, nd, n, ni),
          (s"an$i", "must.1", "wildcard", Some(pats(i % pats.length)), n, nd, nd, n, ni))
      }
      val registry = (wildOnly ++ anchored)
        .toDF("query_id", "path", "kind", "term",
          "range_field", "range_min", "range_max", "phrase", "msm")
      graft.search.Search.percolateBool(docs, "doc_id", "text", registry, Nil).count()
    }
    spark.catalog.clearCache()
    // r13b: span decontamination at corpus scale — the benchmark side
    // is FIXED (one un-replicated set), so cost must track the corpus
    // window pass; every replica of a benchmark doc is fully covered
    // (the all-occurrences-cut worst case)
    time("contamination_spans_10x") {
      graft.text.TextAnalysis.decontaminateSpans(
        docs, "doc_id", "text",
        Tables.documents(spark, sfDir).where(col("doc_id") < 25), "text", 10)
        .count()
    }
    spark.catalog.clearCache()
    // r13b: incremental analysis append — refresh cost must track the
    // increment (one replica), not the stored corpus (n replicas)
    time("analysis_refresh_1of10x") {
      val idx = "/tmp/graft_probe_bm25inc"
      docs.write.mode("overwrite").parquet(idx)
      graft.index.IndexArtifacts.buildAnalysis(spark, idx, "doc_id", "text")
      val t0 = System.nanoTime()
      Tables.documents(spark, sfDir)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
        .write.mode("append").parquet(idx)
      graft.index.IndexArtifacts.refreshAnalysis(spark, idx, "doc_id", "text")
      println(f"[scaleprobe]   refresh alone ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        " (build above included corpus write + full analysis)")
      1L
    }
    // isolate: the pairs run leaves its shingle/band caches resident;
    // without a clear, the clusters run rebuilds its own copies under
    // storage-pool pressure and eviction thrash moves the number 3x
    // (the r3 memory-sizing finding)
    spark.catalog.clearCache()
    time("dedup_clusters_10x") {
      Dedup.dedupClusters(
        Dedup.minhashLshUnsorted(docs, "doc_id", "text", 0.8)).count()
    }
    spark.catalog.clearCache()
    // chain-graph CC A/B (r14): a synthetic 200k-node path graph —
    // diameter 2*10^5, the adversarial shape for label propagation —
    // run through BOTH distributed CC formulations (the local regime
    // is forced off). minlabel needs O(log d) pointer-jumping rounds;
    // lss flattens stars and should converge in fewer, cheaper rounds.
    // Either way the exact min-label contract holds (count + spot
    // assert here; the full three-regime equality is spec-pinned).
    val chainN = 200000L * math.max(1, n / 10)
    val chainPairs = spark.range(1, chainN)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"), lit(1.0).as("jaccard"))
    for (algo <- Seq("lss", "minlabel")) {
      spark.conf.set("graft.dedup.ccAlgorithm", algo)
      time(s"cc_chain_${algo}_${chainN / 1000}k") {
        val r = Dedup.dedupClusters(chainPairs, maxIters = 40)
        val bad = r.where(col("cluster_id") =!= lit(1L)).count()
        require(bad == 0, s"$algo mislabeled $bad chain nodes")
        r.count()
      }
      spark.conf.unset("graft.dedup.ccAlgorithm")
      spark.catalog.clearCache()
    }
    time("simhash_pairs_10x") {
      Dedup.simhashPairs(docs, "doc_id", "text", 3).count()
    }
    // r4 additions — the new corpus-shuffling pipeline signals.
    // paragraph dedup shuffles (chunk_hash, id); replicated docs make
    // every chunk a 10x-duplicate (worst case for the count join).
    spark.catalog.clearCache()
    time("paragraph_dup_10x") {
      graft.text.TextAnalysis.paragraphDupRatio(docs, "doc_id", "text", 32).count()
    }
    // unigram surprisal explodes every token (the widest shuffle in
    // the text family: ~50-300 rows per doc) then re-joins the
    // vocabulary-sized count table
    time("lm_surprisal_10x") {
      graft.text.TextAnalysis.unigramSurprisal(docs, "doc_id", "text").count()
    }
    time("cum_cardinality_10x") {
      val ev = times(Tables.events(spark, sfDir), "user_id", 100000L)
      Aggs.cumulativeCardinality(ev, "user_id", expr("ts_ns div 3600000000000")).count()
    }
    // r4 batch 2: new shuffle shapes.
    // msearch: one shared scan, N predicates -> explode -> per-qid
    // window; the window state is k rows per query, so 10x data only
    // widens the scan+explode (linear)
    spark.catalog.clearCache()
    time("msearch_10x") {
      Search.msearch(docs, "doc_id",
        Seq(
          "m1" -> graft.dsl.QueryDsl.term(col("lang"), "en"),
          "m2" -> (col("n_chars") >= 400L),
          "m3" -> Search.matchQueryAnd(col("text"), "hash join")),
        "n_chars", 5).count()
    }
    // rrf: two corpus-sized retrievals, fusion itself is windowSize-
    // bounded — the probe confirms fusion stays invisible at 10x
    time("hybrid_rrf_10x") {
      val lex = Search.bm25Scores(docs, "doc_id", "text", "fast hash join")
      val emb = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val qv = array((0 until 64).map(i => lit((i * 37 % 100) / 100.0 - 0.5)): _*)
      // no transform() HOF for float->double: CosineSim declares
      // double-array inputs, so Catalyst inserts ONE native array
      // cast — the interpreted lambda was the probe's own 6x
      // super-linear factor at 30x (the library never had it)
      val sem = emb.select(col("vec_id").as("id"),
        graft.util.Num.round(
          graft.dedup.Vectors.cosine(col("embedding"), qv), 4).as("score"))
      Search.rrfTopK(Seq(lex, sem), 60, 50, 10).count()
    }
    // frequent_item_sets: A-Priori pre-prune + degenerate-basket drop
    // guard (window count on the join's own exchange) + basket-key-
    // local self-join — quadratic only in the post-prune capped basket
    // size (bounded ~7 here), linear in basket count (r11 measured
    // 10x 16.9 s -> 30x 39.4 s = 2.3x for 3x data, noise 0.27/0.56)
    time("frequent_items_10x") {
      val part = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
      Aggs.frequentItemSets(
        li.join(broadcast(part), col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand", minSupport = 50).count()
    }
    // per-row polygon ray cast: map-only compiled loop, no shuffle
    time("geo_shape_indexed_10x") {
      val c = times(Tables.customer(spark, sfDir), "c_custkey", 10000000L)
        .withColumn("lat", (col("c_custkey") % 18000L) / 100.0 - 90.0)
        .withColumn("lon", (col("c_custkey") % 36000L) / 100.0 - 180.0)
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double"))
        .withColumn("lats", array(col("lat") + col("an"), col("lat"),
          col("lat") - col("an"), col("lat")))
        .withColumn("lons", array(col("lon"), col("lon") + col("an"),
          col("lon"), col("lon") - col("an")))
      c.where(graft.rel.Relational.shapeContainsPoint(
        col("lats"), col("lons"), 5.1234567, 10.7654321)).count()
    }
    // r4 batch 3 shapes.
    // sparse_vector: map-only compiled dot product + one top-k — the
    // probe confirms strictly linear scaling (no shuffle to widen)
    spark.catalog.clearCache()
    time("sparse_vector_10x") {
      Search.sparseVectorTopK(docs, "doc_id", "text",
        Seq("vector" -> 1.2, "hash" -> 0.8, "merge" -> 0.5), 15).count()
    }
    // ES SQL SCORE(): bm25 postings frame joined BACK to the base
    // relation on the id — the join's left side is corpus-sized, so
    // this is the one new shape that grows a real shuffle at 10x
    // (score side stays posting-bounded; AQE should broadcast it)
    time("essql_score_10x") {
      val scores = Search.bm25Scores(docs, "doc_id", "text", "vector join")
        .withColumnRenamed("id", "doc_id")
      docs.join(scores, Seq("doc_id"), "left")
        .where(col("score").isNotNull).count()
    }
    // parent agg: children partial-agg first, then the compact join
    time("parent_agg_10x") {
      val ord = times(Tables.orders(spark, sfDir), "o_orderkey", 100000000L)
      Aggs.parentAgg(ord, li, "o_orderkey", "l_orderkey",
        "o_orderstatus", "l_quantity").count()
    }
    // r6 shapes.
    // corpus n-gram heavy hitters: the exchange carries (ngram,
    // partial-count) pairs — vocabulary-bounded per partition, so the
    // replicated corpus (identical vocab) should grow runtime with
    // the SCAN, not the exchange
    spark.catalog.clearCache()
    time("ngram_topk_10x") {
      graft.text.TextAnalysis.ngramTopK(docs, "text", 3, 20).count()
    }
    // rank_vectors maxSim: per-row compiled dot kernels + one
    // partial agg of per-query maxima per doc (a few doubles per doc
    // across the exchange)
    time("maxsim_10x") {
      val emb = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val q1 = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      val q2 = (0 until 64).map(i => (i * 53 % 100) / 100.0 - 0.5)
      graft.sim.Ann.maxSimTopK(
        emb.withColumn("doc_id", pmod(col("vec_id"), lit(500L))),
        "doc_id", "embedding", Seq(q1, q2), 10).count()
    }
    // TSDS time_series: one partial agg per dimension tuple — series
    // cardinality is fixed while events grow 10x, so the exchange is
    // constant-size and the probe should scale with the scan
    time("time_series_10x") {
      val ev = times(Tables.events(spark, sfDir), "user_id", 100000L)
      graft.sources.Downsample.timeSeriesAgg(
        ev.withColumn("shard", pmod(col("user_id"), lit(3)).cast("string")),
        "ts_ns", Seq("event_type", "shard"), "value").count()
    }
    // multivalue sort mode: group-local collect + narrow fold, one
    // ordered limit — the collect_list shuffle carries quantities
    // only (no wide rows)
    time("sort_mode_10x") {
      val qty = li.groupBy(col("l_orderkey"))
        .agg(collect_list(col("l_quantity")).as("qtys"))
      val ord = times(Tables.orders(spark, sfDir), "o_orderkey", 100000000L)
      ord.join(qty, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          graft.search.Sorting.key("""{"qtys": {"mode": "median"}}""").as("qty_median"))
        .orderBy(col("qty_median").desc, col("o_orderkey"))
        .limit(100).count()
    }
    // r7 shapes ------------------------------------------------------
    val emb = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
    time("knn_rescore_10x") {
      // coarse quantized pass over the full corpus + exact rescore on
      // the 40-row window — the cost curve must track the corpus scan
      graft.sim.Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int8,
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4).count()
    }
    time("knn_multi_10x") {
      graft.sim.Ann.knnMultiTopK(emb, "vec_id", "embedding",
        Seq(((0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5), 20),
          ((0 until 64).map(i => (i * 53 % 100) / 100.0 - 0.5), 20)), k = 10).count()
    }
    // r14: the quantized-storage family side by side — int8 (4x),
    // int4 half-byte (8x), BBQ 1-bit (32x). All three pay one coarse
    // corpus pass + the same 40-row exact rescore; the int4/bbq coarse
    // passes read only their packed artifacts, so the curves should
    // order by bytes touched at IO-bound scale (CPU-bound here).
    time("knn_int4_10x") {
      graft.sim.Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int4,
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4).count()
    }
    time("knn_bbq_10x") {
      graft.sim.Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Bbq,
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4).count()
    }
    time("knn_pq_10x") {
      // the 128x point: 4 code bytes/doc, coarse pass = 4 LUT lookups
      graft.sim.Ann.pqTopK(emb, "vec_id", "embedding",
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4).count()
    }
    time("knn_ivfadc_10x") {
      // IVFADC on the fly: re-derives quantizer + assignments + codes
      // per query — the number that shows WHY IVFADC is an index
      graft.sim.Ann.ivfAdcTopK(emb, "vec_id", "embedding",
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4, nCentroids = 16, nprobe = 4).count()
    }
    // persisted sign bits: the coarse pass reads 16 bytes/doc.
    // Always rebuild, outside the timed query (like ivfadc_index_build):
    // a path reused across runs at a different multiplier or regenerated
    // testdata would silently measure a stale corpus.
    locally {
      val idx = "/tmp/graft_probe_bbqidx"
      time("bbq_index_build_10x") {
        graft.sources.Connector.save(emb, idx, Map(
          "graft.write.operation" -> "overwrite",
          "graft.mapping.id" -> "vec_id",
          "graft.index.bbq" -> "embedding"))
        spark.catalog.clearCache()
        0L
      }
      time("bbq_indexed_query_10x") {
        graft.sim.Ann.packedTopKIndexed(spark, idx, "vec_id", "embedding",
          graft.index.PackedCodec.Bbq, (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
          k = 10, oversample = 4).get.count()
      }
    }
    if (selected("ivf_balance")) {
      // the new list-balance report comparing the two quantizer fits:
      // the seed quantizer trades list balance for zero fit cost;
      // this measures what kmeans buys back (imbalance = max/avg —
      // probe cost at scale is proportional to probed list sizes)
      val idx = "/tmp/graft_probe_ivfbal"
      Seq("seed", "kmeans").foreach { fit =>
        graft.sources.Connector.save(Tables.embeddings(spark, sfDir), idx, Map(
          "graft.write.operation" -> "overwrite",
          "graft.mapping.id" -> "vec_id",
          "graft.index.vectors" -> "embedding",
          "graft.index.vectors.centroids" -> "16",
          "graft.index.vectors.fit" -> fit))
        spark.catalog.clearCache()
        val st = graft.index.IndexArtifacts.ivfListStats(spark, idx, "embedding").get.head()
        println(s"[scaleprobe] ivf_balance fit=$fit min=${st.getLong(3)} " +
          s"max=${st.getLong(4)} imbalance=${st.getDouble(5)}")
      }
    }
    if (selected("pq_recall_real")) {
      // the clone-replication caveat, FIXED at the measurement: a
      // structured synthetic corpus at TRUE n x scale — 4096 cluster
      // centers, every vector = its center + 15% deterministic
      // per-vector noise (splitmix64-hash pseudo-randomness, so the
      // corpus is reproducible without Math.random). No clones: the
      // truth top-10 is 10 DISTINCT vectors, so recall measures
      // quantization quality, not the replication artifact. Cluster
      // structure is what real embedding corpora have — quantization's
      // friendly case, as isotropic testdata is its worst case; both
      // ledgers stay recorded. (Corpus + truth harness shared with
      // pq_hires_sweep — ONE definition, structuredRecallHarness.)
      val (embR, qv, r) = structuredRecallHarness(spark, n)
      val nVec = 50000L * n
      val sample = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 8))
      val lloyd = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 8, codebooks = Some(
          graft.sim.Ann.pqFitCodebooks(embR, "vec_id", "embedding", m = 4, k = 16))))
      val dist = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 8, codebooks = Some(
          graft.sim.Ann.pqFitCodebooksDist(embR, "vec_id", "embedding", m = 4, k = 16))))
      val cbD8 = graft.sim.Ann.pqFitCodebooksDist(embR, "vec_id", "embedding", m = 8, k = 64)
      val distBig = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 40, m = 8, codebookSize = 64, codebooks = Some(cbD8)))
      println(s"[scaleprobe] pq_recall_real_${n}x   recall@10 over ${nVec} structured vectors: " +
        s"sample(4x16,w80)=$sample/10 lloyd(4x16,w80)=$lloyd/10 " +
        s"lloyd-dist(4x16,w80)=$dist/10 lloyd-dist(8x64,w400)=$distBig/10")
      // the sizing rule as a PRESCRIPTION: oversample such that
      // corpus/window <= m*k (what the guard tells the caller to do)
      val ruleOs = math.max(40L, nVec / (8 * 64 * 10) + 1).toInt
      val distRule = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = ruleOs, m = 8, codebookSize = 64, codebooks = Some(cbD8)))
      println(s"[scaleprobe] pq_recall_real_${n}x   rule-sized window w=${10 * ruleOs}: " +
        s"lloyd-dist(8x64)=$distRule/10")
      val sweepR = Seq(1, 2, 4, 8, 16).map { np =>
        np -> r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
          k = 10, oversample = 40, nCentroids = 16, nprobe = np,
          m = 8, codebookSize = 64, codebooks = Some(cbD8)))
      }
      println(s"[scaleprobe] ivfadc_nprobe_real_${n}x curve(8x64,w400,lloyd-dist): " +
        sweepR.map { case (np, rc) => s"np$np=$rc/10" }.mkString(" "))
      // trained vs seed COARSE quantizer at EQUAL nprobe, both under
      // the AUTO rule-sized window (r16): the composition the
      // q_ivf_list_stats balance report prices — balanced kmeans
      // lists cover the query's true neighborhood at lower probe cost
      val kmCents = graft.sim.Ann.kmeansCentroids(embR, "vec_id", "embedding",
        k = 16, iters = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kmCents.count()
      val sweepT = Seq(1, 2, 4).map { np =>
        val seed = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
          k = 10, oversample = 0, nCentroids = 16, nprobe = np,
          m = 8, codebookSize = 64, codebooks = Some(cbD8)))
        val trained = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
          k = 10, oversample = 0, nCentroids = 16, nprobe = np,
          m = 8, codebookSize = 64, codebooks = Some(cbD8),
          coarseCents = Some(kmCents)))
        (np, seed, trained)
      }
      println(s"[scaleprobe] ivfadc_trained_real_${n}x seed-vs-kmeans coarse (8x64, auto window): " +
        sweepT.map { case (np, sd, tr) => s"np$np seed=$sd/10 kmeans=$tr/10" }.mkString(" "))
      // r17: the nprobe RAIL measured — nprobe = 0 (auto: mass walk +
      // sqrt spread floor) on both coarse quantizers, recording what
      // the rail resolved and the recall it bought; the question the
      // ledger answers is whether the rule's resolution sits at or
      // past the measured seed/kmeans crossover
      val autoSeed = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 0, nCentroids = 16, nprobe = 0,
        m = 8, codebookSize = 64, codebooks = Some(cbD8)))
      val npSeed = graft.sim.Ann.lastNprobeResolved.getOrElse(-1)
      val autoTrained = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 0, nCentroids = 16, nprobe = 0,
        m = 8, codebookSize = 64, codebooks = Some(cbD8),
        coarseCents = Some(kmCents)))
      val npTrained = graft.sim.Ann.lastNprobeResolved.getOrElse(-1)
      println(s"[scaleprobe] ivfadc_autonp_real_${n}x auto-nprobe rail (8x64, auto window): " +
        s"seed np=$npSeed recall=$autoSeed/10 kmeans np=$npTrained recall=$autoTrained/10")
      // r17: the RESOLUTION prescription, measured — where the 30x
      // point starves at 8x64 under every probe setting, the window
      // warning says "raise m*ck": 16x256 (4096 reproduction values)
      // at the SAME rail settings should buy recall back with the
      // rule window at corpus/4096
      val cbD16 = graft.sim.Ann.pqFitCodebooksDist(embR, "vec_id", "embedding",
        m = 16, k = 256)
      val hi = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 0, nCentroids = 16, nprobe = 0,
        m = 16, codebookSize = 256, codebooks = Some(cbD16),
        coarseCents = Some(kmCents)))
      val npHi = graft.sim.Ann.lastNprobeResolved.getOrElse(-1)
      val hiPq = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 0, m = 16, codebookSize = 256, codebooks = Some(cbD16)))
      println(s"[scaleprobe] ivfadc_hires_real_${n}x 16x256 lloyd-dist at the rail " +
        s"(auto window + auto nprobe): kmeans np=$npHi recall=$hi/10, " +
        s"plain-PQ rule window recall=$hiPq/10")
      kmCents.unpersist()
      embR.unpersist()
      spark.catalog.clearCache()
    }
    if (selected("pq_hires_sweep")) {
      // r17 follow-up to ivfadc_hires_real: at 16x256 resolution the
      // rail's spread-floor nprobe (4 of 16) read 6/10 at 30x — is the
      // remaining gap really coarse-probe COVERAGE (closes as nprobe
      // grows) and not residual codebook starvation (wouldn't)? Fit
      // once, sweep nprobe at the auto window; np16 ≡ probing every
      // list, which must converge to the plain-PQ rule-window number.
      val (embR, qv, r) = structuredRecallHarness(spark, n)
      val kmCents = graft.sim.Ann.kmeansCentroids(embR, "vec_id", "embedding",
        k = 16, iters = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kmCents.count()
      val cbD16 = graft.sim.Ann.pqFitCodebooksDist(embR, "vec_id", "embedding",
        m = 16, k = 256)
      val sweep = Seq(0, 8, 16).map { np =>
        val got = r(graft.sim.Ann.ivfAdcTopK(embR, "vec_id", "embedding", qv,
          k = 10, oversample = 0, nCentroids = 16, nprobe = np,
          m = 16, codebookSize = 256, codebooks = Some(cbD16),
          coarseCents = Some(kmCents)))
        val resolved = if (np == 0) graft.sim.Ann.lastNprobeResolved.getOrElse(-1) else np
        (np, resolved, got)
      }
      val pq = r(graft.sim.Ann.pqTopK(embR, "vec_id", "embedding", qv,
        k = 10, oversample = 0, m = 16, codebookSize = 256, codebooks = Some(cbD16)))
      println(s"[scaleprobe] pq_hires_sweep_${n}x 16x256 kmeans-coarse nprobe sweep (auto window): " +
        sweep.map { case (np, res, got) =>
          (if (np == 0) s"auto(np=$res)" else s"np$np") + s"=$got/10"
        }.mkString(" ") + s" plainPQ=$pq/10")
      kmCents.unpersist()
      embR.unpersist()
      spark.catalog.clearCache()
    }
    if (selected("link_rank")) {
      // the r17 link-graph iterate shape at scale: 100k*n hosts with 5
      // residue-arithmetic out-edges each (deterministic, no shuffle to
      // build), 3 integer-PageRank iterations. The curve to watch: each
      // iteration is one ranks⋈edges hash join + one partial-agg
      // groupBy, both hash-partitioned on the join key — cost should
      // track |E| linearly, with the truncate paying a
      // materialization of |V| rows per round. scale rises with n per
      // the >=1000-units-per-node rule.
      import org.apache.spark.sql.functions.{array, explode, pmod}
      val nHosts = 100000L * n
      val t0 = System.nanoTime()
      val edges = spark.range(nHosts).select(
          concat(lit("h"), col("id")).as("src_host"), col("id"))
        .select(col("src_host"), explode(array((1 to 5).map(k =>
          pmod(col("id") * 31 + lit(k * 7), lit(nHosts))): _*)).as("dst"))
        .select(col("src_host"), concat(lit("h"), col("dst")).as("dst_host"),
          (pmod(col("dst"), lit(3)) + 1).as("weight"))
      val ranks = graft.text.LinkGraph.pageRankInt(edges, iters = 3,
        scale = nHosts * 1000L)
      val cnt = ranks.count()
      val topRank = ranks.agg(org.apache.spark.sql.functions.max("rank"))
        .collect()(0).getLong(0)
      println(f"[scaleprobe] link_rank_${n}x     3-iter integer PageRank over " +
        f"$cnt hosts / ${nHosts * 5} edges: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"(top rank $topRank, scale ${nHosts * 1000L})")
      spark.catalog.clearCache()
    }
    if (selected("pq_recall")) {
      // recall of the PQ family vs the (near-exact) int8-rescored
      // reference at the same k: sample codebooks vs lloyd-trained vs
      // the IVF-gated composition — the quality ledger beside the
      // wall-time ledger
      val qv = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      val truth = graft.sim.Ann.packedTopK(emb, "vec_id", "embedding",
        graft.index.PackedCodec.Int8, qv, k = 10, oversample = 8).select("id").collect().map(_.getLong(0)).toSet
      def r(df: org.apache.spark.sql.DataFrame): Int =
        df.select("id").collect().map(_.getLong(0)).count(truth.contains)
      val sample = r(graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 8))
      val lloyd = r(graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 8, codebooks = Some(
          graft.sim.Ann.pqFitCodebooks(emb, "vec_id", "embedding", m = 4, k = 16))))
      // the resolution ladder: more subspaces x codewords + a wider
      // window — the published PQ answer to recall at corpus scale
      val lloydBig = r(graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 40, m = 8, codebookSize = 64, codebooks = Some(
          graft.sim.Ann.pqFitCodebooks(emb, "vec_id", "embedding", m = 8, k = 64))))
      val ivfadc = r(graft.sim.Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 8, nCentroids = 16, nprobe = 4))
      println(s"[scaleprobe] pq_recall_${n}x        recall@10: " +
        s"sample(4x16,w80)=$sample/10 lloyd(4x16,w80)=$lloyd/10 " +
        s"lloyd(8x64,w400)=$lloydBig/10 ivfadc(4/16)=$ivfadc/10")
      // r15: the DISTRIBUTED unbiased fit beside the driver fits —
      // same resolutions, same windows, so the fit is the only delta.
      // The 8x64 fit is deterministic (spec-pinned), so one model
      // serves both the plain-PQ point and the IVFADC sweep below.
      val cbDist8 = graft.sim.Ann.pqFitCodebooksDist(
        emb, "vec_id", "embedding", m = 8, k = 64)
      val lloydDist = r(graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 8, codebooks = Some(
          graft.sim.Ann.pqFitCodebooksDist(emb, "vec_id", "embedding", m = 4, k = 16))))
      val lloydDistBig = r(graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", qv,
        k = 10, oversample = 40, m = 8, codebookSize = 64, codebooks = Some(cbDist8)))
      println(s"[scaleprobe] pq_recall_dist_${n}x   recall@10: " +
        s"lloyd-dist(4x16,w80)=$lloydDist/10 lloyd-dist(8x64,w400)=$lloydDistBig/10")
      // r15: the "raise nprobe to buy recall back" guidance as a
      // MEASURED curve (IVF list-miss is the recall loss mode here;
      // nprobe=nCentroids degenerates to plain PQ over the corpus)
      val sweep = Seq(1, 2, 4, 8, 16).map { np =>
        np -> r(graft.sim.Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
          k = 10, oversample = 8, nCentroids = 16, nprobe = np))
      }
      println(s"[scaleprobe] ivfadc_nprobe_${n}x    curve(4x16,w80): " +
        sweep.map { case (np, rc) => s"np$np=$rc/10" }.mkString(" "))
      // the same sweep at the WELL-SIZED resolution/window (8x64,
      // w400): with the window no longer binding, nprobe is the only
      // recall lever left and the curve must rise toward the plain-PQ
      // ceiling at nprobe = nCentroids
      val sweepBig = Seq(1, 2, 4, 8, 16).map { np =>
        np -> r(graft.sim.Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
          k = 10, oversample = 40, nCentroids = 16, nprobe = np,
          m = 8, codebookSize = 64))
      }
      println(s"[scaleprobe] ivfadc_nprobe_${n}x    curve(8x64,w400): " +
        sweepBig.map { case (np, rc) => s"np$np=$rc/10" }.mkString(" "))
      // IVFADC over the LLOYD-DIST codebooks (the r14 verdict's ask):
      // fit quality and list gating compose — same sweep, trained fit
      val sweepDist = Seq(2, 4, 8, 16).map { np =>
        np -> r(graft.sim.Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
          k = 10, oversample = 40, nCentroids = 16, nprobe = np,
          m = 8, codebookSize = 64, codebooks = Some(cbDist8)))
      }
      println(s"[scaleprobe] ivfadc_nprobe_${n}x    curve(8x64,w400,lloyd-dist): " +
        sweepDist.map { case (np, rc) => s"np$np=$rc/10" }.mkString(" "))
      spark.catalog.clearCache()
    }
    time("ivfadc_index_build_10x") {
      val idx = "/tmp/graft_probe_ivfadc"
      graft.sources.Connector.save(emb, idx, Map(
        "graft.write.operation" -> "overwrite",
        "graft.mapping.id" -> "vec_id",
        "graft.index.vectors" -> "embedding",
        "graft.index.vectors.centroids" -> "16",
        "graft.index.pq" -> "embedding"))
      1L
    }
    spark.catalog.clearCache()
    time("ivfadc_indexed_query_10x") {
      // the production shape: probe + m-byte ADC over stored
      // assignments/codes + O(k*oversample) raw rows
      graft.sim.Ann.ivfAdcTopKIndexed(spark, "/tmp/graft_probe_ivfadc",
        "vec_id", "embedding",
        (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5),
        k = 10, oversample = 4, nprobe = 4).get.count()
    }
    time("warc_roundtrip_10x") {
      // the CC ingestion shape at n x docs: serialize real .warc.gz
      // (one gzip member per record) and stream-parse it all back —
      // write and read are both one-pass-per-task, no shuffle
      val tmp = java.nio.file.Files.createTempDirectory("graft_probe_warc").toString
      graft.sources.Warc.saveWarc(
        docs.select(
          concat(lit("https://t/"), col("doc_id")).as("uri"),
          lit("text/plain").as("mime"),
          encode(col("text"), "UTF-8").as("body")),
        tmp, "2026-01-01T00:00:00Z")
      val n = graft.sources.Warc.warcDF(spark, tmp).count()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      n
    }
    time("wet_extract_10x") {
      // the full crawl-to-WET shape at n x docs: WARC-in (real bytes)
      // -> html strip -> WET-out (warcinfo + conversion members) ->
      // streaming WET read-back; both sinks one-pass-per-task
      val wtmp = java.nio.file.Files.createTempDirectory("graft_probe_warcsrc").toString
      val wetTmp = java.nio.file.Files.createTempDirectory("graft_probe_wet").toString
      graft.sources.Warc.saveWarc(
        docs.select(
          concat(lit("https://t/"), col("doc_id")).as("uri"),
          lit("text/html").as("mime"),
          encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
            "UTF-8").as("body")),
        wtmp, "2026-01-01T00:00:00Z")
      graft.sources.Warc.saveWet(
        graft.sources.Warc.warcDF(spark, wtmp)
          .where(col("http_status") === 200)
          .select(col("target_uri").as("uri"), col("record_id").as("refers_to"),
            trim(graft.analysis.Analyzer.htmlStrip(decode(col("body"), "UTF-8"))).as("text")),
        wetTmp, "2026-01-01T00:00:00Z")
      val nOut = graft.sources.Warc.warcDF(spark, wetTmp)
        .where(col("warc_type") === "conversion").count()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wtmp))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wetTmp))
      nOut
    }
    time("jpeg_stats_10x") {
      // the lossy-codec path at n x docs: encode real JFIF bytes AND
      // re-decode for stats — map-only both ways, prices the codec
      graft.multimodal.Multimodal.jpegPixelStats(spark,
        graft.multimodal.Multimodal.jpegMediaTable(spark, docs)).count()
    }
    time("bpe_fit_dist_10x") {
      // the distributed tokenizer trainer at n x docs: 16 merge
      // rounds, each one pair-count job + one argmax row to the
      // driver; vocab localCheckpoints per round so the plan depth
      // stays constant across rounds
      graft.text.Bpe.fitDist(docs, "text", nMerges = 16).size.toLong
    }
    time("fft_spectral_10x") {
      // the audio feature path at n x docs: encode real PCM WAVs AND
      // chunk-walk + radix-2 FFT each back — map-only both ways, so
      // this prices the DSP kernel itself (O(N log N) per row, bounded
      // window memory), not a shuffle
      graft.multimodal.Multimodal.spectralFeatures(spark,
        graft.multimodal.Multimodal.toneMediaTable(spark, docs)).count()
    }
    time("av_census_10x") {
      // top-of-funnel media triage at n x docs: header-walk every
      // format family + torn assets, format-count exchange carries one
      // row per format
      graft.multimodal.Multimodal.mediaCensus(spark,
        graft.multimodal.Multimodal.censusMediaTable(docs)).count()
    }
    time("gif_frames_10x") {
      // the full video-shaped path at n x docs: encode real animated
      // GIFs AND LZW-decode the kept frames — map-only both ways, so
      // this prices the codec itself, not a shuffle
      graft.multimodal.Multimodal.gifFrameStats(spark,
        graft.multimodal.Multimodal.gifMediaTable(spark, docs), stride = 2).count()
    }
    time("transform_latest_10x") {
      // max_by partial agg: the exchange must carry |keys| rows
      val ev = times(Tables.events(spark, sfDir), "event_id", 100000000L)
      graft.streaming.Transforms.latest(ev, "user_id", "ts_ns", "event_id",
        Seq("event_id", "event_type", "value")).count()
    }
    time("nested_score_10x") {
      val ord = times(Tables.orders(spark, sfDir), "o_orderkey", 100000000L)
      graft.rel.Relational.nestedScore(ord, li, "o_orderkey", "l_orderkey",
        col("l_quantity") > 45, col("l_quantity"), "avg").count()
    }
    time("eql_sequence_10x") {
      // 1M events, 3-step funnel + until: one key shuffle, 3 window
      // passes — per-key linear, must stay flat at any multiple
      val ev = times(Tables.events(spark, sfDir), "event_id", 100000000L)
      graft.dsl.Eql.sequence(ev, "user_id", "ts_ns", "event_id",
        Seq(("view", lit(true)), ("click", lit(true)), ("purchase", lit(true))),
        maxspanNs = 86400L * 1000000000L,
        until = Some(("error", lit(true)))).count()
    }
    time("terms_shard_error_10x") {
      // the rank window runs over |shards|*|terms| rows, never docs —
      // must stay flat as docs multiply
      Aggs.termsAggShardError(docs, "source", "doc_id",
        size = 10, shards = 16, shardSize = 5).count()
    }
    time("dedup_incremental_10x") {
      // worst case: the replicas are exact clone groups spanning the
      // old/new boundary, so EVERY new doc has an old partner
      Dedup.dedupIncrementalNewIds(docs, "doc_id", "text",
        pmod(col("doc_id"), lit(2L)) === 1L, 0.8).count()
    }
    time("mix_sample_10x") {
      graft.text.TextAnalysis.mixSample(docs, "source", "doc_id").count()
    }
    // r8 shapes ------------------------------------------------------
    time("embed_dedup_lsh_10x") {
      // SRP-blocked embedding dedup on the UNLABELED replicated
      // corpus: replicas are exact vector clones, so every clone
      // group shares all table buckets (the worst case, like the
      // minhash probe). The candidate count below is the
      // bucket-boundedness evidence: ~sum over buckets of C(n_b, 2),
      // NOT C(N, 2).
      Dedup.embeddingPairsLshUnsorted(
        emb, "vec_id", "embedding", dim = 64, tables = 4).count()
    }
    time("percolate_dsl_500k") {
      // registry-as-data DSL percolation with a 500k-query registry:
      // the registry is never inlined into the plan — the probe
      // measures the exploded-registry exchange at millions-of-terms
      // scale. 1-in-500 queries use real vocabulary (+ range); the
      // rest carry a never-matching term, keeping the OUTPUT bounded
      // while the join machinery sees the full registry.
      val vocab = Array("key", "agg", "row", "scan", "slow",
        "fast", "table", "value", "part", "hash")
      val reg = spark.range(500000).select(
        concat(lit("q"), col("id")).as("query_id"),
        when(col("id") % 500 === 0,
          array(element_at(lit(vocab), (pmod(col("id"), lit(10)) + 1).cast("int")), lit("merge")))
          .otherwise(array(concat(lit("zz"), col("id")), lit("table"))).as("terms"),
        when(col("id") % 500 === 0, lit("n_chars"))
          .otherwise(lit(null).cast("string")).as("range_field"),
        lit(100.0).as("range_min"), lit(450.0).as("range_max"),
        lit(null).cast("string").as("phrase"))
      Search.percolateDsl(docs, "doc_id", "text", reg, Seq("n_chars")).count()
    }
    time("percolate_bool_500k") {
      // r13: nested-bool registry percolation at 500k stored trees
      // (2M clause rows) — every query is must[selector] AND
      // should(merge|sort), so candidates stay bounded by the
      // selector term's postings exactly like the flat DSL path;
      // 1-in-500 queries carry real vocabulary, the rest a
      // never-matching selector (df=0 kills their candidates).
      val vocab = Array("key", "agg", "row", "scan", "slow",
        "fast", "table", "value", "part", "hash")
      val ns = lit(null).cast("string")
      val nd = lit(null).cast("double")
      val ni = lit(null).cast("int")
      def clause(path: String, kind: String, term: org.apache.spark.sql.Column) = struct(
        lit(path).as("path"), lit(kind).as("kind"), term.as("term"),
        ns.as("range_field"), nd.as("range_min"), nd.as("range_max"),
        ns.as("phrase"), ni.as("msm"))
      val reg = spark.range(500000).select(
        concat(lit("q"), col("id")).as("query_id"),
        explode(array(
          clause("must.0", "term",
            when(col("id") % 500 === 0,
              element_at(lit(vocab), (pmod(col("id"), lit(10)) + 1).cast("int")))
              .otherwise(concat(lit("zz"), col("id")))),
          clause("must.1", "bool", ns),
          clause("must.1/should.0", "term", lit("merge")),
          clause("must.1/should.1", "term", lit("sort")))).as("c"))
        .select(col("query_id"), col("c.*"))
      Search.percolateBool(docs, "doc_id", "text", reg, Seq("n_chars")).count()
    }
    // ANN recall probe: lsh/ivf top-10 vs brute-force ground truth
    // over the replicated corpus; the number printed is mean
    // recall@10 across the 5 probe queries — the honest accuracy
    // figure for "IVF/LSH as the HNSW stand-in" (SURVEY §4).
    locally {
      val queries = emb.where(col("vec_id") < 5)
      lazy val truth = graft.sim.Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select(col("query_id"), col("id"))
      def recall(name: String, approx: => DataFrame): Unit = if (selected(name)) {
        val t0 = System.nanoTime()
        val hit = truth.join(approx.select(col("query_id"), col("id")),
          Seq("query_id", "id")).groupBy("query_id")
          .agg(count(lit(1)).as("hits"))
        val r = hit.agg(avg(col("hits") / 10.0)).head().getDouble(0)
        val (l, ni) = load()
        println(f"[scaleprobe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (recall@10 = $r%.3f, loadavg=$l noise=$ni)")
      }
      recall("ann_lsh_recall_10x",
        graft.sim.Ann.lshTopK(emb, queries, "vec_id", "embedding", dim = 64, k = 10))
      recall("ann_ivf_recall_10x",
        graft.sim.Ann.ivfTopK(emb, queries, "vec_id", "embedding",
          nCentroids = 16, nprobe = 4, k = 10))
      // graph ANN: per-partition NSW build dominates (corpus streams
      // once through mapPartitions); recall floor is the r10 contract
      recall("ann_hnsw_recall_10x",
        graft.sim.Ann.hnswTopK(emb, queries, "vec_id", "embedding", k = 10))
      // r13: persisted IVF — the build pays quantizer + corpus
      // assignment once (write-side); the indexed query is probe+rank
      // only. The pair quantifies "query cost independent of fit
      // cost" against ann_ivf_recall_10x's fit-per-query time.
      time("ivf_index_build_10x") {
        val idx = "/tmp/graft_probe_ivfidx"
        emb.write.mode("overwrite").parquet(idx)
        graft.index.IndexArtifacts.buildIvf(spark, idx, "vec_id", "embedding",
          graft.sim.Ann.seedCentroids(emb, "vec_id", "embedding", 16))
        1L
      }
      time("ivf_indexed_query_10x") {
        graft.sim.Ann.ivfTopKIndexed(spark, "/tmp/graft_probe_ivfidx",
          queries, "vec_id", "embedding",
          nCentroids = 16, nprobe = 4, k = 10).count()
      }
      // r13: persisted HNSW — graph build frozen at write time; the
      // indexed query reloads stored graphs and beam-searches only.
      // Compare against ann_hnsw_recall_10x, which rebuilds the
      // graphs inside every query.
      time("hnsw_index_build_10x") {
        val idx = "/tmp/graft_probe_hnswidx"
        emb.write.mode("overwrite").parquet(idx)
        graft.sim.Ann.buildHnsw(spark, idx, "vec_id", "embedding")
        1L
      }
      time("hnsw_indexed_query_10x") {
        graft.sim.Ann.hnswTopKIndexed(spark, "/tmp/graft_probe_hnswidx",
          queries, "vec_id", "embedding", k = 10).count()
      }
    }
    // t-digest percentiles vs the exact sort-selection above
    // (percentiles_10x): the sketch exchange carries O(compression)
    // centroids per partition instead of sort-selecting the corpus —
    // this is the 100 TB percentile plan, and its probe point
    time("tdigest_pctl_10x") {
      li.agg(graft.agg.TDigest.percentilesCol(
        "l_extendedprice", Seq(0.25, 0.5, 0.95)).as("p")).count()
    }
    // bloom membership screen: seen-side bloom build is the one
    // aggregation; the batch pass is map-side might-contain + a
    // candidate-bounded semi join. Texts are made UNIQUE per row
    // (content || id) so the verify join sees only bloom false
    // positives (~fpp of the batch) — the realistic screen shape; the
    // replicated corpus's identical texts would instead make every
    // row a duplicate and rehearse the all-dup worst case, which the
    // exact verify handles but which measures the join, not the bloom
    time("dedup_bloom_10x") {
      val uniq = docs.withColumn("utext",
        concat(col("text"), lit(" #"), col("doc_id")))
      Dedup.bloomScreenNew(
        uniq.where(col("doc_id") % 3 =!= 0), uniq.where(col("doc_id") % 3 === 0),
        "doc_id", "utext", expectedSeen = 200000L * n, fpp = 0.01).count()
    }
    // substring screen: the widest text exchange in the family —
    // one (hash, count) pair PER TOKEN POSITION; replicated docs make
    // every span a clone-group duplicate (worst case for the count
    // join), so this bounds the shape from above
    time("dedup_substring_10x") {
      graft.text.TextAnalysis.substringDupSpans(docs, "doc_id", "text", 20).count()
    }
    time("dedup_lines_10x") {
      // boilerplate line removal: line-count shuffle + broadcast anti;
      // worst case here — every clone group shares its body lines, so
      // the boilerplate frame includes BODIES too (10 copies > k) and
      // most docs collapse to just their unique header variation
      val pages = docs.withColumn("page",
        concat(lit("home | about | "), col("source"), lit("\n"),
          col("text"), lit("\ncopyright 2024 example.com")))
      Dedup.dedupLines(pages, "doc_id", "page", maxDocs = 2 * n).count()
    }
    time("contamination_10x") {
      // benchmark shingles broadcast; corpus pass is explode + bcast
      // join + partial agg — no corpus shuffle by shingle
      Dedup.contaminationScreen(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3).count()
    }
    time("graph_explore_10x") {
      // per-hop cost = one semi-join + partial-agg over the persisted
      // (doc, term) edge frame; only top-N vertex lists hit the driver
      graft.search.GraphExplore.explore(docs, "doc_id", "text",
        Seq("spark"), hops = 2, verticesPerHop = 5, minDocCount = 3).count()
    }
    time("bbq_topk_10x") {
      // corpus-wide pass reads two packed longs per doc; rescore is
      // broadcast-bounded at k*oversample rows
      val emb10 = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val qv = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      graft.sim.Ann.packedTopK(emb10, "vec_id", "embedding", graft.index.PackedCodec.Bbq, qv, 10, 4).count()
    }
    time("highlight_order_10x") {
      // per-term window regex once per doc (materialized columns),
      // (N, df) one corpus agg broadcast
      Search.highlightFragmentsByScore(docs, "doc_id", "text",
        "fast hash join", 2).count()
    }
    time("geo_rings_10x") {
      // map-only compiled ray cast over per-row ring lists
      val c = times(Tables.customer(spark, sfDir), "c_custkey", 10000000L)
        .withColumn("lat", (col("c_custkey") * 7919 % 18000) / 100.0 - 90.0)
        .withColumn("lon", (col("c_custkey") * 104729 % 36000) / 100.0 - 180.0)
        .withColumn("an", (col("c_custkey") % 7 + 2).cast("double") * 8.0)
      val latRings = array(
        array(col("lat") + col("an"), col("lat"), col("lat") - col("an"), col("lat")),
        array(col("lat") + col("an") / 3.0, col("lat"), col("lat") - col("an") / 3.0, col("lat")))
      val lonRings = array(
        array(col("lon"), col("lon") + col("an"), col("lon"), col("lon") - col("an")),
        array(col("lon"), col("lon") + col("an") / 3.0, col("lon"), col("lon") - col("an") / 3.0))
      c.where(graft.rel.Relational.shapeRingsContainPoint(
          latRings, lonRings, 5.1234567, 10.7654321)).count()
    }
    time("esql_fuse_10x") {
      // FUSE cost is bounded by the fork windows (LIMIT-ed), not the
      // corpus — the two branch scans dominate
      val forked = graft.dsl.Esql.applyCommand(docs,
        "fork ( where n_chars > 450 | eval _score = n_chars + 0.0 | sort _score desc, doc_id | limit 100 | keep doc_id, _score ) " +
          "( eval _score = doc_id % 1000 + 0.0 | sort _score desc, doc_id | limit 100 | keep doc_id, _score )")
      graft.dsl.Esql.applyCommand(forked, "fuse rrf key by doc_id").count()
    }
    time("pipeline_full_10x") {
      // the composed corpus build (q_pipeline_full): C4 drops ->
      // lang -> quality -> exact dedup by fingerprint -> pack. Cost
      // model: map-only scoring, ONE hash exchange on the 61-bit
      // fingerprint, one window per source group — the replicated
      // docs are exact clones, so every fingerprint group is an
      // n-clique (worst case for the dedup window)
      import graft.text.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val sig = TextAnalysis.c4Filters(col("text")).toMap
      val keep = !sig("has_lorem") && !sig("has_brace") && !sig("has_policy")
      val filtered = TextAnalysis.qualityScore(col("text"))(docs)
        .where(keep && col("lang") === "en" && col("quality") >= 0.4)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = filtered
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      TextAnalysis.packSequences(deduped, "doc_id", col("n_chars"), "source", 5000L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("size")).as("pack_chars"))
        .count()
    }
    time("suggest_term_10x") {
      // post-r9 shape: length-band prune below the vocab partial agg —
      // the exchange carries only the levenshtein-feasible token band
      Search.suggest(docs, "text", "spak", 2, 5).count()
    }
    time("suggest_popular_10x") {
      // same banded vocab; the input-frequency probe rides the band
      // (length diff 0) as a broadcast 1-row frame
      Search.suggestMode(docs, "text", "joins", "popular",
        maxEdits = 1, k = 5).count()
    }
    time("suggest_phrase_10x") {
      // bigram vocabulary agg with BOTH words length-banded pre-agg
      Search.phraseSuggest(docs, "text", "table scin",
        maxEdits = 1, k = 5).count()
    }
    time("graph_connections_10x") {
      // one persisted term-filtered edge frame serves both legs of the
      // doc-key-local pair self-join (was: tokenize per join side)
      graft.search.GraphExplore.connections(docs, "doc_id", "text",
        Seq("spark", "agg", "scan", "merge", "window"), minDocCount = 3).count()
    }
    time("tpch_q18_10x") {
      // the agg-driven semi-join: qualifying orders from one
      // partial-agg HAVING pass over lineitem, broadcast into the
      // left-semi prune; customer/orders replicated in lockstep so
      // join keys align across the union branches
      val o = times(Tables.load(spark, sfDir, "orders"), "o_orderkey", 100000000L)
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("_qty"))
        .where(col("_qty") > 300).select(col("l_orderkey"))
      Tables.load(spark, sfDir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li.join(big, Seq("l_orderkey"), "left_semi"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .count()
    }
    time("dedup_url_10x") {
      // map-only codegen'd regex canonicalization + ONE exchange on
      // the canonical key; URLs assembled from doc fields like the
      // oracle-keyed entry (noise dims coprime to the key dims)
      import graft.text.TextAnalysis
      val id = col("doc_id")
      val url = concat(
        when(id % 7 < 3, lit("HTTP://WWW.Example.COM")).otherwise(lit("http://www.example.com")),
        when(id % 11 === 0, lit(":80")).otherwise(lit("")),
        lit("/"), col("source"), lit("/page"), (id % 60).cast("string"),
        when(id % 13 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when(id % 7 === 0, lit("utm_source=feed&")).otherwise(lit("")),
        lit("ref="), (id % 4).cast("string"),
        when(id % 17 === 0, lit("#frag")).otherwise(lit("")))
      docs.select(id, TextAnalysis.canonicalizeUrl(url).as("u"))
        .groupBy(col("u"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .where(col("n") > 1)
        .count()
    }
    // r10 shapes -----------------------------------------------------
    time("multi_match_10x") {
      // the one-pass multi-field BM25 kernel: ONE corpus tokenize for
      // both fields (scan count constant in |fields| — was linear)
      Search.multiMatchTopK(docs, "doc_id", Seq("text", "source"),
        "fast hash join", 10).count()
    }
    time("search_body_hybrid_10x") {
      // the composed _search-body hybrid: BM25 match leg + brute knn
      // leg + full-outer score sum, all one Catalyst plan through the
      // JSON front door; embeddings replicate with the SAME shift so
      // doc_id == vec_id alignment holds across union branches
      val embH = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val corpus = docs.join(embH.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id")).drop("vec_id")
      val vec = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      graft.dsl.SearchBody.search(corpus,
        s"""{"query": {"match": {"text": "vector hash"}},
             "knn": {"field": "embedding", "query_vector": [${vec.mkString(",")}],
                     "k": 20, "num_candidates": 100000, "boost": 0.5},
             "size": 15}""",
        idField = "doc_id").count()
    }
    time("dedup_semantic_10x") {
      // SemDeDup: replicated embeddings are EXACT vector clones, so
      // every clone group shares a cluster — within-cluster pairs
      // rehearse the C(n,2)-per-group worst case, like the minhash
      // probe; real corpora spread over clusters
      Dedup.semanticDedupPairs(emb, "vec_id", "embedding",
        nCentroids = 16, minCosine = 0.35).count()
    }
    time("grouped_pctl_exact_10x") {
      // the aggs-JSON percentiles metric, exact route: per-group value
      // multiset state — the bounded-group path
      graft.dsl.AggsJson.compile(li,
        """{"aggs": {"g": {"terms": {"field": "l_returnflag", "size": 10}, "aggs": {
             "q": {"percentiles": {"field": "l_quantity", "percents": [25, 50, 95]}}}}}}""")
        .count()
    }
    time("grouped_pctl_tdigest_10x") {
      // same request, tdigest route: O(compression) centroids per
      // group — the corpus-scale path (ES's own engine)
      graft.dsl.AggsJson.compile(li,
        """{"aggs": {"g": {"terms": {"field": "l_returnflag", "size": 10}, "aggs": {
             "q": {"percentiles": {"field": "l_quantity", "percents": [25, 50, 95],
                   "tdigest": true}}}}}}""")
        .count()
    }
    // r11 shapes ----------------------------------------------------
    time("scored_bool_3clause_10x") {
      // the one-pass clause kernel: 3 scoring clauses on one corpus
      // tokenize pass (was one bm25 pipeline per clause — scan count
      // linear in clauses); hit set = the bool predicate
      graft.dsl.SearchBody.search(docs,
        """{"query": {"bool": {
             "must": [{"match": {"text": "vector hash"}}],
             "should": [{"match": {"text": "merge join"}},
                        {"match": {"source": "src1"}}]}},
            "min_score": 0.0}""",
        idField = "doc_id").count()
    }
    time("sort_geo_after_10x") {
      // rich body sort + cursor: the computed haversine key feeds the
      // ordering AND the search_after predicate — deep geo paging is
      // one scan + one TakeOrderedAndProject, never an offset
      val cust = times(Tables.load(spark, sfDir, "customer"), "c_custkey", 1000000000L)
        .withColumn("loc_lat", (col("c_custkey") * 7919 % 18000) / 100.0 - 90.0)
        .withColumn("loc_lon", (col("c_custkey") * 104729 % 36000) / 100.0 - 180.0)
      graft.dsl.SearchBody.search(cust,
        """{"sort": [{"_geo_distance": {"loc": {"lat": 0.0, "lon": 0.0},
               "order": "asc", "unit": "km"}},
             {"c_custkey": {"order": "asc"}}],
            "search_after": [3000.0, 0], "size": 50,
            "_source": ["c_custkey"]}""",
        idField = "c_custkey").count()
    }
    time("dedup_semantic_keep_10x") {
      // the SemDeDup keeper fold: pairs + connected components +
      // ONE min_by partial agg over the membership frame
      Dedup.semanticDedupKeep(emb, "vec_id", "embedding",
        nCentroids = 16, minCosine = 0.35).count()
    }
    time("esql_cidr_10x") {
      // CIDR blocks fold to compile-time numeric range predicates over
      // the dotted-quad; cost is the scan + narrow string assembly
      val ev = times(Tables.events(spark, sfDir), "event_id", 1000000000L)
      val withIp = graft.dsl.Esql.applyCommand(ev,
        "eval ip = concat(to_string(10), \".\", to_string(user_id * 7 % 256), " +
          "\".\", to_string(user_id * 13 % 256), \".\", to_string(user_id % 256))")
      graft.dsl.Esql.applyCommand(withIp,
        "where cidr_match(ip, \"10.64.0.0/10\", \"10.192.0.0/12\")").count()
    }
    // r11 continuation: DSIR — the fit exchange is bucket-bounded
    // (≤4096 rows collected as the model), scoring is the map-only
    // compiled kernel, so the curve must stay ~linear in the fit
    // pass's exploded feature stream
    time("dsir_weights_10x") {
      graft.text.Dsir.importanceWeights(
        docs, docs.where(col("source") === "src1"), "doc_id", "text").count()
    }
    // r11 batch: CCNet terciles = 2 surprisal passes (explode +
    // vocab join) + ONE distributed-exact sort-selection over the
    // N-row score frame — the curve must stay ~linear in tokens
    time("ccnet_buckets_10x") {
      graft.text.TextAnalysis.ccnetBuckets(docs, "doc_id", "text").count()
    }
    // composed training build (shared kernel with the oracle key):
    // dedup window + quality map + surprisal terciles + shard report
    time("pipeline_train_10x") {
      graft.text.TextAnalysis.trainingBuildReport(
        docs, "doc_id", "text", qualityMin = 0.4, nShards = 8).count()
    }
    // r12: exactDedupKeep standalone — the replicated corpus is the
    // dedup WORST case (every doc is an n-clone group, so the drop
    // set is (n-1)/n of the corpus, far beyond the ~0.2% real-world
    // shape); the exchange still carries only (hash, id) rows and the
    // curve must track the narrow frame, never the text bytes
    time("exact_dedup_keep_10x") {
      Dedup.exactDedupKeep(docs, "doc_id", "text").count()
    }
    // r13: the SHUFFLE regime of the size-adaptive anti-join — the
    // same (n-1)/n-clone worst case (>=50% drops at every n >= 2) with
    // the broadcast limit forced to 0, so the drop ids travel a plain
    // left_anti (AQE-chosen) instead of a corpus-fraction broadcast.
    // This is the path a 100 TB crawl with 10^9+ drop ids takes.
    time("exact_dedup_keep_shuffle_10x") {
      spark.conf.set("graft.dedup.broadcastDropLimit", "0")
      try Dedup.exactDedupKeep(docs, "doc_id", "text").count()
      finally spark.conf.unset("graft.dedup.broadcastDropLimit")
    }
    // r12: whitened-cosine SemDeDup — PCA fit (2 bounded passes) +
    // map-only projection + the cluster-blocked screen; the curve
    // must track within-cluster pairs like the raw-space screen
    time("dedup_semantic_white_10x") {
      val embN = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val xy = embN.select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("xy"))
      Dedup.semanticDedupPairsWhitened(
        xy, "vec_id", "xy", dim = 2, nCentroids = 16, minCosine = 0.9999).count()
    }
    // r13: kmeans SemDeDup under constructed skew — replicated clones
    // pile every group into one coarse cluster (~n× base size), the
    // exact shape where an unguarded screen degenerates toward
    // C(N,2). The ring cap bounds every block at 500 members
    // (C(500,2) pairs/block); without it this probe would be ~10^10
    // within-cluster pairs and unrunnable.
    time("dedup_semantic_kmeans_skew_10x") {
      val embN = times(Tables.embeddings(spark, sfDir), "vec_id", 10000000L)
      val xy = embN.select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("xy"))
      Dedup.semanticDedupPairsKmeans(xy, "vec_id", "xy",
        nCentroids = 16, iters = 1, minCosine = 0.9999,
        maxClusterSize = 500).count()
    }
    // cross-corpus LSH: the replicated clone groups split across the
    // parity sides, so cross candidates are the constructed worst
    // case — the curve must track CROSS pair output, never side sizes
    time("dedup_cross_10x") {
      Dedup.minhashLshCross(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", 0.8).count()
    }
    // diversified_sampler wrapper: row_number window PARTITIONED by
    // the diversity field (per-value local pass, never a global sort)
    time("diversified_json_10x") {
      graft.dsl.AggsJson.compile(docs,
        """{"aggs": {"div": {
             "diversified_sampler": {"field": "lang", "key_field": "doc_id",
                                     "max_docs_per_value": 40},
             "aggs": {"sample_size": {"value_count": {"field": "doc_id"}},
                      "avg_metric": {"avg": {"field": "n_chars"}}}}}}""").count()
    }
    spark.stop()
  }
}

package graft

import graft.agg.Aggs
import graft.index.{ArtifactKind, IndexArtifacts, PackedCodec}
import graft.rel.Relational
import graft.search.Search
import graft.sim.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: r7+ additions (cross-section) + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesLate {

  /** The write-once embeddings index behind the `*_persisted` knn keys:
    * one `Connector.save` carrying the `graft.index.*` options `opts`,
    * built into a fingerprint-keyed artifact dir (`ensureArtifact`)
    * and reused while `fresh` accepts it. */
  private def embeddingsIndex(s: SparkSession, d: String, kind: String,
      opts: (String, String)*)(fresh: String => Boolean): String = {
    IndexArtifacts.ensureArtifact(kind, s"$d/embeddings.parquet")(fresh)(stage =>
      graft.sources.Connector.save(t(s, d, "embeddings"), stage, Map(
        "graft.write.operation" -> "overwrite",
        "graft.mapping.id" -> "vec_id") ++ opts))
  }

  private def ivfAdcFresh(s: SparkSession, p: String): Boolean =
    IndexArtifacts.load(s, ArtifactKind.Pq, p, "embedding", Some("vec_id")).nonEmpty &&
      IndexArtifacts.load(s, ArtifactKind.Ivf, p, "embedding", Some("vec_id")).nonEmpty

  /** Packed-codec knn over the persisted artifact — hash-equal to the
    * codec's on-the-fly key (same oracle SQL). */
  private def packedKnnPersisted(s: SparkSession, d: String, codec: PackedCodec): DataFrame = {
    val out = embeddingsIndex(s, d, s"${codec.name}idx", s"graft.index.${codec.name}" -> "embedding")(
      p => IndexArtifacts.load(s, ArtifactKind.Packed(codec), p, "embedding").nonEmpty)
    Ann.packedTopKIndexed(s, out, "vec_id", "embedding", codec, ScriptQv, k = 10, oversample = 4)
      .getOrElse(sys.error(s"${codec.name} artifact missing right after build"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- r7 additions ----
    // Painless while: data-independent trip count (6 Newton sqrt
    // steps) unrolls at compile time — whole-stage codegen, no
    // interpreter, no recursion in the plan
    "q_script_while" -> ((s, d) => Search.scriptScoreTopK(
      t(s, d, "documents"), "doc_id", query = lit(true),
      script = "def x = doc['n_chars'].value; def g = 100.0; def i = 0; " +
        "while (i < 6) { g = (g + x / g) / 2.0; i = i + 1 } return g",
      params = Map.empty, k = 12)),
    // function_score random_score: seeded reproducible shuffle
    "q_function_random" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id").as("id"),
        Num.round(Search.randomScore(col("doc_id"), 42L), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(20)),
    // full function_score: filtered functions combined per score_mode
    // (max), folded into the base per boost_mode (multiply), max_boost
    // cap — inline predicates, zero joins
    "q_function_modes" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id").as("id"),
        Num.round(Search.functionScoreModes(
          base = lit(1.0),
          functions = Seq(
            (col("lang") === "en", log(lit(1.0) + col("n_chars") * lit(0.01)), 2.0),
            (col("source") === "src3", lit(1.0), 3.0),
            (col("n_chars") > 400, sqrt(col("n_chars").cast("double")), 0.1)),
          scoreMode = "max", boostMode = "multiply", maxBoost = 5.0), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(25)),
    // post_filter: aggregations see the QUERY hits; the hit list is
    // additionally narrowed — bucket counts computed BEFORE the
    // narrowing ride back in on a broadcast join
    "q_post_filter" -> ((s, d) => {
      val hits = t(s, d, "documents").where(col("n_chars") >= 200)
      val langCounts = hits.groupBy(col("lang")).agg(count(lit(1)).as("lang_hits"))
      hits.where(col("source") === "src1")
        .join(broadcast(langCounts), "lang")
        .select(col("doc_id"), col("lang"), col("lang_hits"))
        .orderBy(col("doc_id"))
    }),
    // sliced scroll: slice {id: 1, max: 4} — disjoint deterministic
    // hash partitions; each export worker scans only its slice and the
    // union of slices is exactly the full export
    // _count API: pushed-down predicate + one partial-agg count
    "q_count" -> ((s, d) => graft.sources.Connector.countQuery(
      t(s, d, "documents"),
      """{"bool": {"must": [{"term": {"lang": "en"}}, {"range": {"n_chars": {"gte": 200}}}]}}""",
      "doc_id")),
    // _source response filtering: includes/excludes with wildcards,
    // pruned out of the scan by Catalyst
    "q_source_filter" -> ((s, d) => graft.dsl.SearchBody.applySourceFilter(
      t(s, d, "documents").where(col("lang") === "en"),
      """{"includes": ["doc_id", "n_*", "s*"], "excludes": ["source"]}""")
      .orderBy(col("doc_id"))),
    "q_slice" -> ((s, d) => t(s, d, "documents")
      .where(pmod(conv(substring(md5(concat(lit("slice:"), col("doc_id"))), 1, 12), 16, 10)
        .cast("long"), lit(4L)) === 1L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))),
    // chained rescorers (ES takes a LIST): stage 2 re-ranks only
    // stage 1's window — each stage is a broadcast join, the corpus
    // is scanned once by the first-pass BM25
    "q_rescore_multi" -> ((s, d) => Search.rescoreChainTopK(
      t(s, d, "documents"), "doc_id", "text", "fast hash join",
      stages = Seq(
        (log(lit(1.0) + col("n_chars")), 50, 1.0, 0.5),
        ((col("lang") === "en").cast("double"), 20, 1.0, 2.0)),
      k = 10)),
    // two-phase quantized knn (ES 8.18 rescore_vector.oversample):
    // the int8 index ranks a coarse 4x window, raw vectors rescore
    "q_knn_rescore" -> ((s, d) =>
      Ann.packedTopK(t(s, d, "embeddings"), "vec_id", "embedding", PackedCodec.Int8,
        ScriptQv, k = 10, oversample = 4)),
    // ES 8.16 BBQ (1-bit binary quantization): coarse asymmetric
    // dot(q, sign(v)) from TWO PACKED LONGS per doc, oversampled
    // window rescored with exact cosine — the 32x-compressed storage
    // path beyond int8
    "q_knn_bbq" -> ((s, d) =>
      Ann.packedTopK(t(s, d, "embeddings"), "vec_id", "embedding", PackedCodec.Bbq,
        ScriptQv, k = 10, oversample = 4)),
    // ES 8.18 int4_hnsw: half-byte codes (two per byte + scale
    // header), coarse pass reads ONLY the packed artifact, exact
    // rescore on the oversampled window — the 8x point between int8
    // and BBQ
    "q_knn_int4" -> ((s, d) =>
      Ann.packedTopK(t(s, d, "embeddings"), "vec_id", "embedding", PackedCodec.Int4,
        ScriptQv, k = 10, oversample = 4)),
    // pack-once persisted form: the write pays the packing, the query
    // reads the ~8x-smaller packed table for the coarse pass —
    // hash-equal to on-the-fly q_knn_int4 (same oracle SQL)
    "q_knn_int4_persisted" -> ((s, d) => packedKnnPersisted(s, d, PackedCodec.Int4)),
    // product quantization (Jégou et al. 2011 — IVFADC's PQ half):
    // 4 code bytes per doc (128x vs float64), coarse pass = m LUT
    // lookups off the codes alone, exact rescore on the oversampled
    // window; deterministic sample codebooks so the oracle rebuilds
    // assignment + ADC bit-for-bit (1e-6 fixed-point distances)
    "q_knn_pq" -> ((s, d) =>
      graft.sim.Ann.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        ScriptQv, k = 10, oversample = 4)),
    // the DISTRIBUTED-fit production path in the graded contract: PQ
    // top-k under pqFitCodebooksDist codebooks (hash-ordered sample,
    // one job per Lloyd iteration, 8x64 resolution). k-means has no
    // SQL equivalent, so the key PERSISTS the trained codebook and
    // the oracle replays assignment + ADC + exact rescore FROM it —
    // Spark's compiled PqEncode/PqAdc kernels vs DuckDB's independent
    // fixed-point derivation, under the trained model (the same
    // split the jpeg keys use for their non-replayable step)
    "q_knn_pq_dist" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val dsub = 8
      // the fit is deterministic per corpus, so it trains ONCE into a
      // fingerprint-keyed artifact (the bm25_indexed precedent) and
      // repeat runs reuse it; the oracle reads the static copy the
      // key refreshes from the artifact each run
      // FS-API probe, not java.io.File: the artifact root may be a
      // URI (hdfs://, s3a://) — a local-File probe would always miss
      // and retrain every run only to discard the staging copy
      val cbDir = graft.index.IndexArtifacts.ensureArtifact("pqdistcb", s"$d/embeddings.parquet")(
        p => {
          val cp = new org.apache.hadoop.fs.Path(s"$p/codebook")
          cp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(cp)
        })(stage => {
          val fit = graft.sim.Ann.pqFitCodebooksDist(emb, "vec_id", "embedding", m = 8, k = 64)
          (for (sp <- 0 until 8; c <- 0 until 64)
            yield (sp, c, (0 until dsub).map(i => fit((sp * 64 + c) * dsub + i))))
            .toDF("s", "c", "cv")
            .coalesce(1).write.parquet(s"$stage/codebook")
        })
      // one read: collect the 512 tiny rows, then write the static
      // oracle copy FROM the collected data
      val rows = s.read.parquet(s"$cbDir/codebook")
        .select("s", "c", "cv").collect()
      val cb = new Array[Double](8 * 64 * dsub)
      rows.foreach { r =>
        val sp = r.getInt(0); val c = r.getInt(1)
        val cv = r.getSeq[Double](2)
        (0 until dsub).foreach(i => cb((sp * 64 + c) * dsub + i) = cv(i))
      }
      val out = s"/tmp/graft_pqdist_cb_${System.getProperty("user.name")}"
      rows.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toDF("s", "c", "cv")
        .coalesce(1).write.mode("overwrite").parquet(out)
      graft.sim.Ann.pqTopK(emb, "vec_id", "embedding", ScriptQv,
        k = 10, oversample = 40, m = 8, codebookSize = 64,
        codebooks = Some(cb))
    }),
    // trained fit over a STRUCTURED (clustered) corpus at oracle level
    // (r16 — the verdict's TESTDATA item, without touching testdata):
    // the corpus derives IN-PLAN from the embeddings table — centers =
    // the first 64 vectors, every row = its center (vec_id % 64) +
    // 0.15 x its own isotropic vector — the r15 probe's cluster
    // recipe, expressed in exact double ops DuckDB replays verbatim.
    // The lloyd-dist codebook trains ONCE on the clustered corpus
    // (fingerprint-keyed artifact), the oracle replays assignment +
    // ADC + exact rescore FROM the persisted model, and the window is
    // the AUTO rule-sized one, mirrored in SQL off the corpus count —
    // trained-fit recall under cluster structure is now in the graded
    // contract, not just the probe ledger
    "q_knn_pq_clustered" -> ((s, d) => {
      import s.implicits._
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
      // row_number over an already-limit(64)-bounded frame: the
      // center table is 64 rows by construction
      val w64 = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
      val cents = e.orderBy(col("vec_id")).limit(64)
        .select((row_number().over(w64) - 1).cast("long").as("cid"), col("ev").as("cv"))
      val corpus = e.withColumn("cid", pmod(col("vec_id"), lit(64L)))
        .join(broadcast(cents), "cid")
        .select(col("vec_id"),
          zip_with(col("cv"), col("ev"), (c, x) => c + lit(0.15) * x).as("embedding"))
      val dsub = 8
      val cbDir = graft.index.IndexArtifacts.ensureArtifact("pqclustcb", s"$d/embeddings.parquet")(
        p => {
          val cp = new org.apache.hadoop.fs.Path(s"$p/codebook")
          cp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(cp)
        })(stage => {
          val fit = graft.sim.Ann.pqFitCodebooksDist(
            corpus, "vec_id", "embedding", m = 8, k = 64)
          (for (sp <- 0 until 8; c <- 0 until 64)
            yield (sp, c, (0 until dsub).map(i => fit((sp * 64 + c) * dsub + i))))
            .toDF("s", "c", "cv")
            .coalesce(1).write.parquet(s"$stage/codebook")
        })
      val rows = s.read.parquet(s"$cbDir/codebook")
        .select("s", "c", "cv").collect()
      val cb = new Array[Double](8 * 64 * dsub)
      rows.foreach { r =>
        val sp = r.getInt(0); val c = r.getInt(1)
        val cv = r.getSeq[Double](2)
        (0 until dsub).foreach(i => cb((sp * 64 + c) * dsub + i) = cv(i))
      }
      rows.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toDF("s", "c", "cv")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"/tmp/graft_pqclust_cb_${System.getProperty("user.name")}")
      graft.sim.Ann.pqTopK(corpus, "vec_id", "embedding", ScriptQv,
        k = 10, oversample = 0, m = 8, codebookSize = 64,
        codebooks = Some(cb))
    }),
    // pack-once persisted PQ: the write pays the encode under a frozen
    // codebook, the query's coarse pass reads m bytes/doc — hash-equal
    // to on-the-fly q_knn_pq (same oracle SQL)
    "q_knn_pq_persisted" -> ((s, d) => {
      val out = embeddingsIndex(s, d, "pqidx", "graft.index.pq" -> "embedding")(
        p => IndexArtifacts.load(s, ArtifactKind.Pq, p, "embedding").nonEmpty)
      graft.sim.Ann.pqTopKIndexed(s, out, "vec_id", "embedding",
        ScriptQv, k = 10, oversample = 4)
        .getOrElse(sys.error("pq artifact missing right after build"))
    }),
    // pack-once persisted int8 (the ES default int8_hnsw storage):
    // packed score bit-equals QuantizedCosine over the raw vector, so
    // the key is hash-equal to q_knn_rescore (same oracle SQL)
    "q_knn_rescore_persisted" -> ((s, d) => packedKnnPersisted(s, d, PackedCodec.Int8)),
    // pack-once persisted BBQ: the write pays the sign-bit packing,
    // the query's coarse pass reads 16 bytes/doc — hash-equal to
    // on-the-fly q_knn_bbq (same oracle SQL)
    "q_knn_bbq_persisted" -> ((s, d) => packedKnnPersisted(s, d, PackedCodec.Bbq)),
    // IVFADC proper (Jégou et al. 2011 — FAISS's at-scale default):
    // IVF probe routes the query to nprobe of nCentroids lists, ADC
    // scores ONLY those lists' 4-byte codes, raw vectors rescore the
    // window — per query: nprobe/nCentroids of the corpus in code
    // bytes + O(k*oversample) float rows
    "q_knn_ivfadc" -> ((s, d) =>
      graft.sim.Ann.ivfAdcTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        ScriptQv, k = 10, oversample = 4, nCentroids = 16, nprobe = 4)),
    // IVFADC over the PERSISTED index: probe + m-byte ADC + rescore,
    // with quantizer, assignments AND codes all paid at write time —
    // one write builds both artifacts; answer-equal to the on-the-fly
    // composition (same oracle SQL)
    "q_knn_ivfadc_persisted" -> ((s, d) => {
      val out = embeddingsIndex(s, d, "ivfadcidx",
        "graft.index.vectors" -> "embedding",
        "graft.index.vectors.centroids" -> "16",
        "graft.index.pq" -> "embedding")(ivfAdcFresh(s, _))
      graft.sim.Ann.ivfAdcTopKIndexed(s, out, "vec_id", "embedding",
        ScriptQv, k = 10, oversample = 4, nprobe = 4)
        .getOrElse(sys.error("ivfadc artifacts missing right after build"))
    }),
    // IVFADC over TRAINED quantizers, persisted (r16 — the verdict's
    // composition): the kmeans coarse quantizer (graft.index.vectors
    // .fit = kmeans) routes probes to BALANCED lists — the cost the
    // q_ivf_list_stats report prices — and lloyd-dist codebooks
    // (graft.index.pq.fit = lloyd-dist, 8x64) drive the ADC. k-means
    // has no SQL equivalent, so the key persists the trained model
    // once (fingerprint-keyed) and the oracle replays probe +
    // assignment + ADC + exact rescore FROM the stored centroids and
    // codebook (the q_knn_pq_dist split). The window is the AUTO
    // rule-sized one (oversample = 0, the r16 IVFADC guard), mirrored
    // in SQL off the probed candidate count.
    "q_knn_ivfadc_trained" -> ((s, d) => {
      import s.implicits._
      val out = embeddingsIndex(s, d, "ivfadctr",
        "graft.index.vectors" -> "embedding",
        "graft.index.vectors.centroids" -> "16",
        "graft.index.vectors.fit" -> "kmeans",
        "graft.index.pq" -> "embedding",
        "graft.index.pq.m" -> "8",
        "graft.index.pq.k" -> "64",
        "graft.index.pq.fit" -> "lloyd-dist")(ivfAdcFresh(s, _))
      // static oracle copies FROM the persisted model — 16 centroid
      // rows + 512 codebook rows, driver-tiny by contract
      IndexArtifacts.load(s, ArtifactKind.Ivf, out, "embedding", Some("vec_id")).get
        .state.cents.select(col("cent_id"), col("cv")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toDF("cent_id", "cv").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"/tmp/graft_ivfadctr_cents_${System.getProperty("user.name")}")
      val codes = IndexArtifacts.load(s, ArtifactKind.Pq, out, "embedding", Some("vec_id")).get.state
      val (m, ck, cb) = (codes.p.m, codes.p.k, codes.cb)
      val dsub = 64 / m
      (for (sp <- 0 until m; c <- 0 until ck)
        yield (sp, c, (0 until dsub).map(i => cb((sp * ck + c) * dsub + i))))
        .toDF("s", "c", "cv").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"/tmp/graft_ivfadctr_cb_${System.getProperty("user.name")}")
      // r17: BOTH knobs auto — the rule-sized window (oversample = 0)
      // AND the rule-sized probe set (nprobe = 0): auto-nprobe walks
      // the kmeans lists in cosine order until cumulative probed mass
      // crosses the corpus/(m*ck) rule floor, then floors at
      // ceil(sqrt(16)) = 4 for the measured spread cliff; the oracle
      // replays the same walk off its own assignment counts
      graft.sim.Ann.ivfAdcTopKIndexed(s, out, "vec_id", "embedding",
        ScriptQv, k = 10, oversample = 0, nprobe = 0)
        .getOrElse(sys.error("trained ivfadc artifacts missing right after build"))
    }),
    // ip_range agg over the synthetic ip column (from-inclusive,
    // to-exclusive, unbounded sides open; one scan, N count_ifs)
    "q_agg_ip_range" -> ((s, d) => Aggs.ipRange(withIp(Tables.events(s, d)), "ip",
      Seq(("low", None, Some("10.64.0.0")),
        ("mid", Some("10.64.0.0"), Some("10.192.0.0")),
        ("high", Some("10.192.0.0"), None)))),
    // ip_prefix agg: /12 network buckets via integer mask math
    "q_agg_ip_prefix" -> ((s, d) => Aggs.ipPrefix(withIp(Tables.events(s, d)), "ip", 12)),
    // _transform pivot (one-shot): group_by + aggs, flat dest table
    "q_transform_pivot" -> ((s, d) =>
      graft.streaming.Transforms.pivot(Tables.events(s, d), "event_type", "value")
        .select(col("event_type"), col("doc_count"),
          Num.round(col("value_sum"), 4).as("value_sum"), col("value_max"))
        .orderBy(col("event_type"))),
    // _transform latest: newest doc per user — ONE max_by groupBy, no
    // window/sort; ordered on µs-truncated time so the oracle (whose
    // parquet reader truncates ns to µs) sees identical sort keys
    "q_transform_latest" -> ((s, d) =>
      graft.streaming.Transforms.latest(
        Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000")),
        "user_id", "ts_us", "event_id", Seq("event_id", "event_type", "value"))
        .orderBy(col("user_id"))),
    // search-body script_fields: per-hit computed outputs evaluated
    // AFTER the query predicate (ES's evaluation point), Painless →
    // codegen'd projections
    "q_script_fields" -> ((s, d) => {
      val body = """{"query": {"range": {"n_chars": {"gt": 400}}},
        "script_fields": {
          "hundreds": {"script": {"source": "doc['n_chars'].value / params.div",
                                  "params": {"div": 100.0}}},
          "mod7": {"script": {"source": "doc['n_chars'].value % 7"}}}}"""
      val sf = graft.dsl.SearchBody.scriptFields(body)
      t(s, d, "documents")
        .where(graft.dsl.QueryDslJson.compile("""{"range": {"n_chars": {"gt": 400}}}"""))
        .select(col("doc_id") +: sf.map { case (n, c) => Num.round(c, 4).as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    // docvalue_fields: the columnar response shaping, compiled from
    // the JSON spec list to a projection Catalyst pushes to the scan
    "q_docvalue_fields" -> ((s, d) => {
      val dv = graft.dsl.SearchBody.docvalueFields(
        """[{"field": "o_orderdate", "format": "yyyy/MM"}, "o_orderkey",
            {"field": "o_totalprice"}]""")
      t(s, d, "orders").where(col("o_totalprice") > 15000)
        .select(dv.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("o_orderkey"))
    }),
    // terminate_after: per-shard early termination — deterministic
    // prefix of each routing shard's hit stream + terminated_early
    "q_terminate_after" -> ((s, d) => Search.terminateAfter(
      t(s, d, "documents"), col("lang") === "en" && col("n_chars") >= 100,
      "doc_id", shards = 4, n = 5)),
    // fields API with a date `format`: pattern render + epoch_millis
    "q_fields_format" -> ((s, d) => t(s, d, "orders")
      .where(col("o_totalprice") > 5000)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy/MM/dd").as("od_fmt"),
        // NTZ -> instant is identity under the UTC session zone
        unix_millis(col("o_orderdate").cast("timestamp")).as("od_ms"))
      .orderBy(col("o_orderkey"))),
    // indices_boost: per-index score multiplier — the lang partitions
    // act as the boosted indices; broadcast of the scored postings
    "q_indices_boost" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = Search.bm25Scores(docs, "doc_id", "text", "fast hash join")
      docs.join(broadcast(scored), col("doc_id") === scored("id"))
        .select(scored("id"),
          Num.round(scored("score") *
            when(col("lang") === "en", 2.0).otherwise(1.0), 4).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(15)
    }),
    // multi-term highlight with number_of_fragments
    "q_highlight_fragments" -> ((s, d) =>
      Search.highlightFragments(t(s, d, "documents"), "doc_id", "text",
        "fast hash", numFragments = 2)),
    // highlight order:score — fragments ranked by contained-term idf
    // sum (FVH mode), not term order
    "q_highlight_order" -> ((s, d) =>
      Search.highlightFragmentsByScore(t(s, d, "documents"), "doc_id", "text",
        "fast hash join", numFragments = 2)),
    // fuzzy completion suggester: typed prefix within 1 DL edit
    // ("rsc1" reaches "src1..." via one transposition)
    "q_suggest_fuzzy" -> ((s, d) =>
      Search.suggestCompletionFuzzy(t(s, d, "documents"), "source", "n_chars",
        prefix = "rsc1", fuzziness = 1, k = 5)),
    // multiple knn clauses in one search: per-clause windows, summed
    // similarities on the merged hits
    "q_knn_multi" -> ((s, d) =>
      graft.sim.Ann.knnMultiTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        Seq((ScriptQv, 20), (ScriptQv2, 20)), k = 10)),
    // nested query with score_mode: parent relevance folds matching
    // child scores (integral l_quantity keeps the fold order-exact)
    "q_nested_score" -> ((s, d) =>
      Relational.nestedScore(t(s, d, "orders"), t(s, d, "lineitem"),
        "o_orderkey", "l_orderkey", col("l_quantity") > 45,
        col("l_quantity"), "avg")
        .select(col("o_orderkey"), col("score"))
        .orderBy(col("o_orderkey"))),
    // query rules (8.15 rule retriever): pinned + excluded ids over an
    // organic BM25 retriever
    "q_retriever_rule" -> ((s, d) =>
      Search.ruleTopK(t(s, d, "documents"), "doc_id", "text", "fast hash join",
        pinned = Seq(42L, 7L), excluded = Seq(11L, 13L), k = 10)),
    // geo_grid QUERY (not the agg): docs inside one geohash cell —
    // the cell of customer 1's location, precision 2
    "q_geo_grid_query" -> ((s, d) => {
      val g = withGeo(t(s, d, "customer"))
      val key = org.apache.spark.sql.GraftBridge.column(graft.expr.GeoHash(
        org.apache.spark.sql.GraftBridge.expression(col("lat").cast("double")),
        org.apache.spark.sql.GraftBridge.expression(col("lon").cast("double")), 2))
      g.where(key === lit(GeoGridQueryCell))
        .select(col("c_custkey"), col("lat"), col("lon"))
        .orderBy(col("c_custkey"))
    }),
    // _graph/explore analog: seeded significance-ranked co-occurrence
    // expansion, 2 hops, 5 vertices/hop — one persisted (doc, term)
    // edge frame reused per hop; only top-N vertex lists hit the driver
    "q_graph_explore" -> ((s, d) => graft.search.GraphExplore.explore(
      t(s, d, "documents"), "doc_id", "text", Seq("spark"),
      hops = 2, verticesPerHop = 5, minDocCount = 3)),
    // the `connections` half: doc co-occurrence between vertex pairs
    "q_graph_connections" -> ((s, d) => graft.search.GraphExplore.connections(
      t(s, d, "documents"), "doc_id", "text",
      Seq("spark", "agg", "scan", "merge", "window"), minDocCount = 3)),
    // METRICS command (8.16 TSDS sugar): desugars to FROM + STATS
    "q_esql_metrics" -> ((s, d) => graft.dsl.Esql.run(s, d,
      "metrics events mx = max(value), n = count(*) by event_type | sort event_type")),
    // STATS BY CATEGORIZE(f) (8.18): log-pattern grouping key
    "q_esql_categorize" -> ((s, d) => graft.dsl.Esql.run(s, d,
      "from events | stats n = count(*) by cat = categorize(event_type) | sort cat")),
    // ES|QL IP family: CIDR_MATCH compiles to numeric range
    // predicates (one per block, OR-folded) over the dotted-quad
    "q_esql_cidr" -> ((s, d) => graft.dsl.Esql.run(s, d,
      "from events " +
        "| eval ip = concat(to_string(10), \".\", to_string(user_id * 7 % 256), " +
        "\".\", to_string(user_id * 13 % 256), \".\", to_string(user_id % 256)) " +
        "| where cidr_match(ip, \"10.64.0.0/10\", \"10.192.0.0/12\") " +
        "| stats n = count(*)")),
    // EQL simple event query
    "q_eql_simple" -> ((s, d) => graft.dsl.Eql.run(s, d,
      "error where value > 300")),
    // EQL sequence correlation: the view -> click -> purchase funnel
    // within 24h per user (as-of-join shape, no self-join)
    "q_eql_sequence" -> ((s, d) => graft.dsl.Eql.run(s, d,
      "sequence by user_id with maxspan=24h [view] [click where value > 50] [purchase]")),
    // EQL missing events (8.x): ![error] between the steps — a
    // view->purchase chain only matches when NO error intervened
    "q_eql_missing" -> ((s, d) => graft.dsl.Eql.sequence(
      Tables.events(s, d), "user_id", "ts_ns", "event_id",
      Seq(("view", lit(true)), ("purchase", lit(true))),
      maxspanNs = 24L * 3600 * 1000000000L,
      missing = Seq((0, "error", lit(true))))),
    // EQL sample: unordered correlation, one partial-agg groupBy
    "q_eql_sample" -> ((s, d) => graft.dsl.Eql.run(s, d,
      "sample by user_id [error where value > 200] [purchase where value > 200]")),
    // EQL tail: LAST n matches in sort order (ordered limit over the
    // reversed sort, re-sorted — never a global collect)
    "q_eql_tail" -> ((s, d) => graft.dsl.Eql.run(s, d,
      "purchase where value > 100 | tail 5")),
    // EQL `with runs=2`: the step repeats — two successive qualifying
    // clicks must follow the view. Expansion to duplicate-type steps
    // rides on the per-level match flags (one event can extend a
    // different chain per level, never two slots of one chain).
    "q_eql_runs" -> ((s, d) => graft.dsl.Eql.run(s, d,
      "sequence by user_id with maxspan=24h [view] [click where value > 100] with runs=2")),
    // EQL `any` type wildcard + EQL-spelled functions (wildcard →
    // LIKE, stringContains → contains) compiled into the one scan
    "q_eql_funcs" -> ((s, d) => graft.dsl.Eql.run(s, d,
      """any where (wildcard(event_type, "c*", "s?gnup") or stringContains(event_type, "rror")) and value > 300""")),
    // significant_terms with background_filter: uplift measured
    // against a RESTRICTED comparison set (fg kept inside bg so no
    // zero-background terms arise)
    "q_agg_sig_bg" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text",
        pred = col("lang") === "de" && col("n_chars") > 100,
        minFgCount = 5, k = 10,
        backgroundFilter = col("n_chars") > 100)),
    // has_parent with score: true — children inherit the parent's
    // relevance through one broadcast-eligible join
    "q_has_parent_score" -> ((s, d) =>
      Relational.hasParentScore(t(s, d, "lineitem"), t(s, d, "orders"),
        "o_orderkey", "l_orderkey",
        col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 5000,
        log(lit(1.0) + col("o_totalprice")))
        .select(col("l_orderkey"), col("l_linenumber"), col("score"))
        .orderBy(col("l_orderkey"), col("l_linenumber")))
,
    // ---- r12 additions ----
    // ES 8.12 knn as a QUERY-context clause: rewrites to the top-k id
    // set (Ann.knnSearch at compile time), composable under bool —
    // here intersected with a sibling label filter, like a user
    // narrowing vector hits by metadata
    "q_dsl_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val vec = (0 until 64).map(i => (i * 41 % 100) / 100.0 - 0.5)
      emb.where(graft.dsl.QueryDslJson.compile(
        s"""{"bool": {"must": [{"knn": {"field": "embedding",
            "query_vector": [${vec.mkString(",")}],
            "k": 25, "num_candidates": 100000}}],
            "filter": [{"term": {"label": 2}}]}}""", "vec_id", emb))
        .select(col("vec_id"), col("label")).orderBy(col("vec_id"))
    }),
    // ES 8.15 semantic query node: expansion through the
    // InferenceService seam (deterministic stub = unit-weight analyzed
    // terms); filter context matches any expanded term
    "q_semantic_query" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"semantic": {"field": "text", "query": "vector hash merge"}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // pre-8.13 text_expansion spelling (deprecated for sparse_vector,
    // still in the wild): model_text through the same inference seam
    "q_text_expansion" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"text_expansion": {"text": {"model_id": ".elser_model_2",
            "model_text": "stream window"}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // ES 8.13 weighted_tokens: the client-side-expansion form of
    // sparse_vector — pre-computed token weights, no model call
    "q_weighted_tokens" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"weighted_tokens": {"text": {"tokens":
            {"vector": 1.2, "quantile": 0.5}}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    // ES 8.10 query rules, filter-context `rule` query: criteria-gated
    // pinning/exclusion — the exact-match rule pins 42/7, the
    // contains rule excludes 11/13, and the third rule's criteria do
    // NOT match the request so its ids must stay un-pinned
    "q_rule_query" -> ((s, d) => {
      graft.dsl.RuleStore.put("promo", """{"rules": [
        {"rule_id": "r1", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query",
                       "values": ["hash join"]}],
         "actions": {"ids": [42, 7]}},
        {"rule_id": "r2", "type": "exclude",
         "criteria": [{"type": "contains", "metadata": "user_query",
                       "values": ["join"]}],
         "actions": {"ids": [11, 13]}},
        {"rule_id": "r3", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query",
                       "values": ["unrelated request"]}],
         "actions": {"ids": [3, 4]}}]}""")
      t(s, d, "documents").where(graft.dsl.QueryDslJson.compile(
        """{"rule": {"organic": {"match": {"text":
             {"query": "hash join", "operator": "and"}}},
            "ruleset_ids": ["promo"],
            "match_criteria": {"user_query": "hash join"}}}""", "doc_id"))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // pinned RETRIEVER (8.18 tree node): fixed promotion over a
    // standard BM25 leg — pins rank first via max-region scores
    "q_retriever_pinned" -> ((s, d) =>
      graft.dsl.Retrievers.topK(
        t(s, d, "documents"), "doc_id", t(s, d, "embeddings"), "vec_id",
        """{"retriever": {"pinned": {
             "retriever": {"standard": {"query": {"match": {"text": "fast hash join"}}}},
             "ids": [42, 7]}}}""", k = 10)),
    // the stored-ruleset SCORING path (rule retriever over BM25):
    // fired rules pin 23/5 and exclude 2; the no-fire rule's id 99
    // must rank organically or not at all
    "q_rule_ruleset" -> ((s, d) => {
      graft.dsl.RuleStore.put("promo-score", """{"rules": [
        {"rule_id": "p", "type": "pinned",
         "criteria": [{"type": "prefix", "metadata": "user_query",
                       "values": ["fast"]}],
         "actions": {"ids": [23, 5]}},
        {"rule_id": "x", "type": "exclude",
         "criteria": [{"type": "suffix", "metadata": "user_query",
                       "values": ["join"]}],
         "actions": {"ids": [2]}},
        {"rule_id": "n", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query",
                       "values": ["something else"]}],
         "actions": {"ids": [99]}}]}""")
      Search.ruleQueryTopK(t(s, d, "documents"), "doc_id", "text",
        "fast hash join", Seq("promo-score"),
        Map("user_query" -> "fast hash join"), k = 10)
    })
  )

  val oracleSql: Map[String, String] = Map(
    // ---- r7 additions ----
    // fold over range(6) with a prepended seed == the unrolled Newton
    // iteration, identical double op order
    "q_script_while" -> ("SELECT doc_id AS id, round(list_reduce(" +
      "list_prepend(100.0::DOUBLE, list_transform(range(6), i -> 0.0::DOUBLE)), " +
      "(g, e) -> (g + CAST(n_chars AS DOUBLE) / g) / 2.0::DOUBLE), 4) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 12"),
    "q_function_random" -> (s"SELECT doc_id AS id, round(${hexFold("'42:' || doc_id", 12)} / 281474976710656.0, 6) AS score " +
      "FROM documents ORDER BY score DESC, id LIMIT 20"),
    "q_function_modes" -> ("WITH f AS (SELECT doc_id, " +
      "CASE WHEN lang = 'en' THEN ln(1.0 + n_chars * 0.01) * 2.0 END AS f1, " +
      "CASE WHEN source = 'src3' THEN 1.0 * 3.0 END AS f2, " +
      "CASE WHEN n_chars > 400 THEN sqrt(CAST(n_chars AS DOUBLE)) * 0.1 END AS f3 " +
      "FROM documents) " +
      "SELECT doc_id AS id, round(1.0 * least(CASE WHEN f1 IS NULL AND f2 IS NULL AND f3 IS NULL THEN 1.0 " +
      "ELSE greatest(coalesce(f1, -1.7976931348623157e308), coalesce(f2, -1.7976931348623157e308), " +
      "coalesce(f3, -1.7976931348623157e308)) END, 5.0), 4) AS score " +
      "FROM f ORDER BY score DESC, id LIMIT 25"),
    "q_post_filter" -> ("WITH h AS (SELECT * FROM documents WHERE n_chars >= 200), " +
      "lc AS (SELECT lang, count(*)::BIGINT AS lang_hits FROM h GROUP BY lang) " +
      "SELECT doc_id, lang, lang_hits FROM h JOIN lc USING (lang) " +
      "WHERE source = 'src1' ORDER BY doc_id"),
    "q_slice" -> (s"SELECT doc_id, lang FROM documents " +
      s"WHERE ${hexFold("'slice:' || doc_id", 12)} % 4 = 1 ORDER BY doc_id"),
    "q_rescore_multi" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", w1 AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 50), " +
      "r1 AS (SELECT id, round(score * 1.0 + ln(1.0 + n_chars) * 0.5, 4) AS score " +
      "FROM w1 JOIN documents ON doc_id = id), " +
      "w2 AS (SELECT id, score FROM r1 ORDER BY score DESC, id LIMIT 20), " +
      "r2 AS (SELECT id, round(score * 1.0 + (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) * 2.0, 4) AS score " +
      "FROM w2 JOIN documents ON doc_id = id) " +
      "SELECT id, score FROM r2 ORDER BY score DESC, id LIMIT 10"),
    "q_knn_rescore" -> ("WITH q AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e), " +
      "dq AS (SELECT vec_id, v, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale) END AS qv FROM s), " +
      "coarse AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> qv[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS qscore " +
      "FROM dq CROSS JOIN q ORDER BY qscore DESC, vec_id LIMIT 40), " +
      "ex AS (SELECT c.vec_id AS id, round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))), 4) AS cosine, " +
      "round(c.qscore, 4) AS quantized FROM coarse c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q) " +
      "SELECT id, cosine, quantized FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // hash-equal to on-the-fly int8 by construction (the packed
    // score bit-equals the inline-quantized cosine; same oracle SQL)
    "q_knn_rescore_persisted" -> ("WITH q AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e), " +
      "dq AS (SELECT vec_id, v, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale) END AS qv FROM s), " +
      "coarse AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> qv[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS qscore " +
      "FROM dq CROSS JOIN q ORDER BY qscore DESC, vec_id LIMIT 40), " +
      "ex AS (SELECT c.vec_id AS id, round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))), 4) AS cosine, " +
      "round(c.qscore, 4) AS quantized FROM coarse c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q) " +
      "SELECT id, cosine, quantized FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    "q_knn_bbq" -> bbqOracleSql(ScriptQv, 10, 4),
    // hash-equal to on-the-fly BBQ by construction (same oracle SQL)
    "q_knn_bbq_persisted" -> bbqOracleSql(ScriptQv, 10, 4),
    // int4: the int8 oracle with 7 levels (scale = amax/7, clamp ±7)
    "q_knn_int4" -> ("WITH q AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 7.0 AS scale FROM e), " +
      "dq AS (SELECT vec_id, v, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> least(greatest(floor(x / scale + 0.5), -7.0), 7.0) * scale) END AS qv FROM s), " +
      "coarse AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> qv[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS qscore " +
      "FROM dq CROSS JOIN q ORDER BY qscore DESC, vec_id LIMIT 40), " +
      "ex AS (SELECT c.vec_id AS id, round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))), 4) AS cosine, " +
      "round(c.qscore, 4) AS quantized FROM coarse c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q) " +
      "SELECT id, cosine, quantized FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // hash-equal to the on-the-fly form by construction: the artifact
    // persists exactly the packed codes the per-query pack computes
    "q_knn_int4_persisted" -> ("WITH q AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 7.0 AS scale FROM e), " +
      "dq AS (SELECT vec_id, v, CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0) ELSE " +
      "list_transform(v, x -> least(greatest(floor(x / scale + 0.5), -7.0), 7.0) * scale) END AS qv FROM s), " +
      "coarse AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> qv[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS qscore " +
      "FROM dq CROSS JOIN q ORDER BY qscore DESC, vec_id LIMIT 40), " +
      "ex AS (SELECT c.vec_id AS id, round(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))), 4) AS cosine, " +
      "round(c.qscore, 4) AS quantized FROM coarse c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q) " +
      "SELECT id, cosine, quantized FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // PQ replayed verbatim: sample codebooks from the first 16 ids,
    // per-subspace squared-L2 as an ORDERED left fold into 1e-6 fixed
    // point (the kernel's exact accumulation), argmin with lowest-code
    // ties, ADC = integer LUT sum / 1e6, exact-cosine rescore on the
    // 40-row window
    // assignment + ADC + rescore replayed from the PERSISTED trained
    // codebook (the query writes it before answering; Verify runs the
    // query first) — the lossy-step split the jpeg oracles use
    "q_knn_pq_dist" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "q AS (SELECT w0, list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "v0 AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM (SELECT id, rv, " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm " +
      "FROM v0) t0), " +
      "cbp AS (SELECT s, c, cv FROM read_parquet(" +
      s"'/tmp/graft_pqdist_cb_${System.getProperty("user.name")}/*.parquet')), " +
      "ad AS (SELECT v.id, p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(v.v[p.s*8 + i] - p.cv[i]) * (v.v[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v CROSS JOIN cbp p), " +
      "asg AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(w[p.s*8 + i] - p.cv[i]) * (w[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM cbp p CROSS JOIN q), " +
      "coarse AS (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc " +
      "FROM asg a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id ORDER BY adc ASC, a.id ASC LIMIT 400), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN v e ON e.id = c.id CROSS JOIN q) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // clustered-corpus trained PQ: the corpus CTE replays the in-plan
    // derivation (center + 0.15 x own vector, exact double ops), the
    // codebook reads the persisted lloyd-dist model's static copy,
    // the window mirrors the auto rule off the corpus count
    "q_knn_pq_clustered" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "q AS (SELECT w0, list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "ctr AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, " +
      "list_transform(embedding, x -> x::DOUBLE) AS cv " +
      "FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 64) t64), " +
      "v0 AS (SELECT e.vec_id AS id, list_transform(range(1, 65), i -> " +
      "ctr.cv[i] + 0.15 * e.ev[i]) AS rv FROM (SELECT vec_id, " +
      "list_transform(embedding, x -> x::DOUBLE) AS ev, vec_id % 64 AS cid " +
      "FROM embeddings) e JOIN ctr USING (cid)), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM (SELECT id, rv, " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm " +
      "FROM v0) t0), " +
      "cbp AS (SELECT s, c, cv FROM read_parquet(" +
      s"'/tmp/graft_pqclust_cb_${System.getProperty("user.name")}/*.parquet')), " +
      "ad AS (SELECT v.id, p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(v.v[p.s*8 + i] - p.cv[i]) * (v.v[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v CROSS JOIN cbp p), " +
      "asg AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(w[p.s*8 + i] - p.cv[i]) * (w[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM cbp p CROSS JOIN q), " +
      "wnd AS (SELECT 10 * GREATEST(4, (SELECT count(*) FROM v0) // (8*64*10) + 1) AS w), " +
      "coarse AS (SELECT id, adc FROM (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc, " +
      "row_number() OVER (ORDER BY sum(l.dl) ASC, a.id ASC) AS rn " +
      "FROM asg a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id) t WHERE rn <= (SELECT w FROM wnd)), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN v e ON e.id = c.id CROSS JOIN q0) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    "q_knn_pq" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "q AS (SELECT w0, list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "v0 AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM (SELECT id, rv, " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm " +
      "FROM v0) t0), " +
      "cb AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS cv " +
      "FROM (SELECT id, v FROM v ORDER BY id LIMIT 16) t), " +
      "ad AS (SELECT v.id, s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(v.v[s.s*16 + i] - cb.cv[s.s*16 + i]) * (v.v[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v CROSS JOIN generate_series(0, 3) AS s(s) CROSS JOIN cb), " +
      "asg AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(w[s.s*16 + i] - cb.cv[s.s*16 + i]) * (w[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM generate_series(0, 3) AS s(s) CROSS JOIN cb CROSS JOIN q), " +
      "coarse AS (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc " +
      "FROM asg a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id ORDER BY adc ASC, a.id ASC LIMIT 40), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN v e ON e.id = c.id CROSS JOIN q) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // hash-equal to on-the-fly PQ by construction: the artifact
    // persists the same sample codebook + codes the per-query form
    // computes (same oracle SQL)
    "q_knn_pq_persisted" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "q AS (SELECT w0, list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "v0 AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM (SELECT id, rv, " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm " +
      "FROM v0) t0), " +
      "cb AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS cv " +
      "FROM (SELECT id, v FROM v ORDER BY id LIMIT 16) t), " +
      "ad AS (SELECT v.id, s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(v.v[s.s*16 + i] - cb.cv[s.s*16 + i]) * (v.v[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v CROSS JOIN generate_series(0, 3) AS s(s) CROSS JOIN cb), " +
      "asg AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(w[s.s*16 + i] - cb.cv[s.s*16 + i]) * (w[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM generate_series(0, 3) AS s(s) CROSS JOIN cb CROSS JOIN q), " +
      "coarse AS (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc " +
      "FROM asg a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id ORDER BY adc ASC, a.id ASC LIMIT 40), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN v e ON e.id = c.id CROSS JOIN q) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // the composition of the two proven mirrors: ivf assignment/probe
    // (seed centroids, round-4 cosine, lowest-cent ties) gates which
    // ids enter the PQ ADC stage (unit-norm codebooks, 1e-6 fixed
    // point); rescore = exact cosine over the raw vectors
    "q_knn_ivfadc" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "qn AS (SELECT w0, sqrt(list_reduce(list_prepend(0.0, list_transform(w0, y -> y * y)), (a, b) -> a + b)) AS qnrm, " +
      "list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "n AS (SELECT id, rv, sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT id AS cent_id, rv AS ccv, nrm AS cnrm FROM n ORDER BY id LIMIT 16), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.id ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> c.rv[i] * ccv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) t WHERE rn = 1), " +
      "probe AS (SELECT cent_id FROM (SELECT cents.cent_id, " +
      "row_number() OVER (ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> w0[i] * ccv[i])), (x, y) -> x + y) / (qnrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM cents CROSS JOIN qn) t WHERE rn <= 4), " +
      "cand AS (SELECT a.id FROM asg a JOIN probe p USING (cent_id)), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM n), " +
      "cb AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS cv " +
      "FROM (SELECT id, v FROM v ORDER BY id LIMIT 16) t), " +
      "ad AS (SELECT v.id, s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(v.v[s.s*16 + i] - cb.cv[s.s*16 + i]) * (v.v[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v JOIN cand USING (id) CROSS JOIN generate_series(0, 3) AS s(s) CROSS JOIN cb), " +
      "asgpq AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(w[s.s*16 + i] - cb.cv[s.s*16 + i]) * (w[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM generate_series(0, 3) AS s(s) CROSS JOIN cb CROSS JOIN qn), " +
      "coarse AS (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc " +
      "FROM asgpq a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id ORDER BY adc ASC, a.id ASC LIMIT 40), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e2.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e2.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN n e2 ON e2.id = c.id CROSS JOIN q0) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // answer-equal to the on-the-fly composition: the artifacts
    // persist the same seed quantizer, assignments, sample codebook
    // and codes the per-query form derives (same oracle SQL)
    "q_knn_ivfadc_persisted" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "qn AS (SELECT w0, sqrt(list_reduce(list_prepend(0.0, list_transform(w0, y -> y * y)), (a, b) -> a + b)) AS qnrm, " +
      "list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "n AS (SELECT id, rv, sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT id AS cent_id, rv AS ccv, nrm AS cnrm FROM n ORDER BY id LIMIT 16), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.id ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> c.rv[i] * ccv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) t WHERE rn = 1), " +
      "probe AS (SELECT cent_id FROM (SELECT cents.cent_id, " +
      "row_number() OVER (ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> w0[i] * ccv[i])), (x, y) -> x + y) / (qnrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM cents CROSS JOIN qn) t WHERE rn <= 4), " +
      "cand AS (SELECT a.id FROM asg a JOIN probe p USING (cent_id)), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM n), " +
      "cb AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS cv " +
      "FROM (SELECT id, v FROM v ORDER BY id LIMIT 16) t), " +
      "ad AS (SELECT v.id, s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(v.v[s.s*16 + i] - cb.cv[s.s*16 + i]) * (v.v[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v JOIN cand USING (id) CROSS JOIN generate_series(0, 3) AS s(s) CROSS JOIN cb), " +
      "asgpq AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT s.s, cb.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 16), i -> " +
      "(w[s.s*16 + i] - cb.cv[s.s*16 + i]) * (w[s.s*16 + i] - cb.cv[s.s*16 + i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM generate_series(0, 3) AS s(s) CROSS JOIN cb CROSS JOIN qn), " +
      "coarse AS (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc " +
      "FROM asgpq a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id ORDER BY adc ASC, a.id ASC LIMIT 40), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e2.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e2.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN n e2 ON e2.id = c.id CROSS JOIN q0) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    // trained IVFADC: probe + assignment replay from the STORED
    // kmeans centroids, ADC from the STORED lloyd-dist codebook
    // (static /tmp copies the key refreshes), auto rule-sized window
    // mirrored off the probed candidate count
    "q_knn_ivfadc_trained" -> ("WITH q0 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w0), " +
      "qn AS (SELECT w0, sqrt(list_reduce(list_prepend(0.0, list_transform(w0, y -> y * y)), (a, b) -> a + b)) AS qnrm, " +
      "list_transform(w0, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(w0, y -> y * y)), (a, b) -> a + b))) AS w FROM q0), " +
      "e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS rv FROM embeddings), " +
      "n AS (SELECT id, rv, sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT cent_id, cv AS ccv, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(cv, x -> x * x)), (a, b) -> a + b)) AS cnrm FROM read_parquet(" +
      s"'/tmp/graft_ivfadctr_cents_${System.getProperty("user.name")}/*.parquet')), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.id ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> c.rv[i] * ccv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) t WHERE rn = 1), " +
      // r17 auto-nprobe replay: lists in query-cosine order, probe
      // until cumulative assignment mass crosses the corpus/(m*ck)
      // rule floor, then the ceil(sqrt(16)) = 4 spread floor
      "po AS (SELECT cents.cent_id, " +
      "row_number() OVER (ORDER BY round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> w0[i] * ccv[i])), (x, y) -> x + y) / (qnrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM cents CROSS JOIN qn), " +
      "lsz AS (SELECT cent_id, count(*)::BIGINT AS sz FROM asg GROUP BY cent_id), " +
      "pc AS (SELECT po.cent_id, po.rn, sum(coalesce(lsz.sz, 0)) OVER (ORDER BY po.rn) AS cum " +
      "FROM po LEFT JOIN lsz USING (cent_id)), " +
      "tcnt AS (SELECT count(*)::BIGINT AS tot FROM asg), " +
      "npr AS (SELECT LEAST(16, GREATEST(4, coalesce((SELECT min(rn) FROM pc, tcnt " +
      "WHERE cum >= LEAST(tot // 512 + 1, tot)), 16))) AS p), " +
      "probe AS (SELECT cent_id FROM pc, npr WHERE rn <= npr.p), " +
      "cand AS (SELECT a.id FROM asg a JOIN probe p USING (cent_id)), " +
      "v AS (SELECT id, rv, CASE WHEN nrm = 0 THEN rv ELSE " +
      "list_transform(rv, x -> x / nrm) END AS v FROM n), " +
      "cbp AS (SELECT s, c, cv FROM read_parquet(" +
      s"'/tmp/graft_ivfadctr_cb_${System.getProperty("user.name")}/*.parquet')), " +
      "ad AS (SELECT v.id, p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(v.v[p.s*8 + i] - p.cv[i]) * (v.v[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM v JOIN cand USING (id) CROSS JOIN cbp p), " +
      "asgpq AS (SELECT id, s, c FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY dl ASC, c ASC) AS rn FROM ad) t " +
      "WHERE rn = 1), " +
      "lut AS (SELECT p.s, p.c, floor(list_reduce(list_prepend(0.0, " +
      "list_transform(generate_series(1, 8), i -> " +
      "(w[p.s*8 + i] - p.cv[i]) * (w[p.s*8 + i] - p.cv[i]))), " +
      "(a, b) -> a + b) * 1e6 + 0.5)::BIGINT AS dl " +
      "FROM cbp p CROSS JOIN qn), " +
      "wnd AS (SELECT 10 * GREATEST(4, (SELECT count(*) FROM cand) // (8*64*10) + 1) AS w), " +
      "coarse AS (SELECT id, adc FROM (SELECT a.id, sum(l.dl)::DOUBLE / 1e6 AS adc, " +
      "row_number() OVER (ORDER BY sum(l.dl) ASC, a.id ASC) AS rn " +
      "FROM asgpq a JOIN lut l ON l.s = a.s AND l.c = a.c " +
      "GROUP BY a.id) t WHERE rn <= (SELECT w FROM wnd)), " +
      "ex AS (SELECT c.id, c.adc, round(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, 65), i -> e2.rv[i] * w0[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(e2.rv, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w0, x -> x * x)), (a, b) -> a + b))), 4) AS cosine " +
      "FROM coarse c JOIN n e2 ON e2.id = c.id CROSS JOIN q0) " +
      "SELECT id, adc, cosine FROM ex ORDER BY cosine DESC, id LIMIT 10"),
    "q_agg_ip_range" -> (IpCte +
      " SELECT key, doc_count FROM (" +
      "SELECT 0 AS o, 'low' AS key, count(*) FILTER (WHERE ipn < 10 * 16777216 + 64 * 65536)::BIGINT AS doc_count FROM ipv " +
      "UNION ALL SELECT 1, 'mid', count(*) FILTER (WHERE ipn >= 10 * 16777216 + 64 * 65536 AND ipn < 10 * 16777216 + 192 * 65536)::BIGINT FROM ipv " +
      "UNION ALL SELECT 2, 'high', count(*) FILTER (WHERE ipn >= 10 * 16777216 + 192 * 65536)::BIGINT FROM ipv) " +
      "ORDER BY o"),
    "q_agg_ip_prefix" -> (IpCte +
      ", n AS (SELECT (ipn // 1048576) * 1048576 AS net FROM ipv) " +
      "SELECT (net // 16777216 % 256) || '.' || (net // 65536 % 256) || '.' || (net // 256 % 256) || '.' || (net % 256) || '/12' AS key, " +
      "count(*)::BIGINT AS doc_count FROM n GROUP BY net ORDER BY net"),
    "q_transform_pivot" -> ("SELECT event_type, count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS value_sum, max(value) AS value_max " +
      "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_transform_latest" -> ("SELECT user_id, event_id, event_type, value FROM (" +
      "SELECT user_id, event_id, event_type, value, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) " +
      "WHERE rn = 1 ORDER BY user_id"),
    "q_script_fields" -> ("SELECT doc_id, round(CAST(n_chars AS DOUBLE) / 100.0, 4) AS hundreds, " +
      "round(CAST(n_chars AS DOUBLE) % 7, 4) AS mod7 FROM documents WHERE n_chars > 400 ORDER BY doc_id"),
    "q_docvalue_fields" -> ("SELECT strftime(o_orderdate, '%Y/%m') AS o_orderdate, " +
      "o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 15000 ORDER BY o_orderkey"),
    "q_terminate_after" -> (s"WITH m AS (SELECT doc_id, ${hexFold("doc_id::VARCHAR", 12)} % 4 AS shard " +
      "FROM documents WHERE lang = 'en' AND n_chars >= 100), " +
      "r AS (SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY shard) AS sh FROM m) " +
      "SELECT doc_id, shard, sh > 5 AS terminated_early FROM r WHERE rn <= 5 ORDER BY shard, doc_id"),
    "q_fields_format" -> ("SELECT o_orderkey, strftime(o_orderdate, '%Y/%m/%d') AS od_fmt, " +
      "epoch_ms(o_orderdate) AS od_ms FROM orders WHERE o_totalprice > 5000 ORDER BY o_orderkey"),
    "q_indices_boost" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      " SELECT sc.id, round(sc.score * (CASE WHEN lang = 'en' THEN 2.0 ELSE 1.0 END), 4) AS score " +
      "FROM sc JOIN documents ON doc_id = sc.id ORDER BY score DESC, id LIMIT 15"),
    "q_suggest_fuzzy" -> ("SELECT source AS suggestion, " +
      "max(CASE WHEN starts_with(source, 'rsc1') THEN 1 ELSE 0 END)::INT AS exact_prefix, " +
      "max(n_chars) AS weight FROM documents " +
      "WHERE damerau_levenshtein(left(source, 4), 'rsc1') <= 1 " +
      "GROUP BY source ORDER BY exact_prefix DESC, weight DESC, suggestion LIMIT 5"),
    "q_knn_multi" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q1 AS (SELECT " + ScriptQv.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "q2 AS (SELECT " + ScriptQv2.mkString("[", ", ", "]") + "::DOUBLE[] AS w), " +
      "c1 AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS cosine " +
      "FROM e CROSS JOIN q1 ORDER BY cosine DESC, vec_id LIMIT 20), " +
      "c2 AS (SELECT vec_id, list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> v[i] * w[i])), (a, b) -> a + b) / " +
      "(sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) * " +
      "sqrt(list_reduce(list_prepend(0.0, list_transform(w, x -> x * x)), (a, b) -> a + b))) AS cosine " +
      "FROM e CROSS JOIN q2 ORDER BY cosine DESC, vec_id LIMIT 20), " +
      "u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2) " +
      "SELECT vec_id AS id, round(sum(cosine), 4) AS score, count(*)::INT AS matched_clauses " +
      "FROM u GROUP BY vec_id ORDER BY score DESC, id LIMIT 10"),
    "q_nested_score" -> ("SELECT o_orderkey, round(avg(l_quantity), 4) AS score " +
      "FROM lineitem JOIN orders ON o_orderkey = l_orderkey WHERE l_quantity > 45 " +
      "GROUP BY o_orderkey ORDER BY o_orderkey"),
    "q_graph_explore" -> ("WITH toks AS (SELECT doc_id, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "bg AS (SELECT term, count(*)::BIGINT AS bg_count FROM toks GROUP BY term), " +
      "tot AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
      "f1 AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'), " +
      "f1t AS (SELECT count(*)::DOUBLE AS fg FROM f1), " +
      "s1 AS (SELECT term, fg_count, bg_count, round((fg_count/fg)*ln((fg_count/fg)/(bg_count/n)), 6) AS score " +
      "FROM (SELECT term, count(*)::BIGINT AS fg_count FROM toks JOIN f1 USING (doc_id) " +
      "WHERE term <> 'spark' GROUP BY term HAVING count(*) >= 3) h " +
      "JOIN bg USING (term) CROSS JOIN f1t CROSS JOIN tot ORDER BY score DESC, term LIMIT 5), " +
      "f2 AS (SELECT DISTINCT doc_id FROM toks WHERE term IN (SELECT term FROM s1)), " +
      "f2t AS (SELECT count(*)::DOUBLE AS fg FROM f2), " +
      "s2 AS (SELECT term, fg_count, bg_count, round((fg_count/fg)*ln((fg_count/fg)/(bg_count/n)), 6) AS score " +
      "FROM (SELECT term, count(*)::BIGINT AS fg_count FROM toks JOIN f2 USING (doc_id) " +
      "WHERE term <> 'spark' AND term NOT IN (SELECT term FROM s1) GROUP BY term HAVING count(*) >= 3) h " +
      "JOIN bg USING (term) CROSS JOIN f2t CROSS JOIN tot ORDER BY score DESC, term LIMIT 5) " +
      "SELECT term, hop, fg_count, bg_count, score FROM (" +
      "SELECT term, 0 AS hop, bg_count AS fg_count, bg_count, 1.0::DOUBLE AS score FROM bg WHERE term = 'spark' " +
      "UNION ALL SELECT term, 1, fg_count, bg_count, score FROM s1 " +
      "UNION ALL SELECT term, 2, fg_count, bg_count, score FROM s2) " +
      "ORDER BY hop, score DESC, term"),
    "q_graph_connections" -> ("WITH toks AS (SELECT doc_id, term FROM (SELECT doc_id, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents) " +
      "WHERE term IN ('spark', 'agg', 'scan', 'merge', 'window')) " +
      "SELECT a.term AS source, b.term AS target, count(*)::BIGINT AS doc_count " +
      "FROM toks a JOIN toks b USING (doc_id) WHERE a.term < b.term " +
      "GROUP BY 1, 2 HAVING count(*) >= 3 " +
      "ORDER BY doc_count DESC, source, target"),
    // ---- r12 additions ----
    // knn query clause: exact top-25 by 4-dp cosine (num_candidates
    // covers the corpus), then the sibling bool filter intersects
    "q_dsl_knn" -> ("WITH e AS (SELECT vec_id, label, " +
      "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "q AS (SELECT list_transform(range(0, 64), i -> (i * 41 % 100) / 100.0 - 0.5) AS qv), " +
      "n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "qn AS (SELECT qv, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(qv, x -> x * x)), (a, b) -> a + b)) AS qnrm FROM q), " +
      "p AS (SELECT vec_id, label, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), " +
      "i -> v[i] * qv[i])), (x, y) -> x + y) / (nrm * qnrm), 4) AS cosine " +
      "FROM n CROSS JOIN qn), " +
      "topk AS (SELECT vec_id, label FROM (SELECT *, " +
      "row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM p) " +
      "WHERE rank <= 25) " +
      "SELECT vec_id, label FROM topk WHERE label = 2 ORDER BY vec_id"),
    "q_semantic_query" -> (TokCte + " SELECT doc_id FROM tok " +
      "WHERE len(list_filter(toks, t -> t IN ('vector', 'hash', 'merge'))) > 0 " +
      "ORDER BY doc_id"),
    "q_text_expansion" -> (TokCte + " SELECT doc_id FROM tok " +
      "WHERE len(list_filter(toks, t -> t IN ('stream', 'window'))) > 0 " +
      "ORDER BY doc_id"),
    "q_weighted_tokens" -> (TokCte + " SELECT doc_id FROM tok " +
      "WHERE len(list_filter(toks, t -> t IN ('vector', 'quantile'))) > 0 " +
      "ORDER BY doc_id"),
    // fired rules only: r1 pins 42/7, r2 excludes 11/13; r3's ids
    // (3, 4) appear ONLY if they match the organic AND query
    "q_rule_query" -> (TokCte + " SELECT doc_id FROM tok " +
      "WHERE ((len(list_filter(toks, t -> t = 'hash')) > 0 " +
      "AND len(list_filter(toks, t -> t = 'join')) > 0) " +
      "OR doc_id IN (42, 7)) AND doc_id NOT IN (11, 13) ORDER BY doc_id"),
    "q_retriever_pinned" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", au AS (SELECT id, score FROM sc UNION ALL " +
      "SELECT doc_id AS id, 0.0 AS score FROM documents " +
      "WHERE doc_id IN (42, 7) AND doc_id NOT IN (SELECT id FROM sc)), " +
      "pp AS (SELECT id, CASE WHEN id = 42 THEN 1000000000.0 " +
      "WHEN id = 7 THEN 999999999.0 ELSE score END AS score FROM au) " +
      "SELECT id, score FROM pp ORDER BY score DESC, id LIMIT 10"),
    "q_rule_ruleset" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", au AS (SELECT id, score FROM sc UNION ALL " +
      "SELECT doc_id AS id, 0.0 AS score FROM documents " +
      "WHERE doc_id IN (23, 5) AND doc_id NOT IN (SELECT id FROM sc)), " +
      "r AS (SELECT id, score, " +
      "CASE WHEN id = 23 THEN 0 WHEN id = 5 THEN 1 ELSE 2147483647 END AS pin_rank " +
      "FROM au WHERE id NOT IN (2)) " +
      "SELECT id, score, pin_rank < 2147483647 AS pinned FROM r " +
      "ORDER BY pin_rank, score DESC, id LIMIT 10"),
    "q_retriever_rule" -> (TokCte + bm25Ctes("", "tok", Seq("fast", "hash", "join")) +
      ", au AS (SELECT id, score FROM sc UNION ALL " +
      "SELECT doc_id AS id, 0.0 AS score FROM documents " +
      "WHERE doc_id IN (42, 7) AND doc_id NOT IN (SELECT id FROM sc)), " +
      "r AS (SELECT id, score, " +
      "CASE WHEN id = 42 THEN 0 WHEN id = 7 THEN 1 ELSE 2147483647 END AS pin_rank " +
      "FROM au WHERE id NOT IN (11, 13)) " +
      "SELECT id, score, pin_rank < 2147483647 AS pinned FROM r " +
      "ORDER BY pin_rank, score DESC, id LIMIT 10"),
    "q_geo_grid_query" -> (GeoCte + ", b AS (SELECT c_custkey, lat, lon, " +
      "least(CAST(floor((lon + 180.0) / 360.0 * 32) AS BIGINT), 31) AS loni, " +
      "least(CAST(floor((lat + 90.0) / 180.0 * 32) AS BIGINT), 31) AS lati FROM g), " +
      "v AS (SELECT c_custkey, lat, lon, list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 10), k -> " +
      "CASE WHEN k % 2 = 0 THEN (loni >> (4 - k // 2)::INT) & 1 ELSE (lati >> (4 - k // 2)::INT) & 1 END)), " +
      "(a, b) -> a * 2 + b) AS v FROM b), " +
      "h AS (SELECT c_custkey, lat, lon, " +
      "substr('0123456789bcdefghjkmnpqrstuvwxyz', (((v >> 5) & 31))::INT + 1, 1) || " +
      "substr('0123456789bcdefghjkmnpqrstuvwxyz', ((v & 31))::INT + 1, 1) AS key FROM v) " +
      s"SELECT c_custkey, lat, lon FROM h WHERE key = '$GeoGridQueryCell' ORDER BY c_custkey"),
    "q_esql_metrics" -> ("SELECT event_type, max(value) AS mx, count(*)::BIGINT AS n " +
      "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_esql_cidr" -> (IpCte +
      " SELECT count(*)::BIGINT AS n FROM ipv WHERE " +
      "(ipn >= 10 * 16777216 + 64 * 65536 AND ipn < 10 * 16777216 + 64 * 65536 + 4194304) OR " +
      "(ipn >= 10 * 16777216 + 192 * 65536 AND ipn < 10 * 16777216 + 192 * 65536 + 1048576)"),
    "q_eql_simple" -> ("SELECT event_id, user_id, value FROM events " +
      "WHERE event_type = 'error' AND value > 300 ORDER BY event_id"),
    "q_eql_sample" -> ("SELECT user_id, " +
      "min(CASE WHEN event_type = 'error' AND value > 200 THEN event_id END) AS e1_id, " +
      "min(CASE WHEN event_type = 'purchase' AND value > 200 THEN event_id END) AS e2_id " +
      "FROM events GROUP BY user_id " +
      "HAVING e1_id IS NOT NULL AND e2_id IS NOT NULL ORDER BY user_id"),
    "q_eql_tail" -> ("SELECT event_id, user_id, value FROM " +
      "(SELECT event_id, user_id, value FROM events " +
      "WHERE event_type = 'purchase' AND value > 100 " +
      "ORDER BY event_id DESC LIMIT 5) ORDER BY event_id"),
    "q_eql_funcs" -> ("SELECT event_id, user_id, value FROM events " +
      "WHERE (event_type LIKE 'c%' OR event_type LIKE 's_gnup' " +
      "OR contains(event_type, 'rror')) AND value > 300 ORDER BY event_id"),
    "q_has_parent_score" -> ("SELECT l_orderkey, l_linenumber, " +
      "round(ln(1.0 + o_totalprice), 4) AS score FROM lineitem " +
      "JOIN orders ON o_orderkey = l_orderkey " +
      "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 5000 " +
      "ORDER BY l_orderkey, l_linenumber"),
    // mirror of Eql.sequence: µs timestamps, latest-predecessor carry
    // via last_value IGNORE NULLS over UNBOUNDED..1 PRECEDING
    // mirror of the Spark window-carry with the kill sentinel: an
    // error row writes -1 into the level-0 chain columns, and the
    // level-1 extension requires the carried t0 to be a live chain
    "q_eql_missing" -> ("WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tu FROM events " +
      "WHERE event_type IN ('view', 'purchase', 'error')), " +
      "t AS (SELECT *, CASE WHEN event_type = 'view' THEN 0 " +
      "WHEN event_type = 'purchase' THEN 1 END AS step, " +
      "event_type = 'error' AS kill0 FROM e), " +
      "s AS (SELECT * FROM t WHERE step IS NOT NULL OR kill0), " +
      "l0 AS (SELECT *, CASE WHEN kill0 THEN -1 WHEN step = 0 THEN tu END AS c0_t0, " +
      "CASE WHEN kill0 THEN -1 WHEN step = 0 THEN event_id END AS c0_i0 FROM s), " +
      "l1p AS (SELECT *, last_value(c0_t0 IGNORE NULLS) OVER w AS p_t0, " +
      "last_value(c0_i0 IGNORE NULLS) OVER w AS p_i0 FROM l0 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
      "l1 AS (SELECT *, CASE WHEN step = 1 AND p_t0 IS NOT NULL AND p_t0 <> -1 AND tu - p_t0 <= 86400000000 THEN p_t0 END AS c1_t0, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND p_t0 <> -1 AND tu - p_t0 <= 86400000000 THEN p_i0 END AS c1_i0, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND p_t0 <> -1 AND tu - p_t0 <= 86400000000 THEN tu END AS c1_t1, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND p_t0 <> -1 AND tu - p_t0 <= 86400000000 THEN event_id END AS c1_i1 FROM l1p) " +
      "SELECT user_id, c1_i0 AS e1_id, c1_i1 AS e2_id, (c1_t1 - c1_t0) // 1000 AS span_ms " +
      "FROM l1 WHERE c1_t1 IS NOT NULL ORDER BY user_id, e2_id"),
    "q_eql_sequence" -> ("WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tu FROM events " +
      "WHERE event_type IN ('view', 'click', 'purchase')), " +
      "t AS (SELECT *, CASE WHEN event_type = 'view' THEN 0 " +
      "WHEN event_type = 'click' AND value > 50 THEN 1 " +
      "WHEN event_type = 'purchase' THEN 2 END AS step FROM e), " +
      "s AS (SELECT * FROM t WHERE step IS NOT NULL), " +
      "l0 AS (SELECT *, CASE WHEN step = 0 THEN tu END AS c0_t0, " +
      "CASE WHEN step = 0 THEN event_id END AS c0_i0 FROM s), " +
      "l1p AS (SELECT *, last_value(c0_t0 IGNORE NULLS) OVER w AS p_t0, " +
      "last_value(c0_i0 IGNORE NULLS) OVER w AS p_i0 FROM l0 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
      "l1 AS (SELECT *, CASE WHEN step = 1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN p_t0 END AS c1_t0, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN p_i0 END AS c1_i0, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN tu END AS c1_t1, " +
      "CASE WHEN step = 1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN event_id END AS c1_i1 FROM l1p), " +
      "l2p AS (SELECT *, last_value(c1_t0 IGNORE NULLS) OVER w AS q_t0, " +
      "last_value(c1_i0 IGNORE NULLS) OVER w AS q_i0, " +
      "last_value(c1_t1 IGNORE NULLS) OVER w AS q_t1, " +
      "last_value(c1_i1 IGNORE NULLS) OVER w AS q_i1 FROM l1 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      "SELECT user_id, q_i0 AS e1_id, q_i1 AS e2_id, event_id AS e3_id, " +
      "(tu - q_t0) // 1000 AS span_ms FROM l2p " +
      "WHERE step = 2 AND q_t0 IS NOT NULL AND tu - q_t0 <= 86400000000 " +
      "ORDER BY user_id, e3_id"),
    "q_eql_runs" -> ("WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tu FROM events " +
      "WHERE event_type = 'view' OR (event_type = 'click' AND value > 100)), " +
      "s AS (SELECT *, (event_type = 'view') AS m0, (event_type = 'click' AND value > 100) AS m1 FROM e), " +
      "l0 AS (SELECT *, CASE WHEN m0 THEN tu END AS c0_t0, " +
      "CASE WHEN m0 THEN event_id END AS c0_i0 FROM s), " +
      "l1p AS (SELECT *, last_value(c0_t0 IGNORE NULLS) OVER w AS p_t0, " +
      "last_value(c0_i0 IGNORE NULLS) OVER w AS p_i0 FROM l0 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
      "l1 AS (SELECT *, CASE WHEN m1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN p_t0 END AS c1_t0, " +
      "CASE WHEN m1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN p_i0 END AS c1_i0, " +
      "CASE WHEN m1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN tu END AS c1_t1, " +
      "CASE WHEN m1 AND p_t0 IS NOT NULL AND tu - p_t0 <= 86400000000 THEN event_id END AS c1_i1 FROM l1p), " +
      "l2p AS (SELECT *, last_value(c1_t0 IGNORE NULLS) OVER w AS q_t0, " +
      "last_value(c1_i0 IGNORE NULLS) OVER w AS q_i0, " +
      "last_value(c1_t1 IGNORE NULLS) OVER w AS q_t1, " +
      "last_value(c1_i1 IGNORE NULLS) OVER w AS q_i1 FROM l1 " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
      "SELECT user_id, q_i0 AS e1_id, q_i1 AS e2_id, event_id AS e3_id, " +
      "(tu - q_t0) // 1000 AS span_ms FROM l2p " +
      "WHERE m1 AND q_t0 IS NOT NULL AND tu - q_t0 <= 86400000000 " +
      "ORDER BY user_id, e3_id"),
    "q_esql_categorize" -> ("WITH c AS (SELECT array_to_string(list_filter(list_filter(" +
      "regexp_split_to_array(lower(event_type), '[^a-z0-9]+'), x -> len(x) > 0), " +
      "t -> NOT regexp_matches(t, '^[0-9]+$'))[1:4], ' ') AS cat FROM events) " +
      "SELECT cat, count(*)::BIGINT AS n FROM c GROUP BY cat ORDER BY cat"),
    "q_highlight_order" -> highlightOrderOracleSql(Seq("fast", "hash", "join"), 2),
    "q_highlight_fragments" -> (TokCte +
      ", h AS (SELECT doc_id, " +
      "regexp_replace(regexp_extract(lower(text), '([a-z0-9]+ ){0,3}\\bfast\\b( [a-z0-9]+){0,3}'), '\\bfast\\b', '<em>fast</em>', 'g') AS f1, " +
      "regexp_replace(regexp_extract(lower(text), '([a-z0-9]+ ){0,3}\\bhash\\b( [a-z0-9]+){0,3}'), '\\bhash\\b', '<em>hash</em>', 'g') AS f2 " +
      "FROM documents JOIN tok USING (doc_id) WHERE list_has_any(toks, ['fast','hash'])) " +
      "SELECT doc_id AS id, array_to_string(list_filter([f1, f2], x -> x != '')[1:2], ' ... ') AS snippet " +
      "FROM h ORDER BY id")
  )
}

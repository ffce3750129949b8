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
import graft.EntryShared._

/** SparkEntry registrations: LLM-data-pipeline + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesPipeline {

  // DuckDB mirror of Dsir.importanceWeights: unigram+bigram features
  // hashed to 4096 buckets (md5-48 fold), Laplace-smoothed target/raw
  // models, 4-dp-decimal log-ratio summed per doc
  private val DsirLwCtes: String = TokCte +
    ", ng AS (SELECT doc_id, list_concat(toks, list_transform(range(1, len(toks)), " +
    "i -> toks[i] || ' ' || toks[i+1])) AS ngs FROM tok)" +
    s", fx AS (SELECT doc_id, ${hexFold("g", 12)} % 4096 AS b " +
    "FROM (SELECT doc_id, unnest(ngs) AS g FROM ng))" +
    ", tf AS (SELECT fx.doc_id, b FROM fx JOIN documents USING (doc_id) WHERE source = 'src1')" +
    ", tcnt AS (SELECT b, count(*)::BIGINT AS tc FROM tf GROUP BY b)" +
    ", rcnt AS (SELECT b, count(*)::BIGINT AS rc FROM fx GROUP BY b)" +
    ", tot AS (SELECT (SELECT sum(tc) FROM tcnt) AS tt, (SELECT sum(rc) FROM rcnt) AS tr)" +
    ", ratio AS (SELECT b, CAST(round(ln((coalesce(tc, 0) + 1) / (tt + 4096.0)) - " +
    "ln((coalesce(rc, 0) + 1) / (tr + 4096.0)), 4) AS DECIMAL(18,4)) AS logr " +
    "FROM rcnt FULL OUTER JOIN tcnt USING (b) CROSS JOIN tot)" +
    ", lw AS (SELECT fx.doc_id, CAST(sum(logr) AS DOUBLE) AS log_weight " +
    "FROM fx JOIN ratio USING (b) GROUP BY fx.doc_id) "

  /** The link-graph keys' shared page corpus: residue-deterministic
    * HTML so the DuckDB oracle replays every edge from arithmetic.
    * Host = h(doc_id%7).example. Every page carries a relative anchor
    * (self-edge), a rel=nofollow anchor, a mailto: and a #fragment
    * (all three unfollowable); pages NOT on h6 add two absolute
    * anchors — double-quoted lowercase and single-quoted
    * uppercase-HTTPS/.EXAMPLE (host case-folds, path keeps case) —
    * so h6 is the dangling host with in-edges only. */
  private def linkCorpus(docs: DataFrame): DataFrame = {
    val r = col("doc_id") % 7
    val host = concat(lit("h"), r.cast("string"), lit(".example"))
    val absA = concat(lit("<a href=\"https://h"),
      ((col("doc_id") * 2 + 1) % 7).cast("string"),
      lit(".example/p"), (col("doc_id") % 50).cast("string"), lit("\">t"),
      (col("doc_id") % 5).cast("string"), lit("</a>"))
    val absB = concat(lit("<A HREF='HTTPS://h"),
      ((col("doc_id") + 3) % 7).cast("string"), lit(".EXAMPLE/Q'>y</A>"))
    val relA = concat(lit("<a class=\"z\" href=\"/local/p"),
      (col("doc_id") % 13).cast("string"), lit("\">rel</a>"))
    val nofA = concat(lit("<a href=\"https://h"),
      ((col("doc_id") + 1) % 7).cast("string"),
      lit(".example/n\" rel=\"nofollow\">n</a>"))
    val junk = lit("<a href=\"mailto:a@b.c\">m</a><a href=\"#top\">t</a>")
    val html = concat(lit("<html><body><p>page</p>"), relA, nofA, junk,
      when(r =!= 6, concat(absA, absB)).otherwise(lit("")),
      lit("</body></html>"))
    docs.select(col("doc_id"), host.as("host"), html.as("html"))
  }

  /** DuckDB mirror of pageRankInt over the linkCorpus cross-host edge
    * set: the SAME integer formulas (r0 = scale//N; contrib =
    * (r*w*85)//(100*outw); base = 15000000//(100*N); dangling share =
    * (85*D)//(100*N)), unrolled `iters` times — long sums are
    * order-independent and `//` floors like `div`, so the ranks must
    * hash-match bit-for-bit. `finalSelect` lets the rank-consuming
    * keys (q_link_rank_mix) share the SAME iteration CTEs rather
    * than keeping a drifting copy. */
  private def linkRankSql(iters: Int,
      finalSelect: String => String = last =>
        s" SELECT 'h' || h::VARCHAR || '.example' AS host, rank FROM $last ORDER BY host"): String = {
    val head =
      "WITH d AS (SELECT doc_id, doc_id % 7 AS r FROM documents), " +
      "l AS (SELECT doc_id, r AS src, (2*doc_id+1) % 7 AS dst FROM d WHERE r != 6 " +
      "UNION ALL SELECT doc_id, r, (doc_id+3) % 7 FROM d WHERE r != 6), " +
      "e AS (SELECT src, dst, count(*)::BIGINT AS w FROM l WHERE src != dst GROUP BY 1, 2), " +
      "nodes AS (SELECT DISTINCT h FROM (SELECT src AS h FROM e UNION SELECT dst AS h FROM e) t), " +
      "nn AS (SELECT count(*)::BIGINT AS n FROM nodes), " +
      "ow AS (SELECT src, sum(w)::BIGINT AS outw FROM e GROUP BY src), " +
      "r0 AS (SELECT h, (1000000 // n)::BIGINT AS rank FROM nodes CROSS JOIN nn)"
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s", r$i AS (SELECT n2.h, ((15000000 // (100*nn.n)) + " +
        "((dm.d*85) // (100*nn.n)) + coalesce(c.cin, 0))::BIGINT AS rank " +
        "FROM nodes n2 CROSS JOIN nn " +
        s"CROSS JOIN (SELECT coalesce(sum(r.rank), 0)::BIGINT AS d FROM $p r " +
        "LEFT JOIN ow ON r.h = ow.src WHERE ow.src IS NULL) dm " +
        "LEFT JOIN (SELECT e.dst AS h, sum((r.rank*e.w*85) // (100*ow.outw))::BIGINT AS cin " +
        s"FROM $p r JOIN ow ON r.h = ow.src JOIN e ON e.src = r.h " +
        "GROUP BY e.dst) c ON n2.h = c.h)"
    }.mkString
    head + steps + finalSelect(s"r$iters")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- F. LLM-data-pipeline ----
    "q_dedup_exact" -> ((s, d) => Dedup.exactDuplicates(Tables.events(s, d), "event_id", "props")),
    "q_dedup_minhash" -> ((s, d) => Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text", 0.8)),
    // CROSS-corpus screen: which docs of the "new crawl" (odd ids)
    // near-duplicate the "existing training set" (even ids) — the
    // incremental-ingest dedup; new×new / ref×ref pairs never form
    "q_dedup_cross" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashLshCross(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", 0.8)
    }),
    // dedup-once: the "existing training set" half persists its
    // shingles + band keys as an index artifact at write time; the
    // "new crawl" half dedups against it WITHOUT the ref corpus ever
    // re-tokenizing — hash-equal to on-the-fly q_dedup_cross (same
    // oracle SQL), the incremental-ingest steady state. A new half
    // within Dedup's lookup caps takes the eager lookup regime
    "q_dedup_cross_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // source-fingerprint-keyed dir: repeated runs reuse the fresh
      // artifact (the dedup-once contract); regenerated testdata
      // changes the key and rebuilds
      // staged build + atomic rename: concurrent runs can't read a
      // half-written artifact, stale generations get swept
      val out = graft.index.IndexArtifacts.ensureArtifact("mhidx", s"$d/documents.parquet")(
        p => graft.index.IndexArtifacts.loadMinhash(s, p, "text", Some("doc_id")).nonEmpty)(
        stage => graft.sources.Connector.save(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), stage, Map(
            "graft.write.operation" -> "overwrite",
            "graft.mapping.id" -> "doc_id",
            "graft.index.minhash" -> "text")))
      Dedup.minhashLshCrossIndexed(s,
        docs.where(pmod(col("doc_id"), lit(2)) === 1), out, "doc_id", "text", 0.8)
        .getOrElse(sys.error("minhash artifact missing right after build"))
    }),
    // cluster-level dedup: connected components over the verified pairs
    "q_dedup_cluster" -> ((s, d) =>
      Dedup.dedupClusters(Dedup.minhashLshUnsorted(t(s, d, "documents"), "doc_id", "text", 0.8))),
    // canonical selection: per cluster keep the BEST member by quality
    // (one max_by partial agg over the tiny cluster frame)
    "q_dedup_canonical" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.canonicalPerCluster(
        Dedup.dedupClusters(Dedup.minhashLshUnsorted(docs, "doc_id", "text", 0.8)),
        docs, "doc_id", "n_chars")
    }),
    // incremental dedup: new docs (odd ids) dropped when near-dupping
    // an existing (even-id) doc — the daily-ingestion keep set
    "q_dedup_incremental" -> ((s, d) =>
      Dedup.dedupIncrementalNewIds(t(s, d, "documents"), "doc_id", "text",
        pmod(col("doc_id"), lit(2L)) === 1L, 0.8)),
    // exact substring-duplication screen (the published stride-1
    // window form): any 20-token span appearing >1x in the corpus
    // marks its positions; per-doc duplicated-span ratio
    "q_dedup_substring" -> ((s, d) =>
      graft.text.TextAnalysis.substringDupSpans(
        t(s, d, "documents"), "doc_id", "text", k = 20)),
    // the CUT step (r13b): keep the globally-first occurrence of each
    // duplicated 20-token span, remove every other occurrence from its
    // doc — span-granularity dedup (Lee et al. 2022), fingerprint of
    // each doc's surviving token stream oracle-checked
    "q_dedup_spans" -> ((s, d) =>
      graft.text.TextAnalysis.removeDupSpans(
        t(s, d, "documents"), "doc_id", "text", k = 20)),
    // span-level decontamination (r13b): every corpus span appearing
    // anywhere in the benchmark half is cut (ALL occurrences), the
    // prose around it survives — same split as q_contamination
    "q_contamination_spans" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.text.TextAnalysis.decontaminateSpans(
        docs.where(col("doc_id") >= 25), "doc_id", "text",
        docs.where(col("doc_id") < 25), "text", k = 10)
    }),
    // bloom-screened membership dedup: seen-side filter broadcast
    // (MB at 10^10 docs), map-side prune, exact verify — output is
    // exactly batch ANTI JOIN seen, so the oracle is hash-exact;
    // overlapping id ranges make the screen drop real rows
    "q_dedup_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.bloomScreenNew(
        docs.where(col("doc_id") >= 200),
        docs.where(col("doc_id") < 300),
        "doc_id", "text", expectedSeen = 1000L, fpp = 0.01)
    }),
    // contamination RATE variant (q_contamination reports the overlap
    // count; this one adds matched/total + rate with a configurable
    // n-gram size — n=3 because the synthetic vocab is ~30 words, real
    // corpora use the 13-gram recipe): every 97th doc plays the
    // benchmark set
    "q_contamination_rate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationScreen(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    }),
    // temperature-2 mix flattening: deterministic per-source keep
    // rates sqrt(n_min/n_s), content-hash draws
    "q_mix_sample" -> ((s, d) =>
      graft.text.TextAnalysis.mixSample(t(s, d, "documents"), "source", "doc_id")),
    // CCNet-style line-level boilerplate dedup: per-source header + a
    // corpus-wide footer wrapped around each body; lines shared by > 4
    // docs are machinery and get stripped, bodies survive in order
    "q_dedup_lines" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("page",
        concat(lit("home | about | "), col("source"), lit("\n"),
          col("text"), lit("\ncopyright 2024 example.com")))
      Dedup.dedupLines(docs, "doc_id", "page", maxDocs = 4)
        .select(col("doc_id"), col("n_lines"), md5(col("text_clean")).as("h"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_simhash" -> ((s, d) => Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", 3)),
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardTopK(t(s, d, "documents").where(col("source") === "src0"), "doc_id", "text", 20)),
    // blocking key COMPUTED from the vector (SRP buckets), not assumed
    // from a label column — the unlabeled-corpus scale path (r8)
    "q_dedup_embed" -> ((s, d) =>
      Dedup.embeddingTopKPairsLsh(t(s, d, "embeddings"), "vec_id", "embedding",
        dim = 64, k = 20)),
    // the labeled-block variant stays covered under its own key
    "q_dedup_embed_block" -> ((s, d) =>
      Dedup.embeddingTopKPairs(t(s, d, "embeddings"), "vec_id", "embedding", "label", 20)),
    // SemDeDup keeper policy: per connected dup group keep the member
    // FARTHEST from its centroid (published keep rule), drop the rest
    "q_dedup_semantic_keep" -> ((s, d) => Dedup.semanticDedupKeep(
      t(s, d, "embeddings"), "vec_id", "embedding",
      nCentroids = 16, minCosine = 0.35)),
    "q_ann_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Ann.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", 10)
    }),
    "q_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Ann.lshTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", dim = 64, k = 10)
    }),
    "q_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Ann.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        nCentroids = 16, nprobe = 4, k = 10)
    }),
    // persisted IVF index: the write fits the quantizer and pays the
    // corpus assignment pass ONCE (graft.index.vectors); the query
    // reads centroids+assignments back and pays probe+rank only —
    // hash-equal to the fit-per-query q_ann_ivf (same oracle SQL)
    "q_ann_ivf_persisted" -> ((s, d) => {
      // source-fingerprint-keyed dir: repeated runs reuse the fresh
      // artifact (the analyze-once contract); regenerated testdata
      // changes the key and rebuilds
      // staged build + atomic rename: concurrent runs can't read a
      // half-written artifact, stale generations get swept
      val out = graft.index.IndexArtifacts.ensureArtifact("ivfidx", s"$d/embeddings.parquet")(
        p => graft.index.IndexArtifacts.loadIvf(s, p, "embedding").nonEmpty)(
        stage => graft.sources.Connector.save(t(s, d, "embeddings"), stage, Map(
          "graft.write.operation" -> "overwrite",
          "graft.mapping.id" -> "vec_id",
          "graft.index.vectors" -> "embedding",
          "graft.index.vectors.centroids" -> "16")))
      Ann.ivfTopKIndexed(s, out, t(s, d, "embeddings").where(col("vec_id") < 5),
        "vec_id", "embedding", nCentroids = 16, nprobe = 4, k = 10)
    }),
    // IVF list-balance build report over the SAME persisted artifact:
    // per-list population + min/max/imbalance — the number that
    // decides probe cost at scale (a skewed quantizer makes hot
    // queries pay far over nprobe/nCentroids of the corpus). The
    // oracle re-derives the full assignment from the seed-quantizer
    // CTEs q_ann_ivf shares, then counts per list
    "q_ivf_list_stats" -> ((s, d) => {
      val out = graft.index.IndexArtifacts.ensureArtifact("ivfidx", s"$d/embeddings.parquet")(
        p => graft.index.IndexArtifacts.loadIvf(s, p, "embedding").nonEmpty)(
        stage => graft.sources.Connector.save(t(s, d, "embeddings"), stage, Map(
          "graft.write.operation" -> "overwrite",
          "graft.mapping.id" -> "vec_id",
          "graft.index.vectors" -> "embedding",
          "graft.index.vectors.centroids" -> "16")))
      graft.index.IndexArtifacts.ivfListStats(s, out, "embedding")
        .getOrElse(sys.error("ivf artifact missing right after build"))
    }),
    // _explain for a knn hit: dot / norms / cosine breakdown for one
    // (query vector, document) pair
    "q_explain_knn" -> ((s, d) =>
      Ann.explainKnn(t(s, d, "embeddings"), "vec_id", "embedding",
        ScriptQv, docId = 42L)),
    // graph ANN (the HNSW family, ES's actual knn index): one NSW
    // graph per partition (= per Lucene segment), beam-searched per
    // query, merged top-k; recall@10 asserted in-plan vs brute force
    "q_ann_hnsw" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Ann.hnswRecallProbe(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, minRecall = 0.9)
    }),
    // ingest kv processor at read time: str_to_map split, map lookups
    // feed a normal agg — all inside one codegen'd projection
    "q_ingest_kv" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("kvs",
        concat(lit("t="), col("event_type"), lit(";u="), pmod(col("user_id"), lit(7L))))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"kv": {"field": "kvs", "field_split": ";", "value_split": "="}}]}""")(ev)
        .select(element_at(col("kvs"), "t").as("t"),
          element_at(col("kvs"), "u").cast("long").as("u"))
        .groupBy(col("t"), col("u")).agg(count(lit(1)).as("n"))
        .orderBy(col("t"), col("u"))
    }),
    // ingest json processor: schema-free props -> map<string,string>,
    // typed downstream by the consumer
    "q_ingest_json" -> ((s, d) =>
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"json": {"field": "props", "target_field": "pj"}}]}""")(
        Tables.events(s, d))
        .select(col("event_type"), element_at(col("pj"), "k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(min(col("k")).as("kmin"), max(col("k")).as("kmax"))
        .orderBy(col("event_type"))),
    // geoip processor, oracle-keyed (upgraded from spec): synthetic
    // ips spread across the prefix-table classes, private ranges null
    "q_ingest_geoip" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ip",
        concat_ws(".", pmod(col("user_id") * 31L, lit(223L)) + 1L,
          pmod(col("user_id") * 7L, lit(256L)),
          pmod(col("user_id") * 13L, lit(256L)),
          pmod(col("user_id"), lit(256L))))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"geoip": {"field": "ip", "target_field": "geo"}}]}""")(ev)
        .groupBy(col("geo.continent_name").as("continent"),
          col("geo.country_iso_code").as("iso"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("continent"), col("iso"))
    }),
    // length+truncate+unique filter chain, oracle-keyed: stream sizes
    // plus the first five surviving tokens (order-preserving dedup)
    "q_analyze_filters" -> ((s, d) => {
      import graft.analysis.Analyzer
      val toks = Analyzer.tokens(col("text"))
      val chain = Analyzer.uniqueFilter(
        Analyzer.truncateFilter(Analyzer.lengthFilter(toks, 3, 8), 5))
      t(s, d, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_raw"),
          size(chain).cast("long").as("n_chain"),
          array_join(slice(chain, 1, 5), " ").as("head5"))
        .orderBy(col("doc_id"))
    }),
    // uri_parts processor, oracle-keyed (upgraded from spec): three
    // URL shapes exercise scheme/host/port/path/query/fragment +
    // userinfo stripping and the missing-component empty strings
    "q_ingest_uri_parts" -> ((s, d) => {
      val docs = t(s, d, "documents").withColumn("u",
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          concat(lit("https://"), col("source"), lit(".example.com:8443/docs/"),
            col("doc_id"), lit("?lang="), col("lang"), lit("#top")))
          .when(pmod(col("doc_id"), lit(3L)) === 1L,
            concat(lit("http://"), col("source"), lit(".example.org/d/"), col("doc_id")))
          .otherwise(concat(lit("ftp://user@"), col("source"), lit(".example.net/file"))))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"uri_parts": {"field": "u", "target_field": "url"}}]}""")(docs)
        .select(col("doc_id"), col("url.scheme").as("scheme"),
          col("url.host").as("host"), col("url.port").as("port"),
          col("url.path").as("path"), col("url.query").as("query"),
          col("url.fragment").as("fragment"))
        .orderBy(col("doc_id"))
    }),
    // user_agent processor, oracle-keyed (upgraded from spec): six
    // rotating UA strings exercise every browser/os/device branch of
    // the heuristic taxonomy
    "q_ingest_user_agent" -> ((s, d) => {
      val uas = array(
        lit("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36"),
        lit("Mozilla/5.0 (Macintosh; Mac OS X) Version/17.1 Safari/605.1.15"),
        lit("Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0"),
        lit("Mozilla/5.0 (iPhone; iOS 17) Version/17.0 Mobile Safari/604.1"),
        lit("Mozilla/5.0 (Windows NT 10.0) Edg/120.0.2210.91"),
        lit("Wget/1.21 (linux-gnu)"))
      val docs = t(s, d, "documents")
        .withColumn("ua_raw", element_at(uas, pmod(col("doc_id"), lit(6L)).cast("int") + 1))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"user_agent": {"field": "ua_raw", "target_field": "ua"}}]}""")(docs)
        .groupBy(col("ua.name").as("name"), col("ua.version").as("version"),
          col("ua.os").as("os"), col("ua.device").as("device"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("name"), col("version"), col("os"))
    }),
    // registered_domain processor, oracle-keyed (upgraded from spec):
    // one-label suffixes, two-label suffixes, deep subdomains and the
    // single-label null case
    "q_ingest_registered_domain" -> ((s, d) => {
      val hosts = array(
        lit("www.example.com"), lit("a.b.news.co.uk"), lit("example.org"),
        lit("deep.sub.site.com.au"), lit("localhost"), lit("cdn.shop.co.jp"))
      val docs = t(s, d, "documents").where(col("doc_id") < 60)
        .withColumn("host", element_at(hosts, pmod(col("doc_id"), lit(6L)).cast("int") + 1))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"registered_domain": {"field": "host", "target_field": "rd"}}]}""")(docs)
        .select(col("doc_id"), col("host"), col("rd"))
        .orderBy(col("doc_id"))
    }),
    // redact processor: grok-named captures masked in place
    // ingest `enrich` processor: broadcast left join against the
    // policy's lookup table, enriched values as flat <target>_<col>
    // columns (the frame spelling of ES's target object)
    "q_ingest_enrich" -> ((s, d) => {
      val lookup = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val chain = graft.sources.IngestPipeline.compile(
        """{"processors": [{"enrich": {"policy_name": "cust",
             "field": "o_custkey", "target_field": "cust"}}]}""",
        Map.empty, 0, Map("cust" -> ((lookup, "c_custkey"))))
      chain(t(s, d, "orders"))
        .where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("cust_c_mktsegment"), col("cust_c_nationkey"))
        .orderBy(col("o_orderkey"))
    }),
    // ingest `inference` processor through the InferenceService seam
    // (deterministic stub — the same one the ES|QL COMPLETION oracle
    // mirrors; a deployment swaps Inference.service)
    "q_ingest_inference" -> ((s, d) => {
      val chain = graft.sources.IngestPipeline.compile(
        """{"processors": [{"inference": {"model_id": "stub-llm",
             "field": "text", "target_field": "summary"}}]}""")
      chain(t(s, d, "documents").where(col("doc_id") < 20))
        .select(col("doc_id"), col("summary")).orderBy(col("doc_id"))
    }),
    "q_ingest_redact" -> ((s, d) =>
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"redact": {"field": "text", "patterns":
            ["%{EMAILADDRESS:email}", "%{IP:client}", "%{NUMBER:num}"]}}]}""")(
        t(s, d, "documents"))
        .select(col("doc_id"), col("text").as("redacted"))
        .orderBy(col("doc_id"))),
    // date_index_name: time-based _index routing value + count per
    // target index (the saveDynamic feed shape)
    "q_ingest_date_index" -> ((s, d) =>
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"date_index_name": {"field": "o_orderdate",
            "index_name_prefix": "orders-", "date_rounding": "M",
            "index_name_format": "yyyy-MM"}}]}""")(t(s, d, "orders"))
        .groupBy(col("_index")).agg(count(lit(1)).as("n"))
        .orderBy(col("_index"))),
    // ingest on_failure: mixed clean/failing values — failures tag
    // `err` via the handler chain, clean rows convert; one aggregate
    // proves the per-row routing at scale
    "q_ingest_fail" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("mn",
        when(pmod(col("user_id"), lit(3L)) === 0, col("value").cast("string"))
          .otherwise(col("event_type")))
      graft.sources.IngestPipeline.compile(
        """{"processors": [{"convert": {"field": "mn", "type": "double",
           "on_failure": [{"set": {"field": "err", "value": "parse_error"}}]}}]}""")(ev)
        .groupBy(coalesce(col("err"), lit("ok")).as("err"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("mn"), lit(0.0)).cast("decimal(18,4)"))
            .cast("double").as("total"))
        .orderBy(col("err"))
    }),
    "q_pipeline_clean" -> ((s, d) => {
      // composed cleaning pipeline: quality gate + near-dup removal
      // (drop the higher id of each verified near-dup pair)
      val docs = t(s, d, "documents")
      // unsorted pair core: the anti-join reshuffles anyway
      val dups = Dedup.minhashLshUnsorted(docs, "doc_id", "text", 0.8)
        .select(col("id2").as("doc_id"))
      TextAnalysis.qualityScore(col("text"))(docs)
        .where(col("quality") >= 0.45 && col("n_chars") >= 100)
        .join(dups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),
    // the composed end-to-end training-data pipeline: C4 boilerplate
    // gate -> language filter -> quality gate -> exact dedup by
    // content fingerprint (first doc_id survives) -> sequence packing
    // -> per-pack stats. Every stage is the already-oracle-checked
    // operator; only narrow passes plus ONE fingerprint exchange and
    // the pack window — the flagship "what a 100 TB corpus build
    // actually runs" shape
    "q_pipeline_full" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // the C4 boilerplate drops apply; the sentence-count gate is
      // omitted — the synthetic corpus carries no punctuation, so it
      // would zero the pipeline (production corpora keep it)
      val sig = TextAnalysis.c4Filters(col("text")).toMap
      val keep = !sig("has_lorem") && !sig("has_brace") && !sig("has_policy")
      val filtered = TextAnalysis.qualityScore(col("text"))(docs)
        .where(keep && col("lang") === "en" && col("quality") >= 0.4)
      // fingerprint dedup through the narrow keep kernel — the old
      // row_number window here shuffled the filtered rows TEXT
      // included; keepFirstByKey moves (fingerprint, id) rows only
      val deduped = Dedup.keepFirstByKey(
        filtered, "doc_id", TextAnalysis.fingerprint(col("text")))
      TextAnalysis.packSequences(deduped, "doc_id", col("n_chars"), "source", 5000L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("size")).as("pack_chars"))
        .orderBy(col("pack_id"))
    }),
    // the r11 composed TRAINING-DATA build: exact-dedup keep ->
    // quality gate -> CCNet tail-tercile drop (surprisal terciles of
    // the KEPT set) -> deterministic shard balance report. Every
    // stage is a kernel this suite oracle-checks standalone; this key
    // proves they COMPOSE (one plan per stage boundary, the tercile
    // edge the only driver scalar).
    "q_pipeline_train" -> ((s, d) =>
      TextAnalysis.trainingBuildReport(t(s, d, "documents"),
        "doc_id", "text", qualityMin = 0.4, nShards = 8)),
    "q_lang_id" -> ((s, d) => {
      val (pl, ps) = TextAnalysis.languageId(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), pl.as("pred_lang"), ps.as("lang_score"))
        .orderBy(col("doc_id"))
    }),
    "q_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(col("text"))(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("ttr"), col("quality"))
        .orderBy(col("doc_id"))),
    // Gopher rule battery (Rae et al. 2021): word-count / mean-word-
    // length / symbol / alpha / stopword gates, one TokenStats kernel
    // pass + char arithmetic, map-only
    "q_quality_gopher" -> ((s, d) => {
      val sig = TextAnalysis.gopherSignals(col("text"))
      val keep = TextAnalysis.gopherKeep(sig.toMap)
      t(s, d, "documents")
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
        .orderBy(col("doc_id"))
    }),
    // URL-keyed dedup: canonicalize away case/port/fragment/utm/slash
    // noise, then ONE group-by on the canonical key (the CommonCrawl
    // pipeline's cheapest dedup pass). URLs are assembled
    // deterministically from doc fields (same device as q_esql_cidr's
    // IPs) with noise dims coprime to the key dims, so raw URLs
    // within a group genuinely differ.
    "q_dedup_url" -> ((s, d) => {
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
      t(s, d, "documents")
        .select(id, TextAnalysis.canonicalizeUrl(url).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper_doc"))
        .where(col("n_dups") > 1)
        .orderBy(col("n_dups").desc, col("canonical_url"))
    }),
    // C4/FineWeb heuristic filter battery: line/sentence/boilerplate
    // signals + the keep decision, all map-only string math
    // FineWeb line battery over a synthesized multi-line page (the
    // testdata text is single-line): menu header + body + a SECOND
    // long line (keeps clean docs under the 0.67 short-line bound)
    // (+ a planted DUPLICATE body on every third doc) + bullet/
    // ellipsis/footer lines — the planted dup pushes
    // dup_line_char_frac past the 0.3 keep threshold, so the rule
    // DISCRIMINATES: clean docs keep, dup docs drop
    "q_quality_fineweb" -> ((s, d) => {
      val page = concat(lit("menu | home\n"), col("text"), lit("\n"),
        col("text"), lit(" and a distinct continuation line\n"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(col("text"), lit("\n"))).otherwise(lit("")),
        lit("- item one\nread more ...\ncopyright 2024 example.com"))
      val sig = TextAnalysis.fineWebSignals(col("page"))
      t(s, d, "documents").withColumn("page", page)
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+
          TextAnalysis.fineWebKeep(sig.toMap).as("keep"): _*)
        .orderBy(col("doc_id"))
    }),
    "q_quality_c4" -> ((s, d) => {
      val sig = TextAnalysis.c4Filters(col("text"))
      val keep = TextAnalysis.c4Keep(sig.toMap)
      t(s, d, "documents")
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
        .orderBy(col("doc_id"))
    }),
    "q_tokens" -> ((s, d) => {
      val cs = TextAnalysis.tokenCounts(col("text"))
      t(s, d, "documents")
        .select(col("doc_id") +: cs.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    "q_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))),
    "q_keywords" -> ((s, d) =>
      TextAnalysis.keywordsTopK(t(s, d, "documents"), "doc_id", "text", 3)),
    "q_pii" -> ((s, d) => {
      val sig = TextAnalysis.piiSignals(col("text"))
      t(s, d, "documents")
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),
    // training-batch sequence packing, group-local (parallel) windows
    "q_pack" -> ((s, d) =>
      TextAnalysis.packSequences(t(s, d, "documents"), "doc_id", col("n_chars"), "source", 5000L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("size")).as("pack_chars"))
        .orderBy(col("pack_id"))),
    // pack LAYOUT (r13b): per doc its pack and offset inside the pack —
    // the slice table a concatenating dataloader reads
    "q_pack_layout" -> ((s, d) =>
      TextAnalysis.packLayout(t(s, d, "documents"), "doc_id", col("n_chars"), "source", 5000L)
        .orderBy(col("doc_id"))),
    // packing under REAL BPE token budgets (r13b): the same group-local
    // pack windows, but the size column is the compiled BPE kernel's
    // count under the frozen merge table — sequence budgets counted in
    // the unit a trainer's packer actually packs
    "q_pack_bpe" -> ((s, d) => {
      val bpe = graft.text.Bpe.tokenCount(col("text"), graft.text.Bpe.PretrainedMerges)
      TextAnalysis.packSequences(t(s, d, "documents"), "doc_id", bpe, "source", 2000L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("size")).as("pack_tokens"))
        .orderBy(col("pack_id"))
    }),
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.metadata(Multimodal.mediaTable(t(s, d, "documents")))
        .orderBy(col("media_id"))),
    // REAL container decode (r13; webp r16): payloads are genuine
    // PNG/GIF/WebP (VP8L + VP8X-anim) header bytes assembled in-plan;
    // the mapPartitions pass parses them back — actual byte decoding,
    // and the oracle checks the full encode -> parse round trip
    // against the source dimensions (and the VP8X ANIM frame flag)
    "q_multimodal_container" -> ((s, d) =>
      Multimodal.decodeContainerMeta(s,
        Multimodal.containerMediaTable(t(s, d, "documents")))
        .toDF().orderBy(col("media_id"))),
    // audio/video containers (r16): genuine MP4 box trees (mvhd
    // duration + tkhd 16.16 dims, audio-only M4A without a trak),
    // MP3 ID3v2+frame-sync headers and FLAC STREAMINFO bitfields,
    // assembled in-plan and walked back by the same parseMedia pass —
    // the oracle replays each recovered field from column arithmetic
    "q_multimodal_av" -> ((s, d) =>
      Multimodal.decodeContainerMeta(s,
        Multimodal.avMediaTable(t(s, d, "documents")))
        .toDF().orderBy(col("media_id"))),
    // REAL spectral analysis (r16): each payload is a genuine PCM WAV
    // carrying a quantized sine at an integer FFT bin; the plan decodes
    // the bytes and runs a radix-2 FFT — the oracle states the expected
    // dominant bin/frequency analytically from the generation formula,
    // so an FFT, windowing or chunk-walk bug anywhere breaks the hash
    "q_multimodal_spectral" -> ((s, d) =>
      Multimodal.spectralFeatures(s,
        Multimodal.toneMediaTable(s, t(s, d, "documents")))
        .toDF().orderBy(col("media_id"))),
    // STFT over a two-segment chirp (r16): per-frame FFTs must see the
    // frequency STEP a whole-signal transform averages away — frame 0
    // reads bin b, frame 1 reads b+40, both stated analytically by the
    // oracle from the generation formula
    "q_multimodal_stft" -> ((s, d) =>
      Multimodal.stftFrames(s,
        Multimodal.chirpMediaTable(s, t(s, d, "documents")))
        .toDF().orderBy(col("media_id"), col("frame_idx"))),
    // codec realism (r17): OGG pages with REAL Vorbis/Opus
    // identification packets (rate/channels from the id header), and
    // MP4 whose trak carries a genuine avcC + baseline H.264 SPS —
    // the walk recovers the CODED dims from exp-Golomb SPS fields
    // (the container's tkhd can lie), all replayed analytically
    "q_multimodal_codecs" -> ((s, d) =>
      Multimodal.decodeContainerMeta(s,
        Multimodal.codecsMediaTable(t(s, d, "documents")))
        .toDF().orderBy(col("media_id"))),
    // HEIF (r16): AVIF/HEIC — ISO-BMFF like MP4 but dims come from
    // the meta > iprp > ipco > ispe property chain, routed on the
    // ftyp BRAND; the oracle replays brand + ispe dims
    "q_multimodal_heif" -> ((s, d) =>
      Multimodal.decodeContainerMeta(s,
        Multimodal.heifMediaTable(t(s, d, "documents")))
        .toDF().orderBy(col("media_id"))),
    // crawl media census (r16): every walker format plus a torn-asset
    // class, counted by recovered header format — the binary column is
    // consumed map-side and the exchange carries one row per format;
    // the oracle replays the generator + truncation classes (a torn
    // ID3 envelope still classifies as mp3 — the family is identified
    // even when the frame sync is gone)
    "q_multimodal_census" -> ((s, d) =>
      Multimodal.mediaCensus(s,
        Multimodal.censusMediaTable(t(s, d, "documents")))
        .orderBy(col("format"))),
    // decode-features, oracle-keyed: the codec-init-once mapPartitions
    // pass with the declared stub (feat_hash = md5(payload))
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeFeatures(s,
        Multimodal.mediaTable(t(s, d, "documents").where(col("doc_id") < 40)))
        .toDF().orderBy(col("media_id"))),
    // resize, oracle-keyed: dims rewritten, content hash over
    // (payload, target dims) — the stub salt was already ASCII
    "q_multimodal_resize" -> ((s, d) =>
      Multimodal.resize(s,
        Multimodal.mediaTable(t(s, d, "documents").where(col("doc_id") < 40)),
        224, 224)
        .toDF().orderBy(col("media_id"))),
    // frame sampling, oracle-keyed (upgraded from spec): the 1->n
    // iterator fan-out with the DECLARED stub decode — real plumbing,
    // mirrorable hashes (md5 of payload + ASCII frame salt)
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
        Multimodal.mediaTable(t(s, d, "documents").where(col("doc_id") < 40)), 4)
        .toDF().orderBy(col("media_id"), col("frame_idx"))),
    // REAL pixel decode (r13b — no stub anywhere in this path): the
    // payloads are complete PNG files (zlib IDAT, filtered scanlines)
    // generated in-task; the stats come from inflate + unfilter of
    // those bytes. The oracle re-derives them from the deterministic
    // pixel function — a codec bug anywhere breaks the hash.
    "q_multimodal_pixels" -> ((s, d) =>
      Multimodal.decodePixelStats(s,
        Multimodal.pixelMediaTable(s, t(s, d, "documents").where(col("doc_id") % 2 === 0)))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_values"),
          col("v_sum"), col("v_min"), col("v_max"),
          Num.round(col("v_sum").cast("double") / col("n_values"), 4).as("mean_v"))
        .orderBy(col("media_id"))),
    // REAL audio decode: complete RIFF/WAVE PCM16 payloads, chunk-walk
    // parsed back; sample stats integer-exact
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.decodePixelStats(s,
        Multimodal.pixelMediaTable(s, t(s, d, "documents").where(col("doc_id") % 2 === 1)))
        .toDF()
        .select(col("media_id"), col("n_values").as("n_samples"),
          col("v_sum").as("s_sum"), col("v_min").as("s_min"), col("v_max").as("s_max"),
          Num.round(col("v_sum").cast("double") / col("n_values"), 4).as("mean_s"))
        .orderBy(col("media_id"))),
    // REAL 3-channel decode (r13b): interleaved RGB through the same
    // codec; per-channel sums oracle-checked independently — a
    // channel-order bug breaks exactly one channel's hash
    "q_multimodal_rgb" -> ((s, d) =>
      Multimodal.decodeRgbStats(s,
        Multimodal.rgbMediaTable(s, t(s, d, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("media_id"))),
    // paletted PNG (r16): color-type-3 payloads with a formula palette
    // + formula index plane; decode must expand PLTE indices to RGB —
    // channel sums come out as COMPOSED formulas the oracle replays
    "q_multimodal_palette" -> ((s, d) =>
      Multimodal.decodeRgbStats(s,
        Multimodal.paletteMediaTable(s, t(s, d, "documents")))
        .select(col("media_id"), col("width"), col("height"),
          col("r_sum"), col("g_sum"), col("b_sum"))
        .orderBy(col("media_id"))),
    // stereo PCM (r16): interleaved 2-channel WAVs, per-channel
    // formulas; the decode must de-interleave frames correctly — a
    // swap or stride bug breaks exactly one channel's sum
    "q_multimodal_stereo" -> ((s, d) =>
      Multimodal.decodeStereoStats(s,
        Multimodal.stereoMediaTable(s, t(s, d, "documents")))
        .orderBy(col("media_id"))),
    // REAL resize: decode -> nearest-neighbor -> re-encode -> re-decode
    // -> stats; the oracle mirrors the integer source-index resample
    "q_multimodal_resize_px" -> ((s, d) =>
      Multimodal.resizePixelStats(s,
        Multimodal.pixelMediaTable(s, t(s, d, "documents").where(col("doc_id") % 2 === 0)),
        8, 6)
        .toDF()
        .select(col("media_id"), col("v_sum"), col("v_min"), col("v_max"),
          Num.round(col("v_sum").cast("double") / col("n_values"), 4).as("mean_v"))
        .orderBy(col("media_id"))),
    // REAL frame sampling (the "video" analog): payloads are complete
    // animated GIF89a files, each kept frame LZW-decoded by the pure
    // JDK codec; the oracle re-derives per-frame stats from the
    // deterministic pixel formula — a container-walk or LZW bug
    // anywhere breaks the hash
    "q_multimodal_gif_frames" -> ((s, d) =>
      Multimodal.gifFrameStats(s,
        Multimodal.gifMediaTable(s, t(s, d, "documents")), stride = 2)
        .orderBy(col("media_id"), col("frame_idx"))),
    // REAL lossy-codec decode: payloads are complete baseline JFIF
    // files (in-JDK encoder); expected stats are computed at
    // GENERATION time by decoding the actual bytes and persisted
    // beside the payload (a lossy codec has no replayable pixel
    // formula). The query re-decodes the persisted bytes and must
    // land on the same integers; the oracle reads the persisted
    // expected stats — so parquet binary round-trip, the container
    // walk, and decoder determinism are all under the hash
    "q_multimodal_jpeg" -> ((s, d) => {
      val out = s"/tmp/graft_jpeg_${System.getProperty("user.name")}"
      Multimodal.jpegMediaTable(s, t(s, d, "documents"))
        .write.mode("overwrite").parquet(out)
      Multimodal.jpegPixelStats(s, graft.util.Stages.fanOut(s.read.parquet(out)))
        .orderBy(col("media_id"))
    }),
    // the COLOR sibling: YCbCr JFIF with subsampled chroma (the shape
    // web assets ship); same persisted generation-time-stats oracle
    // contract, per channel
    "q_multimodal_jpeg_rgb" -> ((s, d) => {
      val out = s"/tmp/graft_jpeg_rgb_${System.getProperty("user.name")}"
      Multimodal.jpegRgbMediaTable(s, t(s, d, "documents"))
        .write.mode("overwrite").parquet(out)
      Multimodal.jpegRgbPixelStats(s, graft.util.Stages.fanOut(s.read.parquet(out)))
        .orderBy(col("media_id"))
    }),
    // compression-ratio quality signal (r16): deflate at build,
    // inflate at query — sizes, ratio and the md5 of the
    // ROUND-TRIPPED text under the hash; the oracle recomputes the
    // md5 and raw size from the source table independently and reads
    // only deflate_bytes from the build (zlib has no SQL equivalent —
    // the jpeg lossy-step split, for text)
    "q_quality_compression" -> ((s, d) => {
      val out = s"/tmp/graft_deflate_${System.getProperty("user.name")}"
      TextAnalysis.deflateCorpus(s, t(s, d, "documents"), "doc_id", "text")
        .write.mode("overwrite").parquet(out)
      TextAnalysis.inflateStats(s, s.read.parquet(out))
        .select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"),
          col("ratio"), col("fp"))
        .orderBy(col("doc_id"))
    }),
    // sitemap.xml frontier extraction (r16): real XML assembled
    // in-plan, parsed back with Spark's XPATH functions (an actual
    // XML parser — entities, attributes and all), one row per <url>
    // entry via posexplode over the zipped loc/lastmod node lists;
    // the oracle reconstructs every field from generation arithmetic,
    // so the xpath extraction itself is what's under the hash
    "q_sitemap" -> ((s, d) => {
      val day1 = lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")
      val day2 = lpad((col("doc_id") * 3 % 28 + 1).cast("string"), 2, "0")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc>https://corpus.test/doc/"),
        col("doc_id"), lit("</loc><lastmod>2026-01-"), day1,
        lit("</lastmod></url><url><loc>https://corpus.test/doc/"),
        col("doc_id"), lit("/amp</loc><lastmod>2026-02-"), day2,
        lit("</lastmod></url></urlset>"))
      graft.util.Stages.fanOut(t(s, d, "documents"))
        .select(col("doc_id"), xml.as("xml"))
        .select(col("doc_id"),
          expr("posexplode(arrays_zip(" +
            "xpath(xml, '/urlset/url/loc/text()'), " +
            "xpath(xml, '/urlset/url/lastmod/text()')))"))
        .select(col("doc_id"), col("pos").cast("int").as("entry_idx"),
          col("col.0").as("loc"), col("col.1").as("lastmod"))
        .orderBy(col("doc_id"), col("entry_idx"))
    }),
    // robots.txt politeness gate (r16): RFC 9309 parse + longest-match
    // verdicts, evaluated for TWO agents against one body — the named
    // group (prefix-matched product token) must NOT merge with `*`,
    // wildcards/$ anchor/Allow-overrides all exercised; the oracle
    // replays the expected verdicts from the path generation classes
    "q_robots_filter" -> ((s, d) => {
      import s.implicits._
      val robotsTxt =
        """User-agent: *
          |Disallow: /private/
          |Allow: /private/ok/
          |Disallow: /*.pdf$
          |
          |User-agent: graftbot
          |Disallow: /bot-trap/
          |""".stripMargin
      val rStar = graft.text.Robots.parse(robotsTxt, "othercrawler")
      val rBot = graft.text.Robots.parse(robotsTxt, "graftbot-news")
      val path = concat(
        when(col("doc_id") % 5 === 0, lit("/public/page"))
          .when(col("doc_id") % 5 === 1, lit("/private/page"))
          .when(col("doc_id") % 5 === 2, lit("/private/ok/page"))
          .when(col("doc_id") % 5 === 3, lit("/docs/file"))
          .otherwise(lit("/bot-trap/page")),
        (col("doc_id") % 60).cast("string"),
        when(col("doc_id") % 5 === 3, lit(".pdf")).otherwise(lit("")))
      t(s, d, "documents").select(col("doc_id"), path.as("path"))
        .as[(Long, String)]
        .map { case (id, p) =>
          (id, p, graft.text.Robots.allowed(p, rStar),
            graft.text.Robots.allowed(p, rBot))
        }
        .toDF("doc_id", "path", "star_allowed", "bot_allowed")
        .orderBy(col("doc_id"))
    }),
    // PER-HOST robots gate (r17, the crawl-frontier shape): the
    // frontier joins a (host, robots body) TABLE on host and the
    // bodies parse EXECUTOR-side (per-partition rule cache) — no
    // driver-side parse of corpus data. Four hosts x two agents: a
    // has both a '*' and a named graftbot group (groups must NOT
    // merge), b only '*' (longest-match Allow-vs-Disallow tie broken
    // by pattern length), c only a named group (no fallback: foreign
    // agents fully allowed), d has NO robots row (missing robots.txt
    // = allowed). The oracle replays every verdict from the
    // generation classes analytically.
    "q_robots_hosts" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(
        ("a.example", "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n\n" +
          "User-agent: graftbot\nDisallow: /bot-trap/\nDisallow: /*.pdf$\n"),
        ("b.example", "User-agent: *\nDisallow: /*.pdf$\nAllow: /docs/\n"),
        ("c.example", "User-agent: graftbot\nDisallow: /\n"))
        .toDF("host", "robots_txt")
      val host = when(col("doc_id") % 4 === 0, lit("a.example"))
        .when(col("doc_id") % 4 === 1, lit("b.example"))
        .when(col("doc_id") % 4 === 2, lit("c.example"))
        .otherwise(lit("d.example"))
      val path = concat(
        when(col("doc_id") % 5 === 0, lit("/public/page"))
          .when(col("doc_id") % 5 === 1, lit("/private/page"))
          .when(col("doc_id") % 5 === 2, lit("/private/ok/page"))
          .when(col("doc_id") % 5 === 3, lit("/docs/file"))
          .otherwise(lit("/bot-trap/page")),
        (col("doc_id") % 60).cast("string"),
        when(col("doc_id") % 5 === 3, lit(".pdf")).otherwise(lit("")))
      graft.text.Robots.filterAllowedByHost(
        t(s, d, "documents").select(col("doc_id"), host.as("host"), path.as("path")),
        "doc_id", "host", "path", robots, "host", "robots_txt",
        Seq("othercrawler" -> "star_allowed", "graftbot-news" -> "bot_allowed"))
        .orderBy(col("doc_id"))
    }),
    // link graph (r17): outlink extraction -> host-level edge weights,
    // the Common-Crawl-shaped structure signal. HTML is assembled
    // in-plan so the oracle replays edges from residue arithmetic and
    // the anchor-tag walk itself is what's under the hash: quote
    // variants (double/single), case variants (<A HREF=, an
    // uppercase-HTTPS host that must case-fold per RFC 3986 while
    // paths keep case), rel=nofollow dropped, mailto:/#fragment
    // unfollowable, relative hrefs resolving to the page's own host
    // (= a self-edge), and host h6 emitting NO followable absolute
    // anchor (the dangling host the rank key leans on). doc_id%7==2
    // pages aim both absolute anchors at the same host, so weight
    // (anchors) and pages (distinct docs) must disagree there.
    "q_link_hostgraph" -> ((s, d) => {
      val pages = linkCorpus(t(s, d, "documents"))
      graft.text.LinkGraph.hostGraph(
        graft.text.LinkGraph.extractLinks(pages))
        .orderBy(col("src_host"), col("dst_host"))
    }),
    // damped PageRank over the cross-host edge set (r17), k=3, in
    // integer micro-units: per-edge contributions floor via `div` and
    // long sums are order-independent, so DuckDB unrolling the SAME
    // three iterations reproduces every rank bit-for-bit — the
    // floating formulation could never hash-match across engines.
    // h6 has in-edges but no out-edges: the dangling-mass
    // redistribution is live in the graded plan, not just the spec.
    "q_link_rank" -> ((s, d) => {
      val pages = linkCorpus(t(s, d, "documents"))
      val edges = graft.text.LinkGraph.hostGraph(
        graft.text.LinkGraph.extractLinks(pages))
        .filter(col("src_host") =!= col("dst_host"))
      graft.text.LinkGraph.pageRankInt(edges, iters = 3)
        .orderBy(col("host"))
    }),
    // rank-proportional domain mixing (r17): host authority becomes a
    // per-host sampling QUOTA — the curation use the rank exists for
    // (rank-weighted corpus reweighting, the link-structure sibling
    // of q_domain_mix). quota = (rank * total_docs) div total_rank,
    // all integer; both totals are 1-row broadcast aggregates, so the
    // plan stays hosts-cardinality end to end
    "q_link_rank_mix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pages = linkCorpus(docs)
      val edges = graft.text.LinkGraph.hostGraph(
        graft.text.LinkGraph.extractLinks(pages))
        .filter(col("src_host") =!= col("dst_host"))
      val ranks = graft.text.LinkGraph.pageRankInt(edges, iters = 3)
      val perHost = pages.groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
      val totals = ranks.agg(sum(col("rank")).as("total_rank"))
        .crossJoin(perHost.agg(sum(col("n_docs")).as("total_docs")))
      ranks.join(perHost, Seq("host"))
        .crossJoin(broadcast(totals))
        .select(col("host"), col("n_docs"), col("rank"),
          expr("(rank * total_docs) div total_rank").as("quota"))
        .orderBy(col("host"))
    }),
    // anchor-TEXT aggregation per destination host (r17): what other
    // sites call a page — the classic external ranking signal. The
    // walk matches whole <a ...>text</a> ELEMENTS so href and text
    // pair exactly (an href-less <a name=...> can't shift the
    // pairing); nofollow and unfollowable schemes drop like the edge
    // walk; the oracle replays (dst, anchor, n) from residue classes
    "q_link_anchors" -> ((s, d) => {
      val pages = linkCorpus(t(s, d, "documents"))
      graft.text.LinkGraph.extractAnchors(pages)
        .groupBy(col("dst_host"), col("anchor"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("dst_host"), col("anchor"))
    }),
    // crawl-delay politeness scheduling (r17): the frontier becomes a
    // per-host fetch TIMELINE — one window partitioned by host (the
    // plan is as wide as the worst host, never the frontier), delays
    // from each host's robots Crawl-delay for the agent's selected
    // group (named group beats '*', fractional seconds round to ms,
    // executor-side parse), missing hosts/delays at the crawler's
    // default floor. The oracle mirrors the window arithmetic with
    // the per-host delays replayed from the generation classes.
    "q_crawl_schedule" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(
        ("a.example", "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\n"),
        ("b.example", "User-agent: *\nCrawl-delay: 3\n\n" +
          "User-agent: graftbot\nCrawl-delay: 0.5\nDisallow: /x/\n"),
        ("c.example", "User-agent: *\nDisallow: /y/\n"))
        .toDF("host", "robots_txt")
      val host = when(col("doc_id") % 4 === 0, lit("a.example"))
        .when(col("doc_id") % 4 === 1, lit("b.example"))
        .when(col("doc_id") % 4 === 2, lit("c.example"))
        .otherwise(lit("d.example"))
      val frontier = t(s, d, "documents")
        .select(col("doc_id"), host.as("host"),
          (col("doc_id") % 9).as("priority"))
      val delays = graft.text.Frontier.crawlDelays(
        robots, "host", "robots_txt", "graftbot-news")
      graft.text.Frontier.schedule(
        frontier, "doc_id", "host", "priority", delays, 1000L)
        .select(col("doc_id"), col("host"), col("priority"), col("slot"),
          col("delay_ms"), col("fetch_offset_ms"))
        .orderBy(col("host"), col("slot"))
    }),
    // nested sitemap discovery (r17): a sitemapindex built in-plan
    // over per-doc child sitemaps, parsed back through TWO xpath
    // stages joined on the extracted child loc — the real two-level
    // discovery shape (index -> child sitemap -> url entries); every
    // field replays from generation arithmetic, so both xpath walks
    // and the loc join are what sit under the hash
    "q_sitemap_index" -> ((s, d) => {
      val docs = graft.util.Stages.fanOut(t(s, d, "documents"))
      val childXml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc>https://corpus.test/doc/"), col("doc_id"),
        lit("</loc></url><url><loc>https://corpus.test/doc/"),
        col("doc_id"), lit("/amp</loc></url></urlset>"))
      val children = docs.select(col("doc_id"), childXml.as("cxml"))
      val idx = docs
        .select(expr("doc_id div 5").as("group_id"),
          concat(lit("<sitemap><loc>https://corpus.test/sitemap/"),
            col("doc_id"), lit(".xml</loc></sitemap>")).as("entry"))
        .groupBy(col("group_id"))
        .agg(concat(lit("<sitemapindex>"),
          concat_ws("", array_sort(collect_list(col("entry")))),
          lit("</sitemapindex>")).as("ixml"))
      val sitemapLocs = idx.select(col("group_id"),
          explode(expr("xpath(ixml, '/sitemapindex/sitemap/loc/text()')"))
            .as("sitemap_loc"))
        .withColumn("child_id",
          regexp_extract(col("sitemap_loc"), "sitemap/(\\d+)\\.xml", 1)
            .cast("long"))
      sitemapLocs.join(children, col("child_id") === children("doc_id"))
        .select(col("group_id"), col("sitemap_loc"),
          posexplode(expr("xpath(cxml, '/urlset/url/loc/text()')")))
        .select(col("group_id"), col("sitemap_loc"),
          col("pos").cast("int").as("entry_idx"), col("col").as("loc"))
        .orderBy(col("group_id"), col("sitemap_loc"), col("entry_idx"))
    }),
    // charset sniffing (r16): real crawled bodies are not all UTF-8 —
    // bodies are generated in-plan in SIX real classes (UTF-8 with
    // a non-ASCII marker, latin-1 whose 0xE9 is invalid UTF-8, UTF-16
    // behind its BOM, plain ASCII, r17: BOM-less UTF-16LE caught by
    // the alternating-NUL heuristic, and an HTML meta-declared
    // iso-8859-1 body whose bytes are valid UTF-8 — the class only
    // the browser meta hint routes right); the detector must route each to
    // the right decoder and the md5 of the DECODED text must match
    // the oracle's independent recomputation from the source column
    "q_charset_detect" -> ((s, d) => {
      import s.implicits._
      val clean = regexp_replace(col("text"), "[^\\x20-\\x7e]", "")
      val marked = concat(clean, lit("\u00e9")) // e-acute: latin-1 0xE9, UTF-8 C3 A9
      t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 6 === 0, encode(marked, "UTF-8"))
          .when(col("doc_id") % 6 === 1, encode(marked, "ISO-8859-1"))
          .when(col("doc_id") % 6 === 2, encode(marked, "UTF-16"))
          .when(col("doc_id") % 6 === 3, encode(clean, "UTF-8"))
          // r17 class 4: BOM-less UTF-16LE — the tail guard keeps
          // every body over the heuristic's 16-byte abstain floor
          .when(col("doc_id") % 6 === 4,
            encode(concat(clean, lit(" utf16le tail guard")), "UTF-16LE"))
          // r17 class 5: meta-declared iso-8859-1 over VALID UTF-8
          // bytes — only the browser meta hint routes this right
          .otherwise(encode(
            concat(lit("<meta charset=\"iso-8859-1\">"), marked), "UTF-8"))
          .as("body"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          val digest = java.security.MessageDigest.getInstance("MD5")
          it.map { case (id, b) =>
            val (cs, text) = TextAnalysis.decodeDetected(b)
            val md = digest.digest(text.getBytes("UTF-8"))
            (id, cs, md.map(x => f"${x & 0xff}%02x").mkString)
          }
        }.toDF("doc_id", "charset", "fp")
        .orderBy(col("doc_id"))
    }),
    // context-window chunking: 64-token windows, 16-token overlap
    "q_chunk" -> ((s, d) =>
      TextAnalysis.chunkTokens(t(s, d, "documents"), "doc_id", "text", 64, 16)
        .orderBy(col("id"), col("chunk_idx"))),
    // deterministic data-mixing sample: per-language keep rates
    "q_sample_strat" -> ((s, d) =>
      TextAnalysis.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.2), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    // benchmark-contamination screen: corpus (id >= 25) vs eval set (id < 25)
    "q_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminationScreen(
        docs.where(col("doc_id") >= 25), "doc_id", "text",
        docs.where(col("doc_id") < 25), "text")
    }),
    "q_pii_redact" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("redacted"))
      .orderBy(col("doc_id"))),
    "q_repetition" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy(col("doc_id"))),
    // sub-document duplication: share of 32-token chunks repeated
    // anywhere in the corpus (C4/RefinedWeb-style signal)
    "q_dedup_paragraph" -> ((s, d) =>
      TextAnalysis.paragraphDupRatio(t(s, d, "documents"), "doc_id", "text", 32)),
    // unigram-LM mean surprisal (cheap perplexity-filter stand-in)
    "q_lm_score" -> ((s, d) =>
      TextAnalysis.unigramSurprisal(t(s, d, "documents"), "doc_id", "text")),
    // distributed PCA: one moment-sum pass (state d+d² doubles,
    // constant in N) + driver Jacobi eigen + compiled-dot projection.
    // The 2-D form is oracle-exact against the closed-form major axis
    // (0.5·atan2(2cxy, cxx−cyy)); the 64-D path is property-spec'd
    // (PcaSpec: orthonormal components, descending eigenvalues,
    // per-component score variance == eigenvalue).
    "q_embed_pca" -> ((s, d) => {
      val v = t(s, d, "embeddings").withColumn("xy",
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")))
      graft.sim.Pca.fitTransform(v, "vec_id", "xy", dim = 2, k = 1)
    }),
    // embedding-space eval-set DECONTAMINATION: corpus docs whose
    // embedding lands too close to ANY benchmark vector (label 7 =
    // the held-out set) — the semantic screen that catches
    // paraphrased benchmark leakage n-gram overlap misses
    "q_contamination_embed" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Dedup.embeddingContamination(
        e.where(col("label") =!= 7), e.where(col("label") === 7),
        "vec_id", "embedding", minCosine = 0.35)
    }),
    // cluster-balanced DIVERSE sampling: nearest-centroid assignment
    // + a deterministic per-cluster cap — the curation subset that
    // spans the embedding space instead of oversampling dense modes
    "q_sample_diverse" -> ((s, d) =>
      Dedup.diverseSample(t(s, d, "embeddings"), "vec_id", "embedding",
        nCentroids = 16, perCluster = 10)),
    // SemDeDup x PCA composition: whitened-cosine screen over the
    // 2-D slice (the closed-form eigensolution the q_embed_pca oracle
    // already mirrors) — whitening changes WHICH pairs clear tau
    // vs the raw-space screen (spec-asserted)
    "q_dedup_semantic_white" -> ((s, d) => {
      val xy = t(s, d, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("xy"))
      Dedup.semanticDedupPairsWhitened(
        xy, "vec_id", "xy", dim = 2, nCentroids = 8, minCosine = 0.9999)
    }),
    // SemDeDup over a FITTED Lloyd quantizer (r13): 2 iterations of
    // oracle-grade k-means (decimal-sum means, round-6; assignment
    // cosine round-4) — the oracle replicates the entire fit in SQL,
    // so the screened pair set is checked against an independent
    // derivation of the same deterministic fit
    "q_dedup_semantic_kmeans" -> ((s, d) => {
      val xy = t(s, d, "embeddings").select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("xy"))
      Dedup.semanticDedupPairsKmeans(
        xy, "vec_id", "xy", nCentroids = 8, iters = 2, minCosine = 0.9999)
    }),
    // deterministic shard assignment: md5(id) % 8 as the writer's
    // partitionBy column; the key reports the n-row balance table
    "q_shard_assign" -> ((s, d) =>
      TextAnalysis.shardAssign(t(s, d, "documents"), "doc_id", "text", 8)),
    // tokenizer fertility per language: the table a mixing policy
    // reads before setting per-language token budgets
    "q_token_stats" -> ((s, d) =>
      TextAnalysis.tokenStatsByLang(t(s, d, "documents"), "lang", "text")),
    // REAL BPE token counting (r13): per-doc counts under the frozen
    // merge table — the budget a BPE-tokenized trainer actually pays,
    // replacing the q_tokens "BPE-ish regex" approximation
    "q_tokens_bpe" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        graft.text.Bpe.tokenCount(col("text"), graft.text.Bpe.PretrainedMerges)
          .as("n_bpe"))
      .orderBy(col("doc_id"))),
    // DISTRIBUTED BPE trainer in the graded contract (r16): merges
    // fit cluster-side (one Spark job per merge, only the merge table
    // reaches the driver — the q_knn_pq_dist split for tokenizers),
    // persisted into a fingerprint-keyed artifact; counting runs
    // under the STORED table and the oracle folds the same table out
    // of a static parquet copy — the engines cannot count under
    // different merges, and the fit itself is spec-pinned equal to
    // the driver trainer
    "q_tokens_bpe_dist" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val mDir = graft.index.IndexArtifacts.ensureArtifact("bpedist", s"$d/documents.parquet")(
        p => {
          val mp = new org.apache.hadoop.fs.Path(s"$p/merges")
          mp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(mp)
        })(stage => {
          val fit = graft.text.Bpe.fitDist(docs, "text", nMerges = 32)
          fit.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
            .toDF("rank", "a", "b")
            .coalesce(1).write.parquet(s"$stage/merges")
        })
      val stored = s.read.parquet(s"$mDir/merges")
      stored.coalesce(1).write.mode("overwrite")
        .parquet(s"/tmp/graft_bpedist_${System.getProperty("user.name")}")
      val merges = stored.orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(col("doc_id"),
        graft.text.Bpe.tokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // fertility RE-KEYED on the real BPE (r13): per-language tokens /
    // chars under the same frozen merges — what a mixing policy's
    // per-language token budget should actually read
    "q_token_stats_bpe" -> ((s, d) => {
      val bpe = graft.text.Bpe.tokenCount(col("text"), graft.text.Bpe.PretrainedMerges)
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(bpe).as("bpe_tokens"),
          sum(length(col("text"))).as("chars"))
        .withColumn("bpe_per_kchar",
          Num.round(col("bpe_tokens").cast("double") / col("chars") * 1000.0, 4))
        .orderBy(col("lang"))
    }),
    // CCNet head/middle/tail perplexity terciles (Wenzek et al. 2020)
    // over the unigram-surprisal LM score; the scored frame truncates
    // once so the edge pass and the bucket pass share ONE corpus scan
    "q_ccnet_buckets" -> ((s, d) =>
      TextAnalysis.ccnetBucketsScored(graft.util.Stages.truncate(
        TextAnalysis.unigramSurprisalUnsorted(t(s, d, "documents"), "doc_id", "text")))),
    // domain-mix rebalancing weights toward a uniform source mix
    "q_domain_mix" -> ((s, d) =>
      TextAnalysis.domainMixWeights(t(s, d, "documents"), "source")),
    // GENERAL temperature mixing (mT5/XLM-R alpha sampling): target
    // share ∝ share^0.3 — upweights rare sources without going all
    // the way to uniform
    "q_domain_mix_alpha" -> ((s, d) =>
      TextAnalysis.domainMixWeightsAlpha(t(s, d, "documents"), "source", 0.3)),
    // DSIR (Xie et al. 2023): hashed-ngram importance weights of the
    // whole corpus against the src1 target slice — the docs that look
    // most like the target rank first. Both DSIR keys share ONE
    // fitted model (dsirModel memo), so the corpus-explode fit pass
    // runs once and each key's scoring is the map-only kernel.
    "q_dsir_weights" -> ((s, d) =>
      graft.text.Dsir.weightsWithModel(
        t(s, d, "documents"), dsirModel(s, d), "doc_id", "text")
        .orderBy(col("log_weight").desc, col("doc_id").asc).limit(50)),
    // DSIR resampling: Gumbel top-k over the importance weights with
    // the deterministic md5-48 draw
    "q_dsir_resample" -> ((s, d) =>
      graft.text.Dsir.resampleTopK(
        graft.text.Dsir.weightsWithModel(
          t(s, d, "documents"), dsirModel(s, d), "doc_id", "text"),
        "doc_id", k = 200)),
  )

  // Fitted DSIR model memo: the two DSIR keys score against the SAME
  // target/bucket config, so the ≤4096-long log-ratio table fits once
  // per dataset dir. Driver data (32 KB) — no cache entry, no session
  // coupling, exactly the fitted-model reuse a production pipeline
  // would do (fit on the target once, score many corpora).
  private val dsirModels =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private def dsirModel(s: SparkSession, d: String): Array[Long] =
    dsirModels.computeIfAbsent(d, dir => graft.text.Dsir.fitBucketModel(
      t(s, dir, "documents"), col("source") === "src1", "doc_id", "text", 4096))

  // the q_tokens_bpe_dist word fold: the ranked 'a|b' merge list
  // list_reduces Bpe.tokenCountSql's ,a,b, -> ,ab, replace chain over
  // the comma-delimited symbol string (same chain, table-driven)
  private val BpeDistFold: String =
    "list_reduce(list_prepend(',' || regexp_replace(w, '(.)', '\\1,', 'g'), ml), " +
      "(s, mm) -> replace(s, ',' || split_part(mm, '|', 1) || ',' || split_part(mm, '|', 2) || ',', " +
      "',' || split_part(mm, '|', 1) || split_part(mm, '|', 2) || ','))"

  val oracleSql: Map[String, String] = Map(
    // ---- F ----
    "q_dedup_exact" -> ("SELECT md5(props) AS content_hash, count(*)::BIGINT AS n_dups, min(event_id) AS keep_id " +
      "FROM events WHERE props IS NOT NULL GROUP BY 1 HAVING count(*) >= 2 ORDER BY keep_id"),
    "q_dedup_minhash" -> (TokCte + MinhashCtes +
      " SELECT id1, id2, jaccard FROM vp ORDER BY id1, id2"),
    // cross screen: same shingle/signature/band CTEs, candidates
    // joined odd-side x even-side only
    "q_dedup_cross" -> (TokCte + MinhashCtes +
      ", candx AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id " +
      "FROM banded a JOIN banded b ON a.band = b.band " +
      "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
      "SELECT new_id, ref_id, round(inter / (n1 + n2 - inter), 4) AS jaccard FROM " +
      "(SELECT new_id, ref_id, len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter, " +
      "len(sa.sh) AS n1, len(sb.sh) AS n2 " +
      "FROM candx JOIN sh sa ON sa.doc_id = new_id JOIN sh sb ON sb.doc_id = ref_id) " +
      "WHERE round(inter / (n1 + n2 - inter), 4) >= 0.8 ORDER BY new_id, ref_id"),
    // the indexed screen must produce the identical pair set — the
    // artifact only changes WHEN the ref side's work happens
    "q_dedup_cross_indexed" -> (TokCte + MinhashCtes +
      ", candx AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id " +
      "FROM banded a JOIN banded b ON a.band = b.band " +
      "AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
      "SELECT new_id, ref_id, round(inter / (n1 + n2 - inter), 4) AS jaccard FROM " +
      "(SELECT new_id, ref_id, len(list_intersect(sa.sh, sb.sh))::DOUBLE AS inter, " +
      "len(sa.sh) AS n1, len(sb.sh) AS n2 " +
      "FROM candx JOIN sh sa ON sa.doc_id = new_id JOIN sh sb ON sb.doc_id = ref_id) " +
      "WHERE round(inter / (n1 + n2 - inter), 4) >= 0.8 ORDER BY new_id, ref_id"),
    // connected components over vp: recursive reachable-min label
    "q_dedup_cluster" -> (TokCte.replace("WITH ", "WITH RECURSIVE ") + MinhashCtes + ", " +
      "e AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp), " +
      "n AS (SELECT DISTINCT a AS id FROM e), " +
      "r AS (SELECT id, id AS m FROM n UNION SELECT e.a, r.m FROM e JOIN r ON e.b = r.id) " +
      "SELECT id AS doc_id, min(m) AS cluster_id FROM r GROUP BY id ORDER BY doc_id"),
    "q_dedup_canonical" -> (TokCte.replace("WITH ", "WITH RECURSIVE ") + MinhashCtes + ", " +
      "e AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp), " +
      "n AS (SELECT DISTINCT a AS id FROM e), " +
      "r AS (SELECT id, id AS m FROM n UNION SELECT e.a, r.m FROM e JOIN r ON e.b = r.id), " +
      "cl AS (SELECT id AS doc_id, min(m) AS cluster_id FROM r GROUP BY id), " +
      "j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars::DOUBLE AS q, " +
      "count(*) OVER (PARTITION BY cl.cluster_id) AS members, " +
      "row_number() OVER (PARTITION BY cl.cluster_id ORDER BY d.n_chars DESC, cl.doc_id) AS rn " +
      "FROM cl JOIN documents d ON d.doc_id = cl.doc_id) " +
      "SELECT cluster_id, members::BIGINT AS members, doc_id AS canonical_id, q AS best_quality " +
      "FROM j WHERE rn = 1 ORDER BY cluster_id"),
    "q_dedup_incremental" -> (TokCte + MinhashCtes + ", " +
      "dup AS (SELECT CASE WHEN id1 % 2 = 1 THEN id1 ELSE id2 END AS doc_id " +
      "FROM vp WHERE id1 % 2 <> id2 % 2) " +
      "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 " +
      "AND doc_id NOT IN (SELECT doc_id FROM dup) ORDER BY doc_id"),
    // SemDeDup keeper: pairs as in q_dedup_semantic, connected
    // components by recursive reachable-min, keep = lowest
    // cosine-to-centroid per group (ties -> lowest id)
    "q_dedup_semantic_keep" -> ("WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16), " +
      "a0 AS (SELECT c.vec_id AS id, cents.cent_id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) AS ccos " +
      "FROM n c CROSS JOIN cents), " +
      "asg AS (SELECT id, cent_id, ccos FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cent_id) AS rn FROM a0) WHERE rn = 1), " +
      "wc AS (SELECT asg.cent_id, n.vec_id AS id, n.v, n.nrm FROM asg JOIN n ON n.vec_id = asg.id), " +
      "p AS (SELECT a.id AS id1, b.id AS id2, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])), (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS cosine " +
      "FROM wc a JOIN wc b ON a.cent_id = b.cent_id AND a.id < b.id), " +
      "vp AS (SELECT id1, id2 FROM p WHERE cosine >= 0.35), " +
      "ed AS (SELECT id1 AS a, id2 AS b FROM vp UNION SELECT id2, id1 FROM vp), " +
      "nd AS (SELECT DISTINCT a AS id FROM ed), " +
      "r AS (SELECT id, id AS m FROM nd UNION SELECT ed.a, r.m FROM ed JOIN r ON ed.b = r.id), " +
      "cl AS (SELECT id, min(m) AS grp FROM r GROUP BY id), " +
      "j AS (SELECT cl.grp, cl.id, asg.ccos, " +
      "row_number() OVER (PARTITION BY cl.grp ORDER BY asg.ccos, cl.id) AS rn, " +
      "count(*) OVER (PARTITION BY cl.grp) AS members FROM cl JOIN asg ON asg.id = cl.id) " +
      "SELECT grp AS group_id, members::BIGINT AS members, id AS keep_id, ccos AS keep_cent_cos " +
      "FROM j WHERE rn = 1 ORDER BY group_id"),
    "q_dedup_substring" -> (TokCte +
      s", th AS (SELECT doc_id, list_transform(toks, t -> ${hexFold("t", 12)} % 1000000007) AS hs FROM tok WHERE len(toks) >= 20)" +
      ", w AS (SELECT doc_id, unnest(list_transform(range(1, len(hs) - 18), i -> " +
      "list_reduce(list_prepend(0::BIGINT, hs[i:i+19]), (a, v) -> (a * 31 + v) % 1000000007))) AS h FROM th)" +
      ", f AS (SELECT h, count(*)::BIGINT AS n FROM w GROUP BY h) " +
      "SELECT doc_id AS id, count(*)::BIGINT AS n_spans, " +
      "sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_spans, " +
      "round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_ratio " +
      "FROM w JOIN f USING (h) GROUP BY doc_id ORDER BY id"),
    // span decontamination: corpus windows whose hash appears in the
    // benchmark half's window set are cut (all occurrences)
    "q_contamination_spans" -> (TokCte +
      s", th AS (SELECT doc_id, list_transform(toks, t -> ${hexFold("t", 12)} % 1000000007) AS hs FROM tok WHERE len(toks) >= 10)" +
      ", aw AS (SELECT doc_id, i::BIGINT - 1 AS pos, " +
      "list_reduce(list_prepend(0::BIGINT, hs[i:i+9]), (a, v) -> (a * 31 + v) % 1000000007) AS h " +
      "FROM (SELECT doc_id, hs, unnest(range(1, len(hs) - 8)) AS i FROM th))" +
      ", bwh AS (SELECT DISTINCT h FROM aw WHERE doc_id < 25)" +
      ", cut AS (SELECT doc_id, pos FROM aw JOIN bwh USING (h) WHERE doc_id >= 25)" +
      ", tokp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM tok WHERE doc_id >= 25)" +
      ", cov AS (SELECT p.doc_id, p.i, any_value(p.toks[p.i]) AS t, " +
      "bool_or(k.pos IS NOT NULL) AS rm FROM tokp p LEFT JOIN cut k " +
      "ON k.doc_id = p.doc_id AND k.pos <= p.i - 1 AND p.i - 1 < k.pos + 10 " +
      "GROUP BY p.doc_id, p.i)" +
      ", kept AS (SELECT doc_id, list(t ORDER BY i) FILTER (WHERE NOT rm) AS kt " +
      "FROM cov GROUP BY doc_id) " +
      "SELECT t.doc_id AS id, len(t.toks)::BIGINT AS n_tokens, " +
      "(len(t.toks) - len(coalesce(k.kt, [])))::BIGINT AS n_removed, " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(coalesce(k.kt, []), t -> ${hexFold("t", 12)} % 1000000007)), " +
      "(a, v) -> (a * 31 + v) % 1000000007)::BIGINT AS kept_fp " +
      "FROM tok t LEFT JOIN kept k USING (doc_id) WHERE t.doc_id >= 25 ORDER BY id"),
    // span removal: windows ranked keep-first over (doc, pos); cut
    // positions cover tokens [pos, pos+20); survivors re-fingerprinted
    // with the same Horner fold the Spark kernel computes
    "q_dedup_spans" -> (TokCte +
      s", th AS (SELECT doc_id, list_transform(toks, t -> ${hexFold("t", 12)} % 1000000007) AS hs FROM tok WHERE len(toks) >= 20)" +
      ", w AS (SELECT doc_id, i::BIGINT - 1 AS pos, " +
      "list_reduce(list_prepend(0::BIGINT, hs[i:i+19]), (a, v) -> (a * 31 + v) % 1000000007) AS h " +
      "FROM (SELECT doc_id, hs, unnest(range(1, len(hs) - 18)) AS i FROM th))" +
      ", c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n, " +
      "row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM w)" +
      ", cut AS (SELECT doc_id, pos FROM c WHERE n > 1 AND rn > 1)" +
      ", tokp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM tok)" +
      ", cov AS (SELECT p.doc_id, p.i, any_value(p.toks[p.i]) AS t, " +
      "bool_or(k.pos IS NOT NULL) AS rm FROM tokp p LEFT JOIN cut k " +
      "ON k.doc_id = p.doc_id AND k.pos <= p.i - 1 AND p.i - 1 < k.pos + 20 " +
      "GROUP BY p.doc_id, p.i)" +
      ", kept AS (SELECT doc_id, list(t ORDER BY i) FILTER (WHERE NOT rm) AS kt " +
      "FROM cov GROUP BY doc_id) " +
      "SELECT t.doc_id AS id, len(t.toks)::BIGINT AS n_tokens, " +
      "(len(t.toks) - len(coalesce(k.kt, [])))::BIGINT AS n_removed, " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(coalesce(k.kt, []), t -> ${hexFold("t", 12)} % 1000000007)), " +
      "(a, v) -> (a * 31 + v) % 1000000007)::BIGINT AS kept_fp " +
      "FROM tok t LEFT JOIN kept k USING (doc_id) ORDER BY id"),
    "q_contamination_rate" -> (TokCte +
      ", sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
      "FROM tok, unnest(range(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 3), " +
      "bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), " +
      "hits AS (SELECT sh.doc_id, count(b.s)::BIGINT AS matched_ngrams, count(*)::BIGINT AS total_ngrams " +
      "FROM sh LEFT JOIN bench b ON sh.s = b.s WHERE sh.doc_id % 97 <> 0 GROUP BY 1) " +
      "SELECT doc_id, matched_ngrams, total_ngrams, " +
      "round(matched_ngrams / total_ngrams::DOUBLE, 6) AS contamination_rate " +
      "FROM hits WHERE matched_ngrams > 0 " +
      "ORDER BY contamination_rate DESC, doc_id"),
    "q_dedup_bloom" -> ("WITH seen AS (SELECT DISTINCT md5(text) AS h " +
      "FROM documents WHERE doc_id < 300), " +
      "b AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 200) " +
      "SELECT doc_id FROM b WHERE h NOT IN (SELECT h FROM seen) ORDER BY doc_id"),
    "q_mix_sample" -> ("WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source), " +
      "mn AS (SELECT min(n_docs) AS n_min FROM c), " +
      "rt AS (SELECT source, sqrt(n_min::DOUBLE / n_docs::DOUBLE) AS rate FROM c CROSS JOIN mn) " +
      s"SELECT rt.source, count(*)::BIGINT AS n_kept FROM documents d JOIN rt ON d.source = rt.source " +
      s"WHERE ${hexFold("'mix:' || d.doc_id::VARCHAR", 12)} / 281474976710656.0 < rt.rate " +
      "GROUP BY rt.source ORDER BY rt.source"),
    "q_esql_rerank" -> (TokCte + " SELECT doc_id, CAST(round(" +
      "1.0 * len(list_filter(toks, t -> t = 'fast')) + " +
      "1.0 * len(list_filter(toks, t -> t = 'hash')) + " +
      "1.0 * len(list_filter(toks, t -> t = 'merge')), 4) AS DOUBLE) AS _score " +
      "FROM tok WHERE list_contains(toks, 'merge') " +
      "ORDER BY _score DESC, doc_id LIMIT 10"),
    // 64-bit simhash as TWO 32-bit halves (hi = bits 1..32, lo = bits
    // 33..64): folding all 64 into one BIGINT overflows DuckDB, but
    // each half stays < 2^32 and hamming is the sum of half-hammings.
    "q_dedup_lines" -> ("WITH p AS (SELECT doc_id, 'home | about | ' || source || chr(10) || text || " +
      "chr(10) || 'copyright 2024 example.com' AS page FROM documents), " +
      "l AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM p), " +
      "x AS (SELECT doc_id, unnest(ls) AS line FROM l), " +
      "bp AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd FROM x " +
      "WHERE len(trim(line)) > 0 GROUP BY line) WHERE nd > 4), " +
      "bpl AS (SELECT coalesce(list(line), []) AS bl FROM bp), " +
      "cl AS (SELECT doc_id, list_filter(ls, y -> NOT list_contains(bl, y)) AS kept " +
      "FROM l CROSS JOIN bpl) " +
      "SELECT doc_id, len(kept)::BIGINT AS n_lines, md5(array_to_string(kept, chr(10))) AS h " +
      "FROM cl ORDER BY doc_id"),
    "q_dedup_simhash" -> ("WITH tok AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS toks FROM documents), " +
      "md AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS md5s FROM tok), " +
      "bits AS (SELECT doc_id, list_transform(range(0, 64), j -> CASE WHEN " +
      "list_reduce(list_prepend(0, list_transform(md5s, m -> CASE WHEN " +
      "(((CASE WHEN ascii(substr(m, (j // 4)::INT + 1, 1)) <= 57 THEN ascii(substr(m, (j // 4)::INT + 1, 1)) - 48 " +
      "ELSE ascii(substr(m, (j // 4)::INT + 1, 1)) - 87 END) // (2 ** (3 - j % 4))::INT) % 2) = 1 THEN 1 ELSE -1 END)), (a, v) -> a + v) > 0 " +
      "THEN 1::BIGINT ELSE 0::BIGINT END) AS bs FROM md), " +
      "sig AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, bs[1:32]), (a, b) -> a * 2 + b) AS hi, " +
      "list_reduce(list_prepend(0::BIGINT, bs[33:64]), (a, b) -> a * 2 + b) AS lo FROM bits) " +
      "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
      "(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INT AS hamming " +
      "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3 ORDER BY id1, id2"),
    "q_dedup_ngram" -> ("WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents WHERE source = 'src0'), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM tok WHERE len(toks) >= 3) " +
      "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
      "round(len(list_intersect(a.sh, b.sh))::DOUBLE / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id ORDER BY jaccard DESC, id1, id2 LIMIT 20"),
    "q_dedup_embed" -> {
      // identical SRP bucket generation to the q_ann_lsh oracle
      val comp = "((" + hexFold("'h:' || t::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR", 8) +
        ") / 4294967296.0 - 0.5)"
      val dotp = s"list_reduce(list_transform(range(0, 64), d -> v[d + 1] * $comp), (x, y) -> x + y)"
      val bucketT = "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), p -> " +
        s"CASE WHEN $dotp >= 0 THEN (1::BIGINT << (7 - p)) ELSE 0::BIGINT END)), (a, b) -> a + b)"
      val buckets = s"list_transform(range(0, 4), t -> t::VARCHAR || '|' || ($bucketT)::VARCHAR)"
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
        s"b AS (SELECT vec_id, unnest($buckets) AS bucket FROM e), " +
        "cand AS (SELECT DISTINCT a.vec_id AS cid1, b2.vec_id AS cid2 FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id) " +
        "SELECT cid1 AS id1, cid2 AS id2, " +
        "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(x.v) + 1), i -> x.v[i] * y.v[i])), (p, q) -> p + q) / (x.nrm * y.nrm), 4) AS cosine " +
        "FROM cand JOIN n x ON x.vec_id = cid1 JOIN n y ON y.vec_id = cid2 ORDER BY cosine DESC, id1, id2 LIMIT 20"
    },
    "q_dedup_embed_block" -> ("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e) " +
      "SELECT a.vec_id AS id1, b.vec_id AS id2, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])), (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS cosine " +
      "FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id ORDER BY cosine DESC, id1, id2 LIMIT 20"),
    "q_ann_hnsw" -> ("SELECT vec_id AS query_id, true AS recall_ok " +
      "FROM embeddings WHERE vec_id < 5 ORDER BY query_id"),
    "q_explain_knn" -> {
      val qv = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
      val qlist = qv.mkString("[", ", ", "]")
      val nq = math.sqrt(qv.map(x => x * x).sum)
      "WITH e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v " +
        "FROM embeddings WHERE vec_id = 42), " +
        s"q AS (SELECT $qlist::DOUBLE[] AS w), " +
        "c AS (SELECT list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * w[i])), (a, b) -> a + b) AS d, " +
        "sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (a, b) -> a + b)) AS nv FROM e CROSS JOIN q) " +
        "SELECT component, value FROM (" +
        "SELECT 'dot' AS component, round(d, 4) AS value FROM c " +
        "UNION ALL SELECT 'norm_doc', round(nv, 4) FROM c " +
        s"UNION ALL SELECT 'norm_query', round($nq, 4) FROM c " +
        s"UNION ALL SELECT 'cosine', round(d / (nv * $nq), 4) FROM c) ORDER BY component"
    },
    "q_ann_brute" -> ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "p AS (SELECT q.vec_id AS query_id, c.vec_id AS id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * q.v[i])), (x, y) -> x + y) / (c.nrm * q.nrm), 4) AS cosine " +
      "FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) q WHERE c.vec_id <> q.vec_id) " +
      "SELECT query_id, id, cosine, rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank FROM p) " +
      "WHERE rank <= 10 ORDER BY query_id, rank"),
    "q_ann_lsh" -> {
      // mirror of Ann.tableBuckets / planeComponent: 4 tables x 8 planes,
      // components from md5("h:t:p:d") folded to a 32-bit uniform
      val comp = "((" + hexFold("'h:' || t::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR", 8) +
        ") / 4294967296.0 - 0.5)"
      val dotp = s"list_reduce(list_transform(range(0, 64), d -> v[d + 1] * $comp), (x, y) -> x + y)"
      val bucketT = "list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), p -> " +
        s"CASE WHEN $dotp >= 0 THEN (1::BIGINT << (7 - p)) ELSE 0::BIGINT END)), (a, b) -> a + b)"
      val buckets = s"list_transform(range(0, 4), t -> t::VARCHAR || '|' || ($bucketT)::VARCHAR)"
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
        s"b AS (SELECT vec_id, unnest($buckets) AS bucket FROM e), " +
        "qb AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < 5), " +
        "cand AS (SELECT DISTINCT qb.query_id, b2.vec_id AS id FROM b b2 JOIN qb USING (bucket) WHERE b2.vec_id <> qb.query_id), " +
        "p AS (SELECT query_id, id, round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * q.v[i])), (x, y) -> x + y) / (c.nrm * q.nrm), 4) AS cosine " +
        "FROM cand JOIN n c ON c.vec_id = cand.id JOIN n q ON q.vec_id = cand.query_id) " +
        "SELECT query_id, id, cosine, rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank FROM p) " +
        "WHERE rank <= 10 ORDER BY query_id, rank"
    },
    "q_ingest_kv" -> ("SELECT event_type AS t, (user_id % 7)::BIGINT AS u, count(*)::BIGINT AS n " +
      "FROM events GROUP BY t, u ORDER BY t, u"),
    "q_ingest_registered_domain" -> ("WITH h AS (SELECT doc_id, CASE doc_id % 6 " +
      "WHEN 0 THEN 'www.example.com' WHEN 1 THEN 'a.b.news.co.uk' " +
      "WHEN 2 THEN 'example.org' WHEN 3 THEN 'deep.sub.site.com.au' " +
      "WHEN 4 THEN 'localhost' ELSE 'cdn.shop.co.jp' END AS host " +
      "FROM documents WHERE doc_id < 60), " +
      "p AS (SELECT doc_id, host, string_split(host, '.') AS parts, " +
      "len(string_split(host, '.')) AS np FROM h), " +
      "l AS (SELECT doc_id, host, parts, np, " +
      "CASE WHEN np >= 2 THEN parts[np-1] || '.' || parts[np] END AS last2 FROM p) " +
      "SELECT doc_id, host, CASE " +
      "WHEN np >= 3 AND last2 IN ('co.uk','org.uk','ac.uk','com.au','net.au','co.jp','com.br','co.in','com.cn','co.nz') " +
      "THEN parts[np-2] || '.' || last2 " +
      "WHEN np >= 2 AND last2 NOT IN ('co.uk','org.uk','ac.uk','com.au','net.au','co.jp','com.br','co.in','com.cn','co.nz') " +
      "THEN last2 END AS rd FROM l ORDER BY doc_id"),
    "q_ingest_user_agent" -> ("WITH u0 AS (SELECT doc_id, CASE doc_id % 6 " +
      "WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36' " +
      "WHEN 1 THEN 'Mozilla/5.0 (Macintosh; Mac OS X) Version/17.1 Safari/605.1.15' " +
      "WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0' " +
      "WHEN 3 THEN 'Mozilla/5.0 (iPhone; iOS 17) Version/17.0 Mobile Safari/604.1' " +
      "WHEN 4 THEN 'Mozilla/5.0 (Windows NT 10.0) Edg/120.0.2210.91' " +
      "ELSE 'Wget/1.21 (linux-gnu)' END AS u FROM documents), " +
      "p AS (SELECT doc_id, " +
      "CASE WHEN regexp_matches(u, '(?i)edg(e|a|ios)?/') THEN 'Edge' " +
      "WHEN regexp_matches(u, '(?i)opr/|opera') THEN 'Opera' " +
      "WHEN regexp_matches(u, '(?i)chrome/') THEN 'Chrome' " +
      "WHEN regexp_matches(u, '(?i)firefox/') THEN 'Firefox' " +
      "WHEN regexp_matches(u, '(?i)safari/') AND NOT regexp_matches(u, '(?i)chrome/') THEN 'Safari' " +
      "ELSE 'Other' END AS name, " +
      "regexp_extract(u, '(?i)(?:edg[ea]?|opr|chrome|firefox|version)/(\\d+[\\d.]*)', 1) AS version, " +
      "CASE WHEN regexp_matches(u, '(?i)windows') THEN 'Windows' " +
      "WHEN regexp_matches(u, '(?i)android') THEN 'Android' " +
      "WHEN regexp_matches(u, '(?i)iphone|ipad|ios') THEN 'iOS' " +
      "WHEN regexp_matches(u, '(?i)mac os') THEN 'Mac OS X' " +
      "WHEN regexp_matches(u, '(?i)linux') THEN 'Linux' ELSE 'Other' END AS os, " +
      "CASE WHEN regexp_matches(u, '(?i)mobile|iphone|android') THEN 'Mobile Device' " +
      "ELSE 'Other' END AS device FROM u0) " +
      "SELECT name, version, os, device, count(*)::BIGINT AS n FROM p " +
      "GROUP BY 1, 2, 3, 4 ORDER BY name, version, os"),
    "q_ingest_uri_parts" -> ("WITH uu AS (SELECT doc_id, CASE " +
      "WHEN doc_id % 3 = 0 THEN 'https://' || source || '.example.com:8443/docs/' || doc_id || '?lang=' || lang || '#top' " +
      "WHEN doc_id % 3 = 1 THEN 'http://' || source || '.example.org/d/' || doc_id " +
      "ELSE 'ftp://user@' || source || '.example.net/file' END AS u FROM documents) " +
      "SELECT doc_id, " +
      "regexp_extract(u, '^([a-z][a-z0-9+.-]*):', 1) AS scheme, " +
      "regexp_extract(u, '^[a-z][a-z0-9+.-]*://(?:[^@/]*@)?([^:/?#]+)', 1) AS host, " +
      "regexp_extract(u, '^[a-z][a-z0-9+.-]*://[^:/?#]+:(\\d+)', 1) AS port, " +
      "regexp_extract(u, '^(?:[a-z][a-z0-9+.-]*://[^/?#]*)?([^?#]*)', 1) AS path, " +
      "regexp_extract(u, '\\?([^#]*)', 1) AS query, " +
      "regexp_extract(u, '#(.*)$', 1) AS fragment " +
      "FROM uu ORDER BY doc_id"),
    "q_ingest_geoip" -> {
      def clas(na: String, eu: String, as_ : String, oc: String) =
        "CASE WHEN o1 = 10 OR (o1 = 192 AND o2 = 168) OR (o1 = 172 AND o2 BETWEEN 16 AND 31) OR o1 = 127 THEN NULL " +
          s"WHEN o1 <= 63 THEN $na WHEN o1 <= 126 THEN $eu WHEN o1 <= 191 THEN $as_ ELSE $oc END"
      "WITH ips AS (SELECT (user_id * 31 % 223) + 1 AS o1, (user_id * 7 % 256) AS o2 FROM events), " +
        s"g AS (SELECT ${clas("'North America'", "'Europe'", "'Asia'", "'Oceania'")} AS continent, " +
        s"${clas("'US'", "'DE'", "'JP'", "'AU'")} AS iso FROM ips) " +
        "SELECT continent, iso, count(*)::BIGINT AS n FROM g GROUP BY 1, 2 " +
        "ORDER BY continent NULLS FIRST, iso NULLS FIRST"
    },
    "q_analyze_filters" -> (TokCte +
      ", c AS (SELECT doc_id, toks, " +
      "list_transform(list_filter(toks, t -> len(t) >= 3 AND len(t) <= 8), t -> substr(t, 1, 5)) AS tr FROM tok WHERE doc_id < 50), " +
      // order-preserving dedup: keep positions that are their token's
      // FIRST occurrence (DuckDB list_distinct does not pin order)
      "u AS (SELECT doc_id, toks, list_filter(tr, (x, i) -> list_position(tr, x) = i) AS uq FROM c) " +
      "SELECT doc_id, len(toks)::BIGINT AS n_raw, len(uq)::BIGINT AS n_chain, " +
      "array_to_string(uq[1:5], ' ') AS head5 FROM u ORDER BY doc_id"),
    "q_ingest_redact" -> ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<email>', 'g'), " +
      "'\\d{1,3}(?:\\.\\d{1,3}){3}', '<client>', 'g'), " +
      "'-?\\d+(?:\\.\\d+)?', '<num>', 'g') AS redacted FROM documents ORDER BY doc_id"),
    "q_ingest_date_index" -> ("SELECT 'orders-' || strftime(date_trunc('month', o_orderdate), '%Y-%m') AS _index, " +
      "count(*)::BIGINT AS n FROM orders GROUP BY 1 ORDER BY _index"),
    "q_ingest_fail" -> ("WITH m AS (SELECT CASE WHEN user_id % 3 = 0 THEN value::VARCHAR " +
      "ELSE event_type END AS mn FROM events), " +
      "c AS (SELECT TRY_CAST(mn AS DOUBLE) AS mnd, " +
      "CASE WHEN mn IS NOT NULL AND TRY_CAST(mn AS DOUBLE) IS NULL THEN 'parse_error' END AS err FROM m) " +
      "SELECT coalesce(err, 'ok') AS err, count(*)::BIGINT AS n, " +
      "CAST(sum(CAST(coalesce(mnd, 0.0) AS DECIMAL(18,4))) AS DOUBLE) AS total FROM c GROUP BY 1 ORDER BY err"),
    "q_ingest_json" -> ("SELECT event_type, " +
      "min(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS kmin, " +
      "max(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS kmax " +
      "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_pipeline_clean" -> {
      val en = TextAnalysis.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      TokCte + MinhashCtes + ", " +
      "dups AS (SELECT DISTINCT id2 FROM vp), " +
      "m AS (SELECT d.doc_id, len(b.toks)::BIGINT AS n_tokens, d.n_chars, " +
      "round(len(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g'))::DOUBLE / greatest(len(d.text), 1)::DOUBLE, 4) AS punct_ratio, " +
      s"round(len(list_filter(b.toks, t -> list_contains([$en], t)))::DOUBLE / greatest(len(b.toks), 1)::DOUBLE, 4) AS stopword_ratio, " +
      "round(len(list_distinct(b.toks))::DOUBLE / greatest(len(b.toks), 1)::DOUBLE, 4) AS ttr " +
      "FROM documents d JOIN tok b USING (doc_id)), " +
      "scored AS (SELECT doc_id, n_chars, " +
      "round(least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 + " +
      "least(stopword_ratio * 5.0, 1.0) * 0.2 + ttr * 0.3, 4) AS quality FROM m) " +
      "SELECT doc_id, quality FROM scored WHERE quality >= 0.45 AND n_chars >= 100 " +
      "AND doc_id NOT IN (SELECT id2 FROM dups) ORDER BY doc_id"
    },
    "q_lang_id" -> {
      val langs = TextAnalysis.stopwords
      val ratios = langs.map { case (l, ws) =>
        val wl = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> list_contains([$wl], t)))::DOUBLE / greatest(len(toks), 1)::DOUBLE AS r_$l"
      }.mkString(", ")
      // mirror of the fold in TextAnalysis.languageId: later lang wins only on strict >
      TokCte + s", r AS (SELECT doc_id, $ratios FROM tok) " +
        "SELECT doc_id, CASE " +
        "WHEN r_zh > greatest(r_de, r_en, r_es, r_fr) THEN 'zh' " +
        "WHEN r_fr > greatest(r_de, r_en, r_es) THEN 'fr' " +
        "WHEN r_es > greatest(r_de, r_en) THEN 'es' " +
        "WHEN r_en > r_de THEN 'en' ELSE 'de' END AS pred_lang, " +
        "round(greatest(r_de, r_en, r_es, r_fr, r_zh), 4) AS lang_score FROM r ORDER BY doc_id"
    },
    "q_pipeline_full" -> {
      val en = TextAnalysis.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      val fp = s"list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> ${hexFold("t", 12)} % 1000000007)), " +
        "(a, v) -> (a * 31 + v) % 1000000007)"
      "WITH b AS (SELECT doc_id, text, source, n_chars, lang, " +
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents), " +
        "q AS (SELECT *, len(toks)::BIGINT AS n_tokens, " +
        "round(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE / greatest(len(text), 1)::DOUBLE, 4) AS punct_ratio, " +
        s"round(len(list_filter(toks, t -> list_contains([$en], t)))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS stopword_ratio, " +
        "round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS ttr FROM b), " +
        "qq AS (SELECT *, round(least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 + " +
        "least(stopword_ratio * 5.0, 1.0) * 0.2 + ttr * 0.3, 4) AS quality FROM q), " +
        "c4 AS (SELECT *, " +
        "len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> len(trim(x)) > 0))::BIGINT AS n_sent, " +
        "contains(lower(text), 'lorem ipsum') AS hl, contains(text, '{') AS hb, " +
        "(contains(lower(text), 'privacy policy') OR contains(lower(text), 'terms of use') OR " +
        "contains(lower(text), 'cookie policy') OR contains(lower(text), 'uses cookies')) AS hp FROM qq), " +
        "f AS (SELECT * FROM c4 WHERE NOT hl AND NOT hb AND NOT hp AND lang = 'en' AND quality >= 0.4), " +
        s"fpt AS (SELECT *, $fp AS fp FROM f), " +
        "dd AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fpt) WHERE rn = 1), " +
        "p AS (SELECT doc_id, source, n_chars, " +
        "source || '/' || CAST(floor(CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS DOUBLE) / 5000) AS BIGINT)::VARCHAR AS pack_id FROM dd) " +
        "SELECT pack_id, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS pack_chars " +
        "FROM p GROUP BY pack_id ORDER BY pack_id"
    },
    "q_quality" -> {
      val en = TextAnalysis.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      "WITH b AS (SELECT doc_id, text, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents), " +
        "m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens, " +
        "round(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE / greatest(len(text), 1)::DOUBLE, 4) AS punct_ratio, " +
        s"round(len(list_filter(toks, t -> list_contains([$en], t)))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS stopword_ratio, " +
        "round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS ttr FROM b) " +
        "SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, ttr, " +
        "round(least(n_tokens / 100.0, 1.0) * 0.3 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 + " +
        "least(stopword_ratio * 5.0, 1.0) * 0.2 + ttr * 0.3, 4) AS quality FROM m ORDER BY doc_id"
    },
    "q_quality_gopher" -> {
      val en = TextAnalysis.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      "WITH b AS (SELECT doc_id, text, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents), " +
        "m AS (SELECT doc_id, len(toks)::BIGINT AS n_words, " +
        "round(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS mean_word_len, " +
        "round(len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS symbol_ratio, " +
        "round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / greatest(len(replace(text, ' ', '')), 1)::DOUBLE, 4) AS alpha_ratio, " +
        s"len(list_filter(toks, t -> list_contains([$en], t)))::BIGINT AS stop_hits FROM b) " +
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits, " +
        "(n_words BETWEEN 25 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 " +
        "AND symbol_ratio < 0.1 AND alpha_ratio >= 0.7 AND stop_hits >= 2) AS keep " +
        "FROM m ORDER BY doc_id"
    },
    "q_dedup_url" -> ("WITH u AS (SELECT doc_id, " +
      "(CASE WHEN doc_id % 7 < 3 THEN 'HTTP://WWW.Example.COM' ELSE 'http://www.example.com' END) || " +
      "(CASE WHEN doc_id % 11 = 0 THEN ':80' ELSE '' END) || '/' || source || '/page' || (doc_id % 60)::VARCHAR || " +
      "(CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) || '?' || " +
      "(CASE WHEN doc_id % 7 = 0 THEN 'utm_source=feed&' ELSE '' END) || 'ref=' || (doc_id % 4)::VARCHAR || " +
      "(CASE WHEN doc_id % 17 = 0 THEN '#frag' ELSE '' END) AS url FROM documents), " +
      "c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(lower(regexp_extract(url, '^[^/?]*//[^/?]*')), ':(80|443)$', '') || regexp_replace(url, '^[^/?]*//[^/?]*', ''), " +
      "'#.*', '', 'g'), '[?&]utm_[a-z]+=[^&#]*', '', 'g'), " +
      "'^([^?]*)&([A-Za-z0-9_]+=)', '\\1?\\2', 'g'), " +
      "'[?&]+$', '', 'g'), '\\?&', '?', 'g'), '/\\?', '?', 'g'), '/$', '', 'g') AS canonical_url FROM u) " +
      "SELECT canonical_url, count(*)::BIGINT AS n_dups, min(doc_id) AS keeper_doc FROM c " +
      "GROUP BY 1 HAVING count(*) > 1 ORDER BY n_dups DESC, canonical_url"),
    "q_quality_fineweb" -> ("WITH p AS (SELECT doc_id, 'menu | home' || chr(10) || text || chr(10) || " +
      "text || ' and a distinct continuation line' || chr(10) || " +
      "CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ELSE '' END || " +
      "'- item one' || chr(10) || 'read more ...' || chr(10) || 'copyright 2024 example.com' AS page FROM documents), " +
      "l AS (SELECT doc_id, list_filter(string_split(page, chr(10)), x -> len(x) > 0) AS lines FROM p), " +
      "u AS (SELECT doc_id, unnest(lines) AS line FROM l), " +
      "st AS (SELECT doc_id, count(*)::BIGINT AS n_lines, " +
      "count_if(len(line) < 30)::DOUBLE AS n_short, " +
      "count_if(starts_with(line, '- ') OR starts_with(line, '* '))::DOUBLE AS n_bullet, " +
      "count_if(ends_with(line, '...'))::DOUBLE AS n_ellipsis, " +
      "sum(len(line))::DOUBLE AS tot_chars FROM u GROUP BY doc_id), " +
      "d AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN chars ELSE 0 END)::DOUBLE AS dup_chars FROM " +
      "(SELECT doc_id, line, count(*) OVER (PARTITION BY doc_id, line) AS c, len(line) AS chars FROM u) GROUP BY doc_id), " +
      "m AS (SELECT st.doc_id, n_lines, " +
      "round(n_short / n_lines, 4) AS short_line_frac, " +
      "round(coalesce(dup_chars, 0) / greatest(tot_chars, 1), 4) AS dup_line_char_frac, " +
      "round(n_bullet / n_lines, 4) AS bullet_frac, " +
      "round(n_ellipsis / n_lines, 4) AS ellipsis_frac " +
      "FROM st JOIN d USING (doc_id)) " +
      "SELECT *, (short_line_frac <= 0.67 AND dup_line_char_frac <= 0.3 AND " +
      "bullet_frac <= 0.9 AND ellipsis_frac <= 0.3) AS keep FROM m ORDER BY doc_id"),
    "q_quality_c4" -> ("WITH l AS (SELECT doc_id, text, lower(text) AS low, " +
      "list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines FROM documents), " +
      "s AS (SELECT doc_id, len(lines)::BIGINT AS n_lines, " +
      "len(list_filter(lines, x -> regexp_matches(x, '[.!?\"][ \\t\\r]*$')))::BIGINT AS n_kept_lines, " +
      "len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> len(trim(x)) > 0))::BIGINT AS n_sentences, " +
      "contains(low, 'lorem ipsum') AS has_lorem, contains(text, '{') AS has_brace, " +
      "(contains(low, 'privacy policy') OR contains(low, 'terms of use') OR " +
      "contains(low, 'cookie policy') OR contains(low, 'uses cookies')) AS has_policy FROM l) " +
      "SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace, has_policy, " +
      "(NOT has_lorem AND NOT has_brace AND NOT has_policy AND n_sentences >= 3) AS keep " +
      "FROM s ORDER BY doc_id"),
    "q_tokens" -> ("SELECT doc_id, " +
      "len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0))::BIGINT AS ws_tokens, " +
      "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens " +
      "FROM documents ORDER BY doc_id"),
    "q_keywords" -> (TokCte + ", " +
      "tf AS (SELECT doc_id AS id, term, count(*)::DOUBLE AS tf FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2), " +
      "nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents), " +
      "dfreq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term), " +
      "sc AS (SELECT id, term, round(tf * ln(nd.n_docs / dfreq.dfreq), 4) AS score FROM tf JOIN dfreq USING (term) CROSS JOIN nd), " +
      "r AS (SELECT id, term, score, row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS rank FROM sc) " +
      "SELECT id, rank, term, score FROM r WHERE rank <= 3 ORDER BY id, rank"),
    "q_pii" -> ("SELECT doc_id, " +
      "regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS has_email, " +
      "regexp_matches(text, 'https?://') AS has_url, " +
      "len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_digit_runs, " +
      "len(regexp_extract_all(text, '[0-9]{6,}'))::BIGINT AS n_long_numbers " +
      "FROM documents ORDER BY doc_id"),
    "q_fingerprint" -> (TokCte + " SELECT doc_id, " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> ${hexFold("t", 12)} % 1000000007)), " +
      "(a, v) -> (a * 31 + v) % 1000000007) AS fp FROM tok ORDER BY doc_id"),
    "q_pack" -> ("WITH p AS (SELECT doc_id, source, n_chars, " +
      "source || '/' || CAST(floor(CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS DOUBLE) / 5000) AS BIGINT)::VARCHAR AS pack_id " +
      "FROM documents) " +
      "SELECT pack_id, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS pack_chars " +
      "FROM p GROUP BY pack_id ORDER BY pack_id"),
    "q_multimodal_container" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 " +
      "THEN 'png ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) " +
      "WHEN doc_id % 3 = 1 " +
      "THEN 'gif ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) " +
      "WHEN doc_id % 6 = 2 " +
      "THEN 'webp ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) " +
      "ELSE 'webp ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) || ' anim' END AS meta " +
      "FROM documents ORDER BY media_id"),
    "q_multimodal_av" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 4 = 0 " +
      "THEN 'mp4 ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) || ' ' || ((n_chars % 1000 + 1) * 10) || 'ms' " +
      "WHEN doc_id % 4 = 1 " +
      "THEN 'mp4 audio ' || ((n_chars % 1000 + 1) * 10) || 'ms' " +
      "WHEN doc_id % 4 = 2 " +
      "THEN 'mp3 ' || ([44100,48000,32000])[(doc_id % 3) + 1] || 'Hz ' || " +
      "([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[(doc_id % 14) + 1] || 'kbps' " +
      "ELSE 'flac ' || ([8000,16000,32000,44100,48000])[(doc_id % 5) + 1] || 'Hz ' || " +
      "(doc_id % 2 + 1) || 'ch ' || (n_chars * 50) END AS meta " +
      "FROM documents ORDER BY media_id"),
    "q_multimodal_spectral" -> ("SELECT doc_id AS media_id, " +
      "25600::INT AS sample_rate, 256::INT AS n_samples, " +
      "(doc_id % 100 + 1)::INT AS dominant_bin, " +
      "((doc_id % 100 + 1) * 100)::BIGINT AS dominant_freq_hz " +
      "FROM documents ORDER BY media_id"),
    "q_multimodal_heif" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'avif ' ELSE 'heic ' END || " +
      "(n_chars % 512 + 1) || 'x' || (doc_id % 512 + 1) AS meta " +
      "FROM documents ORDER BY media_id"),
    "q_multimodal_census" -> ("WITH u AS (" +
      "SELECT CASE WHEN doc_id % 9 = 0 THEN 'bin' " +
      "WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'gif' " +
      "ELSE 'webp' END AS format FROM documents " +
      "UNION ALL " +
      "SELECT CASE WHEN doc_id % 9 = 0 AND doc_id % 4 = 2 THEN 'mp3' " +
      "WHEN doc_id % 9 = 0 THEN 'bin' " +
      "WHEN doc_id % 4 IN (0, 1) THEN 'mp4' WHEN doc_id % 4 = 2 THEN 'mp3' " +
      "ELSE 'flac' END AS format FROM documents " +
      "UNION ALL " +
      // r17 codecs leg: a torn 5-byte ogg page keeps its family (the
      // OggS magic survives truncation); a torn avc MP4 loses even
      // its ftyp and lands in 'bin'
      "SELECT CASE WHEN doc_id % 4 IN (0, 1) THEN 'ogg' " +
      "WHEN doc_id % 9 = 0 THEN 'bin' ELSE 'mp4' END AS format FROM documents) " +
      "SELECT format, count(*)::BIGINT AS n FROM u " +
      "GROUP BY format ORDER BY format"),
    "q_multimodal_codecs" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 4 = 0 " +
      "THEN 'ogg vorbis ' || ([8000,16000,22050,44100,48000])[(doc_id % 5) + 1] || 'Hz ' || (doc_id % 2 + 1) || 'ch' " +
      "WHEN doc_id % 4 = 1 " +
      "THEN 'ogg opus ' || ([48000,44100,16000])[(doc_id % 3) + 1] || 'Hz ' || (doc_id % 2 + 1) || 'ch' " +
      "WHEN doc_id % 4 = 2 " +
      "THEN 'mp4 ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) || ' ' || ((n_chars % 1000 + 1) * 10) || 'ms h264 320x240' " +
      "ELSE 'mp4 ' || (n_chars % 100 + 1) || 'x' || (doc_id % 50 + 1) || ' ' || ((n_chars % 1000 + 1) * 10) || 'ms h264 1280x720' END AS meta " +
      "FROM documents ORDER BY media_id"),
    "q_multimodal_stft" -> ("WITH f AS (SELECT doc_id AS media_id, " +
      "unnest([0, 1]) AS frame_idx FROM documents) " +
      "SELECT media_id, frame_idx::INT AS frame_idx, " +
      "(media_id % 60 + 1 + CASE WHEN frame_idx = 1 THEN 40 ELSE 0 END)::INT AS dominant_bin, " +
      "((media_id % 60 + 1 + CASE WHEN frame_idx = 1 THEN 40 ELSE 0 END) * 100)::BIGINT AS dominant_freq_hz " +
      "FROM f ORDER BY media_id, frame_idx"),
    "q_multimodal_decode" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav' " +
      "ELSE 'video/mp4' END AS mime, octet_length(encode(text))::BIGINT AS n_bytes, " +
      "(doc_id % 640 + 32)::INT AS width, (doc_id % 480 + 32)::INT AS height, " +
      "md5(text) AS feat_hash FROM documents WHERE doc_id < 40 ORDER BY media_id"),
    "q_multimodal_resize" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav' " +
      "ELSE 'video/mp4' END AS mime, octet_length(encode(text))::BIGINT AS n_bytes, " +
      "224::INT AS width, 224::INT AS height, " +
      "md5(text || ':224:224') AS feat_hash FROM documents WHERE doc_id < 40 ORDER BY media_id"),
    "q_multimodal_frames" -> ("WITH f AS (SELECT doc_id AS media_id, text, " +
      "unnest(range(0, 4)) AS fi FROM documents WHERE doc_id < 40) " +
      "SELECT media_id, fi::INT AS frame_idx, md5(text || fi::VARCHAR) AS frame_hash " +
      "FROM f ORDER BY media_id, frame_idx"),
    // the decoded-pixel stats re-derived from the generator formula:
    // px(x,y) = (id*31 + x*7 + y*13) % 256 over a w x h grid — the
    // Spark side reads these values back out of real zlib'd PNG bytes
    "q_multimodal_pixels" -> ("WITH d AS (SELECT doc_id, doc_id % 48 + 8 AS w, " +
      "doc_id % 32 + 8 AS h FROM documents WHERE doc_id % 2 = 0), " +
      "g AS (SELECT d.doc_id, d.w, d.h, (d.doc_id*31 + xs.x*7 + ys.y*13) % 256 AS px " +
      "FROM d CROSS JOIN generate_series(0, 55) AS xs(x) " +
      "CROSS JOIN generate_series(0, 39) AS ys(y) WHERE xs.x < d.w AND ys.y < d.h) " +
      "SELECT doc_id AS media_id, w::INT AS width, h::INT AS height, " +
      "count(*)::BIGINT AS n_values, sum(px)::BIGINT AS v_sum, " +
      "min(px)::BIGINT AS v_min, max(px)::BIGINT AS v_max, " +
      "round(sum(px)::DOUBLE / count(*), 4) AS mean_v " +
      "FROM g GROUP BY doc_id, w, h ORDER BY media_id"),
    "q_multimodal_audio" -> ("WITH d AS (SELECT doc_id, doc_id % 256 + 16 AS n " +
      "FROM documents WHERE doc_id % 2 = 1), " +
      "g AS (SELECT d.doc_id, (d.doc_id*17 + i.i*29) % 4096 - 2048 AS s " +
      "FROM d CROSS JOIN generate_series(0, 271) AS i(i) WHERE i.i < d.n) " +
      "SELECT doc_id AS media_id, count(*)::BIGINT AS n_samples, " +
      "sum(s)::BIGINT AS s_sum, min(s)::BIGINT AS s_min, max(s)::BIGINT AS s_max, " +
      "round(sum(s)::DOUBLE / count(*), 4) AS mean_s " +
      "FROM g GROUP BY doc_id ORDER BY media_id"),
    // per-channel formulas re-derived over the grid, summed per channel
    "q_multimodal_rgb" -> ("WITH d AS (SELECT doc_id, doc_id % 24 + 4 AS w, " +
      "doc_id % 16 + 4 AS h FROM documents), " +
      "g AS (SELECT d.doc_id, d.w, d.h, " +
      "(d.doc_id*31 + xs.x*7 + ys.y*13) % 256 AS r, " +
      "(d.doc_id*17 + xs.x*11 + ys.y*5) % 256 AS gr, " +
      "(d.doc_id*23 + xs.x*3 + ys.y*19) % 256 AS b " +
      "FROM d CROSS JOIN generate_series(0, 27) AS xs(x) " +
      "CROSS JOIN generate_series(0, 19) AS ys(y) WHERE xs.x < d.w AND ys.y < d.h) " +
      "SELECT doc_id AS media_id, w::INT AS width, h::INT AS height, " +
      "sum(r)::BIGINT AS r_sum, sum(gr)::BIGINT AS g_sum, sum(b)::BIGINT AS b_sum " +
      "FROM g GROUP BY doc_id, w, h ORDER BY media_id"),
    "q_multimodal_stereo" -> ("WITH d AS (SELECT doc_id, doc_id % 200 + 32 AS n " +
      "FROM documents), " +
      "g AS (SELECT d.doc_id, d.n, " +
      "(d.doc_id*13 + i.i*7) % 4096 - 2048 AS l, " +
      "(d.doc_id*19 + i.i*11) % 4096 - 2048 AS r " +
      "FROM d CROSS JOIN generate_series(0, 231) AS i(i) WHERE i.i < d.n) " +
      "SELECT doc_id AS media_id, n::INT AS n_samples, " +
      "sum(l)::BIGINT AS l_sum, sum(r)::BIGINT AS r_sum " +
      "FROM g GROUP BY doc_id, n ORDER BY media_id"),
    // paletted PNG: channel values composed THROUGH the palette —
    // idx(x,y) = (id*7 + x*3 + y*5) % 64, channel = palette formula
    // over idx; a PLTE-expansion bug breaks all three sums at once,
    // an index-plane bug breaks them in the composed pattern
    "q_multimodal_palette" -> ("WITH d AS (SELECT doc_id, doc_id % 24 + 4 AS w, " +
      "doc_id % 16 + 4 AS h FROM documents), " +
      "g AS (SELECT d.doc_id, d.w, d.h, " +
      "(d.doc_id*7 + xs.x*3 + ys.y*5) % 64 AS idx " +
      "FROM d CROSS JOIN generate_series(0, 27) AS xs(x) " +
      "CROSS JOIN generate_series(0, 19) AS ys(y) WHERE xs.x < d.w AND ys.y < d.h) " +
      "SELECT doc_id AS media_id, w::INT AS width, h::INT AS height, " +
      "sum((idx*5 + 7) % 256)::BIGINT AS r_sum, " +
      "sum((idx*11 + 3) % 256)::BIGINT AS g_sum, " +
      "sum((idx*17 + 1) % 256)::BIGINT AS b_sum " +
      "FROM g GROUP BY doc_id, w, h ORDER BY media_id"),
    // per-frame stats re-derived from the frame-salted formula
    // px(f,x,y) = (id*31 + f*41 + x*7 + y*13) % 256 at stride 2 — the
    // Spark side reads these back out of real animated-GIF LZW streams
    "q_multimodal_gif_frames" -> ("WITH d AS (SELECT doc_id, doc_id % 24 + 4 AS w, " +
      "doc_id % 16 + 4 AS h, doc_id % 5 + 2 AS n FROM documents), " +
      "g AS (SELECT d.doc_id, fs.f, d.w, d.h, " +
      "(d.doc_id*31 + fs.f*41 + xs.x*7 + ys.y*13) % 256 AS px " +
      "FROM d CROSS JOIN generate_series(0, 5) AS fs(f) " +
      "CROSS JOIN generate_series(0, 27) AS xs(x) " +
      "CROSS JOIN generate_series(0, 19) AS ys(y) " +
      "WHERE fs.f < d.n AND fs.f % 2 = 0 AND xs.x < d.w AND ys.y < d.h) " +
      "SELECT doc_id AS media_id, f::INT AS frame_idx, w::INT AS width, " +
      "h::INT AS height, count(*)::BIGINT AS n_px, sum(px)::BIGINT AS px_sum, " +
      "min(px)::BIGINT AS px_min, max(px)::BIGINT AS px_max " +
      "FROM g GROUP BY doc_id, f, w, h ORDER BY media_id, frame_idx"),
    // lossy codec: the oracle reads the GENERATION-TIME stats the
    // query persisted beside the payload bytes (Verify runs the query
    // first); the Spark side recomputes them by re-decoding the bytes
    "q_multimodal_jpeg" -> ("SELECT media_id, width, height, n_px, px_sum, " +
      "px_min, px_max FROM read_parquet(" +
      s"'/tmp/graft_jpeg_${System.getProperty("user.name")}/*.parquet') " +
      "ORDER BY media_id"),
    "q_multimodal_jpeg_rgb" -> ("SELECT media_id, width, height, n_px, r_sum, " +
      "g_sum, b_sum FROM read_parquet(" +
      s"'/tmp/graft_jpeg_rgb_${System.getProperty("user.name")}/*.parquet') " +
      "ORDER BY media_id"),
    // nearest-neighbor to 8x6: out(x,y) = in((x*w)//8, (y*h)//6)
    "q_multimodal_resize_px" -> ("WITH d AS (SELECT doc_id, doc_id % 48 + 8 AS w, " +
      "doc_id % 32 + 8 AS h FROM documents WHERE doc_id % 2 = 0), " +
      "g AS (SELECT d.doc_id, " +
      "(d.doc_id*31 + ((xs.x * d.w) // 8)*7 + ((ys.y * d.h) // 6)*13) % 256 AS px " +
      "FROM d CROSS JOIN generate_series(0, 7) AS xs(x) " +
      "CROSS JOIN generate_series(0, 5) AS ys(y)) " +
      "SELECT doc_id AS media_id, sum(px)::BIGINT AS v_sum, " +
      "min(px)::BIGINT AS v_min, max(px)::BIGINT AS v_max, " +
      "round(sum(px)::DOUBLE / 48, 4) AS mean_v " +
      "FROM g GROUP BY doc_id ORDER BY media_id"),
    "q_multimodal_meta" -> ("SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime, " +
      "octet_length(encode(text))::BIGINT AS n_bytes, " +
      "(doc_id % 640 + 32)::INT AS width, (doc_id % 480 + 32)::INT AS height, " +
      "(doc_id % 640 + 32)::BIGINT * (doc_id % 480 + 32)::BIGINT AS pixels, " +
      "md5(text) AS content_hash FROM documents ORDER BY media_id"),
    "q_chunk" -> (TokCte +
      ", c AS (SELECT doc_id, unnest(range(0, greatest((len(toks) - 1) // 48, 0) + 1)) AS s, toks " +
      "FROM tok WHERE len(toks) > 0) " +
      "SELECT doc_id AS id, s::INT AS chunk_idx, " +
      "len(toks[s*48 + 1 : s*48 + 64])::BIGINT AS n_tokens, " +
      "array_to_string(toks[s*48 + 1 : s*48 + 64], ' ') AS chunk_text " +
      "FROM c ORDER BY id, chunk_idx"),
    "q_sample_strat" -> ("SELECT doc_id, lang FROM documents " +
      s"WHERE ${hexFold("doc_id::VARCHAR", 12)} / 281474976710656.0 < " +
      "(CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.2 ELSE 0.1 END) " +
      "ORDER BY doc_id"),
    "q_contamination" -> (TokCte +
      ", shd AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM tok WHERE len(toks) >= 3), " +
      "bench AS (SELECT DISTINCT unnest(sh) AS s FROM shd WHERE doc_id < 25), " +
      "ds AS (SELECT doc_id, unnest(sh) AS s FROM shd WHERE doc_id >= 25) " +
      "SELECT doc_id AS id, count(*)::BIGINT AS n_shared FROM ds JOIN bench USING (s) " +
      "GROUP BY 1 HAVING count(*) >= 1 ORDER BY id"),
    "q_pii_redact" -> ("SELECT doc_id, " +
      "regexp_replace(regexp_replace(regexp_replace(text, " +
      "'https?://[^ \\t\\n\\f\\r]+', '[URL]', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), " +
      "'[0-9]{6,}', '[NUM]', 'g') AS redacted FROM documents ORDER BY doc_id"),
    "q_repetition" -> (TokCte + " SELECT doc_id, " +
      "round(CASE WHEN greatest(len(toks) - 2, 0) > 0 THEN " +
      "(greatest(len(toks) - 2, 0)::DOUBLE - len(list_distinct(list_transform(range(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE) / greatest(len(toks) - 2, 0)::DOUBLE " +
      "ELSE 0.0 END, 4) AS rep_ratio FROM tok ORDER BY doc_id"),
    // non-overlapping 32-token chunks; share of chunks repeated
    // corpus-wide (mirror of TextAnalysis.paragraphDupRatio; grouping
    // by chunk text == grouping by its md5)
    "q_dedup_paragraph" -> (TokCte +
      ", c AS (SELECT doc_id, array_to_string(toks[s*32 + 1 : s*32 + 32], ' ') AS chunk " +
      "FROM (SELECT doc_id, unnest(range(0, greatest((len(toks) - 1) // 32, 0) + 1)) AS s, toks " +
      "FROM tok WHERE len(toks) > 0)), " +
      "f AS (SELECT chunk, count(*)::BIGINT AS n FROM c GROUP BY 1) " +
      "SELECT doc_id AS id, count(*)::BIGINT AS n_chunks, " +
      "sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks, " +
      "round(sum(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_ratio " +
      "FROM c JOIN f USING (chunk) GROUP BY 1 ORDER BY 1"),
    // corpus-unigram mean surprisal per doc (decimal per-token sums)
    "q_lm_score" -> (TokCte +
      ", tk AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
      "ct AS (SELECT term, count(*)::BIGINT AS ct FROM tk GROUP BY 1), " +
      "tt AS (SELECT sum(ct)::DOUBLE AS tt FROM ct) " +
      "SELECT doc_id AS id, " +
      "round(sum((-ln(ct::DOUBLE / tt))::DECIMAL(28,12))::DOUBLE / count(*), 4) AS surprisal " +
      "FROM tk JOIN ct USING (term) CROSS JOIN tt GROUP BY 1 ORDER BY 1"),
    "q_pipeline_train" -> ("WITH dd AS (SELECT * FROM documents " +
      "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1), " +
      "b AS (SELECT doc_id, text, " +
      "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM dd), " +
      "q AS (SELECT *, len(toks)::BIGINT AS n_tokens, " +
      "round(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE / greatest(len(text), 1)::DOUBLE, 4) AS punct_ratio, " +
      "round(len(list_filter(toks, t -> list_contains(['the', 'and', 'of', 'to', 'in', 'is', 'was', 'for', 'with', 'a'], t)))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS stopword_ratio, " +
      "round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1)::DOUBLE, 4) AS ttr FROM b), " +
      "qq AS (SELECT *, round(least(n_tokens / 100.0, 1.0) * 0.3 + " +
      "(1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 + least(stopword_ratio * 5.0, 1.0) * 0.2 + " +
      "ttr * 0.3, 4) AS quality FROM q), " +
      "k AS (SELECT doc_id, text, toks FROM qq WHERE quality >= 0.4), " +
      "tk AS (SELECT doc_id, unnest(toks) AS term FROM k), " +
      "ct AS (SELECT term, count(*)::BIGINT AS ct FROM tk GROUP BY 1), " +
      "tt AS (SELECT sum(ct)::DOUBLE AS tt FROM ct), " +
      "sc AS (SELECT doc_id, round(sum((-ln(ct::DOUBLE / tt))::DECIMAL(28,12))::DOUBLE / count(*), 4) AS srp " +
      "FROM tk JOIN ct USING (term) CROSS JOIN tt GROUP BY 1), " +
      "e AS (SELECT round(quantile_cont(srp, 2.0/3), 4) AS e2 FROM sc), " +
      "hm AS (SELECT k.doc_id, k.text FROM k JOIN sc USING (doc_id) CROSS JOIN e WHERE sc.srp < e.e2) " +
      s"SELECT ${hexFold("doc_id::VARCHAR", 12)} % 8 AS shard, count(*)::BIGINT AS n_docs, " +
      "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)))::BIGINT AS tokens, " +
      "sum(len(text))::BIGINT AS chars FROM hm GROUP BY 1 ORDER BY shard"),
    "q_ingest_enrich" -> ("SELECT o_orderkey, c_mktsegment AS cust_c_mktsegment, " +
      "c_nationkey AS cust_c_nationkey FROM orders LEFT JOIN customer " +
      "ON o_custkey = c_custkey WHERE o_orderkey <= 2000 ORDER BY o_orderkey"),
    "q_ingest_inference" -> EntriesDsl.oracleSql("q_esql_completion"),
    "q_embed_pca" -> ("WITH v AS (SELECT vec_id, embedding[1]::DOUBLE AS x, " +
      "embedding[2]::DOUBLE AS y FROM embeddings), " +
      "st AS (SELECT avg(x) AS mx, avg(y) AS my, var_pop(x) AS cxx, " +
      "var_pop(y) AS cyy, covar_pop(x, y) AS cxy FROM v), " +
      "th AS (SELECT mx, my, 0.5 * atan2(2 * cxy, cxx - cyy) AS t FROM st) " +
      "SELECT vec_id, round((x - mx) * cos(t) + (y - my) * sin(t), 4) AS pc0 " +
      "FROM v CROSS JOIN th ORDER BY vec_id"),
    "q_contamination_embed" -> ("WITH e AS (SELECT vec_id, label, " +
      "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, label, v, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "b AS (SELECT vec_id AS bench_id, v AS bv, nrm AS bnrm FROM n WHERE label = 7), " +
      "c AS (SELECT vec_id AS doc_id, v, nrm FROM n WHERE label <> 7), " +
      "p AS (SELECT doc_id, bench_id, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1), " +
      "i -> v[i] * bv[i])), (x, y) -> x + y) / (nrm * bnrm), 4) AS cos " +
      "FROM c CROSS JOIN b), " +
      "f AS (SELECT * FROM p WHERE cos >= 0.35) " +
      "SELECT doc_id, bench_id, best_cosine FROM (SELECT doc_id, bench_id, " +
      "cos AS best_cosine, row_number() OVER (PARTITION BY doc_id " +
      "ORDER BY cos DESC, bench_id) AS rn FROM f) WHERE rn = 1 ORDER BY doc_id"),
    "q_sample_diverse" -> ("WITH e AS (SELECT vec_id, " +
      "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.vec_id AS id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.vec_id ORDER BY " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), " +
      "i -> c.v[i] * cv[i])), (a, b) -> a + b) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) WHERE rn = 1), " +
      s"dr AS (SELECT id, cent_id, round(${hexFold("'diverse:' || id::VARCHAR", 12)} / 281474976710656.0, 6) AS draw FROM asg) " +
      "SELECT cent_id AS cluster_id, id AS doc_id, draw FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY cent_id ORDER BY draw, id) AS rn FROM dr) " +
      "WHERE rn <= 10 ORDER BY cluster_id, doc_id"),
    // closed-form 2x2 eigensolution (angle + eigenvalues), whitened
    // 4-dp coordinates, then the standard SemDeDup CTE chain; the
    // second component's sign convention is free — cosine is
    // invariant to per-axis flips applied to both pair members
    "q_dedup_semantic_white" -> ("WITH v AS (SELECT vec_id, embedding[1]::DOUBLE AS x, " +
      "embedding[2]::DOUBLE AS y FROM embeddings), " +
      "st AS (SELECT avg(x) AS mx, avg(y) AS my, var_pop(x) AS cxx, " +
      "var_pop(y) AS cyy, covar_pop(x, y) AS cxy FROM v), " +
      "th AS (SELECT mx, my, 0.5 * atan2(2 * cxy, cxx - cyy) AS t, " +
      "(cxx + cyy) / 2 + sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy) AS l0, " +
      "(cxx + cyy) / 2 - sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy) AS l1 FROM st), " +
      "w AS (SELECT vec_id, [round(((x - mx) * cos(t) + (y - my) * sin(t)) / sqrt(l0), 4), " +
      "round((-(x - mx) * sin(t) + (y - my) * cos(t)) / sqrt(l1), 4)] AS wv " +
      "FROM v CROSS JOIN th), " +
      "n AS (SELECT vec_id, wv, sqrt(list_reduce(list_prepend(0.0, " +
      "list_transform(wv, q -> q * q)), (a, b) -> a + b)) AS nrm FROM w), " +
      "cents AS (SELECT vec_id AS cent_id, wv AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 8), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.vec_id AS id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.vec_id ORDER BY " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.wv) + 1), " +
      "i -> c.wv[i] * cv[i])), (a, b) -> a + b) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) WHERE rn = 1), " +
      "wc AS (SELECT asg.cent_id, n.vec_id AS id, n.wv, n.nrm FROM asg JOIN n ON n.vec_id = asg.id), " +
      "p AS (SELECT a.cent_id AS cluster_id, a.id AS id1, b.id AS id2, " +
      "round(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.wv) + 1), " +
      "i -> a.wv[i] * b.wv[i])), (a2, b2) -> a2 + b2) / (a.nrm * b.nrm), 4) AS cosine " +
      "FROM wc a JOIN wc b ON a.cent_id = b.cent_id AND a.id < b.id) " +
      "SELECT cluster_id, id1, id2, cosine FROM p WHERE cosine >= 0.9999 " +
      "ORDER BY cluster_id, id1, id2"),
    // the full 2-iteration Lloyd fit re-derived in SQL: decimal-sum
    // means (order-independent on both engines) rounded to 6, cosine
    // rounded to 4 with cent-id tie-break — then the cluster-blocked
    // pair screen exactly as q_dedup_semantic
    "q_dedup_semantic_kmeans" -> ("WITH v0 AS (SELECT vec_id AS id, " +
      "[embedding[1]::DOUBLE, embedding[2]::DOUBLE] AS v FROM embeddings), " +
      "n0 AS (SELECT id, v, sqrt(v[1]*v[1] + v[2]*v[2]) AS nrm FROM v0), " +
      "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cent_id, v AS cv " +
      "FROM (SELECT id, v FROM v0 ORDER BY id LIMIT 8)), " +
      "m1 AS (SELECT cent_id, round(sum(v[1]::DECIMAL(38,18))::DOUBLE / count(*), 6) AS x, " +
      "round(sum(v[2]::DECIMAL(38,18))::DOUBLE / count(*), 6) AS y " +
      "FROM (SELECT id, cent_id, v FROM (SELECT n0.id, c.cent_id, n0.v, " +
      "row_number() OVER (PARTITION BY n0.id ORDER BY " +
      "round((n0.v[1]*c.cv[1] + n0.v[2]*c.cv[2]) / (n0.nrm * sqrt(c.cv[1]*c.cv[1] + c.cv[2]*c.cv[2])), 4) DESC, c.cent_id ASC) AS rn " +
      "FROM n0 CROSS JOIN c0 c) t2 WHERE rn = 1) GROUP BY cent_id), " +
      "c1 AS (SELECT c.cent_id, [coalesce(m.x, c.cv[1]), coalesce(m.y, c.cv[2])] AS cv " +
      "FROM c0 c LEFT JOIN m1 m USING (cent_id)), " +
      "m2 AS (SELECT cent_id, round(sum(v[1]::DECIMAL(38,18))::DOUBLE / count(*), 6) AS x, " +
      "round(sum(v[2]::DECIMAL(38,18))::DOUBLE / count(*), 6) AS y " +
      "FROM (SELECT id, cent_id, v FROM (SELECT n0.id, c.cent_id, n0.v, " +
      "row_number() OVER (PARTITION BY n0.id ORDER BY " +
      "round((n0.v[1]*c.cv[1] + n0.v[2]*c.cv[2]) / (n0.nrm * sqrt(c.cv[1]*c.cv[1] + c.cv[2]*c.cv[2])), 4) DESC, c.cent_id ASC) AS rn " +
      "FROM n0 CROSS JOIN c1 c) t3 WHERE rn = 1) GROUP BY cent_id), " +
      "c2 AS (SELECT c.cent_id, [coalesce(m.x, c.cv[1]), coalesce(m.y, c.cv[2])] AS cv " +
      "FROM c1 c LEFT JOIN m2 m USING (cent_id)), " +
      "asg AS (SELECT id, cent_id FROM (SELECT n0.id, c.cent_id, " +
      "row_number() OVER (PARTITION BY n0.id ORDER BY " +
      "round((n0.v[1]*c.cv[1] + n0.v[2]*c.cv[2]) / (n0.nrm * sqrt(c.cv[1]*c.cv[1] + c.cv[2]*c.cv[2])), 4) DESC, c.cent_id ASC) AS rn " +
      "FROM n0 CROSS JOIN c2 c) t4 WHERE rn = 1), " +
      "wc AS (SELECT asg.cent_id, n0.id, n0.v, n0.nrm FROM asg JOIN n0 USING (id)), " +
      "p AS (SELECT a.cent_id::VARCHAR AS cluster_id, a.id AS id1, b.id AS id2, " +
      "round((a.v[1]*b.v[1] + a.v[2]*b.v[2]) / (a.nrm * b.nrm), 4) AS cosine " +
      "FROM wc a JOIN wc b ON a.cent_id = b.cent_id AND a.id < b.id) " +
      "SELECT cluster_id, id1, id2, cosine FROM p WHERE cosine >= 0.9999 " +
      "ORDER BY cluster_id, id1, id2"),
    "q_shard_assign" -> (s"SELECT ${hexFold("doc_id::VARCHAR", 12)} % 8 AS shard, " +
      "count(*)::BIGINT AS n_docs, " +
      "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)))::BIGINT AS tokens, " +
      "sum(len(text))::BIGINT AS chars FROM documents GROUP BY 1 ORDER BY shard"),
    // both BPE oracles are BUILT from Bpe.PretrainedMerges — one
    // constant feeds the Spark replace chain and the SQL mirror, so
    // the engines cannot count under different tables
    "q_tokens_bpe" -> (TokCte + " SELECT doc_id, " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> " +
      graft.text.Bpe.tokenCountSql("w", graft.text.Bpe.PretrainedMerges) +
      ")), (a, b) -> a + b)::BIGINT AS n_bpe FROM tok ORDER BY doc_id"),
    "q_sitemap" -> ("WITH e AS (SELECT doc_id, unnest([0, 1]) AS entry_idx " +
      "FROM documents) " +
      "SELECT doc_id, entry_idx::INT AS entry_idx, " +
      "'https://corpus.test/doc/' || doc_id || " +
      "CASE WHEN entry_idx = 1 THEN '/amp' ELSE '' END AS loc, " +
      "CASE WHEN entry_idx = 0 THEN '2026-01-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') " +
      "ELSE '2026-02-' || lpad((doc_id * 3 % 28 + 1)::VARCHAR, 2, '0') END AS lastmod " +
      "FROM e ORDER BY doc_id, entry_idx"),
    "q_robots_filter" -> ("SELECT doc_id, " +
      "CASE WHEN doc_id % 5 = 0 THEN '/public/page' " +
      "WHEN doc_id % 5 = 1 THEN '/private/page' " +
      "WHEN doc_id % 5 = 2 THEN '/private/ok/page' " +
      "WHEN doc_id % 5 = 3 THEN '/docs/file' " +
      "ELSE '/bot-trap/page' END || (doc_id % 60) || " +
      "CASE WHEN doc_id % 5 = 3 THEN '.pdf' ELSE '' END AS path, " +
      "doc_id % 5 NOT IN (1, 3) AS star_allowed, " +
      "doc_id % 5 != 4 AS bot_allowed " +
      "FROM documents ORDER BY doc_id"),
    // per-host verdict replay from the generation classes: host a's
    // '*' group blocks /private/ (Allow /private/ok/ is longer) and
    // its graftbot group blocks /bot-trap/ + *.pdf; host b's '*'
    // group blocks *.pdf for BOTH agents (Disallow 7 octets beats
    // Allow /docs/ 6 on the tie-break); host c blocks graftbot
    // everywhere and has no '*' fallback; host d has no robots row
    "q_robots_hosts" -> ("SELECT doc_id, " +
      "CASE doc_id % 4 WHEN 0 THEN 'a.example' WHEN 1 THEN 'b.example' " +
      "WHEN 2 THEN 'c.example' ELSE 'd.example' END AS host, " +
      "CASE WHEN doc_id % 5 = 0 THEN '/public/page' " +
      "WHEN doc_id % 5 = 1 THEN '/private/page' " +
      "WHEN doc_id % 5 = 2 THEN '/private/ok/page' " +
      "WHEN doc_id % 5 = 3 THEN '/docs/file' " +
      "ELSE '/bot-trap/page' END || (doc_id % 60) || " +
      "CASE WHEN doc_id % 5 = 3 THEN '.pdf' ELSE '' END AS path, " +
      "NOT ((doc_id % 4 = 0 AND doc_id % 5 = 1) OR " +
      "(doc_id % 4 = 1 AND doc_id % 5 = 3)) AS star_allowed, " +
      "NOT ((doc_id % 4 = 0 AND doc_id % 5 IN (3, 4)) OR " +
      "(doc_id % 4 = 1 AND doc_id % 5 = 3) OR doc_id % 4 = 2) AS bot_allowed " +
      "FROM documents ORDER BY doc_id"),
    // edge replay from the residue classes: every page a relative
    // self-anchor; non-h6 pages two absolute anchors at (2*id+1)%7
    // and (id+3)%7 (which COLLIDE when id%7=2 — weight 2 per page,
    // pages stays distinct); nofollow/mailto/#fragment contribute
    // nothing. The anchor-tag walk itself is what's under the hash.
    "q_link_hostgraph" -> ("WITH d AS (SELECT doc_id, doc_id % 7 AS r FROM documents), " +
      "l AS (SELECT doc_id, r AS src, r AS dst FROM d " +
      "UNION ALL SELECT doc_id, r, (2*doc_id+1) % 7 FROM d WHERE r != 6 " +
      "UNION ALL SELECT doc_id, r, (doc_id+3) % 7 FROM d WHERE r != 6) " +
      "SELECT 'h' || src::VARCHAR || '.example' AS src_host, " +
      "'h' || dst::VARCHAR || '.example' AS dst_host, " +
      "count(*)::BIGINT AS weight, count(DISTINCT doc_id)::BIGINT AS pages " +
      "FROM l GROUP BY 1, 2 ORDER BY src_host, dst_host"),
    "q_link_rank" -> linkRankSql(3),
    // the SAME iteration CTEs as q_link_rank (shared builder), joined
    // to per-host doc counts with integer quota arithmetic
    "q_link_rank_mix" -> linkRankSql(3, last =>
      s", dph AS (SELECT doc_id % 7 AS hr, count(*)::BIGINT AS n_docs " +
      "FROM documents GROUP BY 1), " +
      s"tot AS (SELECT (SELECT sum(rank) FROM $last)::BIGINT AS total_rank, " +
      "(SELECT sum(n_docs) FROM dph)::BIGINT AS total_docs) " +
      s"SELECT 'h' || r.h::VARCHAR || '.example' AS host, dph.n_docs, r.rank, " +
      "((r.rank * tot.total_docs) // tot.total_rank)::BIGINT AS quota " +
      s"FROM $last r JOIN dph ON r.h = dph.hr CROSS JOIN tot ORDER BY host"),
    // anchor replay: relative 'rel' self-anchor on every page;
    // non-h6 pages add 't'||(id%5) at (2id+1)%7 and 'y' at (id+3)%7;
    // nofollow/mailto/#fragment anchors contribute nothing
    "q_link_anchors" -> ("WITH d AS (SELECT doc_id, doc_id % 7 AS r FROM documents), " +
      "a AS (SELECT doc_id, r AS dst, 'rel' AS anchor FROM d " +
      "UNION ALL SELECT doc_id, (2*doc_id+1) % 7, 't' || (doc_id % 5)::VARCHAR " +
      "FROM d WHERE r != 6 " +
      "UNION ALL SELECT doc_id, (doc_id+3) % 7, 'y' FROM d WHERE r != 6) " +
      "SELECT 'h' || dst::VARCHAR || '.example' AS dst_host, anchor, " +
      "count(*)::BIGINT AS n FROM a GROUP BY 1, 2 ORDER BY dst_host, anchor"),
    // per-host window mirror with delays replayed from the robots
    // classes: a's '*' group declares 2s; b's named graftbot group
    // (0.5s) beats its '*' (3s); c declares none and d has no robots
    // row — both at the 1000 ms default
    "q_crawl_schedule" -> ("WITH f AS (SELECT doc_id, " +
      "CASE doc_id % 4 WHEN 0 THEN 'a.example' WHEN 1 THEN 'b.example' " +
      "WHEN 2 THEN 'c.example' ELSE 'd.example' END AS host, " +
      "doc_id % 9 AS priority FROM documents), " +
      "s AS (SELECT doc_id, host, priority, " +
      "(row_number() OVER (PARTITION BY host ORDER BY priority DESC, doc_id ASC) - 1)::BIGINT AS slot, " +
      "(CASE host WHEN 'a.example' THEN 2000 WHEN 'b.example' THEN 500 " +
      "ELSE 1000 END)::BIGINT AS delay_ms FROM f) " +
      "SELECT doc_id, host, priority, slot, delay_ms, " +
      "(slot * delay_ms)::BIGINT AS fetch_offset_ms " +
      "FROM s ORDER BY host, slot"),
    // two-level discovery replay: group = doc_id // 5, child sitemap
    // loc from the id, two url entries per child
    "q_sitemap_index" -> ("WITH e AS (SELECT doc_id, unnest([0, 1]) AS entry_idx " +
      "FROM documents) " +
      "SELECT (doc_id // 5)::BIGINT AS group_id, " +
      "'https://corpus.test/sitemap/' || doc_id || '.xml' AS sitemap_loc, " +
      "entry_idx::INT AS entry_idx, " +
      "'https://corpus.test/doc/' || doc_id || " +
      "CASE WHEN entry_idx = 1 THEN '/amp' ELSE '' END AS loc " +
      "FROM e ORDER BY group_id, sitemap_loc, entry_idx"),
    // expected charset from the generation class; the decoded-text
    // md5 recomputed INDEPENDENTLY from the source column (chr(233)
    // = the e-acute marker) — encode, detect, decode and BOM
    // consumption all under the hash
    "q_charset_detect" -> ("SELECT doc_id, " +
      "CASE WHEN doc_id % 6 IN (1, 5) THEN 'windows-1252' " +
      "WHEN doc_id % 6 = 2 THEN 'utf-16be' " +
      "WHEN doc_id % 6 = 4 THEN 'utf-16le' ELSE 'utf-8' END AS charset, " +
      "CASE WHEN doc_id % 6 = 3 THEN md5(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) " +
      "WHEN doc_id % 6 = 4 THEN md5(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') || ' utf16le tail guard') " +
      // class 5 decodes its VALID-UTF-8 bytes as windows-1252 (the
      // meta hint wins): the C3 A9 marker bytes come back as the two
      // chars U+00C3 U+00A9 — the faithful browser mojibake
      "WHEN doc_id % 6 = 5 THEN md5('<meta charset=\"iso-8859-1\">' || " +
      "regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') || chr(195) || chr(169)) " +
      "ELSE md5(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') || chr(233)) END AS fp " +
      "FROM documents ORDER BY doc_id"),
    "q_quality_compression" -> ("SELECT d.doc_id, " +
      "octet_length(encode(d.text))::BIGINT AS raw_bytes, p.deflate_bytes, " +
      "round(p.deflate_bytes::DOUBLE / NULLIF(octet_length(encode(d.text)), 0), 4) AS ratio, " +
      "md5(d.text) AS fp FROM documents d JOIN (SELECT doc_id, " +
      "octet_length(payload)::BIGINT AS deflate_bytes FROM read_parquet(" +
      s"'/tmp/graft_deflate_${System.getProperty("user.name")}/*.parquet')) p " +
      "USING (doc_id) ORDER BY d.doc_id"),
    // the dist-trained merges fold DYNAMICALLY out of the artifact's
    // static parquet copy: the ranked merge list ('a|b' strings)
    // list_reduces the same ,a,b, -> ,ab, replace chain the Spark
    // kernel compiles — same table, same chain, both engines
    "q_tokens_bpe_dist" -> ("WITH m AS (SELECT list(a || '|' || b ORDER BY rank) AS ml " +
      s"FROM read_parquet('/tmp/graft_bpedist_${System.getProperty("user.name")}/*.parquet')), " +
      "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM documents) " +
      "SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> (" +
      "len(" + BpeDistFold + ") - len(replace(" + BpeDistFold + ", ',', '')) - 1" +
      ")::BIGINT)), (a, b) -> a + b)::BIGINT AS n_bpe " +
      "FROM tok CROSS JOIN m ORDER BY doc_id"),
    "q_pack_layout" -> ("WITH p AS (SELECT doc_id, source, n_chars, " +
      "sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS st " +
      "FROM documents) " +
      "SELECT doc_id, source, n_chars::BIGINT AS size, " +
      "source || '/' || CAST(floor(st::DOUBLE / 5000) AS BIGINT)::VARCHAR AS pack_id, " +
      "(st - CAST(floor(st::DOUBLE / 5000) AS BIGINT) * 5000)::BIGINT AS offset " +
      "FROM p ORDER BY doc_id"),
    "q_pack_bpe" -> (TokCte + ", b AS (SELECT d.doc_id, d.source, " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> " +
      graft.text.Bpe.tokenCountSql("w", graft.text.Bpe.PretrainedMerges) +
      ")), (a, v) -> a + v) AS n_bpe FROM tok JOIN documents d USING (doc_id)), " +
      "p AS (SELECT doc_id, source, n_bpe, " +
      "source || '/' || CAST(floor(CAST(sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_bpe AS DOUBLE) / 2000) AS BIGINT)::VARCHAR AS pack_id " +
      "FROM b) " +
      "SELECT pack_id, count(*)::BIGINT AS n_docs, sum(n_bpe)::BIGINT AS pack_tokens " +
      "FROM p GROUP BY pack_id ORDER BY pack_id"),
    "q_token_stats_bpe" -> (TokCte + ", b AS (SELECT d.lang, " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> " +
      graft.text.Bpe.tokenCountSql("w", graft.text.Bpe.PretrainedMerges) +
      ")), (a, b) -> a + b) AS n_bpe, len(d.text) AS ch " +
      "FROM tok JOIN documents d USING (doc_id)) " +
      "SELECT lang, count(*)::BIGINT AS n_docs, sum(n_bpe)::BIGINT AS bpe_tokens, " +
      "sum(ch)::BIGINT AS chars, " +
      "round(sum(n_bpe)::DOUBLE / sum(ch) * 1000.0, 4) AS bpe_per_kchar " +
      "FROM b GROUP BY lang ORDER BY lang"),
    "q_token_stats" -> ("WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs, " +
      "sum(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0)))::BIGINT AS ws_tokens, " +
      "sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')))::BIGINT AS bpe_tokens, " +
      "sum(len(text))::BIGINT AS chars FROM documents GROUP BY 1) " +
      "SELECT lang, n_docs, ws_tokens, bpe_tokens, chars, " +
      "round(bpe_tokens::DOUBLE / chars::DOUBLE * 1000.0, 4) AS bpe_per_kchar " +
      "FROM c ORDER BY lang"),
    "q_ccnet_buckets" -> (TokCte +
      ", tk AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
      "ct AS (SELECT term, count(*)::BIGINT AS ct FROM tk GROUP BY 1), " +
      "tt AS (SELECT sum(ct)::DOUBLE AS tt FROM ct), " +
      "sc AS (SELECT doc_id, " +
      "round(sum((-ln(ct::DOUBLE / tt))::DECIMAL(28,12))::DOUBLE / count(*), 4) AS s " +
      "FROM tk JOIN ct USING (term) CROSS JOIN tt GROUP BY 1), " +
      "e AS (SELECT round(quantile_cont(s, 1.0/3), 4) AS e1, " +
      "round(quantile_cont(s, 2.0/3), 4) AS e2 FROM sc) " +
      "SELECT CASE WHEN s < e1 THEN 'head' WHEN s < e2 THEN 'middle' ELSE 'tail' END AS bucket, " +
      "count(*)::BIGINT AS n_docs, round(avg(s), 4) AS avg_surprisal " +
      "FROM sc CROSS JOIN e GROUP BY 1 ORDER BY bucket"),
    "q_domain_mix" -> ("WITH c AS (SELECT source, count(*)::BIGINT AS n_docs " +
      "FROM documents GROUP BY 1), " +
      "t AS (SELECT sum(n_docs)::DOUBLE AS total, count(*)::DOUBLE AS n_sources FROM c) " +
      "SELECT source, n_docs, round(n_docs / total, 4) AS share, " +
      "round((1.0 / n_sources) / (n_docs / total), 4) AS weight " +
      "FROM c CROSS JOIN t ORDER BY source"),
    "q_domain_mix_alpha" -> ("WITH c AS (SELECT source, count(*)::BIGINT AS n_docs " +
      "FROM documents GROUP BY 1), " +
      "t AS (SELECT sum(n_docs)::DOUBLE AS total FROM c), " +
      "s AS (SELECT source, n_docs, n_docs / total AS share FROM c CROSS JOIN t), " +
      "z AS (SELECT sum(pow(share, 0.3)) AS z FROM s) " +
      "SELECT source, n_docs, round(share, 4) AS share, " +
      "round(pow(share, 0.3) / z, 4) AS target_share, " +
      "round(pow(share, 0.3) / z / share, 4) AS weight " +
      "FROM s CROSS JOIN z ORDER BY source"),
    "q_dsir_weights" -> (DsirLwCtes +
      "SELECT doc_id, log_weight FROM lw ORDER BY log_weight DESC, doc_id LIMIT 50"),
    "q_dsir_resample" -> (DsirLwCtes +
      ", gk AS (SELECT doc_id, log_weight, round(log_weight - ln(-ln(greatest(" +
      hexFold("'dsir:' || doc_id::VARCHAR", 12) +
      " / 281474976710656.0, 1e-12))), 4) AS g_key FROM lw) " +
      "SELECT doc_id, log_weight, g_key FROM gk ORDER BY g_key DESC, doc_id LIMIT 200"),
  )
}

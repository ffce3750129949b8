package graft

import graft.index.{ArtifactKind, IndexArtifacts, PackedCodec}
import graft.search.Search
import org.apache.spark.sql.functions._

/** Analyze-once persisted index artifacts: build-at-write, bit-equal
  * scoring in both regimes, postings pushdown, and freshness across
  * appends and the crash-safe swap. */
class IndexArtifactsSpec extends SparkSpec with SpecTempRoot {

  /** Kept short: plan assertions look for artifact table names inside
    * the scan location, which Spark abbreviates past
    * spark.sql.maxMetadataStringLength. */
  override protected def tempRootPrefix = "gi"
  private lazy val root = specRoot.toString

  private def topk(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("score").desc, col("id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("bm25 over persisted artifacts is bit-equal to on-the-fly; stale artifacts fall back") {
    val out = s"$root/bm25"
    val docs = Tables.documents(spark, sfDir)
    graft.sources.Connector.save(docs, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text"))

    // artifacts present + fresh
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isDefined)
    val onTheFly = topk(Search.bm25Scores(
      spark.read.parquet(out), "doc_id", "text", "fast hash join"))
    val indexed = topk(Search.bm25ScoresIndexed(
      spark, out, "doc_id", "text", "fast hash join"))
    assert(indexed == onTheFly && indexed.nonEmpty)

    // the indexed plan reads the POSTINGS artifact with the query's
    // terms pushed into the parquet scan (row-group pruning), and
    // never re-tokenizes the corpus text
    val plan = Search.bm25ScoresIndexed(
      spark, out, "doc_id", "text", "fast hash join")
      .queryExecution.executedPlan.toString
    assert(plan.contains("postings"), plan.take(2000))
    assert(plan.contains("PushedFilters: [In(term"), plan.take(2000))
    assert(!plan.toLowerCase.contains("tokenize"), plan.take(2000))

    // APPEND without rebuilding -> fingerprint mismatch -> stale ->
    // None, and the scoring path falls back to on-the-fly over the
    // grown corpus (answers track the data, never the stale artifact)
    graft.sources.Connector.save(
      docs.limit(50).withColumn("doc_id", col("doc_id") + lit(1000000L)),
      out, Map("graft.write.operation" -> "append"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isEmpty)
    val grown = topk(Search.bm25ScoresIndexed(
      spark, out, "doc_id", "text", "fast hash join"))
    val grownRef = topk(Search.bm25Scores(
      spark.read.parquet(out), "doc_id", "text", "fast hash join"))
    assert(grown == grownRef)

    // rebuild via a write that carries the analysis option -> fresh
    // again and equal to on-the-fly on the final corpus
    graft.sources.Connector.save(docs, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isDefined)
    assert(topk(Search.bm25ScoresIndexed(
      spark, out, "doc_id", "text", "fast hash join")) == onTheFly)
  }

  test("multi-field graft.index.analysis builds one artifact dir per field") {
    val out = s"$root/multi"
    val docs = Tables.documents(spark, sfDir)
    graft.sources.Connector.save(docs, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text, source"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isDefined)
    assert(IndexArtifacts.loadAnalysis(spark, out, "source").isDefined)
    // each field's postings reflect ITS OWN analyzed tokens
    val srcTerms = IndexArtifacts.loadAnalysis(spark, out, "source").get.postings
      .select(col("term")).distinct()
      .collect().map(_.getString(0)).toSet
    val expected = docs.select(
      explode(graft.analysis.Analyzer.termSet(col("source"))).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(srcTerms == expected)
    // id-col validation: asking for artifacts keyed by a different
    // reader id reads as absent (the silent-wrong-join guard)
    assert(IndexArtifacts.loadAnalysis(
      spark, out, "text", expectIdCol = Some("event_id")).isEmpty)
    assert(IndexArtifacts.loadAnalysis(
      spark, out, "text", expectIdCol = Some("doc_id")).isDefined)
  }

  test("persisted IVF: artifact path equals fit-per-query; appends route incrementally to existing lists") {
    import graft.sim.Ann
    val out = s"$root/ivf"
    val e = Tables.embeddings(spark, sfDir)
    graft.sources.Connector.save(e, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "16"))
    assert(graft.index.IndexArtifacts.loadIvf(spark, out, "embedding").isDefined)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val queries = e.where(col("vec_id") < 5)
    val persisted = rows(Ann.ivfTopKIndexed(spark, out, queries,
      "vec_id", "embedding", nCentroids = 16, nprobe = 4, k = 10))
    val perQuery = rows(Ann.ivfTopK(spark.read.parquet(out), queries,
      "vec_id", "embedding", nCentroids = 16, nprobe = 4, k = 10))
    assert(persisted == perQuery && persisted.nonEmpty)

    // the persisted plan reads the assignments artifact and contains
    // no corpus-x-centroids assignment aggregation (that cost was paid
    // at write time); the fit-per-query plan must contain it
    val plan = Ann.ivfTopKIndexed(spark, out, queries,
      "vec_id", "embedding", 16, 4, 10).queryExecution.executedPlan.toString
    assert(plan.contains("assignments"), plan.take(2000))

    // APPEND with the vectors option: new docs route to the EXISTING
    // lists (no refit) and the artifact stays fresh
    val extra = e.limit(7).withColumn("vec_id", col("vec_id") + lit(5000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding"))
    val art = graft.index.IndexArtifacts.loadIvf(spark, out, "embedding")
    assert(art.isDefined)
    val (cents, assign) = art.get
    // quantizer untouched (same 16 centroids), assignments grew by
    // exactly the appended docs
    assert(cents.count() == 16)
    assert(assign.count() == e.count() + 7)
    val appended = assign.where(col("id") >= 5000000L)
    assert(appended.count() == 7)
    // and the routed lists agree with a fresh assignment against the
    // same centroids
    val expect = Ann.assignToCentroids(
      spark.read.parquet(out).where(col("vec_id") >= 5000000L),
      "vec_id", "embedding", cents)
    assert(appended.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      expect.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // an append WITHOUT the option leaves the artifact stale -> None
    graft.sources.Connector.save(
      e.limit(3).withColumn("vec_id", col("vec_id") + lit(9000000L)),
      out, Map("graft.write.operation" -> "append"))
    assert(graft.index.IndexArtifacts.loadIvf(spark, out, "embedding").isEmpty)
  }

  test("persisted HNSW: frozen graphs answer deterministically with brute-force-grade recall; stale falls back") {
    import graft.sim.Ann
    val out = s"$root/hnsw"
    val e = Tables.embeddings(spark, sfDir)
    graft.sources.Connector.save(e, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.fit" -> "hnsw"))
    assert(graft.index.IndexArtifacts.vectorsMetaFresh(spark, out, "embedding_hnsw"))

    val queries = e.where(col("vec_id") < 5)
    def run() = Ann.hnswTopKIndexed(spark, out, queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val r1 = run()
    // frozen layout -> identical answers across runs (the per-query
    // build's layout depends on partition order instead)
    assert(r1 == run() && r1.nonEmpty)
    // recall@10 vs brute force holds the same floor as the live path
    val exact = Ann.bruteForceTopK(spark.read.parquet(out), queries,
      "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = r1.map(t => (t._1, t._2)).toSet
    val recall = got.count(exact).toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall")

    // stale artifact (append without rebuild) -> fallback still works
    graft.sources.Connector.save(
      e.limit(3).withColumn("vec_id", col("vec_id") + lit(7000000L)),
      out, Map("graft.write.operation" -> "append"))
    assert(!graft.index.IndexArtifacts.vectorsMetaFresh(spark, out, "embedding_hnsw"))
    assert(Ann.hnswTopKIndexed(spark, out, queries, "vec_id", "embedding", k = 10)
      .collect().nonEmpty)
  }

  test("connector readMetadata _score reads persisted postings on a single fresh index") {
    import graft.sources.Connector.implicits._
    val withArt = s"$root/conn_art"
    val without = s"$root/conn_raw"
    val docs = Tables.documents(spark, sfDir)
    graft.sources.Connector.save(docs, withArt, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text"))
    graft.sources.Connector.save(docs, without, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id"))
    def scoresOf(path: String) = spark
      .graftDF(path, """{"match": {"text": "merge sort"}}""",
        idField = "doc_id", readMetadata = true)
      .select(col("_id"), col("_score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val viaArtifacts = scoresOf(withArt)
    val onTheFly = scoresOf(without)
    assert(viaArtifacts == onTheFly && viaArtifacts.exists(_._2 > 0))
    // the artifact-backed read's plan scans the postings side table
    val plan = spark
      .graftDF(withArt, """{"match": {"text": "merge sort"}}""",
        idField = "doc_id", readMetadata = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("postings"), plan.take(2000))

    // FILTER-context match (no metadata): the plain OR-match rewrites
    // to a postings LEFT-SEMI join — identical row set, no corpus
    // tokenize in the plan
    def ids(path: String) = spark
      .graftDF(path, """{"match": {"text": "merge sort"}}""", idField = "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids(withArt) == ids(without) && ids(withArt).nonEmpty)
    val fplan = spark
      .graftDF(withArt, """{"match": {"text": "merge sort"}}""", idField = "doc_id")
      .queryExecution.executedPlan.toString
    assert(fplan.contains("postings") && fplan.contains("LeftSemi"), fplan.take(2000))
    assert(!fplan.toLowerCase.contains("tokenize"), fplan.take(2000))
    // options beyond the plain form keep the predicate path (AND
    // operator is NOT the postings semantics)
    val andPlan = spark
      .graftDF(withArt,
        """{"match": {"text": {"query": "merge sort", "operator": "and"}}}""",
        idField = "doc_id")
      .queryExecution.executedPlan.toString
    assert(!andPlan.contains("LeftSemi"), andPlan.take(2000))
  }

  test("crash-safe swap replaces artifacts with the index: an upsert leaves no stale pairing") {
    val out = s"$root/swap"
    val docs = Tables.documents(spark, sfDir)
    val cfg = Map(
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text")
    graft.sources.Connector.save(docs, out,
      cfg + ("graft.write.operation" -> "overwrite"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isDefined)

    // an UPSERT goes through the _graft_tmp two-phase swap; the swap
    // replaces the whole directory, so with the analysis option the
    // artifacts rebuild against the NEW live files and stay fresh
    graft.sources.Connector.save(
      docs.limit(20).withColumn("text", lit("swapped fast hash join text")),
      out, cfg + ("graft.write.operation" -> "upsert"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isDefined)
    val indexed = topk(Search.bm25ScoresIndexed(
      spark, out, "doc_id", "text", "fast hash join"))
    val fly = topk(Search.bm25Scores(
      spark.read.parquet(out), "doc_id", "text", "fast hash join"))
    assert(indexed == fly && indexed.nonEmpty)

    // and an upsert WITHOUT the option swaps the artifacts away with
    // the old directory — absent, not stale-but-present
    graft.sources.Connector.save(
      docs.limit(5), out, Map(
        "graft.mapping.id" -> "doc_id",
        "graft.write.operation" -> "upsert"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text").isEmpty)
  }

  test("incremental analysis append: merged artifacts bit-equal a full rebuild; unsafe appends fall back") {
    val out = s"$root/bm25inc"
    val docs = Tables.documents(spark, sfDir)
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 === 1)
    val cfg = Map("graft.mapping.id" -> "doc_id", "graft.index.analysis" -> "text")
    graft.sources.Connector.save(half1, out, cfg + ("graft.write.operation" -> "overwrite"))
    val dir = IndexArtifacts.analysisDir(out, "text")
    val postBefore = spark.read.parquet(s"$dir/postings").count()

    // append the other half: only IT tokenizes; postings grow by its rows
    graft.sources.Connector.save(half2, out, cfg + ("graft.write.operation" -> "append"))
    assert(IndexArtifacts.loadAnalysis(spark, out, "text", Some("doc_id")).isDefined)
    val postAfter = spark.read.parquet(s"$dir/postings").count()
    assert(postAfter > postBefore)

    // scores from the MERGED artifacts == on-the-fly over the full data
    val indexed = topk(Search.bm25ScoresIndexed(spark, out, "doc_id", "text", "fast hash join"))
    val fly = topk(Search.bm25Scores(spark.read.parquet(out), "doc_id", "text", "fast hash join"))
    assert(indexed == fly && indexed.nonEmpty)

    // and equal to a FULL REBUILD: the meta's corpus scalars (dl_sum
    // EXACT, so avgdl is too) and every term's postings count (its df)
    def state() = {
      val meta = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/_graft_meta.json")),
        "UTF-8"))
      val scalars = Seq("n_docs", "n_dl", "dl_sum").map(k => k -> (meta \ k))
      val df = spark.read.parquet(s"$dir/postings").groupBy("term").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (scalars, df)
    }
    val merged = state()
    IndexArtifacts.maintain(spark, ArtifactKind.Analysis, out, "doc_id", "text", append = false)
    assert(state() == merged)
    assert(merged._1.forall(_._2 != org.json4s.JNothing), merged._1)

    // an append whose ids collide with stored ones cannot be merged —
    // the refresh must fall back to a full rebuild and stay correct
    graft.sources.Connector.save(
      half1.limit(5).withColumn("text", lit("collision fast hash join doc")),
      out, cfg + ("graft.write.operation" -> "append"))
    val afterDup = topk(Search.bm25ScoresIndexed(spark, out, "doc_id", "text", "fast hash join"))
    val flyDup = topk(Search.bm25Scores(spark.read.parquet(out), "doc_id", "text", "fast hash join"))
    assert(afterDup == flyDup && afterDup.nonEmpty)
    // duplicated ids -> the strict semi-join rewrite must see unclean ids
    assert(IndexArtifacts.loadAnalysis(spark, out, "text", Some("doc_id")).exists(!_.idsClean))
  }

  test("persisted minhash: indexed cross screen equals on-the-fly; appends route only new docs") {
    import graft.dedup.Dedup
    val out = s"$root/minhash"
    val docs = Tables.documents(spark, sfDir)
    val ref = docs.where(col("doc_id") % 2 === 0)
    // new side carries guaranteed near-dups: clones of ref docs under
    // fresh odd-offset ids (jaccard 1.0 pairs must surface)
    val nu = docs.where(col("doc_id") % 2 === 1)
      .unionByName(ref.limit(3).withColumn("doc_id", col("doc_id") + lit(1000001L)))
    graft.sources.Connector.save(ref, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.minhash" -> "text"))
    assert(IndexArtifacts.loadMinhash(spark, out, "text", Some("doc_id")).isDefined)
    // a different banding or id column must read as absent — band keys
    // from another banding would join garbage
    assert(IndexArtifacts.loadMinhash(spark, out, "text", Some("doc_id"), 32, 4).isEmpty)
    assert(IndexArtifacts.loadMinhash(spark, out, "text", Some("other")).isEmpty)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexedDf = Dedup.minhashLshCrossIndexed(
      spark, nu, out, "doc_id", "text", 0.8).get
    val indexed = rows(indexedDf)
    val fly = rows(Dedup.minhashLshCross(
      nu, spark.read.parquet(out), "doc_id", "text", 0.8))
    assert(indexed == fly && indexed.nonEmpty)
    // the 253-doc batch takes the lookup regime: its eager jobs read
    // the batch's own source and the persisted frames, never the index
    // data (the ref corpus and its text column)
    val mhDir = IndexArtifacts.minhashDir(out, "text")
    val lookup = launchedBy(Dedup.minhashLshCrossIndexed(spark, nu, out, "doc_id", "text", 0.8))
    val locations = lookup.plans.flatMap(p =>
      "Location: \\w+ \\[([^\\]]*)\\]".r.findAllMatchIn(p).flatMap(_.group(1).split(", ")))
    assert(lookup.descriptions.nonEmpty &&
      lookup.descriptions.forall(_.startsWith("minhash screen lookup:")), lookup.descriptions)
    assert(locations.exists(_.endsWith(s"$mhDir/bands")) &&
      locations.exists(_.endsWith(s"$mhDir/shingles")), locations)
    assert(locations.forall(l => l.endsWith(s"$mhDir/bands") ||
      l.endsWith(s"$mhDir/shingles") || l.contains(sfDir)), locations)
    // the join regime's plan reads the persisted frames as well
    val joinDf = Dedup.minhashLshCrossIndexedCapped(
      spark, nu, out, "doc_id", "text", 0.8, 32, 8, sideCap = -1, hitCap = -1, byteCap = -1).get
    assert(rows(joinDf) == fly)
    val scans = joinDf.queryExecution.executedPlan.toString
    assert(scans.contains("shingles") && scans.contains("bands"), scans.take(2000))

    // APPEND with the option: only the new docs pay shingle compute;
    // the artifact grows by exactly them and stays fresh
    val before = IndexArtifacts.loadMinhash(spark, out, "text").get._1.count()
    val extra = ref.limit(5).withColumn("doc_id", col("doc_id") + lit(5000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "doc_id",
      "graft.index.minhash" -> "text"))
    val (sh2, bands2) = IndexArtifacts.loadMinhash(spark, out, "text", Some("doc_id")).get
    assert(sh2.count() == before + 5)
    assert(sh2.where(col("id") >= 5000000L).count() == 5)
    assert(bands2.where(col("id") >= 5000000L).count() == 5 * 8)
    // the refreshed artifact answers: a clone of an appended doc must
    // match it at jaccard 1.0
    val probe = ref.limit(1).withColumn("doc_id", lit(7000001L))
    val hits = rows(Dedup.minhashLshCrossIndexed(
      spark, probe, out, "doc_id", "text", 0.99).get)
    assert(hits.exists { case (n, r, j) => n == 7000001L && r >= 5000000L && j == 1.0 })

    // an append WITHOUT the option leaves the artifact stale -> None
    graft.sources.Connector.save(
      ref.limit(2).withColumn("doc_id", col("doc_id") + lit(9000000L)),
      out, Map("graft.write.operation" -> "append"))
    assert(IndexArtifacts.loadMinhash(spark, out, "text").isEmpty)
  }

  /** A one-file source dir whose content (and so fingerprint) is `v`. */
  private def source(name: String, v: String): String = {
    val d = new java.io.File(s"$root/$name")
    d.mkdirs()
    new java.io.FileWriter(new java.io.File(d, "part")).append(v).close()
    d.getPath
  }

  test("ensureArtifact: build-once reuse, atomic visibility, stale-generation sweep (r14)") {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set("graft.artifacts.root", root)
    try {
      val kind = s"spectest${System.nanoTime()}"
      val src = source(s"src_$kind", "v1")
      val prefix = IndexArtifacts.artifactPrefix(kind, src)
      val fp = IndexArtifacts.dataFingerprint(spark, src).take(12)
      // a stale sibling from an "earlier testdata generation"
      val stale = new java.io.File(s"$root/${prefix}oldfp")
      stale.mkdirs()
      new java.io.FileWriter(new java.io.File(stale, "junk")).append("x").close()

      var builds = 0
      def ensure() = IndexArtifacts.ensureArtifact(kind, src)(
        p => new java.io.File(p, "_done").exists())(
        stage => {
          builds += 1
          val d = new java.io.File(stage)
          d.mkdirs()
          // the loaded() probe must never see a half-written dir at the
          // FINAL path: _done is written inside staging, pre-rename
          new java.io.FileWriter(new java.io.File(d, "_done")).append("ok").close()
        })
      val dir1 = ensure()
      assert(builds == 1 && new java.io.File(dir1, "_done").exists())
      assert(!stale.exists(), "stale generation must be swept on build")
      // second call: loaded() sees the artifact, no rebuild, same path
      assert(ensure() == dir1 && builds == 1)
      // no staging leftovers
      val leftovers = new java.io.File(root).listFiles()
        .filter(_.getName.contains(s"$prefix${fp}_stage"))
      assert(leftovers.isEmpty, leftovers.mkString(","))
      IndexArtifacts.ensureArtifact(kind, src)(_ => true)(_ => ()) // cleanup no-op
      new java.io.File(dir1).listFiles().foreach(_.delete()); new java.io.File(dir1).delete()
    } finally spark.conf.unset("graft.artifacts.root")
  }

  test("ensureArtifact: two sources of one kind keep their artifacts, each built once") {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set("graft.artifacts.root", root)
    try {
      val kind = s"spectwo${System.nanoTime()}"
      // two scales of one testdata table: same kind, other sources
      val (a, b) = (source(s"a_$kind", "small"), source(s"b_$kind", "large"))
      var builds = 0
      def ensure(src: String) = IndexArtifacts.ensureArtifact(kind, src)(
        p => new java.io.File(p, "_done").exists())(stage => {
          builds += 1
          new java.io.File(stage).mkdirs()
          new java.io.FileWriter(new java.io.File(stage, "_done")).append("ok").close()
        })
      val dirs = Seq(a, b, a, b).map(ensure)
      assert(builds == 2, s"alternating sources rebuilt: $builds builds")
      assert(dirs.distinct.size == 2 && dirs.forall(d => new java.io.File(d, "_done").exists()))
    } finally spark.conf.unset("graft.artifacts.root")
  }

  test("persisted int4: packed coarse scan, answer-equal to on-the-fly, audited appends (r14)") {
    val out = s"$root/int4"
    val emb = Tables.embeddings(spark, sfDir).limit(150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.int4" -> "embedding"))
    val packed = IndexArtifacts.loadPacked(spark, PackedCodec.Int4, out, "embedding", Some("vec_id")).get
    assert(packed.count() == 150)
    // a wrong expected id column reads as absent
    assert(IndexArtifacts.loadPacked(spark, PackedCodec.Int4, out, "embedding", Some("other")).isEmpty)

    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.packedTopKIndexed(
      spark, out, "vec_id", "embedding", PackedCodec.Int4, qv, k = 5, oversample = 4).get
    val fly = graft.sim.Ann.packedTopK(
      spark.read.parquet(out), "vec_id", "embedding", PackedCodec.Int4, qv, k = 5, oversample = 4)
    assert(idx.collect().toSeq == fly.collect().toSeq && idx.count() == 5)
    // the IO claim: the indexed plan's scans include the packed table
    // (the artifact IS what the coarse pass reads)
    assert(idx.queryExecution.executedPlan.toString.contains("packed"))

    // audited incremental append: only the new docs pack
    val extra = emb.limit(4).withColumn("vec_id", col("vec_id") + lit(9000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "vec_id",
      "graft.index.int4" -> "embedding"))
    val p2 = IndexArtifacts.loadPacked(spark, PackedCodec.Int4, out, "embedding", Some("vec_id")).get
    assert(p2.count() == 154 && p2.where(col("id") >= 9000000L).count() == 4)
    // a colliding raw append trips the audit -> full rebuild, fresh
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Packed(PackedCodec.Int4), out, "vec_id", "embedding", append = true)
    assert(IndexArtifacts.loadPacked(spark, PackedCodec.Int4, out, "embedding", Some("vec_id")).get.count() == 155)

    // null-VECTOR rows are unpackable data, not audit failures: the
    // coverage identity counts the packable subset, so this append
    // routes incrementally (packs only the one real vector) instead
    // of silently degrading every future refresh to a full rebuild
    import spark.implicits._
    Seq((9100000L, (1 to 64).map(_.toFloat * 0.01f).toArray),
        (9100001L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Packed(PackedCodec.Int4), out, "vec_id", "embedding", append = true)
    val p3 = IndexArtifacts.loadPacked(spark, PackedCodec.Int4, out, "embedding", Some("vec_id")).get
    assert(p3.count() == 156 && p3.where(col("id") === 9100000L).count() == 1)
    assert(p3.where(col("id") === 9100001L).count() == 0)
  }

  test("persisted PQ: frozen codebook, codes-only coarse scan, audited appends (r14)") {
    val out = s"$root/pq"
    val emb = Tables.embeddings(spark, sfDir).limit(150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.pq" -> "embedding"))
    val ((m, k), cb, codes) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(m == 4 && k == 16 && cb.length == 4 * 16 * 16)
    assert(codes.count() == 150)
    assert(IndexArtifacts.loadPq(spark, out, "embedding", Some("other")).isEmpty)

    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.pqTopKIndexed(
      spark, out, "vec_id", "embedding", qv, k = 5, oversample = 4).get
    val fly = graft.sim.Ann.pqTopK(
      spark.read.parquet(out), "vec_id", "embedding", qv, k = 5, oversample = 4)
    assert(idx.collect().toSeq == fly.collect().toSeq && idx.count() == 5)
    // the IO claim: the coarse pass reads the persisted codes table
    assert(idx.queryExecution.executedPlan.toString.contains("codes"))

    // audited incremental append: only the new docs encode, and they
    // encode under the FROZEN build-time codebook
    val extra = emb.limit(4).withColumn("vec_id", col("vec_id") + lit(9000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "vec_id",
      "graft.index.pq" -> "embedding"))
    val ((m2, k2), cb2, codes2) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(m2 == m && k2 == k)
    assert(cb2.toSeq == cb.toSeq, "append must not retrain the codebook")
    assert(codes2.count() == 154 && codes2.where(col("id") >= 9000000L).count() == 4)
    // a colliding raw append trips the audit -> full rebuild, fresh
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Pq, out, "vec_id", "embedding", append = true)
    assert(IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id"))
      .get._3.count() == 155)
  }

  test("persisted PQ, lloyd fit: trained codebooks stored, appends and rebuilds keep the fit (r14)") {
    val out = s"$root/pqlloyd"
    val emb = Tables.embeddings(spark, sfDir).limit(150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.pq" -> "embedding",
      "graft.index.pq.fit" -> "lloyd"))
    val ((m, k), cbLloyd, codes) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(m == 4 && k == 16 && codes.count() == 150)
    // the trained codebook differs from the sample baseline (Lloyd's
    // moved the centroids) but queries run the same plan shape
    val cbSample = graft.sim.Ann.pqSampleCodebooks(
      spark.read.parquet(out), "vec_id", "embedding", 4, 16)
    assert(cbLloyd.toSeq != cbSample.toSeq, "lloyd fit should move the codebook")
    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.pqTopKIndexed(
      spark, out, "vec_id", "embedding", qv, k = 5, oversample = 4).get
    assert(idx.count() == 5)
    // a colliding raw append trips the audit -> FULL rebuild, and the
    // rebuild must re-fit lloyd (recorded in the meta), not silently
    // degrade to the sample baseline
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Pq, out, "vec_id", "embedding", append = true)
    val ((_, _), cbAfter, codesAfter) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(codesAfter.count() == 151)
    val cbSample2 = graft.sim.Ann.pqSampleCodebooks(
      spark.read.parquet(out), "vec_id", "embedding", 4, 16)
    assert(cbAfter.toSeq != cbSample2.toSeq,
      "audit-triggered rebuild degraded a lloyd artifact to sample codebooks")
  }

  test("persisted PQ, lloyd-dist fit: distributed codebooks stored, clean appends encode under the frozen model (r15)") {
    val out = s"$root/pqlloyddist"
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.pq" -> "embedding",
      "graft.index.pq.fit" -> "lloyd-dist"))
    val ((m, k), cbDist, codes) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(m == 4 && k == 16 && codes.count() == 150)
    // the stored model IS the distributed fit, verbatim
    val expect = graft.sim.Ann.pqFitCodebooksDist(
      spark.read.parquet(out), "vec_id", "embedding", 4, 16)
    assert(cbDist.toSeq == expect.toSeq,
      "stored codebook is not the distributed fit of the written corpus")
    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.pqTopKIndexed(
      spark, out, "vec_id", "embedding", qv, k = 5, oversample = 4).get
    assert(idx.count() == 5)
    // a clean (non-colliding) append encodes ONLY the new docs under
    // the FROZEN distributed codebook — no refit
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") >= 150 && col("vec_id") < 160)
      .write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Pq, out, "vec_id", "embedding", append = true)
    val ((_, _), cbAfter, codesAfter) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(codesAfter.count() == 160)
    assert(cbAfter.toSeq == cbDist.toSeq,
      "clean append must keep the frozen lloyd-dist codebook")
  }

  test("persisted IVFADC over the lloyd-dist fit: stored codebook IS the dist model, hyperparams survive rebuilds (r15)") {
    val out = s"$root/ivfadcdist"
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 200)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "8",
      "graft.index.pq" -> "embedding",
      "graft.index.pq.fit" -> "lloyd-dist",
      "graft.index.pq.fit.sample_n" -> "128",
      "graft.index.pq.fit.iters" -> "3"))
    val ((m, k), cbStored, _) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    // the stored model is the distributed fit at the REQUESTED
    // hyperparams, verbatim — the composition IVFADC queries ride on
    val expect = graft.sim.Ann.pqFitCodebooksDist(
      spark.read.parquet(out), "vec_id", "embedding", m, k,
      iters = 3, sampleN = 128)
    assert(cbStored.toSeq == expect.toSeq)
    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val r = graft.sim.Ann.ivfAdcTopKIndexed(
      spark, out, "vec_id", "embedding", qv, k = 5, oversample = 8, nprobe = 4).get
    assert(r.count() == 5)
    // a colliding append trips the audit -> FULL rebuild; the rebuild
    // must re-fit lloyd-dist AT the recorded hyperparams, not defaults
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Pq, out, "vec_id", "embedding", append = true)
    val ((_, _), cbAfter, codesAfter) =
      IndexArtifacts.loadPq(spark, out, "embedding", Some("vec_id")).get
    assert(codesAfter.count() == 201)
    val expectAfter = graft.sim.Ann.pqFitCodebooksDist(
      spark.read.parquet(out), "vec_id", "embedding", m, k,
      iters = 3, sampleN = 128)
    assert(cbAfter.toSeq == expectAfter.toSeq,
      "audit-triggered rebuild did not re-fit at the recorded lloyd-dist hyperparams")
  }

  test("ivfListStats: per-list populations, empty lists as zero, imbalance factor (r15)") {
    val out = s"$root/ivfstats"
    // 40 vectors over 32 seed centroids: several lists stay empty and
    // must report 0, not vanish from the frame
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 40)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "32"))
    val stats = IndexArtifacts.ivfListStats(spark, out, "embedding").get
      .select("cent_id", "list_size", "n_lists", "min_size", "max_size", "imbalance")
      .collect()
    assert(stats.length == 32, "one row per centroid list")
    assert(stats.map(_.getLong(1)).sum == 40, "list sizes must sum to the corpus")
    assert(stats.forall(_.getLong(2) == 32))
    val sizes = stats.map(_.getLong(1))
    assert(stats.head.getLong(3) == sizes.min && stats.head.getLong(4) == sizes.max)
    val imb = stats.head.getDouble(5)
    assert(imb >= 1.0, s"imbalance $imb below 1 with non-empty corpus")
    assert(math.abs(imb - sizes.max / (40.0 / 32)) < 1e-3)
    // stale artifact -> None, same contract as every loader
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    assert(IndexArtifacts.ivfListStats(spark, out, "embedding").isEmpty)
  }

  test("persisted BBQ: sign bits packed once, coarse scan off 16 bytes/doc, audited appends (r14)") {
    val out = s"$root/bbq"
    val emb = Tables.embeddings(spark, sfDir).limit(150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.bbq" -> "embedding"))
    val packed = IndexArtifacts.loadPacked(spark, PackedCodec.Bbq, out, "embedding", Some("vec_id")).get
    assert(packed.count() == 150)
    assert(packed.columns.toSeq == Seq("id", "b_lo", "b_hi"))
    assert(IndexArtifacts.loadPacked(spark, PackedCodec.Bbq, out, "embedding", Some("other")).isEmpty)

    val qv = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.packedTopKIndexed(
      spark, out, "vec_id", "embedding", PackedCodec.Bbq, qv, k = 5, oversample = 4).get
    val fly = graft.sim.Ann.packedTopK(
      spark.read.parquet(out), "vec_id", "embedding", PackedCodec.Bbq, qv, k = 5, oversample = 4)
    assert(idx.collect().toSeq == fly.collect().toSeq && idx.count() == 5)
    assert(idx.queryExecution.executedPlan.toString.contains("packed"))

    // audited incremental append: only the new docs pack
    val extra = emb.limit(4).withColumn("vec_id", col("vec_id") + lit(9000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "vec_id",
      "graft.index.bbq" -> "embedding"))
    val p2 = IndexArtifacts.loadPacked(spark, PackedCodec.Bbq, out, "embedding", Some("vec_id")).get
    assert(p2.count() == 154 && p2.where(col("id") >= 9000000L).count() == 4)
    // a colliding raw append trips the audit -> full rebuild, fresh
    emb.limit(1).write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Packed(PackedCodec.Bbq), out, "vec_id", "embedding", append = true)
    assert(IndexArtifacts.loadPacked(spark, PackedCodec.Bbq, out, "embedding", Some("vec_id")).get.count() == 155)
  }

  test("persisted int8: packed score bit-equals the inline quantized cosine; audited appends (r14)") {
    import org.apache.spark.sql.GraftBridge
    import spark.implicits._
    // bit-equality of the two scoring paths on adversarial vectors
    val vecs = Seq(
      (1L, Array(0.9, -0.3, 0.05, 0.0, 1.4)),
      (2L, Array(-1.0, 1.0, 0.5, -0.5, 0.25)),
      (3L, Array(0.0, 0.0, 0.0, 0.0, 0.0)),
      (4L, Array(2.0, 1.999, -2.0, 0.001, 1.0)))
      .toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val qv = Seq(0.7, -0.1, 0.4, 0.2, 0.9)
    val qc = array(qv.map(lit): _*)
    vecs.select(
      col("id"),
      GraftBridge.column(graft.expr.QuantizedCosine(
        GraftBridge.expression(col("v")), GraftBridge.expression(qc))).as("direct"),
      GraftBridge.column(graft.expr.Int8Pack(
        GraftBridge.expression(col("v")))).as("pk"))
      .withColumn("packed", GraftBridge.column(graft.expr.Int8PackedCosine(
        GraftBridge.expression(col("pk")), GraftBridge.expression(qc))))
      .select(col("id"), col("direct"), col("packed"))
      .as[(Long, Double, Double)].collect()
      .foreach { case (id, d, p) => assert(d == p, s"id $id: packed $p != direct $d") }

    // artifact round trip + audited append
    val out = s"$root/int8"
    val emb = Tables.embeddings(spark, sfDir).limit(150)
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.int8" -> "embedding"))
    val qv64 = (1 to 64).map(i => math.cos(i * 0.29))
    val idx = graft.sim.Ann.packedTopKIndexed(
      spark, out, "vec_id", "embedding", PackedCodec.Int8, qv64, k = 5, oversample = 4).get
    val fly = graft.sim.Ann.packedTopK(
      spark.read.parquet(out), "vec_id", "embedding", PackedCodec.Int8, qv64, k = 5, oversample = 4)
    assert(idx.collect().toSeq == fly.collect().toSeq && idx.count() == 5)
    val extra = emb.limit(4).withColumn("vec_id", col("vec_id") + lit(9000000L))
    graft.sources.Connector.save(extra, out, Map(
      "graft.write.operation" -> "append",
      "graft.mapping.id" -> "vec_id",
      "graft.index.int8" -> "embedding"))
    val p2 = IndexArtifacts.loadPacked(spark, PackedCodec.Int8, out, "embedding", Some("vec_id")).get
    assert(p2.count() == 154 && p2.where(col("id") >= 9000000L).count() == 4)
  }

  test("refresh audits: id collisions and null ids force a FULL rebuild, never a silent gap (r14)") {
    // -- minhash: a colliding append is invisible to the anti-join
    // (its row would be missing from the artifact behind a fresh
    // stamp); the audit's coverage identity catches it
    val out = s"$root/audit_mh"
    val docs = Tables.documents(spark, sfDir).limit(60)
    graft.sources.Connector.save(docs, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "doc_id",
      "graft.index.minhash" -> "text"))
    val dataCount0 = spark.read.parquet(out).count()
    // raw parquet append REUSING an existing id with different text
    docs.limit(1).withColumn("text", lit("colliding fresh text payload"))
      .write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Minhash, out, "doc_id", "text", append = true)
    val (sh, _) = IndexArtifacts.loadMinhash(spark, out, "text", Some("doc_id")).get
    // full rebuild: the artifact covers EVERY data row again (both
    // rows of the collided id), not old + nothing
    assert(sh.count() == dataCount0 + 1, s"expected rebuild to cover all rows")
    // answer-equality contract survives: indexed == on-the-fly
    val probe = docs.limit(2).withColumn("doc_id", col("doc_id") + lit(8000000L))
    val idx = graft.dedup.Dedup.minhashLshCrossIndexed(
      spark, probe, out, "doc_id", "text", 0.9).get.collect().toSeq
    val fly = graft.dedup.Dedup.minhashLshCross(
      probe, spark.read.parquet(out), "doc_id", "text", 0.9).collect().toSeq
    assert(idx == fly && idx.nonEmpty)

    // -- null-id append: the anti-join KEEPS null ids (null never
    // equals) — without the audit they'd land as id-null artifact rows
    docs.limit(1).withColumn("doc_id", lit(null).cast("long"))
      .withColumn("text", lit("null id doc"))
      .write.mode("append").parquet(out)
    spark.catalog.refreshByPath(out)
    IndexArtifacts.maintain(spark, ArtifactKind.Minhash, out, "doc_id", "text", append = true)
    assert(IndexArtifacts.loadMinhash(spark, out, "text", Some("doc_id")).isDefined)

    // -- IVF: same audit class on the assignments table
    val vout = s"$root/audit_ivf"
    val emb = Tables.embeddings(spark, sfDir).limit(100)
    graft.sources.Connector.save(emb, vout, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "8"))
    val vCount0 = spark.read.parquet(vout).count()
    emb.limit(1).write.mode("append").parquet(vout) // exact id collision
    spark.catalog.refreshByPath(vout)
    IndexArtifacts.maintain(spark, ArtifactKind.Ivf, vout, "vec_id", "embedding", append = true)
    // the audit rebuilt (meta fresh at the grown state) — assignment
    // rows are PER-ID (assignToCentroids groups), so the collided id
    // still resolves to exactly one list entry, covering every
    // distinct id rather than silently covering none of the append
    val (_, asg) = IndexArtifacts.loadIvf(spark, vout, "embedding").get
    assert(asg.count() == vCount0,
      "IVF rebuild must cover every distinct id after a colliding append")
    assert(asg.select("id").distinct().count() == vCount0)
  }
}

package graft

import graft.inference.{DeterministicStub, Inference, InferenceService}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The r10 inference seam: the default service reproduces the
  * pre-seam operator outputs exactly (invariance), and a swapped
  * service actually takes effect in every routed operator (liveness)
  * — together these prove a real endpoint drops in without touching
  * operator code. */
class InferenceSeamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  // a visibly-different fake endpoint: constant completions, length
  // scoring, single-term expansion, constant decode
  private object FakeEndpoint extends InferenceService {
    def expandQuery(query: String): Seq[(String, Double)] = Seq("vector" -> 2.0)
    def rerankScore(query: String, text: Column): Column = length(text).cast("double")
    def complete(prompt: Column): Column = lit("MODEL")
    def decoder(): Array[Byte] => String = _ => "decoded"
    def embed(text: String): Seq[Double] = Seq(1.0, 0.0)
  }

  private def withService[T](svc: InferenceService)(f: => T): T = {
    val prev = Inference.service
    Inference.service = svc
    try f finally Inference.service = prev
  }

  test("default service IS the deterministic stub (invariance anchor)") {
    assert(Inference.service eq DeterministicStub)
    // the stub's contract, spelled out: unit-weight analyzed expansion,
    // reversed-8-token completion prefix, md5 decode
    assert(DeterministicStub.expandQuery("Fast HASH fast") ==
      Seq("fast" -> 1.0, "hash" -> 1.0))
    val d = DeterministicStub.decoder()
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(d("abc".getBytes) == md.digest("abc".getBytes).map("%02x".format(_)).mkString)
    // per-partition decoder instances are independent (amortized-init
    // shape): two decoders never share mutable state
    val d2 = DeterministicStub.decoder()
    assert(d("xy".getBytes) == d2("xy".getBytes))
  }

  test("semanticTopK: stub result == explicit unit-weight sparseVectorTopK; swap takes effect") {
    val viaSeam = graft.search.Search.semanticTopK(docs, "doc_id", "text", "fast hash", 10)
      .collect().toSeq
    val explicit = graft.search.Search.sparseVectorTopK(docs, "doc_id", "text",
      Seq("fast" -> 1.0, "hash" -> 1.0), 10).collect().toSeq
    assert(viaSeam == explicit && viaSeam.nonEmpty)
    val swapped = withService(FakeEndpoint) {
      graft.search.Search.semanticTopK(docs, "doc_id", "text", "fast hash", 10).collect().toSeq
    }
    val expanded = graft.search.Search.sparseVectorTopK(docs, "doc_id", "text",
      Seq("vector" -> 2.0), 10).collect().toSeq
    assert(swapped == expanded && swapped != viaSeam)
  }

  test("ES|QL RERANK and COMPLETION route through the seam") {
    def rerank() = graft.dsl.Esql.run(spark, sfDir,
      """from documents | keep doc_id, text | limit 20
        | rerank "fast hash" on text | keep doc_id, _score""").collect().toSeq
    def complete() = graft.dsl.Esql.run(spark, sfDir,
      """from documents | keep doc_id, text | limit 5
        | completion summary = text | keep doc_id, summary""").collect().toSeq
    val (r0, c0) = (rerank(), complete())
    assert(c0.forall(_.getString(1).startsWith("stub: ")))
    withService(FakeEndpoint) {
      val r1 = rerank()
      // length-scoring endpoint: _score == length(text)
      assert(r1.nonEmpty && r1 != r0)
      assert(complete().forall(_.getString(1) == "MODEL"))
    }
    // restored after the swap scope
    assert(rerank() == r0 && complete() == c0)
  }

  test("multimodal decode routes through the seam; plan captures the builder's service") {
    val media = graft.multimodal.Multimodal.mediaTable(docs.limit(10))
    val stubbed = graft.multimodal.Multimodal.decodeFeatures(spark, media)
      .collect().toSeq.sortBy(_.media_id)
    stubbed.foreach { f =>
      assert(f.feat_hash.length == 32) // md5 hex
    }
    val swapped = withService(FakeEndpoint) {
      graft.multimodal.Multimodal.decodeFeatures(spark, media).collect().toSeq
    }
    assert(swapped.nonEmpty && swapped.forall(_.feat_hash == "decoded"))
    // frames + resize too
    val frames = withService(FakeEndpoint) {
      graft.multimodal.Multimodal.sampleFrames(spark, media, 2).collect().toSeq
    }
    assert(frames.nonEmpty && frames.forall(_.frame_hash == "decoded"))
    val resized = withService(FakeEndpoint) {
      graft.multimodal.Multimodal.resize(spark, media, 64, 64).collect().toSeq
    }
    assert(resized.nonEmpty && resized.forall(_.feat_hash == "decoded"))
  }

  test("corpus-fitted REAL model drives q_semantic_query's plumbing with identical plan shape") {
    import graft.inference.CorpusFittedService
    val fitted = CorpusFittedService.fit(docs, "text")
    // a real model, not a rename of the stub: IDF weights are fitted
    // (non-unit, rarer term weighs more) and the bigram table adds
    // related terms beyond the literal query tokens
    val exp = fitted.expandQuery("vector hash merge")
    assert(exp.nonEmpty && exp.exists(t => t._2 != 1.0))
    val literal = graft.analysis.Analyzer.analyze("vector hash merge").distinct.toSet
    assert(exp.map(_._1).toSet.size > literal.size,
      s"expected related-term expansion beyond $literal, got ${exp.map(_._1)}")

    // the q_semantic_query plumbing under both services: same
    // operator tree (the swap changes WEIGHTS/terms, never the plan)
    def semantic() = docs
      .where(graft.dsl.QueryDslJson.compile(
        """{"semantic": {"field": "text", "query": "vector hash merge"}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case n => n.getClass.getSimpleName }
    val stubShape = shape(semantic())
    val stubIds = semantic().as[Long].collect().toSet
    val (fittedShape, fittedIds) = withService(fitted) {
      (shape(semantic()), semantic().as[Long].collect().toSet)
    }
    assert(fittedShape == stubShape,
      s"plan shape must be service-invariant:\n$stubShape\nvs\n$fittedShape")
    // fitted expansion is a superset of the literal terms -> matches
    // can only grow
    assert(stubIds.subsetOf(fittedIds))

    // rerank is a fitted TF-IDF model: text containing the (rare)
    // query terms outranks unrelated text
    val scored = withService(fitted) {
      Seq("vector hash merge join", "the of and").toDF("t")
        .select(graft.inference.Inference.service
          .rerankScore("vector hash merge", col("t")).as("s"))
        .as[Double].collect()
    }
    assert(scored(0) > scored(1))

    // completion = greedy decode over FITTED transitions: each emitted
    // token is the argmax successor of its predecessor
    val gen = withService(fitted) {
      Seq("the fast").toDF("p")
        .select(graft.inference.Inference.service.complete(col("p")).as("c"))
        .as[String].collect().head
    }
    val genToks = gen.split(" ").filter(_.nonEmpty)
    assert(genToks.nonEmpty)
    var prev = "fast"
    genToks.foreach { g =>
      assert(fitted.nextTok(prev) == g, s"decode must follow the fitted argmax at '$prev'")
      prev = g
    }

    // the decoder PARSES real container bytes (png header -> WxH)
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',             // IHDR chunk
      0, 0, 0, 3, 0, 0, 0, 5).map(_.toByte)        // width=3 height=5
    assert(fitted.decoder()(png) == "png 3x5")
    val gif = ("GIF89a".getBytes("US-ASCII") ++ Array[Byte](7, 0, 2, 0, 0, 0))
    assert(fitted.decoder()(gif) == "gif 7x2")
    // a spec-legal JPEG with FILL BYTES between segments (and an APP0
    // before the SOF0 frame header): the walker must skip fills and
    // still land on width=9, height=7
    val jpeg = Array(0xff, 0xd8, 0xff, 0xff, 0xe0, 0x00, 0x04, 0x01, 0x02,
      0xff, 0xff, 0xff, 0xc0, 0x00, 0x0b, 8, 0x00, 0x07, 0x00, 0x09,
      3, 1, 0x11, 0).map(_.toByte)
    assert(fitted.decoder()(jpeg) == "jpeg 9x7")
    // a scan-only JPEG (no SOF before SOS) reports length, not garbage
    val sosOnly = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x02, 0x01).map(_.toByte)
    assert(fitted.decoder()(sosOnly) == s"jpeg ${sosOnly.length}B")
  }

  test("NEURAL model (MLlib Word2Vec skip-gram) drives the same keys as the stub and the fitted model") {
    import graft.inference.NeuralWordVecService
    val neural = NeuralWordVecService.fit(docs, "text", dim = 16, minCount = 3)
    // a real learned table: bounded vocab, dense non-degenerate vectors
    assert(neural.terms.nonEmpty && neural.terms.length <= 4096)
    assert(neural.flat.length == neural.terms.length * neural.dim)
    assert(neural.flat.exists(_ != 0.0))

    // embed: vocabulary text lands a non-zero dense vector; unknown
    // text the zero vector (never NaN)
    val qText = neural.terms.take(3).mkString(" ")
    val qv = neural.embed(qText)
    assert(qv.length == neural.dim && qv.exists(_ != 0.0))
    assert(neural.embed("zzzzunknownzzz").forall(_ == 0.0))

    // expandQuery: literal terms at 1.0 plus an EMBEDDING-SPACE
    // neighbor at damped cosine weight — semantic expansion term
    // statistics cannot produce
    val exp = neural.expandQuery(neural.terms.head)
    assert(exp.exists(_._2 == 1.0))
    assert(exp.exists(t => t._2 != 1.0 && t._2 > 0.0),
      s"expected a dense-space neighbor in $exp")

    // the q_semantic_query plumbing: identical operator tree under
    // stub / corpus-fitted / NEURAL — all three services through the
    // same key (the verdict's done-criterion)
    def semantic() = docs
      .where(graft.dsl.QueryDslJson.compile(
        """{"semantic": {"field": "text", "query": "vector hash merge"}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case n => n.getClass.getSimpleName }
    val stubShape = shape(semantic())
    val fittedShape = withService(graft.inference.CorpusFittedService.fit(docs, "text")) {
      shape(semantic())
    }
    val neuralShape = withService(neural) { shape(semantic()) }
    assert(neuralShape == stubShape && fittedShape == stubShape,
      s"plan shape must be service-invariant:\n$stubShape\nvs\n$neuralShape")

    // the RERANK plumbing (q_retriever_rerank / ES|QL RERANK path):
    // dense mean-vector cosine ranks on-vocabulary text above noise,
    // through the same Column seam — and the kernel is compiled (the
    // DenseMeanCosine expression, not a UDF)
    val scored = withService(neural) {
      Seq(qText, "zzz qqq vvv unknownwords").toDF("t")
        .select(graft.inference.Inference.service.rerankScore(qText, col("t")).as("s"))
        .as[Double].collect()
    }
    assert(scored(0) > scored(1) && scored(1) == 0.0,
      s"dense rerank must rank vocab text first: ${scored.toSeq}")

    // completion: greedy nearest-neighbor chain decoding — every
    // emitted token is in the learned vocabulary
    val gen = withService(neural) {
      Seq(qText).toDF("p")
        .select(graft.inference.Inference.service.complete(col("p")).as("c"))
        .as[String].collect().head
    }
    val vocab = neural.terms.toSet
    assert(gen.split(" ").filter(_.nonEmpty).forall(vocab.contains),
      s"decode left the vocabulary: '$gen'")

    // embed drives knn plumbing: brute-force top-k over embeddings of
    // the docs' own texts, query embedded through the seam — one scan,
    // exact cosines, deterministic
    val corpus = withService(neural) {
      docs.limit(50).select(col("doc_id"),
        col("text")).as[(Long, String)].collect().toSeq
        .map { case (id, t) => (id, neural.embed(t).toArray) }
    }.toDF("id", "v")
    val top = graft.sim.Ann.bruteForceTopK(
      corpus.withColumn("v", col("v").cast("array<double>")),
      corpus.where(col("id") === corpus.select(min(col("id"))).as[Long].head())
        .withColumn("v", col("v").cast("array<double>")),
      "id", "v", 5)
    assert(top.count() == 5)
  }
}

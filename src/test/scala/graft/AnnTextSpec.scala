package graft

import graft.sim.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class AnnTextSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "ga"

  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")

  test("brute-force ANN: nearest first, self excluded, rank dense") {
    val r = Ann.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(r.map(_._2).toSeq == Seq(2L, 3L, 4L) || r.head._2 == 2L)
    assert(!r.map(_._2).contains(1L))
    assert(r.map(_._4).toSeq == Seq(1, 2, 3))
  }

  test("LSH ANN returns a subset of brute-force candidates with exact cosines") {
    val brute = Ann.bruteForceTopK(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect().map(r => (r._2, r._3)).toMap
    val lsh = Ann.lshTopK(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", 4, 3)
      .as[(Long, Long, Double, Int)].collect()
    lsh.foreach { r => assert(brute(r._2) == r._3) }
  }

  test("k-means fit: balanced-ish IVF lists, fitted probe works end-to-end") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      .as[(Long, Seq[Double])].collect()
    assert(cents.length == 8)
    assert(cents.forall(_._2.length == cents.head._2.length))
    // fitted centroids drive the same IVF probe path
    val r = Ann.ivfTopK(emb, emb.where(col("vec_id") < 3), "vec_id", "embedding",
      Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2), nprobe = 3, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    val byQuery = r.groupBy(_._1)
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).toSeq)
      assert(rows.sortBy(_._4).map(_._3).toSeq.reverse.sorted.reverse ==
        rows.sortBy(_._4).map(_._3).toSeq) // cosine descending by rank
    }
  }

  test("graph ANN (NSW per partition): exact on one partition, recall probe green") {
    // single partition, tiny graph: beam search with ef >= n is
    // exhaustive, so the result must MATCH brute force exactly
    val one = vecs.repartition(1)
    val g = Ann.hnswTopK(one, one.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect()
    val b = Ann.bruteForceTopK(one, one.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(g.map(r => (r._2, r._3)).toSeq == b.map(r => (r._2, r._3)).toSeq)
    // a bigger clustered corpus across several partitions: recall@5
    // floor holds per query
    val big = (0 until 200).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 4) = 1.0f
      base((i + 1) % 8) = 0.3f + (i % 7) * 0.05f
      (i.toLong, base)
    }.toDF("vec_id", "embedding").repartition(8)
    val probe = Ann.hnswRecallProbe(big, big.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, minRecall = 0.8)
      .as[(Long, Boolean)].collect().toSeq
    assert(probe.map(_._1) == Seq(0L, 1L, 2L))
    assert(probe.forall(_._2), s"recall floor violated: $probe")
    // single-partition exactness holds across distribution shapes:
    // uniform-ish grid, two tight clusters, near-duplicates
    for (shape <- 0 until 3) {
      val data = (0 until 60).map { i =>
        val v = shape match {
          case 0 => Array.tabulate(6)(d => ((i * (d + 3) * 2654435761L) % 1000L) / 1000.0f)
          case 1 => Array.tabulate(6)(d =>
            (if (i % 2 == 0) 1.0f else -1.0f) * (1.0f + 0.001f * ((i * (d + 1)) % 7)))
          case 2 => Array.tabulate(6)(d => 0.5f + 0.0001f * ((i + d) % 5))
        }
        (i.toLong, v)
      }.toDF("vec_id", "embedding").repartition(1)
      val g = Ann.hnswTopK(data, data.where(col("vec_id") === 7), "vec_id", "embedding",
        k = 8, ef = 64)
        .select("id").as[Long].collect().toSeq
      val b = Ann.bruteForceTopK(data, data.where(col("vec_id") === 7), "vec_id", "embedding", 8)
        .select("id").as[Long].collect().toSeq
      assert(g == b, s"shape $shape: $g vs $b")
    }
  }

  test("ANN query-frame cap: a statically bounded query frame is checked with no job") {
    val one = spark.range(1).select(lit(-1L).as("vec_id"),
      array(lit(1.0f), lit(0.0f), lit(0.0f), lit(0.0f)).as("embedding"))
    var brute: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { brute = Ann.bruteForceTopK(vecs, one, "vec_id", "embedding", 2) } == 0)
    assert(brute.select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    val body = """{"knn": {"field": "embedding", "query_vector": [1.0, 0.0, 0.0, 0.0], """ +
      """"k": 2, "num_candidates": 100000}}"""
    var knn: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { knn = Ann.knnSearch(vecs, "vec_id", body) } == 0)
    assert(knn.select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    // a generator has no static row bound: the eager capped count runs
    val unbounded = vecs.select(col("vec_id"), explode(array(col("embedding"))).as("embedding"))
      .where(col("vec_id") === 3)
    assert(jobsLaunchedBy(Ann.bruteForceTopK(vecs, unbounded, "vec_id", "embedding", 2)) >= 1)
  }

  test("ANN query-frame cap: an unbounded query frame fails LOUDLY") {
    // the broadcast contract is bounded queries vs unbounded corpus;
    // exceeding MaxQueryRows must be an IllegalArgumentException with
    // a clear message, never a silent driver OOM
    val huge = spark.range(Ann.MaxQueryRows + 1L)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Ann.bruteForceTopK(vecs, huge, "vec_id", "embedding", 3)
    }
    assert(e.getMessage.contains("broadcast cap"))
    intercept[IllegalArgumentException] {
      Ann.hnswTopK(vecs, huge, "vec_id", "embedding", 3)
    }
    intercept[IllegalArgumentException] {
      Ann.lshTopK(vecs, huge, "vec_id", "embedding", 2, 3)
    }
  }

  test("recall probe: one row per query even under a failing floor") {
    val probe = Ann.hnswRecallProbe(vecs.repartition(1),
      vecs.where(col("vec_id") <= 2), "vec_id", "embedding",
      k = 3, minRecall = 1.01) // impossible floor: every verdict false
      .as[(Long, Boolean)].collect().toSeq
    assert(probe.map(_._1) == Seq(1L, 2L))
    assert(probe.forall(!_._2))
  }

  test("int4: packed half-byte scores equal the dequantized cosine; two codes per byte; top-k sane") {
    import org.apache.spark.sql.GraftBridge
    val vecs = Seq(
      (1L, Array(0.9, -0.3, 0.05, 0.0, 1.4)),          // odd dim
      (2L, Array(-1.0, 1.0, 0.5, -0.5, 0.25)),
      (3L, Array(0.0, 0.0, 0.0, 0.0, 0.0)),            // zero vector
      (4L, Array(2.0, 1.999, -2.0, 0.001, 1.0)))
      .toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val q = Seq(0.7, -0.1, 0.4, 0.2, 0.9)
    val qc = array(q.map(lit): _*)
    val r = vecs.select(
      col("id"),
      GraftBridge.column(graft.expr.Int4Pack(GraftBridge.expression(col("v")))).as("pk"),
      GraftBridge.column(graft.expr.Int4Cosine(
        GraftBridge.expression(col("v")), GraftBridge.expression(qc))).as("direct"))
      .withColumn("packed", GraftBridge.column(graft.expr.Int4PackedCosine(
        GraftBridge.expression(col("pk")), GraftBridge.expression(qc))))
      .as[(Long, Array[Byte], Double, Double)].collect()
    // the packed scan and the dequantized cosine agree BIT-exactly
    r.foreach { case (id, pk, direct, packed) =>
      assert(direct == packed, s"id $id: packed $packed != direct $direct")
      assert(pk.length == 8 + 3, s"id $id: 5 dims must pack into 8+ceil(5/2) bytes, got ${pk.length}")
    }
    // zero vector scores 0, never NaN
    assert(r.find(_._1 == 3L).get._3 == 0.0)

    // end-to-end: int4 rescore top-k over the testdata embeddings
    // returns exact cosines in the same order as the full-precision
    // brute force (oversample wide enough at this scale)
    val emb = Tables.embeddings(spark, sfDir)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    val int4 = Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int4, qv, k = 5, oversample = 8)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    val brute = Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int8, qv, k = 5, oversample = 8)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(int4 == brute, s"int4 window missed the true top-k: $int4 vs $brute")
  }

  test("PQ distributed Lloyd's fit: deterministic, lower distortion than the sample codebook, recall holds") {
    val emb = Tables.embeddings(spark, sfDir)
    val m = 4; val k = 16; val dsub = 64 / m
    val dist = Ann.pqFitCodebooksDist(emb, "vec_id", "embedding", m, k)
    assert(dist.length == m * k * dsub)
    // deterministic: the hash-ordered sample and fixed-point means make
    // a re-run reproduce the model exactly
    val dist2 = Ann.pqFitCodebooksDist(emb, "vec_id", "embedding", m, k)
    assert(dist.toSeq == dist2.toSeq, "lloyd-dist fit is not reproducible")
    // quality: mean quantization distortion (squared L2 of each unit
    // vector to its reconstruction) must not exceed the untrained
    // sample codebook's — Lloyd's exists to shrink exactly this
    val vecs = emb.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
    def distortion(cb: Array[Double]): Double = {
      var tot = 0.0
      vecs.foreach { v =>
        var s = 0
        while (s < m) {
          var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < dsub) {
              val t = v(s * dsub + i) - cb((s * k + c) * dsub + i); d += t * t; i += 1
            }
            if (d < bestD) bestD = d
            c += 1
          }
          tot += bestD; s += 1
        }
      }
      tot / vecs.length
    }
    val sampleCb = Ann.pqSampleCodebooks(emb, "vec_id", "embedding", m, k)
    val dDist = distortion(dist)
    val dSample = distortion(sampleCb)
    assert(dDist <= dSample,
      s"lloyd-dist distortion $dDist worse than sample codebook $dSample")
    // and the driver lloyd fit too: the distributed fit must be at
    // least as good as the capped driver sample fit on this corpus
    val dDriver = distortion(Ann.pqFitCodebooks(emb, "vec_id", "embedding", m, k))
    assert(dDist <= dDriver * 1.05,
      s"lloyd-dist distortion $dDist far off the driver fit $dDriver")
    // recall floor under the dist codebooks (same bar as the driver fit)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    val pqRows = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20,
      codebooks = Some(dist)).select("id").as[Long].collect().toSeq
    val brute = Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int8, qv, k = 5, oversample = 8)
      .select("id").as[Long].collect().toSet
    assert(pqRows.count(brute.contains) >= 3,
      s"lloyd-dist PQ recall@5 too low: ${pqRows.count(brute.contains)}/5")
    // and on clustered vectors (a shared center per cluster plus small
    // per-vector noise, the shape real embeddings have): recall@10
    // against the int8-rescored truth, whose top 10 are distinct ids
    def h(a: Long, b: Long): Double = {
      var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) & 0xFFFFFFL).toDouble / (1 << 24) - 0.5
    }
    val clustered = spark.range(2000).as[Long].map { id =>
      (id, Array.tabulate(64)(i =>
        (h((id % 64) * 131L + 7L, i.toLong) + 0.15 * h(id * 31L + 3L, i.toLong)).toFloat))
    }.toDF("vec_id", "embedding")
    val cq = (0 until 64).map(i => (i * 37 % 100) / 100.0 - 0.5)
    val truth = Ann.packedTopK(clustered, "vec_id", "embedding", graft.index.PackedCodec.Int8,
      cq, k = 10, oversample = 8).select("id").as[Long].collect().toSet
    assert(truth.size == 10, truth)
    // 8 subspaces x 64 codes, window 80: 9/10 measured. 4 x 16
    // codebooks fit on this corpus find none of these ten, even at
    // window 400.
    val clusteredRecall = Ann.pqTopK(clustered, "vec_id", "embedding", cq, k = 10,
      oversample = 8, m = 8, codebookSize = 64, codebooks = Some(
        Ann.pqFitCodebooksDist(clustered, "vec_id", "embedding", m = 8, k = 64)))
      .select("id").as[Long].collect().count(truth.contains)
    assert(clusteredRecall >= 7, s"clustered lloyd-dist PQ recall@10 too low: $clusteredRecall/10")
  }

  test("PQ sizing guard: under-sized coarse windows warn off the r14 ledger rule (r15)") {
    val emb = Tables.embeddings(spark, sfDir) // 500 vectors
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // window 5x1 = 5 -> rule threshold 5 * (4*16) = 320 < 500: the
    // corpus/window ratio exceeds m*k, the measured collapse regime
    Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 1)
    assert(Ann.lastPqSizingWarning.nonEmpty, "under-sized PQ window did not warn")
    assert(Ann.lastPqSizingWarning.get.contains("Raise oversample"))
    // window 5x20 = 100 -> threshold 6400 > 500: correctly sized, silent
    Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20)
    assert(Ann.lastPqSizingWarning.isEmpty, "well-sized PQ window warned spuriously")
  }

  test("PQ auto oversample (0): rule-sized window, guard silent, equals the explicit call (r15)") {
    val emb = Tables.embeddings(spark, sfDir) // 500 vectors
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    val auto = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 0)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    // auto can never trigger the guard: the window IS the rule size
    assert(Ann.lastPqSizingWarning.isEmpty, "auto-sized window warned")
    assert(auto.length == 5)
    // 500/(4*16*5) + 1 = 2, floored to 4 — the explicit twin
    val explicit = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 4)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(auto == explicit, "auto window diverged from its explicit twin")
    intercept[IllegalArgumentException](
      Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = -1))
  }

  test("knn JSON window:auto — rule-sized budget equals its explicit twin; loud rejects (r16)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir) // 500 vectors
    val vec = (0 until 64).map(i => (i * 41 % 100) / 100.0 - 0.5)
    def body(tail: String) =
      s"""{"field": "embedding", "query_vector": [${vec.mkString(",")}], "k": 5$tail}"""
    // auto budget at n=500: max(16*5=80 — the r17 nprobe spread floor
    // in candidate units, ceil(500/16)=32) = 80 — the explicit twin
    // is num_candidates: 80
    val auto = Ann.knnSearch(emb, "vec_id", body(""", "window": "auto""""))
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(Ann.lastNprobeWarning.isEmpty,
      "auto window's derived probe set warned — the floor must clear the rail by construction")
    val explicit = Ann.knnSearch(emb, "vec_id", body(""", "num_candidates": 80"""))
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(auto == explicit, "JSON auto window diverged from its explicit twin")
    // an explicit budget that derives nprobe below ceil(sqrt(16)) = 4
    // warns (50/(4*5) = 2 lists) but is never resized — ES semantics,
    // num_candidates is the caller's cost knob
    Ann.knnSearch(emb, "vec_id", body(""", "num_candidates": 50""")).collect()
    assert(Ann.lastNprobeWarning.nonEmpty, "under-spread body-knn probe did not warn")
    assert(Ann.lastNprobeWarning.get.contains("num_candidates"))
    // the SAME option through the SearchBody front door (body knn leg)
    val viaBody = graft.dsl.SearchBody.search(emb,
      s"""{"knn": {"field": "embedding", "query_vector": [${vec.mkString(",")}],
           "k": 5, "window": "auto"}, "size": 5}""", idField = "vec_id")
      .select(col("vec_id")).as[Long].collect().toSet
    assert(viaBody == auto.map(_._1).toSet, "body-auto diverged from API-auto")
    // unknown window values are loud, not silently defaulted
    val e1 = intercept[IllegalArgumentException](
      Ann.knnSearch(emb, "vec_id", body(""", "window": "big"""")))
    assert(e1.getMessage.contains("auto"))
    // contradictory auto + explicit budget is loud
    val e2 = intercept[IllegalArgumentException](
      Ann.knnSearch(emb, "vec_id", body(""", "window": "auto", "num_candidates": 9""")))
    assert(e2.getMessage.contains("contradictory"))
  }

  test("PQ window math stays in Long: huge oversample caps instead of overflowing (r16)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // k*oversample = 5 x Int.MaxValue overflows Int multiply; the Long
    // window caps at Int.MaxValue (warned), the guard threshold
    // saturates instead of wrapping, and the call still returns k rows
    val r = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = Int.MaxValue)
    assert(r.count() == 5)
  }

  test("IVFADC sizing guard + auto: the r15 guard hole is closed on both entry points (r16)") {
    val emb = Tables.embeddings(spark, sfDir) // 500 vectors
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // the candidate corpus is the PROBED lists (~nprobe/nCentroids of
    // 500 ≈ 125 rows). window 1x1 at m=4,ck=4 -> threshold 16 < 125:
    // the collapse regime the r15 structured probe measured at 0/10
    Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 1, oversample = 1,
      nCentroids = 16, nprobe = 4, m = 4, codebookSize = 4)
    assert(Ann.lastPqSizingWarning.nonEmpty, "under-sized IVFADC window did not warn")
    assert(Ann.lastPqSizingWarning.get.contains("Raise oversample"))
    // window 5x20 -> threshold 6400 >> 125 candidates: silent
    Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20,
      nCentroids = 16, nprobe = 4)
    assert(Ann.lastPqSizingWarning.isEmpty, "well-sized IVFADC window warned spuriously")
    // auto (0): rule-sized off the probed-list count, silent, equal to
    // its explicit twin (125/(4*16*5)+1 = 1, floored to 4)
    import spark.implicits._
    val auto = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 0,
      nCentroids = 16, nprobe = 4)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(Ann.lastPqSizingWarning.isEmpty, "auto-sized IVFADC window warned")
    val explicitTwin = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 4,
      nCentroids = 16, nprobe = 4)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(auto == explicitTwin, "IVFADC auto window diverged from its explicit twin")
    intercept[IllegalArgumentException](
      Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = -1,
        nCentroids = 16, nprobe = 4))
    // the PERSISTED entry point carries the same guard + auto
    val out = s"$specRoot/ivfadc_guard"
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "16",
      "graft.index.pq" -> "embedding"))
    def indexed(os: Int) = Ann.ivfAdcTopKIndexed(spark, out, "vec_id", "embedding",
      qv, k = 5, oversample = os, nprobe = 4)
      .getOrElse(sys.error("ivfadc artifacts missing right after build"))
    // warn case: k=1 x os=1 at the artifact's m=4,ck=16 -> threshold
    // 64 < ~125 probed candidates
    Ann.ivfAdcTopKIndexed(spark, out, "vec_id", "embedding", qv,
      k = 1, oversample = 1, nprobe = 4)
      .getOrElse(sys.error("ivfadc artifacts missing")).collect()
    assert(Ann.lastPqSizingWarning.nonEmpty, "indexed IVFADC under-sized window did not warn")
    val autoIdx = indexed(0).select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(Ann.lastPqSizingWarning.isEmpty, "indexed IVFADC auto window warned")
    val explIdx = indexed(4).select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(autoIdx == explIdx, "indexed IVFADC auto diverged from its explicit twin")
  }

  test("IVFADC nprobe rail: auto = mass walk + sqrt spread floor; explicit under-probe warns (r17)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir) // 500 vectors
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // auto (nprobe = 0) with the auto window: the mass rule needs
    // 500/(4*16)+1 = 8 rows (one probed list covers it), then the
    // spread floor lifts the probe set to ceil(sqrt(16)) = 4 — the
    // measured r16 cliff point (kmeans coarse read 0/10 at nprobe 1-2
    // and 10/10 at 4 of 16). The explicit twin is nprobe = 4.
    val auto = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 0,
      nCentroids = 16, nprobe = 0)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(Ann.lastNprobeWarning.isEmpty, "auto nprobe warned")
    val twin = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 0,
      nCentroids = 16, nprobe = 4)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(auto == twin, "auto nprobe diverged from its explicit twin")
    // explicit nprobe under the rail warns — and is NOT resized (the
    // caller chose the cost; the rail is loud, not silent)
    Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20,
      nCentroids = 16, nprobe = 2).collect()
    assert(Ann.lastNprobeWarning.nonEmpty, "under-probed explicit nprobe did not warn")
    assert(Ann.lastNprobeWarning.get.contains("nprobe"))
    // a well-probed explicit call is silent
    Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20,
      nCentroids = 16, nprobe = 8).collect()
    assert(Ann.lastNprobeWarning.isEmpty, "well-probed explicit nprobe warned spuriously")
    // the PERSISTED entry point carries the same rail: auto equals its
    // explicit twin off the STORED assignment's list sizes
    val out = s"$specRoot/ivfadc_nprobe"
    graft.sources.Connector.save(emb, out, Map(
      "graft.write.operation" -> "overwrite",
      "graft.mapping.id" -> "vec_id",
      "graft.index.vectors" -> "embedding",
      "graft.index.vectors.centroids" -> "16",
      "graft.index.pq" -> "embedding"))
    def indexedNp(np: Int) = Ann.ivfAdcTopKIndexed(spark, out, "vec_id", "embedding",
      qv, k = 5, oversample = 0, nprobe = np)
      .getOrElse(sys.error("ivfadc artifacts missing right after build"))
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    val autoIdx = indexedNp(0)
    assert(Ann.lastNprobeWarning.isEmpty, "indexed auto nprobe warned")
    assert(autoIdx == indexedNp(4), "indexed auto nprobe diverged from its explicit twin")
    indexedNp(1)
    assert(Ann.lastNprobeWarning.nonEmpty, "indexed under-probed nprobe did not warn")
  }

  test("IVFADC leaves no cached blocks behind: the r16 member persist is gone (r17)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 4,
      nCentroids = 16, nprobe = 4).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"IVFADC left cached RDDs registered: $leaked")
  }

  test("PQ: 4-byte codes, ADC window recovers the exact top-k, codes-only coarse plan") {
    import org.apache.spark.sql.GraftBridge
    val emb = Tables.embeddings(spark, sfDir)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // hand-check the encode on a tiny codebook: 1 subspace, 2 codes
    val cb = Seq(0.0, 0.0, 1.0, 1.0) // code 0 = (0,0), code 1 = (1,1)
    val codes = Seq((1L, Array(0.1, -0.1)), (2L, Array(0.9, 1.2)), (3L, Array(0.5, 0.5)))
      .toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
      .select(col("id"), GraftBridge.column(graft.expr.PqEncode(
        GraftBridge.expression(col("v")), cb, 1, 2)).as("pq"))
      .as[(Long, Array[Byte])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(codes(1L) == Seq(0.toByte)) // nearer (0,0)
    assert(codes(2L) == Seq(1.toByte)) // nearer (1,1)
    assert(codes(3L) == Seq(0.toByte)) // exact tie (0.5 each) -> LOWEST code
    // end-to-end: PQ is APPROXIMATE — TRAINED codebooks (deterministic
    // Lloyd's over the id-ordered sample) must clear a recall floor
    // against brute force; any id the window keeps rescored exactly
    // (the cosines come from the raw vectors)
    val fitted = Ann.pqFitCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
    val pq = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20,
      codebooks = Some(fitted))
    val pqRows = pq.select("id", "cosine").as[(Long, Double)].collect().toSeq
    val brute = Ann.packedTopK(emb, "vec_id", "embedding", graft.index.PackedCodec.Int8, qv, k = 5, oversample = 8)
      .select("id", "cosine").as[(Long, Double)].collect().toMap
    val recall = pqRows.count { case (id, _) => brute.contains(id) }
    assert(recall >= 3, s"trained PQ recall@5 too low: $recall/5 ($pqRows)")
    pqRows.foreach { case (id, c) =>
      brute.get(id).foreach(b => assert(b == c, s"id $id rescored $c != brute $b")) }
    // the untrained sample baseline (the oracle path) still finds the
    // true top-1 here and rescores exactly — documented weaker recall
    val base = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 20)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(base.exists { case (id, _) => brute.contains(id) },
      s"untrained PQ window lost the entire true top-5: $base")
    // storage honesty: m = 4 code bytes per doc
    val enc = emb.select(GraftBridge.column(graft.expr.PqEncode(
      GraftBridge.expression(col("embedding").cast("array<double>")),
      (0 until 4 * 16 * 16).map(_ * 0.001), 4, 16)).as("pq"))
    assert(enc.as[Array[Byte]].head().length == 4)
    // plan honesty: the coarse pass (below the rescore join's window)
    // must not read the float column — codes + LUT only
    val coarsePlan = pq.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.right.toString
    }.mkString
    assert(coarsePlan.contains("pq_adc"), "coarse window must score by ADC")
  }

  test("IVFADC: probe gates the ADC stage; all-lists probe degenerates to plain PQ") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = (1 to 64).map(i => math.sin(i * 0.37))
    // probing EVERY list removes the IVF gate: result must equal the
    // plain PQ pipeline over the same sample codebook
    val all = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
      k = 5, oversample = 8, nCentroids = 16, nprobe = 16)
    val pq = Ann.pqTopK(emb, "vec_id", "embedding", qv, k = 5, oversample = 8)
    assert(all.collect().toSeq == pq.collect().toSeq)
    // a narrow probe returns a (possibly weaker) subset, every cosine
    // still exact vs brute force
    val narrow = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
      k = 5, oversample = 8, nCentroids = 16, nprobe = 2)
      .select("id", "cosine").as[(Long, Double)].collect().toSeq
    assert(narrow.nonEmpty && narrow.length <= 5)
    // exactness of the rescored cosines: recompute directly
    val direct = emb.select(col("vec_id"),
      graft.util.Num.round(
        graft.dedup.Vectors.cosine(col("embedding").cast("array<double>"),
          array(qv.map(lit): _*)), 4).as("c"))
      .as[(Long, Double)].collect().toMap
    narrow.foreach { case (id, c) => assert(direct(id) == c) }
    // the IVF gate is a MAP-SIDE FILTER below the ADC window (r17):
    // the assignment argmax runs as a per-row expression against the
    // driver-collected centroids, so the coarse side carries NO join
    // at all — the only join in the plan is the rescore's broadcast
    // of the bounded window
    val plan = Ann.ivfAdcTopK(emb, "vec_id", "embedding", qv,
      k = 5, oversample = 8, nCentroids = 16, nprobe = 2)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftSemi"),
      "IVF gate regressed to a semi-join — the map-side filter form shuffles nothing")
    assert(plan.contains("array_max"),
      "IVF gate must be the per-row assignment-argmax filter")
    assert(plan.sliding(5).count(_ == "Join ") == 1,
      "coarse side must be join-free; only the rescore broadcast join remains")
  }

  test("knn _explain: dot/norms/cosine breakdown consistent") {
    val r = Ann.explainKnn(vecs, "vec_id", "embedding",
      Seq(1.0, 1.0, 0.0, 0.0), docId = 2L)
      .as[(String, Double)].collect().toMap
    assert(r.keySet == Set("cosine", "dot", "norm_doc", "norm_query"))
    assert(math.abs(r("dot") - 1.09) < 1e-9)
    assert(math.abs(r("norm_query") - math.sqrt(2.0)) < 1e-4)
    assert(math.abs(r("cosine") - r("dot") / (r("norm_doc") * r("norm_query"))) < 1e-3)
  }

  test("language id: stopword-heavy english text detected") {
    val df = Seq((1L, "the cat and the dog is in the house for a while")).toDF("id", "text")
    val (pl, ps) = TextAnalysis.languageId(col("text"))
    val r = df.select(pl, ps).as[(String, Double)].collect().head
    assert(r._1 == "en" && r._2 > 0.3)
  }

  test("quality: clean prose scores above junk") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away to the hills"),
      (2L, "@@@@ #### !!!! %%%% aa aa aa aa aa aa")).toDF("id", "text")
    val q = TextAnalysis.qualityScore(col("text"))(df)
      .select(col("id"), col("quality")).as[(Long, Double)].collect().toMap
    assert(q(1L) > q(2L))
  }

  test("token counts: ws vs bpe-ish") {
    val df = Seq((1L, "hello world42, ok!")).toDF("id", "text")
    val cs = TextAnalysis.tokenCounts(col("text"))
    val r = df.select(cs.map { case (n, c) => c.as(n) }: _*).as[(Long, Long)].collect().head
    assert(r._1 == 3L) // hello | world42, | ok!
    assert(r._2 == 7L) // hello, world, 4, 2, ',', ok, '!'
  }

  test("fingerprint: order-sensitive, deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("id", "text")
    val f = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(f(1L) == f(3L))
    assert(f(1L) != f(2L))
  }

  test("chunkTokens: window size, overlap carry, short docs single chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"), // 3 tokens -> one chunk
      (3L, "")) // empty -> no chunks
      .toDF("doc_id", "text")
    val r = TextAnalysis.chunkTokens(docs, "doc_id", "text", chunkSize = 6, overlap = 2)
      .orderBy(col("id"), col("chunk_idx"))
      .select("id", "chunk_idx", "chunk_text")
      .as[(Long, Int, String)].collect()
    // stride 4: starts 0, 4, 8 for the 10-token doc
    val d1 = r.filter(_._1 == 1L).map(_._3)
    assert(d1.toSeq == Seq(
      "t1 t2 t3 t4 t5 t6", "t5 t6 t7 t8 t9 t10", "t9 t10"))
    assert(r.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b c"))
    assert(!r.exists(_._1 == 3L))
  }

  test("stratifiedSample: deterministic, rate-ordered strata sizes") {
    val docs = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "lang")
    def run() = TextAnalysis.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 0.5), defaultRate = 0.05)
      .select("doc_id").as[Long].collect().toSet
    val a = run(); val b = run()
    assert(a == b) // deterministic (the point vs rand())
    val en = a.count(_ % 2 == 0).toDouble / 1000.0
    val xx = a.count(_ % 2 == 1).toDouble / 1000.0
    assert(en > 0.4 && en < 0.6 && xx < 0.12) // rates roughly honored
  }

  test("contaminationScreen: shared shingles found, clean docs pass") {
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely unrelated text with different words entirely"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "quick brown fox jumps")).toDF("doc_id", "text")
    val r = TextAnalysis.contaminationScreen(corpus, "doc_id", "text", bench, "text")
      .as[(Long, Long)].collect().toMap
    assert(r.contains(100L) && r(100L) >= 2) // "quick brown fox", "brown fox jumps"
    assert(!r.contains(101L))
  }

  test("redactPii masks urls, emails, long numbers") {
    val out = Seq("see https://x.io/a?b=1 or mail a.b@c.de now 1234567 ok 12345")
      .toDF("text").select(TextAnalysis.redactPii(col("text"))).as[String].collect().head
    assert(out == "see [URL] or mail [EMAIL] now [NUM] ok 12345")
  }

  test("knnSearch: ES surface with pre-filter; exact and IVF paths") {
    import spark.implicits._
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f), 1),
      (3L, Array(0.98f, 0.15f, 0.0f, 0.0f), 0),
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val json = """{"knn": {"field": "embedding",
      "query_vector": [1.0, 0.0, 0.0, 0.0], "k": 2,
      "num_candidates": 100000, "filter": {"term": {"label": 0}}}}"""
    val r = Ann.knnSearch(labeled, "vec_id", json)
      .as[(Long, Double, Int)].collect()
    // label-1 doc (the true 2nd-nearest) is pre-filtered out
    assert(r.map(_._1).toSeq == Seq(1L, 3L))
    assert(r.map(_._3).toSeq == Seq(1, 2))
    // low num_candidates routes through IVF and still excludes label 1
    val approx = Ann.knnSearch(labeled, "vec_id",
      """{"knn": {"field": "embedding", "query_vector": [1.0, 0.0, 0.0, 0.0],
         "k": 2, "num_candidates": 8, "filter": {"term": {"label": 0}}}}""")
      .as[(Long, Double, Int)].collect()
    assert(!approx.map(_._1).contains(2L))
  }

  test("paragraphDupRatio flags cross-doc repeated chunks") {
    import spark.implicits._
    val rep = (1 to 40).map(i => s"w$i").mkString(" ") // one full 32+-token chunk prefix
    val docs = Seq(
      (1L, rep), (2L, rep), // identical -> chunks shared
      (3L, (100 to 140).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.paragraphDupRatio(docs, "doc_id", "text", 32)
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x._4).toMap
    assert(r(1L) == 1.0 && r(2L) == 1.0 && r(3L) == 0.0)
  }

  test("unigramSurprisal: rare-token docs score higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common rareword")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(r(2L) > r(1L))
  }

  test("domainMixWeights: uniform target upweights rare sources") {
    import spark.implicits._
    val docs = (1 to 9).map(i => (i.toLong, if (i <= 6) "a" else "b")).toDF("doc_id", "source")
    val rows = TextAnalysis.domainMixWeights(docs, "source")
      .as[(String, Long, Double, Double)].collect()
    val byS = rows.map(x => x._1 -> x).toMap
    assert(byS("a")._2 == 6L && byS("b")._2 == 3L)
    // shares 2/3 and 1/3; uniform target 1/2 -> weights 0.75 and 1.5
    assert(byS("a")._4 == 0.75 && byS("b")._4 == 1.5)
  }

  test("knnRescoreTopK: quantized coarse pass, exact rescore wins") {
    import spark.implicits._
    // doc 1 is the exact best; docs 2..40 fill the oversample window
    val corpus = (1 to 60).map { i =>
      val v = if (i == 1) Seq(1.0f, 0.0f, 0.0f, 0.0f)
      else Seq(1.0f / i, 1.0f, 0.1f * (i % 7), 0.0f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val out = graft.sim.Ann.packedTopK(
      corpus, "vec_id", "embedding", graft.index.PackedCodec.Int8, Seq(1.0, 0.0, 0.0, 0.0),
      k = 3, oversample = 5)
      .as[(Long, Double, Double)].collect().toSeq
    assert(out.head._1 == 1L && out.head._2 == 1.0)
    assert(out.size == 3)
    // quantized score is within int8 error of the exact score
    out.foreach { case (_, exact, quant) => assert(math.abs(exact - quant) < 0.02) }
  }

  test("c4 filter battery: line keep, sentence floor, boilerplate drops") {
    import graft.text.TextAnalysis
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "Good text here. It has sentences! Three of them, right?"),
      (2L, "First line ends well.\nsecond line does not\nThird \"quoted.\"  \nShort. Yes. Ok."),
      (3L, "Lorem Ipsum dolor sit. More words. And more."),
      (4L, "function f() { return 1; }. Sentence two. Sentence three."),
      (5L, "We value you. This site uses cookies. Accept our privacy policy."),
      (6L, "Too short. Just two.")).toDF("doc_id", "text")
    val sig = TextAnalysis.c4Filters(col("text"))
    val keep = TextAnalysis.c4Keep(sig.toMap)
    val r = docs
      .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 2: 4 non-empty lines, line 2 fails terminal punctuation,
    // line 3 passes via the quote (+ trailing spaces)
    assert(r(2L).getLong(1) == 4 && r(2L).getLong(2) == 3)
    assert(r(1L).getLong(3) == 3) // three sentences
    assert(r(3L).getBoolean(4) && !r(3L).getBoolean(7)) // lorem drops
    assert(r(4L).getBoolean(5) && !r(4L).getBoolean(7)) // brace drops
    assert(r(5L).getBoolean(6) && !r(5L).getBoolean(7)) // policy drops
    assert(!r(6L).getBoolean(7)) // < 3 sentences
    assert(r(1L).getBoolean(7) && r(2L).getBoolean(7))
  }

  test("canonicalizeUrl: case/port/fragment/utm/slash noise collapses, rest survives") {
    val urls = Seq(
      (1L, "HTTP://WWW.Site.COM:80/a/b/?utm_source=x&ref=1#frag"),
      (2L, "http://www.site.com/a/b?ref=1"),
      (3L, "https://Site.ORG:443/p?utm_campaign=c&utm_medium=m&q=2"),
      (4L, "https://site.org/p?q=2"),
      // no query, trailing slash only
      (5L, "http://h.io/x/"), (6L, "http://h.io/x"),
      // utm-only query collapses to none; path case preserved
      (7L, "http://h.io/X?utm_source=only"), (8L, "http://h.io/X"),
      // default port directly before '?' or end-of-string dies too
      (9L, "http://h.io:80?q=1"), (10L, "http://h.io/?q=1"),
      (11L, "http://h.io:80"), (12L, "http://h.io"),
      // "utm_" in a PATH segment is data, not a tracking param
      (13L, "http://h.io/blog/utm_source=abc/post?q=1"),
      // consecutive utm params each carry their own separator anchor;
      // a non-utm param stranded behind them gets its '?' back
      (14L, "http://h.io/p?utm_a=1&utm_b=2&ref=3"), (15L, "http://h.io/p?ref=3"),
      // a non-separator prefix keeps its param ('xutm_' is not utm)
      (16L, "http://h.io/p?xutm_source=1"))
      .toDF("id", "url")
    val c = urls.select(col("id"),
      TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(c(1L) == c(2L) && c(1L) == "http://www.site.com/a/b?ref=1")
    assert(c(3L) == c(4L) && c(3L) == "https://site.org/p?q=2")
    assert(c(5L) == c(6L) && c(5L) == "http://h.io/x")
    assert(c(7L) == c(8L) && c(7L) == "http://h.io/X")
    assert(c(9L) == c(10L) && c(9L) == "http://h.io?q=1")
    assert(c(11L) == c(12L) && c(11L) == "http://h.io")
    assert(c(13L) == "http://h.io/blog/utm_source=abc/post?q=1")
    assert(c(14L) == c(15L) && c(14L) == "http://h.io/p?ref=3")
    assert(c(16L) == "http://h.io/p?xutm_source=1")
  }

  test("canonicalizeUrl is idempotent over randomized noise combinations") {
    // exhaustive small cross-product of the noise dimensions: a
    // canonical form must be a FIXED POINT (canon(canon(u)) ==
    // canon(u)) or grouping keys drift between pipeline stages
    val urls = (for {
      scheme <- Seq("http://", "HTTPS://")
      host <- Seq("A.Example.com", "b.org")
      port <- Seq("", ":80", ":443", ":8080")
      path <- Seq("/x", "/x/y/", "/")
      query <- Seq("", "?utm_source=a", "?utm_source=a&ref=2",
        "?ref=2&utm_medium=m&utm_campaign=c", "?q=1", "?q=UP")
      frag <- Seq("", "#top")
    } yield scheme + host + port + path + query + frag).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }
    val df = urls.toDF("id", "url")
    val once = df.select(col("id"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
    val twice = once.select(col("id"), TextAnalysis.canonicalizeUrl(col("c")).as("c2"))
    val joined = once.join(twice, "id")
      .where(col("c") =!= col("c2"))
      .collect()
    assert(joined.isEmpty, s"non-idempotent canonicalization: ${joined.take(3).mkString(", ")}")
    // non-default port survives canonicalization
    val kept = once.as[(Long, String)].collect().map(_._2)
    assert(kept.exists(_.contains(":8080")), "a non-default port must survive")
  }

  test("gopher battery: signals + keep gates fire on the designed violations") {
    val good = (("the quick value of a scan is that the merge is fast and " * 3) +
      "the table row finds a key in the hash").trim
    val docs = Seq(
      (1L, good),                                    // passes every gate
      (2L, "short text the a"),                      // < 25 words
      (3L, ("#### " * 30) + good),                   // symbol-heavy
      (4L, good.replace(" ", " 123456 ")))           // digit flood drops alpha ratio
      .toDF("doc_id", "text")
    val sig = TextAnalysis.gopherSignals(col("text"))
    val keep = TextAnalysis.gopherKeep(sig.toMap)
    val r = docs
      .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getBoolean(6), s"good doc must keep: ${r(1L)}")
    assert(!r(2L).getBoolean(6) && r(2L).getLong(1) < 25)
    assert(!r(3L).getBoolean(6) && r(3L).getDouble(3) >= 0.1) // symbol_ratio
    assert(!r(4L).getBoolean(6) && r(4L).getDouble(4) < 0.7)  // alpha_ratio
  }

  test("charset sniffing: BOMs, strict UTF-8 validation, windows-1252 fallback (r16)") {
    import graft.text.TextAnalysis.{charsetOf, decodeDetected}
    val eAcute = "café"
    assert(charsetOf(eAcute.getBytes("UTF-8")) == "utf-8")
    assert(charsetOf(eAcute.getBytes("ISO-8859-1")) == "windows-1252")
    assert(charsetOf(eAcute.getBytes("UTF-16")) == "utf-16be")       // BE BOM
    assert(charsetOf(eAcute.getBytes("UTF-16LE")) == "windows-1252") // no BOM, has NULs -> not valid UTF-8... see below
    // UTF-16LE WITHOUT a BOM is genuinely ambiguous; WITH one it routes
    val le = Array[Byte](0xff.toByte, 0xfe.toByte) ++ eAcute.getBytes("UTF-16LE")
    assert(charsetOf(le) == "utf-16le")
    assert(decodeDetected(le) == ("utf-16le", eAcute))
    // decode round trips, BOMs consumed
    assert(decodeDetected(eAcute.getBytes("UTF-8")) == ("utf-8", eAcute))
    assert(decodeDetected(eAcute.getBytes("ISO-8859-1")) == ("windows-1252", eAcute))
    assert(decodeDetected(eAcute.getBytes("UTF-16")) == ("utf-16be", eAcute))
    val bom8 = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ eAcute.getBytes("UTF-8")
    assert(decodeDetected(bom8) == ("utf-8", eAcute))
    // strictness: overlong C0 and stray continuation both reject
    assert(charsetOf(Array[Byte](0xc0.toByte, 0xaf.toByte)) == "windows-1252")
    assert(charsetOf(Array[Byte]('a', 0x85.toByte, 'b')) == "windows-1252")
    // truncated multi-byte tail rejects
    assert(charsetOf(Array[Byte]('a', 0xc3.toByte)) == "windows-1252")
    // second-byte range table: overlong E0 80, UTF-16 surrogate
    // ED A0, overlong F0 80, past-U+10FFFF F4 90 — all reject (a
    // decoder would replace them with U+FFFD, corrupting the text
    // the windows-1252 fallback decodes faithfully)
    assert(charsetOf(Array[Byte](0xe0.toByte, 0x80.toByte, 0x80.toByte)) == "windows-1252")
    assert(charsetOf(Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte)) == "windows-1252")
    assert(charsetOf(Array[Byte](0xf0.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte)) == "windows-1252")
    assert(charsetOf(Array[Byte](0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte)) == "windows-1252")
    // ...while their legal neighbors pass
    def cp(c: Int) = new String(Character.toChars(c)).getBytes("UTF-8")
    assert(charsetOf(cp(0x800)) == "utf-8")    // E0 A0 80
    assert(charsetOf(cp(0xd7ff)) == "utf-8")   // ED 9F BF
    assert(charsetOf(cp(0x10000)) == "utf-8")  // F0 90 80 80
    assert(charsetOf(cp(0x10ffff)) == "utf-8") // F4 8F BF BF
    assert(decodeDetected(null) == ("utf-8", ""))
    // windows-1252 never throws: every byte maps
    assert(decodeDetected((0 to 255).map(_.toByte).toArray)._2.length == 256)
    assert(charsetOf(Array.emptyByteArray) == "utf-8")
  }

  test("charset sniffing r17: BOM-less UTF-16 heuristic + HTML meta charset prescan") {
    import graft.text.TextAnalysis.{charsetOf, decodeDetected, metaCharsetHint}
    val long = "plain ascii body long enough for the heuristic window"
    // BOM-less UTF-16 routes on the alternating-NUL parity and
    // decodes with the DETECTED endianness (Java's bare UTF-16 would
    // default BOM-less input to BE and shred the LE body)
    assert(charsetOf(long.getBytes("UTF-16LE")) == "utf-16le")
    assert(decodeDetected(long.getBytes("UTF-16LE")) == ("utf-16le", long))
    assert(charsetOf(long.getBytes("UTF-16BE")) == "utf-16be")
    assert(decodeDetected(long.getBytes("UTF-16BE")) == ("utf-16be", long))
    // 8-bit text carries no NULs: the heuristic cannot misfire there
    assert(charsetOf(("x" * 100).getBytes("UTF-8")) == "utf-8")
    // under the 16-byte abstain floor the heuristic stays out (the
    // r16 short-LE behavior is unchanged)
    assert(charsetOf("café".getBytes("UTF-16LE")) == "windows-1252")
    // meta hint: a latin-1 label over VALID UTF-8 bytes wins — the
    // browser rule, and the case only the meta hint routes right
    assert(charsetOf("<meta charset=\"iso-8859-1\">café".getBytes("UTF-8"))
      == "windows-1252")
    // the legacy http-equiv spelling, single quotes, case folding
    assert(charsetOf(("<META HTTP-EQUIV='Content-Type' " +
      "CONTENT='text/html; charset=ISO-8859-1'>body").getBytes("UTF-8"))
      == "windows-1252")
    // a meta claiming utf-16 reads as utf-8 (WHATWG: the prescan only
    // succeeded because the bytes were ASCII-compatible)
    assert(charsetOf("<meta charset=utf-16>abc".getBytes("UTF-8")) == "utf-8")
    // UNKNOWN labels fall through to the byte sniff, loudly visible
    // in the returned charset
    assert(metaCharsetHint("<meta charset=klingon>x".getBytes("UTF-8")).isEmpty)
    assert(charsetOf("<meta charset=klingon>café".getBytes("ISO-8859-1"))
      == "windows-1252")
    assert(charsetOf("<meta charset=klingon>café".getBytes("UTF-8")) == "utf-8")
    // a BOM still wins over a contradicting meta
    assert(charsetOf(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "<meta charset=iso-8859-1>x".getBytes("UTF-8")) == "utf-8")
    // the prescan reads only the first 1KB (the browser budget)
    assert(charsetOf((("x" * 1100) + "<meta charset=iso-8859-1>")
      .getBytes("UTF-8")) == "utf-8")
    // WHATWG whitespace around '=' (tab/LF count, not just space)
    assert(metaCharsetHint("<meta charset =\n'iso-8859-1'>x".getBytes("UTF-8"))
      .contains("windows-1252"))
    // a first non-declaration 'charset' substring (data-charset) must
    // not mask a later real declaration in the same tag
    assert(metaCharsetHint(
      "<meta data-charset=\"x\" charset=\"iso-8859-1\">".getBytes("UTF-8"))
      .contains("windows-1252"))
  }

  test("robots.txt: group selection, longest-match, wildcards, anchors, Allow ties (r16)") {
    import graft.text.Robots
    val txt =
      """# politeness config
        |User-agent: *
        |Disallow: /private/
        |Allow: /private/ok/
        |Disallow: /*.pdf$
        |Crawl-delay: 10
        |
        |User-agent: graftbot
        |User-agent: graftbot-image
        |Disallow: /bot-trap/
        |Disallow:
        |""".stripMargin
    val star = Robots.parse(txt, "somecrawler/1.0")
    assert(star.map(r => (r.allow, r.pattern)) == Seq(
      (false, "/private/"), (true, "/private/ok/"), (false, "/*.pdf$")))
    // named group via case-insensitive PREFIX of the product token;
    // never merged with '*' (so /private/ is allowed for the bot)
    val bot = Robots.parse(txt, "GraftBot-News/2.1")
    assert(bot.map(_.pattern) == Seq("/bot-trap/"))
    assert(Robots.allowed("/private/page1", bot))
    // longest-match + Allow override + no-match default
    assert(!Robots.allowed("/private/page1", star))
    assert(Robots.allowed("/private/ok/page1", star))
    assert(Robots.allowed("/anything/else", star))
    // wildcard + $ anchor: .pdf only at the end
    assert(!Robots.allowed("/docs/file3.pdf", star))
    assert(Robots.allowed("/docs/file3.pdfx", star))
    assert(Robots.allowed("/docs/pdf/page", star))
    // '/a/' (3 octets) vs '/a/*' (4): the longer Allow wins
    val longer = Robots.parse("User-agent: *\nDisallow: /a/\nAllow: /a/*\n", "x")
    assert(Robots.allowed("/a/p", longer))
    // exact tie between Allow and Disallow: Allow wins
    assert(Robots.allowed("/a/", Seq(Robots.Rule(false, "/a/"), Robots.Rule(true, "/a/"))))
    // empty body / no groups: everything allowed
    assert(Robots.allowed("/x", Robots.parse("", "anybot")))
    // the two-agent longest-prefix rule: the MORE specific token wins
    val multi = Robots.parse(
      "User-agent: graft\nDisallow: /g/\nUser-agent: graftbot\nDisallow: /gb/\n",
      "graftbot-news")
    assert(multi.map(_.pattern) == Seq("/gb/"))
    // RFC 9309 §2.2.4: a non-group line (Sitemap) between consecutive
    // User-agent lines must NOT split the group
    val split = Robots.parse(
      "User-agent: a\nSitemap: https://x/s.xml\nUser-agent: b\nDisallow: /x\n", "a")
    assert(split.map(_.pattern) == Seq("/x"))
    // a malformed EMPTY agent token must not shadow the '*' fallback
    val emptyUa = Robots.parse(
      "User-agent:\nDisallow: /secret/\n\nUser-agent: *\nDisallow: /\n", "anybot")
    assert(!Robots.allowed("/anything", emptyUa))
    // hostile wildcard pattern: the LINEAR matcher answers instantly
    // where a backtracking regex would take exponential time
    val hostile = Robots.parse(
      "User-agent: *\nDisallow: /*a*a*a*a*a*a*a*a*a*a*a*a*a*a*a\n", "x")
    val t0 = System.nanoTime()
    // 10 a's < 15 segments: no match -> allowed; 2000 a's: match
    assert(Robots.allowed("/" + ("a" * 10) + "b", hostile))
    assert(!Robots.allowed("/" + ("a" * 2000) + "b", hostile))
    assert((System.nanoTime() - t0) < 1e9, "matcher must be linear")
    // anchored no-wildcard pattern matches the exact path only
    val exact = Robots.parse("User-agent: *\nDisallow: /x$\n", "x")
    assert(!Robots.allowed("/x", exact) && Robots.allowed("/xy", exact))
    // the distributed gate API: same verdicts, as a DataFrame column
    val urls = Seq((1L, "/public/x"), (2L, "/private/x"), (3L, "/private/ok/x"))
      .toDF("doc_id", "path")
    val gated = Robots.filterAllowed(spark, urls, "doc_id", "path", txt, "somecrawler")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gated == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("per-host robots gate: executor-side parse, body-keyed cache, null-path safety (r17)") {
    import graft.text.Robots
    val frontier = Seq(
      (1L, "a.example", "/private/x"),
      (2L, "a.example", "/public/x"),
      (3L, "b.example", "/private/x"),   // b's body allows /private/
      (4L, "nohost.example", "/private/x"), // no robots row: allowed
      (5L, "a.example", null),           // null path must not NPE
      (6L, "dup.example", "/old/x"))     // host with TWO robots rows
      .toDF("doc_id", "host", "path")
    val robots = Seq(
      ("a.example", "User-agent: *\nDisallow: /private/\n"),
      ("b.example", "User-agent: *\nDisallow: /secret/\n"),
      // duplicate host: each row's verdict must come from ITS body
      // (the cache is keyed on the body, not the host)
      ("dup.example", "User-agent: *\nDisallow: /old/\n"),
      ("dup.example", "User-agent: *\nDisallow: /new/\n"))
      .toDF("host", "robots_txt")
    val out = Robots.filterAllowedByHost(frontier, "doc_id", "host", "path",
      robots, "host", "robots_txt", Seq("anybot" -> "ok"))
      .collect().map(r => (r.getLong(0), Option(r.getString(2)), r.getBoolean(3)))
    val byId = out.groupBy(_._1)
    assert(byId(1L).map(_._3).toSeq == Seq(false))
    assert(byId(2L).map(_._3).toSeq == Seq(true))
    assert(byId(3L).map(_._3).toSeq == Seq(true))
    assert(byId(4L).map(_._3).toSeq == Seq(true))
    assert(byId(5L).map(_._3).toSeq == Seq(true) && byId(5L).head._2.isEmpty)
    // the duplicate-host join fans id 6 to two rows: /old/x is
    // disallowed under the first body, allowed under the second —
    // BOTH verdicts present means no cross-body cache bleed
    assert(byId(6L).map(_._3).sorted.toSeq == Seq(false, true))
  }

  test("compression quality signal: deflate/inflate round trip, ratio separates prose from loops (r16)") {
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog while counting stars"),
      (2L, "spam " * 200),
      (3L, "")).toDF("doc_id", "text")
    val packed = TextAnalysis.deflateCorpus(spark, docs, "doc_id", "text")
    val rows = TextAnalysis.inflateStats(spark, packed).collect()
    val stats = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        r.getString(3))).toMap
    // an empty doc round-trips but carries NO ratio (null, not inf)
    assert(stats(3L)._1 == 0L && stats(3L)._3.isNaN)
    // round trip: md5 of the inflated text equals md5 of the source
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(stats(1L)._4 == md5("the quick brown fox jumps over the lazy dog while counting stars"))
    assert(stats(2L)._4 == md5("spam " * 200))
    // the drop signal: looped text compresses an order of magnitude
    // below prose
    assert(stats(2L)._3 < 0.1 && stats(1L)._3 > 0.5, stats.toString)
    assert(stats(1L)._1 == 64L)
    // torn payloads are loud, not silent short reads
    val torn = packed.limit(1).collect()(0).getAs[Array[Byte]]("payload").dropRight(4)
    intercept[Exception] {
      TextAnalysis.inflateStats(spark,
        Seq((9L, torn)).toDF("doc_id", "payload")).collect()
    }
  }
}

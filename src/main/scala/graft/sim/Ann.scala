package graft.sim

import graft.dedup.Vectors
import graft.index.{ArtifactKind, IndexArtifacts, PackedCodec}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Num

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine against a broadcast query set — exact,
  * and at 100 TB still the right shape when the query set is small (the
  * corpus streams once, queries live in memory; no corpus shuffle).
  *
  * Scale path: sign-random-projection LSH — each vector hashes to a
  * small bucket id computed per-row from md5-derived hyperplanes
  * (deterministic, no fitted model to ship); neighbor search then only
  * scans the query's bucket. Hyperplane components are pseudo-random
  * uniforms in [-0.5, 0.5) derived from md5("h:<plane>:<dim>"), so the
  * DuckDB oracle regenerates the identical planes.
  */
object Ann {

  /** Hard cap on the query-frame rows any ANN entry point will collect
    * or broadcast. The ANN contract is MLlib-shaped — a bounded query
    * set against an unbounded corpus — and this makes the contract
    * LOUD: an unbounded query frame fails with a clear message instead
    * of a silent driver/executor OOM. 100k queries × 1 KB vector ≈
    * 100 MB broadcast, the sane ceiling for a 4 GB driver. */
  val MaxQueryRows = 100000

  /** Enforce [[MaxQueryRows]] cheaply: a frame whose optimized plan
    * is statically bounded under the cap (the one-row `knnSearch`
    * literal) launches no job; otherwise `limit(cap+1).count()` stops
    * scanning as soon as cap+1 rows exist — it never counts an
    * unbounded frame. */
  private def requireBoundedQueries(queries: DataFrame, op: String): Unit = {
    val n = queries.queryExecution.optimizedPlan.maxRows
      .filter(_ <= MaxQueryRows)
      .getOrElse(queries.limit(MaxQueryRows + 1).count())
    require(n <= MaxQueryRows,
      s"$op: query frame exceeds the $MaxQueryRows-row broadcast cap " +
        "(ANN queries are collected/broadcast to every task; split the " +
        "query set into batches, or swap corpus and queries if the " +
        "'queries' side is actually the big one)")
  }

  /** Exact top-k neighbors for each query vector (cosine), via
    * crossJoin(broadcast(queries)) + per-query window top-k. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    requireBoundedQueries(queries, "bruteForceTopK")
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(
        col("query_id"), col("id"),
        Num.round(Vectors.cosine(col("v"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** Deterministic hyperplane: component d is a uniform in [-0.5, 0.5)
    * from the first 8 hex chars of md5("h:<table>:<plane>:<d>") —
    * computed driver-side (bit-identical to the engine-side md5 the
    * DuckDB oracle uses) and shipped as ONE array literal per plane.
    * An unrolled 64-term expression per plane blew the whole-stage
    * codegen budget (40s+ of janino on a 2048-node tree); an array
    * literal + HOF dot keeps the plan tiny. */
  private def planeVec(t: Int, p: Int, dim: Int): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val hex = digest.digest(s"h:$t:$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
  }

  /** Sign-random-projection bucket id (one hash table): bit p =
    * (v . plane_p) >= 0. Narrow per-row math, no shuffle. Each dot
    * runs the compiled DotProductSim kernel — `planes` kernel calls
    * per row, not `planes` interpreted aggregate() folds. */
  def srpBucket(vec: Column, dim: Int, table: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dotp = GraftBridge.column(graft.expr.DotProductSim(
        GraftBridge.expression(vec),
        GraftBridge.expression(lit(planeVec(table, p, dim)))))
      when(dotp >= 0, lit(1L << (planes - 1 - p))).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic seed quantizer: the LOWEST `n` corpus ids as
    * centroids, whatever the id space (an `id < n` predicate yields
    * zero centroids on offset/sparse id spaces). Shared by the
    * fit-per-query IVF form and the write-side artifact build, so both
    * quantizers are identical by construction. */
  def seedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame =
    corpus.select(
      col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id").asc).limit(n)
      .select(col("id").as("cent_id"), col("v").as("cv"))

  /** Lloyd k-means fit for the IVF coarse quantizer — the list-balance
    * path the seed-centroid variant trades away. Deterministic init
    * (first k vectors by id); each iteration is one broadcast-assign
    * pass + one per-dimension mean (posexplode + groupBy — partial
    * aggregation, k*dim tiny result). Only the k*dim centroid model
    * ever reaches the driver, exactly like an MLlib fit. Returns a
    * (cent_id, cv) frame for `ivfTopK`. */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // persist for the fit's duration: the loop below runs one action
    // per Lloyd iteration plus the seed collect — without the cache
    // that is (iters + 1) full corpus scans (checkpoint instead at
    // real cluster scale, where the projected frame outgrows storage)
    val c = corpus.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var cents: Seq[(Long, Seq[Double])] = c.orderBy(col("id")).limit(k)
      .as[(Long, Seq[Double])].collect().toSeq
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      val centsDf = cents.toDF("cent_id", "cv")
      // argmax as max_by partial agg (v rides along in the struct;
      // it is constant per id) — same no-N-x-C-shuffle shape as
      // assignToCentroids
      val assigned = c.crossJoin(broadcast(centsDf))
        .select(col("id"), col("cent_id"), col("v"),
          // ROUNDED like ivfTopK's probe ranking: a near-tied
          // vector must land in the same list at fit time and at
          // query time, or the fitted means describe a different
          // membership than the one probed
          Num.round(Vectors.cosine(col("v"), col("cv")), 4).as("ccos"))
        .groupBy(col("id"))
        .agg(max_by(struct(col("cent_id"), col("v")),
          struct(col("ccos"), negate(col("cent_id")))).as("w"))
        .select(col("id"), col("w.cent_id").as("cent_id"), col("w.v").as("v"))
      val means = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .as[(Long, Int, Double)].collect()
      val byCent = means.groupBy(_._1).map { case (cid, xs) =>
        cid -> xs.sortBy(_._2).map(_._3).toSeq
      }
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, old) => (cid, byCent.getOrElse(cid, old)) }
    }
    cents.toDF("cent_id", "cv")
    } finally c.unpersist()
  }

  /** The IVF list assignment: argmax cosine (cent_id tie-break) as a
    * max_by PARTIAL aggregation — the exchange carries ~N pre-combined
    * rows instead of the N x |centroids| cross frame a row_number
    * window would hash-shuffle; the corpus-side pass is the 100 TB
    * cost, which is exactly why the write path persists its output
    * (`graft.index.ArtifactKind.Ivf`) instead of re-running it
    * per query. */
  def assignToCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame): DataFrame =
    corpus.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("cent_id"),
        Num.round(Vectors.cosine(col("v"), col("cv")), 4).as("ccos"))
      .groupBy(col("id"))
      .agg(max_by(col("cent_id"), struct(col("ccos"), negate(col("cent_id")))).as("cent_id"))

  /** IVF-flat: queries probe only the `nprobe` lists whose centroid
    * is nearest (round-4 cosine, cent_id ascending on ties), and the
    * probed lists' vectors rank by exact cosine. `cents` is the
    * quantizer's (cent_id, cv) frame — `seedCentroids`, `kmeansCentroids`
    * or a persisted one — and `assign` the (id, cent_id) list
    * membership: the persisted assignments, whose cost was paid at
    * write time, or by default one narrow `assignToCentroids` pass over
    * the corpus against the broadcast centroids. At 100 TB the
    * assignment is the partitioning: each inverted list is a shuffle
    * partition and a probe touches nprobe/nCentroids of the corpus. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      nprobe: Int,
      k: Int,
      assign: Option[DataFrame] = None): DataFrame = {
    requireBoundedQueries(queries, "ivfTopK")
    val members = assign.getOrElse(assignToCentroids(corpus, idCol, vecCol, cents))
    val c = corpus.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cent_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id"),
        Num.round(Vectors.cosine(col("qv"), col("cv")), 4).as("qcos"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    probes.join(members, "cent_id")
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
      .join(c, "id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("id"),
        Num.round(Vectors.cosine(col("v"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** IVF over the PERSISTED vector index (`graft.index.vectors`): a
    * fresh artifact supplies the quantizer centroids AND the per-doc
    * list assignments, so query-time cost is the probe+rank only — the
    * fit and assignment were paid once at write time and amortize
    * across queries like ES's HNSW graph build. A stale or missing
    * artifact falls back to the fit-per-query seed form with
    * `nCentroids` centroids (the quantizer the default artifact build
    * uses, so both regimes return identical rows). */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      nprobe: Int,
      k: Int,
      fmt: String = "parquet"): DataFrame = {
    val corpus = IndexArtifacts.read(spark, indexPath, fmt)
    IndexArtifacts.load(spark, ArtifactKind.Ivf, indexPath, vecCol, Some(idCol)) match {
      case Some(a) =>
        ivfTopK(corpus, queries, idCol, vecCol, a.state.cents, nprobe, k,
          Some(a.table("assignments")))
      case None =>
        ivfTopK(corpus, queries, idCol, vecCol,
          seedCentroids(corpus, idCol, vecCol, nCentroids), nprobe, k)
    }
  }

  /** One bucket key per hash table, table-index-prefixed. Multiple
    * small tables (OR-amplification) instead of one wide bucket: a
    * single 16-bit bucket over random-ish vectors is so selective that
    * candidate sets come back empty; 4x8-bit tables trade precision for
    * recall the standard LSH way. */
  def tableBuckets(vec: Column, dim: Int, tables: Int = 4, planes: Int = 8): Column =
    array((0 until tables).map { t =>
      concat_ws("|", lit(t.toString), srpBucket(vec, dim, t, planes).cast("string"))
    }: _*)

  /** LSH-bucketed ANN: candidates = ids sharing ANY table bucket with
    * the query (deduped), then exact cosine + per-query top-k on the
    * candidate set only. Recall < 1 by construction (that's the
    * approximation); the oracle replicates the same buckets, so results
    * are still deterministic. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int): DataFrame = {
    requireBoundedQueries(queries, "lshTopK")
    // LOUD dim contract: a dim smaller than the real vector length
    // would die with an opaque AIOOBE deep inside the compiled dot
    // kernel (the hyperplane literal has only `dim` elements); larger
    // silently hashes on truncated planes. One tiny probe row checks
    // it at the API boundary.
    // probe on a NON-NULL vector (a null first row made size() null
    // and getInt threw an opaque NPE — the exact opaque failure this
    // loud contract exists to avoid), and guard the null slot anyway
    // in case every query vector is null
    queries.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("_d")).limit(1).collect()
      .headOption.filterNot(_.isNullAt(0)).foreach { r =>
        require(r.getInt(0) == dim,
          s"lshTopK: dim=$dim but vectors have ${r.getInt(0)} elements")
      }
    val c = corpus.select(
      col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val cb = c.select(col("id"), explode(tableBuckets(col("v"), dim)).as("bucket"))
    val qb = q.select(col("query_id"), explode(tableBuckets(col("qv"), dim)).as("bucket"))
    val candidates = cb.join(broadcast(qb), "bucket")
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    candidates
      .join(c, "id")
      .join(broadcast(q), "query_id")
      .select(
        col("query_id"), col("id"),
        Num.round(Vectors.cosine(col("v"), col("qv")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  // ---- graph ANN (the HNSW family) ----

  /** Normalize to unit length (cosine becomes dot product). */
  private def unitVec(v: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Best-first beam search over an adjacency list: returns up to `ef`
    * (nodeIdx, sim) pairs, highest-sim first. Deterministic: every
    * heap orders (sim, then node index) so ties never depend on
    * insertion order. */
  private def beamSearch(
      q: Array[Double], vecs: scala.collection.IndexedSeq[Array[Double]],
      nbrs: scala.collection.IndexedSeq[scala.collection.Seq[Int]],
      entry: Int, ef: Int): Array[(Int, Double)] = {
    val simOrd = Ordering.by[(Int, Double), (Double, Int)] { case (i, s) => (s, -i) }
    val visited = new java.util.HashSet[Integer]()
    // candidates: best first; results: worst first (bounded at ef)
    val cand = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](simOrd)
    val res = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](simOrd.reverse)
    val eSim = dot(q, vecs(entry))
    visited.add(entry); cand.enqueue((entry, eSim)); res.enqueue((entry, eSim))
    while (cand.nonEmpty) {
      val (c, cSim) = cand.dequeue()
      if (res.size >= ef && cSim < res.head._2) {
        cand.clear() // nothing closer can be reached
      } else {
        for (nb <- nbrs(c) if !visited.contains(nb)) {
          visited.add(nb)
          val s = dot(q, vecs(nb))
          if (res.size < ef || s > res.head._2) {
            cand.enqueue((nb, s))
            res.enqueue((nb, s))
            if (res.size > ef) res.dequeue()
          }
        }
      }
    }
    res.dequeueAll.reverse.toArray
  }

  /** HNSW-family graph ANN, Spark-shaped exactly as ES/Lucene shard it:
    * ONE small-world graph per PARTITION (ES builds one HNSW graph per
    * Lucene segment and merges per-segment top-k — the partition is
    * graft's segment), so build is map-only, queries broadcast, and
    * the merge is the standard per-query top-k. Per partition this
    * builds a single-layer NSW (the HNSW ground layer: insert via beam
    * search, connect to the `m` nearest, prune back-links at 2m); the
    * level hierarchy only pays off when one graph holds ~10^8+ nodes,
    * which partition sizing (`maxPartitionBytes`) prevents by
    * construction.
    *
    * Scale shape at 100 TB: corpus streams once through mapPartitions
    * (graph lives only within a task), the exchange carries
    * |queries|·ef candidate rows per partition, and the final top-k is
    * a window over per-query candidates. No corpus shuffle, no model
    * fit. Recall is probed, not assumed: `hnswRecallProbe` asserts
    * recall@k against the brute-force oracle in-plan. */
  def hnswTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      efConstruction: Int = 64,
      ef: Int = 48): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireBoundedQueries(queries, "hnswTopK")
    val qs = queries
      .where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .map { case (qid, v) => (qid, unitVec(v)) }
    require(qs.nonEmpty, "hnswTopK needs at least one query vector")
    val qb = spark.sparkContext.broadcast(qs)
    val searchEf = math.max(ef, k + 1) // +1 absorbs the self-hit
    val hits = corpus
      // null embeddings are tolerated DATA in every other ANN path
      // (null-safe kernels -> null cosine); the graph path must skip
      // them rather than NPE inside a task
      .where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (ids, vecs, nbrs) = buildNsw(it, m, efConstruction)
        if (ids.isEmpty) Iterator.empty
        else qb.value.iterator.flatMap { case (qid, qv) =>
          beamSearch(qv, vecs, nbrs, 0, searchEf).iterator.collect {
            case (idx, sim) if ids(idx) != qid => (qid, ids(idx), sim)
          }
        }
      }
      .toDF("query_id", "id", "_rawCosine")
    rankHnswHits(hits, k)
  }

  /** The NSW ground-layer build: insert via beam search, connect to
    * the `m` nearest, prune back-links at 2m — shared by the
    * per-query hnswTopK and the write-side persisted build. */
  private def buildNsw(
      it: Iterator[(Long, Array[Double])],
      m: Int,
      efConstruction: Int): (
      scala.collection.mutable.ArrayBuffer[Long],
      scala.collection.mutable.ArrayBuffer[Array[Double]],
      scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]]) = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val nbrs = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Int]]
    val mMax = 2 * m
    for ((id, raw) <- it) {
      val v = unitVec(raw)
      val i = ids.length
      ids += id; vecs += v
      if (i == 0) nbrs += scala.collection.mutable.ArrayBuffer.empty[Int]
      else {
        val found = beamSearch(v, vecs, nbrs, 0, efConstruction)
        val links = found.take(m).map(_._1)
        nbrs += scala.collection.mutable.ArrayBuffer(links: _*)
        for (nb <- links) {
          nbrs(nb) += i
          if (nbrs(nb).length > mMax) {
            val pruned = nbrs(nb)
              .map(x => (x, dot(vecs(nb), vecs(x))))
              .sortBy { case (x, s) => (-s, x) }
              .take(mMax).map(_._1)
            nbrs(nb) = scala.collection.mutable.ArrayBuffer(pruned.toSeq: _*)
          }
        }
      }
    }
    (ids, vecs, nbrs)
  }

  private def rankHnswHits(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    hits
      // round BEFORE ranking — bruteForceTopK ranks on the 4-decimal
      // cosine, so near-tied neighbors must tie here too or the id
      // tie-break diverges between the exact and graph paths
      .withColumn("cosine", Num.round(col("_rawCosine"), 4))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("id"), col("cosine"), col("rank"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** The per-partition NSW graphs of a corpus as (graph_id, idx, id,
    * vec, neighbors) rows — the table `graft.index.ArtifactKind.Hnsw`
    * persists, the write-side twin of hnswTopK's in-task build. One
    * corpus pass; vectors are stored UNIT-normalized (what beam search
    * dots against). */
  def nswGraphs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      efConstruction: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val part = org.apache.spark.TaskContext.getPartitionId()
        val (ids, vecs, nbrs) = buildNsw(it, m, efConstruction)
        ids.indices.iterator.map { i =>
          (part, i, ids(i), vecs(i), nbrs(i).toArray)
        }
      }
      .toDF("graph_id", "idx", "id", "vec", "neighbors")
  }

  /** Query the PERSISTED graphs: each stored graph reloads inside one
    * task (repartition on graph_id; several graphs per task group by
    * key) and is beam-searched for every query — query-time cost is
    * independent of build cost, and results are stable across runs
    * because the layout is frozen in the artifact. Stale or missing
    * artifacts fall back to the build-per-query hnswTopK. */
  def hnswTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      ef: Int = 48,
      fmt: String = "parquet"): DataFrame = {
    import spark.implicits._
    requireBoundedQueries(queries, "hnswTopKIndexed")
    val art = IndexArtifacts.load(spark, ArtifactKind.Hnsw, indexPath, vecCol, Some(idCol))
    if (art.isEmpty)
      return hnswTopK(IndexArtifacts.read(spark, indexPath, fmt), queries, idCol, vecCol, k)
    val qs = queries
      .where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .map { case (qid, v) => (qid, unitVec(v)) }
    require(qs.nonEmpty, "hnswTopKIndexed needs at least one query vector")
    val qb = spark.sparkContext.broadcast(qs)
    val searchEf = math.max(ef, k + 1)
    // no exchange-side sort: the per-graph rebuild below sorts by idx
    // in memory anyway, so a sortWithinPartitions here would be pure
    // wasted shuffle work
    val hits = art.get.table("graph")
      .repartition(col("graph_id"))
      .as[(Int, Int, Long, Array[Double], Array[Int])]
      .mapPartitions { rows =>
        // a task may hold several stored graphs after the hash
        // repartition — group consecutive rows by graph_id
        val grouped = rows.toSeq.groupBy(_._1).valuesIterator
        grouped.flatMap { g =>
          val sorted = g.sortBy(_._2)
          val ids = sorted.map(_._3).toArray
          val vecs = scala.collection.mutable.ArrayBuffer(sorted.map(_._4): _*)
          val nbrs = scala.collection.mutable.ArrayBuffer(
            sorted.map(r => scala.collection.mutable.ArrayBuffer(r._5.toSeq: _*)): _*)
          qb.value.iterator.flatMap { case (qid, qv) =>
            beamSearch(qv, vecs, nbrs, 0, searchEf).iterator.collect {
              case (idx, sim) if ids(idx) != qid => (qid, ids(idx), sim)
            }
          }
        }
      }
      .toDF("query_id", "id", "_rawCosine")
    rankHnswHits(hits, k)
  }

  /** `_explain` for a knn hit: the similarity breakdown (dot product,
    * both norms, cosine) for one (query vector, document) pair — the
    * knn counterpart of Search.explainScore/explainFunctionScore. One
    * pushed-id scan, components inlined as array-of-struct. */
  def explainKnn(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      docId: Long): DataFrame = {
    val qv = array(queryVec.map(lit): _*)
    val v = col(vecCol).cast("array<double>")
    val d = Vectors.dot(v, qv)
    val nv = Vectors.norm(v)
    val nq = math.sqrt(queryVec.map(x => x * x).sum)
    corpus.where(col(idCol) === docId)
      .select(inline(array(
        struct(lit("dot").as("component"), Num.round(d, 4).as("value")),
        struct(lit("norm_doc").as("component"), Num.round(nv, 4).as("value")),
        struct(lit("norm_query").as("component"),
          Num.round(lit(nq), 4).as("value")),
        struct(lit("cosine").as("component"),
          Num.round(d / (nv * lit(nq)), 4).as("value")))))
      .orderBy(col("component"))
  }

  /** Recall probe for the graph index: recall@k of hnswTopK against
    * bruteForceTopK, one boolean row per query — the oracle-stable
    * assertion shape (graph layout is build-order-dependent, id sets
    * above the recall floor are what's guaranteed). */
  def hnswRecallProbe(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minRecall: Double): DataFrame = {
    val approx = hnswTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("id"))
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("id"))
    // Left join (not left_semi) so a query whose approx set shares ZERO
    // ids with the exact top-k still yields a row, with recall_ok=false,
    // instead of being silently absent from the probe output.
    exact.join(approx.withColumn("hit", lit(1)), Seq("query_id", "id"), "left")
      .groupBy(col("query_id"))
      // denominator = the EXACT set's size for this query, not the
      // constant k: a corpus smaller than k+1 caps the exact set at
      // corpus-1 rows (self excluded), and dividing by k would flunk
      // a perfect retrieval
      .agg((count(col("hit")).cast("double") /
        count(lit(1)).cast("double") >= minRecall).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** ES 8.17 `rank_vectors` / maxSimDotProduct: late-interaction
    * (ColBERT-style) scoring. A query is SEVERAL vectors (per-token
    * embeddings); a doc is SEVERAL vectors; the score sums, over
    * query vectors, the best dot product against any of the doc's
    * vectors. Input is the exploded storage shape — one row per
    * (doc, vector) — which is also the 100 TB shape: per-row compiled
    * dot kernels (narrow), then ONE partial-aggregating groupBy per
    * doc carrying |queryVecs| running maxima; the exchange moves a
    * handful of doubles per doc, never vectors. */
  def maxSimTopK(
      docVectors: DataFrame,
      idCol: String,
      vecCol: String,
      queryVecs: Seq[Seq[Double]],
      k: Int): DataFrame = {
    require(queryVecs.nonEmpty, "maxSimTopK needs at least one query vector")
    val dots = queryVecs.zipWithIndex.map { case (q, i) =>
      GraftBridge.column(graft.expr.DotProductSim(
        GraftBridge.expression(col(vecCol)),
        GraftBridge.expression(array(q.map(lit): _*)))).as(s"_d$i")
    }
    val maxes = queryVecs.indices.map(i => max(col(s"_d$i")).as(s"_m$i"))
    docVectors
      .select(col(idCol).as("id") +: dots: _*)
      .groupBy(col("id"))
      .agg(maxes.head, maxes.tail: _*)
      .select(col("id"),
        Num.round(queryVecs.indices.map(i => col(s"_m$i")).reduce(_ + _), 4)
          .as("maxsim"))
      .orderBy(col("maxsim").desc, col("id").asc)
      .limit(k)
  }

  /** The ES 8 `knn` search surface:
    * `{"knn": {"field": f, "query_vector": [...], "k": n,
    *   "num_candidates": m, "filter": {<query-dsl>}}}`.
    * The filter is a PRE-filter (restricts the searched corpus, like
    * ES), compiled through the Query-DSL JSON compiler so it pushes
    * down to the scan. `num_candidates` selects the execution path,
    * mirroring ES's accuracy/cost knob: >= corpus budget -> exact
    * brute force (broadcast query, one corpus stream); below it ->
    * IVF probing bounded by ~num_candidates scanned vectors per
    * query. Output: (id, cosine, rank) for the single query vector. */
  def knnSearch(
      corpus: DataFrame,
      idCol: String,
      knnJson: String,
      idField: String = "_id"): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(knnJson) match {
      case JObject(JField("knn", JObject(parts)) :: Nil) => parts.toMap
      case JObject(parts) => parts.toMap // bare body accepted too
      case other => throw new IllegalArgumentException(s"bad knn query: $other")
    }
    // unknown knn options must not be silently ignored (a dropped
    // `similarity` would return hits the caller asked to cut)
    val unknownK = root.keySet -- Set("field", "query_vector", "k",
      "num_candidates", "filter", "similarity", "boost", "window")
    require(unknownK.isEmpty,
      s"unsupported knn option(s): ${unknownK.toSeq.sorted.mkString(", ")}")
    val field = root.get("field") match {
      case Some(JString(f)) => f
      case _ => throw new IllegalArgumentException("knn needs field")
    }
    val qv = root.get("query_vector") match {
      case Some(JArray(xs)) => xs.map {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case JDecimal(d) => d.toDouble
        case other => throw new IllegalArgumentException(s"bad vector component: $other")
      }
      case _ => throw new IllegalArgumentException("knn needs query_vector")
    }
    // all numeric JSON shapes, like query_vector below — a client
    // serializing k as 2.0 must not silently fall back to the default
    val k = root.get("k").collect {
      case JInt(i) => i.toInt
      case JDouble(d) => d.toInt
      case JDecimal(d) => d.toInt
    }.getOrElse(10)
    val filtered = root.get("filter") match {
      case Some(f) => corpus.where(graft.dsl.QueryDslJson.compile(
        JsonMethods.compact(JsonMethods.render(f)), idField))
      case None => corpus
    }
    // `"window": "auto"` — the Scala API's rule-sized auto
    // window, reachable through the JSON front door (body knn, dsl
    // knn-in-bool, retriever knn legs all land here). GRAFT-SPECIFIC
    // EXTENSION: the upstream knn DSL defines only num_candidates and
    // rejects unknown options, so a body using "window" is not
    // portable back to the reference engine — it is loud, opt-in, and
    // triggers an eager corpus count at query-parse time (documented
    // trade: one narrow count buys the recall rail). Auto sizes the
    // approximate budget off that count (opt-in cost, exactly like
    // oversample = 0): num_candidates = max(16k, ceil(n/16)) —
    // the 16-list stage must see at least 1/nLists of the corpus as
    // candidates or a probed list cannot cover the query's true
    // neighborhood, and the 16k floor keeps the derived nprobe at or
    // above the sqrt(nLists) spread floor (the nprobe rail: a
    // balanced quantizer spreads the neighborhood across ~sqrt(nLists)
    // lists); past the exhaustive threshold this escalates to the
    // exact path — the rail against the silent recall cliff.
    // Anything but the literal "auto" is loud, and combining it with
    // an explicit num_candidates is contradictory (also loud).
    val windowAuto = root.get("window") match {
      case None => false
      case Some(JString("auto")) => true
      case Some(other) => throw new IllegalArgumentException(
        s"bad knn window: ${JsonMethods.compact(JsonMethods.render(other))} " +
          "(\"auto\" is the only accepted value; use num_candidates for an explicit budget)")
    }
    require(!(windowAuto && root.contains("num_candidates")),
      "knn \"window\": \"auto\" and an explicit num_candidates are contradictory")
    val numCandidates =
      if (windowAuto) {
        val n = filtered.where(col(field).isNotNull).count()
        // 16k = 4·k·nprobeSpreadFloor(16): auto must clear the nprobe
        // spread rail, not just the mass rule
        math.min(math.max(16L * k, (n + 15) / 16), Int.MaxValue.toLong).toInt
      } else root.get("num_candidates").collect {
        case JInt(i) => i.toInt
        case JDouble(d) => d.toInt
        case JDecimal(d) => d.toInt
      }.getOrElse(10 * k)
    // the query vector as a 1-row frame with an id no corpus doc has,
    // so the tested brute/IVF paths apply unchanged
    val spark = corpus.sparkSession
    val queries = spark.range(1).select(
      lit(-1L).as(idCol),
      array(qv.map(lit): _*).as(field))
    lastNprobeWarning = None // exact path probes nothing to warn about
    val result =
      // ES semantics: num_candidates bounds the per-shard approximate
      // stage; at or beyond this budget the search is effectively
      // exhaustive, so route to the exact single-stream path
      if (numCandidates >= 100000)
        bruteForceTopK(filtered, queries, idCol, field, k)
      else {
        // approximate stage: 16-list IVF; num_candidates maps to the
        // probe count (more candidates = more lists scanned). Seed
        // centroids are the first 16 vectors of the FILTERED corpus
        // (an `id < n` seeding could come up empty after a selective
        // pre-filter — e.g. a label predicate that excludes every low
        // id).
        val nprobe = math.max(1, math.min(16, numCandidates / math.max(1, 4 * k)))
        // the nprobe rail on the body leg: num_candidates is the
        // caller's explicit cost knob (never resized — ES semantics),
        // but an under-spread derived probe count is the measured
        // silent-recall regime, so it warns (auto mode's 16k floor
        // keeps this silent by construction)
        lastNprobeWarning = nprobeSpreadWarning(nprobe, 16).map(w =>
          s"knn num_candidates=$numCandidates maps to $w")
        lastNprobeWarning.foreach(w => Console.err.println(s"WARN graft.sim.Ann: $w"))
        val cents = filtered
          .select(col(idCol).as("cent_src_id"),
            col(field).cast("array<double>").as("cv"))
          .orderBy(col("cent_src_id")).limit(16)
          .select(col("cent_src_id").as("cent_id"), col("cv"))
        ivfTopK(filtered, queries, idCol, field, cents, nprobe = nprobe, k = k)
      }
    // ES 8.8 `similarity`: a minimum-cosine cutoff applied to the
    // top-k window (never a corpus-wide score — the window is already
    // k rows, so the cutoff costs nothing)
    val cut = root.get("similarity").collect {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
    }
    val out = result.select(col("id"), col("cosine"), col("rank"))
    cut.fold(out)(s => out.where(col("cosine") >= s))
  }

  /** Multiple `knn` clauses in one search (ES 8.12 accepts a LIST):
    * each clause retrieves its own top-`kc` window and a doc's final
    * score SUMS the clause similarities it appears in (ES's combined
    * knn scoring). Per-clause windows are TakeOrderedAndProject over
    * one corpus stream each; the merge touches only window rows. */
  def knnMultiTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      clauses: Seq[(Seq[Double], Int)], // (query_vector, k_per_clause)
      k: Int): DataFrame = {
    require(clauses.nonEmpty, "multi-knn needs at least one clause")
    val windows = clauses.map { case (qv, kc) =>
      val q = array(qv.map(lit): _*)
      corpus.select(col(idCol).as("id"),
        GraftBridge.column(graft.expr.CosineSim(
          GraftBridge.expression(col(vecCol)),
          GraftBridge.expression(q))).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(kc)
    }
    windows.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(
        graft.util.Num.round(sum(col("cosine")), 4).as("score"),
        count(lit(1)).cast("int").as("matched_clauses"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Quantized-storage knn with an exact rescore — ES knn
    * `rescore_vector.oversample` over `int8_hnsw` / `int4_hnsw` / BBQ
    * storage (the `PackedCodec` table). The codec's lossy score ranks
    * a COARSE top-(k·oversample) window off the packed frame alone;
    * only that window's raw vectors are then read, via a broadcast
    * semi-join, for the exact cosine, and the true top-k survives. At
    * 100 TB the corpus-wide pass reads packed bytes (4x / 8x / 32x
    * fewer than float32), never the float column. Output: (id, cosine,
    * <codec.scoreName>), both scores rounded to 4 places.
    *
    * This on-the-fly form packs in-plan; `packedTopKIndexed` reads the
    * frame the write path persisted. Both rank the same packed rows,
    * so they are answer-equal by construction and share one oracle
    * SQL. The scalar codecs' packed scores equal the dequantized
    * cosine of the raw vector exactly (spec-pinned), which is what
    * lets the DuckDB oracle replay the dequant math, not the bytes. */
  def packedTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codec: PackedCodec,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int): DataFrame = {
    val live = corpus.where(col(vecCol).isNotNull)
    packedRescore(live, idCol, vecCol, codec.pack(live, idCol, vecCol, queryVec.size),
      codec, queryVec, k, oversample)
  }

  /** `packedTopK` over the PERSISTED pack-once artifact
    * (`graft.index.<codec>`): the packing was paid at write time, and
    * the coarse pass reads only the packed table. None when the
    * artifact is missing or stale — callers fall back to the on-the-
    * fly form. */
  def packedTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      codec: PackedCodec,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int,
      fmt: String = "parquet"): Option[DataFrame] =
    IndexArtifacts.load(spark, ArtifactKind.Packed(codec), indexPath, vecCol, Some(idCol), fmt = fmt)
      .map(a => packedRescore(IndexArtifacts.liveVectors(spark, indexPath, vecCol, fmt),
        idCol, vecCol, a.table("packed"), codec, queryVec, k, oversample))

  private def packedRescore(
      live: DataFrame, idCol: String, vecCol: String, packed: DataFrame,
      codec: PackedCodec, queryVec: Seq[Double], k: Int, oversample: Int): DataFrame = {
    val score = codec.scoreName
    windowRescore(live, idCol, vecCol,
      packed.select(col("id"), codec.coarse(queryVec).as(score)), col(score).desc,
      k * oversample, queryVec, k)((coarse, cosine) =>
      Seq(coarse("id"), cosine, Num.round(coarse(score), 4).as(score)))
  }

  /** The coarse-window -> exact-rescore body every quantized top-k runs
    * (packed codecs, PQ, IVFADC): keep the `window` best rows of the
    * lossy-`scored` (id, score) frame by `coarseOrder` (id ascending on
    * ties), join only those ids back to the raw vectors — broadcast, so
    * O(window) float rows are read, never streamed — and keep the top-k
    * by exact cosine, id ascending on ties. `out` lays out the result
    * row from the coarse frame and the rounded `cosine` column. */
  private def windowRescore(
      live: DataFrame, idCol: String, vecCol: String,
      scored: DataFrame, coarseOrder: Column, window: Int,
      queryVec: Seq[Double], k: Int)(out: (DataFrame, Column) => Seq[Column]): DataFrame = {
    val coarse = scored.orderBy(coarseOrder, col("id").asc).limit(window)
    val exact = GraftBridge.column(graft.expr.CosineSim(
      GraftBridge.expression(col(vecCol)),
      GraftBridge.expression(array(queryVec.map(lit): _*))))
    // DATAFRAME-qualified join key: the unqualified col(idCol) is
    // ambiguous when the caller's id column is literally named "id"
    live.join(broadcast(coarse), live(idCol) === coarse("id"))
      .select(out(coarse, Num.round(exact, 4).as("cosine")): _*)
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Product quantization (IVFADC's PQ half, Jégou et al. 2011): the
    * vector column compresses to m CODE BYTES per doc (here 4 bytes vs
    * 512 for float64 — 128x), the corpus-wide coarse pass scores by
    * asymmetric distance (m lookups into a broadcast per-query LUT,
    * codes only — the float column is never read), and the raw
    * vectors rescore exactly for O(k·oversample) rows via a broadcast
    * semi-join. This is the remaining member of the quantized-storage
    * family (int8 4x / int4 8x / BBQ 32x / PQ dim-bound): the one
    * whose compression does NOT scale with per-dimension bit width.
    *
    * Codebooks are the DETERMINISTIC sample variant — subvectors of
    * the first `codebookSize` corpus vectors by id (the random-sample
    * baseline of the PQ literature, seeded by id order so the DuckDB
    * oracle can rebuild them verbatim). A k-means-refined codebook
    * drops into the same expressions; assignment/ADC math and plan
    * shape are identical, which is what the oracle pins.
    *
    * Determinism contract: per-subspace squared-L2 lands in 1e-6
    * fixed point before BOTH the assignment argmin (ties -> lowest
    * code) and the ADC sum, so engines agree bit-for-bit. */
  /** Train PQ codebooks with Lloyd's iterations per subspace over a
    * deterministic sample (first `sampleN` unit vectors by id —
    * sample-based training is the published PQ practice; codebooks
    * are k·m tiny centroids, so the fit is a driver-side loop over a
    * bounded sample, never a corpus job per iteration). Returns the
    * flat layout pqTopK consumes: codeword (s, c) at (s*k + c)*dsub.
    * Empty cells keep their previous centroid (k-means' standard
    * dead-cell rule). */
  def pqFitCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 5,
      sampleN: Int = 2048): Array[Double] = {
    val live = corpus.where(col(vecCol).isNotNull)
    val nrmE = sqrt(aggregate(col(vecCol).cast("array<double>"), lit(0.0), (a, x) => a + x * x))
    val sample = live
      .select(col(idCol).as("id"),
        when(nrmE === 0.0, col(vecCol).cast("array<double>"))
          .otherwise(transform(col(vecCol).cast("array<double>"), x => x / nrmE)).as("v"))
      .orderBy(col("id")).limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"sample ${sample.length} smaller than k=$k")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val dsub = dim / m
    val cb = new Array[Double](m * k * dsub)
    // init: first k sample subvectors (the untrained baseline)
    for (s <- 0 until m; c <- 0 until k; i <- 0 until dsub)
      cb((s * k + c) * dsub + i) = sample(c)(s * dsub + i)
    val counts = new Array[Int](k)
    val sums = new Array[Double](k * dsub)
    for (s <- 0 until m; _ <- 0 until iters) {
      java.util.Arrays.fill(counts, 0)
      java.util.Arrays.fill(sums, 0.0)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dsub) {
            val t = v(s * dsub + i) - cb((s * k + c) * dsub + i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dsub) { sums(best * dsub + i) += v(s * dsub + i); i += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until dsub)
        cb((s * k + c) * dsub + i) = sums(c * dsub + i) / counts(c)
    }
    cb
  }

  /** Distributed, unbiased Lloyd's fit for PQ codebooks — the scale
    * path `pqFitCodebooks` is the driver-capped oracle twin of.
    *
    * Two structural differences, both aimed at 100 TB:
    *  - the sample is HASH-ordered (`xxhash64(id)`, id tie-break): a
    *    seeded deterministic pseudo-random draw. Id-order sampling is
    *    biased whenever generation order correlates with content (it
    *    reads one contiguous region of the corpus); hash order touches
    *    every partition uniformly, and the top-N-by-hash is a partial
    *    per-partition top-N, never a full sort.
    *  - each Lloyd iteration is ONE Spark job over the cached sample:
    *    assignment via the compiled `PqEncode` kernel (the exact
    *    fixed-point argmin the artifact encoder uses), then a
    *    (subspace, code, dim-position) partial aggregation whose
    *    result is exactly codebook-sized (m*k*dsub rows). Only the
    *    k*m tiny centroid model ever reaches the driver — the
    *    `kmeansCentroids` IVF shape, so sampleN is bounded by cluster
    *    memory, not driver memory (the driver fit caps at ~2048).
    *
    * Per-cell means round to 1e-9 fixed point after each iteration so
    * run-to-run partial-agg ordering drift cannot leak into the
    * model; empty cells keep their previous centroid (the standard
    * dead-cell rule, same as the driver fit). */
  def pqFitCodebooksDist(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 5,
      sampleN: Int = 65536): Array[Double] = {
    val sample = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        pqNormalized(col(vecCol).cast("array<double>")).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = sample.orderBy(xxhash64(col("id")), col("id")).limit(k)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      require(seed.length >= k, s"sample ${seed.length} smaller than k=$k")
      val dim = seed.head.length
      require(dim % m == 0, s"dim $dim does not split into $m subspaces")
      val dsub = dim / m
      val cb = new Array[Double](m * k * dsub)
      for (s <- 0 until m; c <- 0 until k; i <- 0 until dsub)
        cb((s * k + c) * dsub + i) = seed(c)(s * dsub + i)
      for (_ <- 1 to iters) {
        val codes = GraftBridge.column(graft.expr.BytesToInts(
          graft.expr.PqEncode(
            GraftBridge.expression(col("v")), cb.toSeq, m, k)))
        // per-element 1e-9 fixed point BEFORE the sum: long addition
        // is order-independent, so the fit cannot drift with shuffle
        // merge order (a double sum's error bound is the same order
        // as a rounding boundary — bit-reproducibility needs ints)
        val stats = sample
          .select(codes.as("codes"), posexplode(col("v")).as(Seq("pos", "x")))
          .select(
            (col("pos") / dsub).cast("int").as("s"),
            (col("pos") % dsub).as("i"),
            element_at(col("codes"), (col("pos") / dsub).cast("int") + 1).as("c"),
            floor(col("x") * 1e9 + 0.5).cast("long").as("xq"))
          .groupBy(col("s"), col("c"), col("i"))
          .agg(sum(col("xq")).as("sx"), count(lit(1)).as("n"))
          .collect()
        stats.foreach { r =>
          val s = r.getInt(0); val c = r.getInt(1); val i = r.getInt(2)
          val mean = r.getLong(3).toDouble / r.getLong(4) / 1e9
          cb((s * k + c) * dsub + i) = math.floor(mean * 1e9 + 0.5) / 1e9
        }
      }
      cb
    } finally { sample.unpersist(); () }
  }

  /** Unit-normalize an array<double> column (left-fold norm so the
    * oracle mirrors it exactly); zero vectors stay zero, never NaN. */
  private def pqNormalized(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nrm = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    when(nrm === 0.0, v).otherwise(transform(v, x => x / nrm))
  }

  /** The deterministic sample codebook: subvectors of the first k
    * unit-normalized corpus vectors by id, flat layout (s*k + c)*dsub. */
  def pqSampleCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String, m: Int, k: Int): Array[Double] = {
    val sample = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        pqNormalized(col(vecCol).cast("array<double>")).as("v"))
      .orderBy(col("id")).limit(k)
      .collect()
    require(sample.length == k,
      s"corpus has only ${sample.length} vectors, need $k for the codebook")
    val dim = sample.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val dsub = dim / m
    val cb = new Array[Double](m * k * dsub)
    for (s <- 0 until m; c <- 0 until k; i <- 0 until dsub)
      cb((s * k + c) * dsub + i) = sample(c).getSeq[Double](1)(s * dsub + i)
    cb
  }

  /** Encode a corpus into (id, pq codes) under a given codebook —
    * the frame the pack-once artifact persists. */
  def pqEncodeFrame(
      corpus: DataFrame, idCol: String, vecCol: String,
      cb: Array[Double], m: Int, k: Int): DataFrame = {
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        GraftBridge.column(graft.expr.PqEncode(
          GraftBridge.expression(pqNormalized(col(vecCol).cast("array<double>"))),
          cb.toSeq, m, k)).as("pq"))
  }

  /** The per-query ADC lookup table in 1e-6 fixed point, from a
    * codebook and the (normalized-here) query. */
  private def pqLut(
      queryVec: Seq[Double], cb: Array[Double], m: Int, k: Int): Array[Long] = {
    val dsub = queryVec.length / m
    val qn = {
      var n2 = 0.0
      queryVec.foreach(x => n2 += x * x)
      val nrm = math.sqrt(n2)
      if (nrm == 0.0) queryVec else queryVec.map(_ / nrm)
    }
    val lut = new Array[Long](m * k)
    for (s <- 0 until m; c <- 0 until k) {
      var d = 0.0
      for (i <- 0 until dsub) {
        val t = qn(s * dsub + i) - cb((s * k + c) * dsub + i)
        d += t * t
      }
      lut(s * k + c) = math.floor(d * 1e6 + 0.5).toLong
    }
    lut
  }

  /** Last PQ sizing warning emitted (spec hook; also logged to
    * stderr). None after a call whose window cleared the rule. */
  @volatile var lastPqSizingWarning: Option[String] = None

  /** Last nprobe-rail warning emitted (spec hook; also logged to
    * stderr). None after a call whose probe set cleared both rails
    * (probed mass and the sqrt(nLists) spread floor). */
  @volatile var lastNprobeWarning: Option[String] = None

  /** The probe count the last IVFADC call actually ran with (spec
    * hook — what the auto rail resolved, or the explicit value). */
  @volatile var lastNprobeResolved: Option[Int] = None

  /** The PQ window sizing rule, as an API-level guard: the coarse ADC
    * window (k·oversample) must cover at least 1/(m·k) of the corpus.
    * The measured recall cliff — 4x16 codes at 50k vectors / window
    * 400 read 1-2/10 recall while 8x64 at the same window read 10/10 —
    * sits exactly on this line: 50k/400 = 125 is over 4·16 = 64 and
    * under 8·64 = 512. Returns the warning text
    * when the window is under-sized for the corpus at this
    * resolution; raising oversample OR m·k clears it. */
  def pqSizingWarning(
      corpusOverThreshold: Boolean, n: String,
      k: Int, oversample: Long, m: Int, codebookSize: Int): Option[String] =
    if (corpusOverThreshold)
      Some(s"PQ coarse window ${k.toLong * oversample} (k=$k x oversample=$oversample) " +
        s"covers under 1/(m*k) = 1/${m * codebookSize} of the $n corpus at " +
        s"m=$m k=$codebookSize — the measured regime where recall collapses to 1-2/10 " +
        "(50k vectors, window 400, 4x16 codes). Raise oversample toward " +
        "corpus/window <= m*k, or raise the m x k resolution.")
    else None

  /** Coarse window k·oversample as the Int `limit` needs, computed in
    * Long: at auto-rule scales k·os overflows Int and `limit` would
    * see a negative/garbage size. Caps at Int.MaxValue with a warning
    * when the cap binds — note the cap SHRINKS the window below the
    * requested/rule size, which at that scale lowers recall below the
    * sizing rule's prescription; the stderr warning is the signal to
    * switch to the exact path (a rule-sized window past 2^31
    * candidates is an exhaustive search wearing a window's clothes). */
  private def coarseWindow(k: Int, oversample: Long): Int = {
    val w = k.toLong * oversample
    if (w > Int.MaxValue) {
      Console.err.println(s"WARN graft.sim.Ann: coarse window k*oversample = $w " +
        s"exceeds Int.MaxValue; capping at ${Int.MaxValue}")
      Int.MaxValue
    } else w.toInt
  }

  /** k·os·m·ck for the bounded-count guard, with SATURATION at
    * Int.MaxValue-1 (the largest limit()-able threshold): Long
    * products of rule-sized windows overflow, and a wrapped threshold
    * would silence the guard exactly where it matters. */
  private def sizingThreshold(k: Int, oversample: Long, m: Int, ck: Int): Long = {
    val cap = Int.MaxValue - 1L
    Seq(oversample, m.toLong, ck.toLong).foldLeft(math.min(k.toLong, cap)) {
      (acc, f) => if (f != 0L && acc > cap / f) cap else math.min(acc * f, cap)
    }
  }

  /** The window rule on an EXACTLY-KNOWN candidate mass — the SINGLE
    * rule site: the frame form below delegates here, and the IVFADC
    * body calls it directly because the per-list size
    * aggregation already gives them the probed mass exactly (no
    * second candidate scan). Auto (oversample = 0) sizes window =
    * mass/(m·ck) — the measured prescription, floor 4; explicit
    * windows publish `lastPqSizingWarning` when the rule flags them. */
  private def resolveWindowFromMass(
      mass: Long, k: Int, oversample: Int,
      m: Int, ck: Int, corpusLabel: String): Long = {
    require(oversample >= 0, s"bad oversample $oversample (0 = auto rule-sized)")
    if (oversample == 0) {
      lastPqSizingWarning = None
      math.max(4L, mass / (m.toLong * ck * k) + 1)
    } else {
      val os = oversample.toLong
      val threshold = sizingThreshold(k, os, m, ck)
      lastPqSizingWarning = pqSizingWarning(
        mass > threshold, corpusLabel, k, os, m, ck)
      lastPqSizingWarning.foreach(w => Console.err.println(s"WARN graft.sim.Ann: $w"))
      os
    }
  }

  /** The window rule + sizing guard of the PQ entry points (pqTopK /
    * pqTopKIndexed); the rule itself lives in `resolveWindowFromMass`,
    * which the IVFADC body calls too, so a rule change cannot reopen a
    * guard hole by missing one copy. This form prices a candidate FRAME
    * (live vectors or stored codes). Auto (oversample = 0) pays one
    * full count of it; explicit windows pay only the bounded
    * limit(threshold+1) scan that decides over/under. */
  private def resolveWindow(
      candidates: DataFrame, k: Int, oversample: Int,
      m: Int, ck: Int, corpusLabel: String): Long = {
    require(oversample >= 0, s"bad oversample $oversample (0 = auto rule-sized)")
    if (oversample == 0)
      resolveWindowFromMass(candidates.count(), k, 0, m, ck, corpusLabel)
    else {
      val threshold = sizingThreshold(k, oversample.toLong, m, ck)
      val over = candidates.limit((threshold + 1).toInt).count() > threshold
      // the bounded scan yields a boolean, not a count: feed the rule
      // core a mass just over/at the threshold, which decides the
      // warning (mass > threshold) the same way
      resolveWindowFromMass(if (over) threshold + 1 else threshold,
        k, oversample, m, ck, s">$threshold-$corpusLabel")
    }
  }

  /** The sqrt(nLists) probe-spread floor, shared by the IVFADC rail
    * and the JSON knn leg so the two warnings can't drift: a TRAINED
    * (balanced) coarse quantizer spreads the true neighborhood across
    * several lists — measured on the 500k structured corpus,
    * kmeans coarse read 0/10 recall at nprobe 1-2 and 10/10 at 4 of
    * 16, where any probed-MASS rule alone would admit nprobe 1 (each
    * balanced list already carries 1/16 of the corpus). ceil(sqrt(n))
    * is the published balanced-IVF starting point (the FAISS guidance
    * for nlist/nprobe tuning). */
  private def nprobeSpreadFloor(nLists: Int): Int =
    math.ceil(math.sqrt(nLists.toDouble)).toInt

  private def nprobeSpreadWarning(nprobe: Int, nLists: Int): Option[String] = {
    val floor = nprobeSpreadFloor(nLists)
    if (nprobe < floor)
      Some(s"nprobe=$nprobe is under ceil(sqrt($nLists)) = $floor — a balanced " +
        "(trained) coarse quantizer spreads the true neighborhood across ~sqrt(nLists) " +
        "lists (measured: kmeans coarse read 0/10 recall at nprobe 1-2 and 10/10 at " +
        "4 of 16 on the 500k structured corpus). Raise nprobe, or pass nprobe = 0 " +
        "(auto rule-sized).")
    else None
  }

  /** The nprobe rail — the same silent-recall-cliff guard the
    * window rule is, one knob over, run by the IVFADC body.
    * `listSizes` is the per-list assignment mass (ONE
    * narrow partial aggregation — nLists rows reach the driver);
    * `probeOrder` is ALL cent_ids in probe order (query cosine desc,
    * cent_id asc).
    *
    * nprobe = 0 (AUTO): probe lists in cosine order until cumulative
    * probed mass crosses the threshold the window rule prices —
    * sizingThreshold(k·os·m·ck) when the window is explicit (give the
    * window the candidate pool it is sized for), the corpus/(m·ck)
    * rule floor when the window is auto (auto window sizes OFF probed
    * mass, so the corpus-level floor is the non-circular anchor) —
    * then floor at ceil(sqrt(nLists)) for the measured spread cliff.
    *
    * Explicit nprobe: never resized (the caller chose the cost), but
    * `lastNprobeWarning` publishes when probed mass is under
    * corpus/(m·ck) or nprobe is under the spread floor. */
  private def resolveNprobe(
      listSizes: Map[Long, Long], probeOrder: Seq[Long],
      nprobe: Int, k: Int, oversample: Int, m: Int, ck: Int): Int = {
    val nLists = probeOrder.length
    val total = probeOrder.iterator.map(listSizes.getOrElse(_, 0L)).sum
    val floorMass = total / (m.toLong * ck) + 1
    val spreadFloor = nprobeSpreadFloor(nLists)
    if (nprobe == 0) {
      lastNprobeWarning = None
      val need = math.min(total,
        if (oversample > 0) sizingThreshold(k, oversample.toLong, m, ck)
        else floorMass)
      var cum = 0L; var p = 0
      while (p < nLists && cum < need) {
        cum += listSizes.getOrElse(probeOrder(p), 0L); p += 1
      }
      val resolved = math.min(nLists, math.max(math.max(p, 1), spreadFloor))
      lastNprobeResolved = Some(resolved)
      resolved
    } else {
      lastNprobeResolved = Some(nprobe)
      val mass = probeOrder.iterator.take(nprobe).map(listSizes.getOrElse(_, 0L)).sum
      lastNprobeWarning =
        if (mass < floorMass)
          Some(s"IVFADC probed mass $mass (nprobe=$nprobe of $nLists lists) covers " +
            s"under 1/(m*ck) = 1/${m * ck} of the $total-row corpus — the window " +
            "rule's collapse regime, reached through the probe set instead of the " +
            "window. Raise nprobe, or pass nprobe = 0 (auto rule-sized).")
        else nprobeSpreadWarning(nprobe, nLists)
      lastNprobeWarning.foreach(w => Console.err.println(s"WARN graft.sim.Ann: $w"))
      nprobe
    }
  }

  def pqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      codebooks: Option[Array[Double]] = None): DataFrame = {
    require(queryVec.nonEmpty && queryVec.length % m == 0,
      s"query dim ${queryVec.length} does not split into $m subspaces")
    // window rule + guard (shared resolveWindow): auto pays one full
    // count, explicit windows pay only a bounded limit(threshold+1)
    // scan — strictly less work than the coarse pass's full corpus
    // encode that follows, so the guard is always a small fraction of
    // the query it protects.
    val os: Long = resolveWindow(
      corpus.where(col(vecCol).isNotNull), k, oversample, m, codebookSize, "vector")
    val dsub = queryVec.length / m
    // codebooks: caller-trained (pqFitCodebooks), or the deterministic
    // sample baseline — first codebookSize unit vectors by id, sliced
    val cb = codebooks.getOrElse(
      pqSampleCodebooks(corpus, idCol, vecCol, m, codebookSize))
    require(cb.length == m * codebookSize * dsub,
      s"codebook ${cb.length} != $m x $codebookSize x $dsub")
    // the stored artifact shape: (id, m code bytes) over unit vectors
    pqRescore(corpus.where(col(vecCol).isNotNull), idCol, vecCol,
      pqEncodeFrame(corpus, idCol, vecCol, cb, m, codebookSize),
      queryVec, cb, m, codebookSize, coarseWindow(k, os), k)
  }

  /** ADC-rank a (id, pq) codes frame under the per-query LUT — L2,
    * so the SMALLEST distance wins the `window` — then rescore the
    * window exactly. Output: (id, adc, cosine). Shared by the on-the-
    * fly and persisted PQ and IVFADC paths. */
  private def pqRescore(
      live: DataFrame, idCol: String, vecCol: String, codes: DataFrame,
      queryVec: Seq[Double], cb: Array[Double], m: Int, ck: Int,
      window: Int, k: Int): DataFrame = {
    val adc = GraftBridge.column(graft.expr.PqAdc(
      GraftBridge.expression(col("pq")), pqLut(queryVec, cb, m, ck).toSeq, ck))
    windowRescore(live, idCol, vecCol, codes.select(col("id"), adc.as("adc")),
      col("adc").asc, window, queryVec, k)((coarse, cosine) =>
      Seq(coarse("id"), coarse("adc"), cosine))
  }

  /** PQ over the PERSISTED pack-once artifact (graft.index.pq): the
    * coarse ADC pass reads the (id, codes) table — m bytes per doc vs
    * dim·8 for the float column — with the LUT built from the STORED
    * (frozen) codebook; only the oversampled window's raw vectors
    * load for the exact rescore. Answer-equal to pqTopK while the
    * artifact's sample-codebook id set is unchanged (the artifact
    * freezes its quantizer exactly like an ES segment). None when
    * missing or stale — callers fall back to the on-the-fly form. */
  def pqTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int,
      fmt: String = "parquet"): Option[DataFrame] =
    IndexArtifacts.load(spark, ArtifactKind.Pq, indexPath, vecCol, Some(idCol)).map { a =>
      val (p, codes) = (a.state.p, a.table("codes"))
      // window rule + guard off the stored codes count — the
      // persisted form is the one that meets real corpus sizes
      val os: Long = resolveWindow(codes, k, oversample, p.m, p.k, "vector")
      pqRescore(IndexArtifacts.liveVectors(spark, indexPath, vecCol, fmt), idCol, vecCol,
        codes, queryVec, a.state.cb, p.m, p.k, coarseWindow(k, os), k)
    }

  /** Per-row coarse-list assignment as ONE declarative expression
    * over the DRIVER-side centroids (they are already collected for
    * probe ranking — nCentroids is tiny by contract): the same
    * round-4 cosine argmax with lowest-cent_id tie-break as
    * `assignToCentroids`, with NO crossJoin/groupBy exchange and
    * nothing to persist or release — the map-only form the probed-
    * member filter wants (no per-query persisted assignment frame,
    * so no cache handle to leak). */
  private def assignedCentCol(
      vec: Column, cents: Array[(Long, Array[Double])]): Column = {
    val scored = cents.map { case (cid, cv) =>
      struct(
        Num.round(Vectors.cosine(vec, array(cv.toSeq.map(lit): _*)), 4).as("c"),
        lit(-cid).as("n"))
    }
    -array_max(array(scored.toSeq: _*)).getField("n")
  }

  /** Query-to-centroid probe ranking on the driver: ALL cent_ids in
    * probe order (round-4 cosine desc, cent_id asc) — `take(nprobe)`
    * of this is the probe set, and the full order feeds the auto-
    * nprobe mass walk. */
  private def probeOrderOf(
      cents: Array[(Long, Array[Double])], queryVec: Seq[Double]): Seq[Long] = {
    val qNorm = math.sqrt(queryVec.foldLeft(0.0)((a, x) => a + x * x))
    cents.map { case (cid, cv) =>
      var dot = 0.0; var n2 = 0.0
      var i = 0
      while (i < cv.length) { dot += queryVec(i) * cv(i); n2 += cv(i) * cv(i); i += 1 }
      val cos = if (qNorm == 0.0 || n2 == 0.0) 0.0
        else graft.util.Num.roundDouble(dot / (qNorm * math.sqrt(n2)), 4)
      (cid, cos)
    }.sortBy { case (cid, cos) => (-cos, cid) }.map(_._1).toSeq
  }

  /** IVFADC proper (Jégou et al. 2011, the FAISS default at scale):
    * the IVF coarse quantizer routes the query to its nprobe nearest
    * centroid lists, the ADC pass scores ONLY those lists' PQ codes
    * (m bytes per candidate, never the float column), and the raw
    * vectors rescore the oversampled window exactly. Per-query cost is
    * nprobe/nCentroids of the corpus in m-byte codes plus
    * O(k·oversample) float rows — the published 100 TB search shape.
    * IVF assignment/probing reuse the seed-centroid + round-4 cosine
    * contract of ivfTopK; the ADC math is pqTopK's 1e-6 fixed point —
    * both already oracle-mirrored, so the composition is too.
    * nprobe = 0 resolves by the auto rule (`resolveNprobe`);
    * an explicit nprobe publishes `lastNprobeWarning` when the rail
    * flags it. This form fits the quantizers per query; the list sizes
    * come from a map-only assignment expression, and only the probed
    * lists are PQ-encoded. */
  def ivfAdcTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int,
      nCentroids: Int = 16,
      nprobe: Int = 4,
      m: Int = 4,
      codebookSize: Int = 16,
      codebooks: Option[Array[Double]] = None,
      coarseCents: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 0 && nprobe <= nCentroids,
      s"nprobe $nprobe of $nCentroids (0 = auto rule-sized)")
    require(oversample >= 0, s"bad oversample $oversample (0 = auto rule-sized)")
    // coarse quantizer: caller-trained (kmeansCentroids — the
    // balanced-list production fit) or the deterministic seed default
    val cents = collectCents(
      coarseCents.getOrElse(seedCentroids(corpus, idCol, vecCol, nCentroids)))
    require(cents.length == nCentroids,
      s"corpus has only ${cents.length} centroids, need $nCentroids")
    val live = corpus.where(col(vecCol).isNotNull)
    val member = assignedCentCol(col(vecCol).cast("array<double>"), cents)
    ivfAdc(live, idCol, vecCol, queryVec, k, oversample, nprobe, m, codebookSize, cents,
      live.select(member.as("cent_id")),
      // caller-trained (pqFitCodebooks / pqFitCodebooksDist), or the
      // deterministic sample baseline the oracle replays
      codebooks.getOrElse(pqSampleCodebooks(corpus, idCol, vecCol, m, codebookSize)),
      // membership is a map-side FILTER (the assignment expression
      // against the probed id set), so only nprobe/nCentroids of the
      // corpus is ever PQ-encoded, never the whole corpus
      (probed, cb) => pqEncodeFrame(live.where(member.isin(probed: _*)),
        idCol, vecCol, cb, m, codebookSize))
  }

  /** IVFADC over the PERSISTED artifacts — the production shape: the
    * query pays NOTHING for quantizers or assignments (both were paid
    * at write time via `graft.index.vectors` + `graft.index.pq`); it
    * reads nprobe/nCentroids of the stored assignment rows, semi-joins
    * the stored m-byte codes, ADC-ranks, and rescores O(k·oversample)
    * raw rows. The on-the-fly `ivfAdcTopK` re-derives both per query,
    * and the fit dominates its cost, which is why IVFADC is an INDEX
    * structure. Requires both artifacts fresh, else None. Probe
    * selection mirrors ivfTopK's round-4 cosine contract, so results
    * are answer-equal to the on-the-fly form while the seed-id sets
    * are unchanged. */
  def ivfAdcTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      k: Int,
      oversample: Int,
      nprobe: Int,
      fmt: String = "parquet"): Option[DataFrame] =
    for {
      ivf <- IndexArtifacts.load(spark, ArtifactKind.Ivf, indexPath, vecCol, Some(idCol))
      pq <- IndexArtifacts.load(spark, ArtifactKind.Pq, indexPath, vecCol, Some(idCol))
    } yield {
      val cents = collectCents(ivf.state.cents)
      require(nprobe >= 0 && nprobe <= cents.length,
        s"nprobe $nprobe of ${cents.length} stored centroids (0 = auto rule-sized)")
      val assignments = ivf.table("assignments")
      ivfAdc(IndexArtifacts.liveVectors(spark, indexPath, vecCol, fmt), idCol, vecCol,
        queryVec, k, oversample, nprobe, pq.state.p.m, pq.state.p.k, cents,
        assignments.select(col("cent_id")), pq.state.cb,
        (probed, _) => pq.table("codes").join(
          assignments.where(col("cent_id").isin(probed: _*)).select(col("id")),
          Seq("id"), "left_semi"))
    }

  /** A (cent_id, cv) quantizer on the driver: nCentroids is tiny by
    * contract. */
  private def collectCents(cents: DataFrame): Array[(Long, Array[Double])] =
    cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The one IVFADC body: probe order off the driver-side centroids,
    * the per-list mass of `lists` (one `cent_id` row per covered doc —
    * one narrow partial aggregation, nLists rows to the driver), the
    * nprobe rail and the window rule on those exact masses (no second
    * candidate scan), then the ADC rank of the probed lists' codes
    * under the codebook `cb` (evaluated once, after the rails) and the
    * exact rescore of the window. `probedCodes(probed, cb)` is the
    * (id, pq) frame of the docs in the `probed` lists. */
  private def ivfAdc(
      live: DataFrame, idCol: String, vecCol: String, queryVec: Seq[Double],
      k: Int, oversample: Int, nprobe: Int, m: Int, ck: Int,
      cents: Array[(Long, Array[Double])], lists: DataFrame, cb: => Array[Double],
      probedCodes: (Seq[Long], Array[Double]) => DataFrame): DataFrame = {
    val probeOrder = probeOrderOf(cents, queryVec)
    val sizes = lists.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the nprobe rail — auto (0) walks probed mass to the window
    // rule's threshold with the sqrt(nLists) spread floor; explicit
    // nprobe warns when under-massed/under-spread
    val np = resolveNprobe(sizes, probeOrder, nprobe, k, oversample, m, ck)
    val probed = probeOrder.take(np)
    val probedMass = probed.iterator.map(sizes.getOrElse(_, 0L)).sum
    // window rule + guard: the candidate corpus is the PROBED lists'
    // rows, whose mass the size aggregation gives exactly
    val os: Long = resolveWindowFromMass(
      probedMass, k, oversample, m, ck, s"$probedMass-candidate probed")
    val book = cb
    require(book.length == m * ck * (queryVec.length / m),
      s"codebook ${book.length} != $m x $ck x ${queryVec.length / m}")
    pqRescore(live, idCol, vecCol, probedCodes(probed, book),
      queryVec, book, m, ck, coarseWindow(k, os), k)
  }
}

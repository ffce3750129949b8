package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.analysis.Analyzer
import graft.util.Num

/** X-Pack `_graph/explore` analog: seeded term co-occurrence expansion
  * over an analyzed text field.
  *
  * ES's graph API walks the term-document graph: a hop takes the
  * current vertex terms, finds the documents containing them (the
  * foreground sample), and promotes the most SIGNIFICANT co-occurring
  * terms (the same uplift math as `significant_terms` — ES documents
  * graph vertex relevance as reusing that heuristic) as the next hop's
  * vertices, bounded per hop like ES's `vertices.size`.
  *
  * Spark shape: ONE tokenize pass builds the (doc_id, term) edge frame,
  * persisted and reused by every hop; each hop is a semi-join +
  * partial-agg groupBy (distributed), and only the per-hop top-N vertex
  * list (bounded by `verticesPerHop`) reaches the driver — the same
  * coordinator-sized state ES's graph service keeps between hops. At
  * 100 TB the per-hop cost is one broadcast-semi-join scan of the edge
  * frame; nothing quadratic, nothing driver-unbounded. */
object GraphExplore {

  /** Vertex expansion: returns (term, hop, fg_count, bg_count, score),
    * hop 0 = seeds (score 1.0), ordered (hop, score desc, term). */
  def explore(
      docs: DataFrame,
      idCol: String,
      textField: String,
      seeds: Seq[String],
      hops: Int = 2,
      verticesPerHop: Int = 5,
      minDocCount: Long = 3): DataFrame = {
    require(seeds.nonEmpty, "graph explore needs at least one seed term")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(Analyzer.termSet(col(textField))).as("term"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bg = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("bg_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bgTotal = docs.count().toDouble
      // seed vertices: doc counts from the background frame, score 1.0
      val seedRows = bg.where(col("term").isin(seeds: _*))
        .as[(String, Long)].collect()
        .map { case (t, c) => (t, 0, c, c, 1.0) }
      var vertices = seedRows.toVector
      var known = seeds.toSet
      var frontier = seeds
      for (hop <- 1 to hops if frontier.nonEmpty) {
        val fgDocs = toks.where(col("term").isin(frontier: _*))
          .select(col("doc_id")).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        val fgTotal = fgDocs.count().toDouble
        val next = toks.join(fgDocs, Seq("doc_id"))
          .where(!col("term").isin(known.toSeq: _*))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("fg_count"))
          .where(col("fg_count") >= minDocCount)
          .join(bg, Seq("term"))
          .select(col("term"), col("fg_count"), col("bg_count"),
            Num.round((col("fg_count") / fgTotal) *
              log((col("fg_count") / fgTotal) / (col("bg_count") / bgTotal)),
              6).as("score"))
          .orderBy(col("score").desc, col("term").asc)
          .limit(verticesPerHop)
          .as[(String, Long, Long, Double)].collect()
        fgDocs.unpersist()
        vertices ++= next.map { case (t, f, b, s) => (t, hop, f, b, s) }
        known ++= next.map(_._1)
        frontier = next.map(_._1).toSeq
      }
      bg.unpersist()
      vertices.toSeq
        .toDF("term", "hop", "fg_count", "bg_count", "score")
        .orderBy(col("hop").asc, col("score").desc, col("term").asc)
    } finally toks.unpersist()
  }

  /** Connection expansion: doc co-occurrence counts between every pair
    * of explored vertex terms (source < target), the `connections`
    * half of the ES response. The vertex set is hop-bounded small, so
    * the pair join is doc-key-local over a term-filtered edge frame. */
  def connections(
      docs: DataFrame,
      idCol: String,
      textField: String,
      vertexTerms: Seq[String],
      minDocCount: Long = 3): DataFrame = {
    // persist the term-FILTERED edge frame (vertex set is hop-bounded
    // small, so this is tiny): both sides of the pair self-join read
    // the cached frame, so the corpus tokenize pass runs ONCE instead
    // of once per join side. The result is |vertexTerms|^2-bounded
    // (same bound explore relies on for its per-hop collects), so it
    // materializes eagerly here and the cache is RELEASED before
    // returning — library callers no longer leak executor storage
    // per call. Callers who already hold an edge frame should use
    // connectionsFromEdges and manage its lifetime themselves.
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(Analyzer.termSet(col(textField))).as("term"))
      .where(col("term").isin(vertexTerms: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = pairJoin(toks, minDocCount)
        .as[(String, String, Long)].collect()
      rows.toSeq.toDF("source", "target", "doc_count")
        .orderBy(col("doc_count").desc, col("source").asc, col("target").asc)
    } finally toks.unpersist()
  }

  /** `connections` over a pre-built (doc_id, term) edge frame — the
    * call path a caller running explore THEN connections should use,
    * so one tokenize pass (persisted by the caller) serves both
    * halves of the graph response. */
  def connectionsFromEdges(
      edges: DataFrame,
      vertexTerms: Seq[String],
      minDocCount: Long = 3): DataFrame =
    pairJoin(edges.where(col("term").isin(vertexTerms: _*)), minDocCount)

  /** The doc-key-local pair self-join over an ALREADY term-filtered
    * edge frame (both legs read the same — usually persisted —
    * frame, so the tokenize pass is never repeated). */
  private def pairJoin(toks: DataFrame, minDocCount: Long): DataFrame =
    toks.select(col("doc_id"), col("term").as("source"))
      .join(toks.select(col("doc_id"), col("term").as("target")), Seq("doc_id"))
      .where(col("source") < col("target"))
      .groupBy(col("source"), col("target"))
      .agg(count(lit(1)).as("doc_count"))
      .where(col("doc_count") >= minDocCount)
      .orderBy(col("doc_count").desc, col("source").asc, col("target").asc)
}

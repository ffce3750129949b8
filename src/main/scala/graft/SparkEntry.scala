package graft

import graft.search.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The driver contract: `entry` (flagship smoke query), `queries` (one
  * per SURVEY §2 operator) and `oracleSql` (the DuckDB equivalent the
  * correctness gate compares against). The registrations live in the
  * Entries* files, one per §2 section (split in r11); this object is
  * the stable facade Verify/Bench/the driver call.
  */
object SparkEntry {

  /** Flagship: BM25 relevance top-10 (the ES `_score` path) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Search.bm25TopK(
      Tables.documents(spark, "/root/testdata/sf0.001"),
      "doc_id", "text", "fast hash join", 10)

  // a key registered twice across Entries files would silently
  // overwrite under ++ (the r11 q_contamination bug class) — fail
  // loudly at first access instead
  private def merged[T](parts: Seq[Map[String, T]]): Map[String, T] = {
    val dups = parts.flatMap(_.keys).groupBy(identity)
      .collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate SparkEntry keys across Entries files: ${dups.mkString(", ")}")
    parts.reduce(_ ++ _)
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(Seq(
      EntriesDsl.queries, EntriesFulltext.queries, EntriesAggs.queries,
      EntriesRel.queries, EntriesWrite.queries, EntriesPipeline.queries,
      EntriesStream.queries, EntriesLate.queries, EntriesBody.queries))

  lazy val oracleSql: Map[String, String] =
    merged(Seq(
      EntriesDsl.oracleSql, EntriesFulltext.oracleSql, EntriesAggs.oracleSql,
      EntriesRel.oracleSql, EntriesWrite.oracleSql, EntriesPipeline.oracleSql,
      EntriesStream.oracleSql, EntriesLate.oracleSql, EntriesBody.oracleSql))
}

package graft

import graft.sources.Connector
import graft.sources.Connector.implicits._
import org.apache.spark.sql.functions._

/** PIT-pinned paging (r14, the r13 verdict's "snapshot-consistent
  * paging" gap): a paging session that plans every page against an
  * open PIT's file manifest cannot drift when the live index ingests
  * or swaps mid-pagination. The first test also DOCUMENTS the drift
  * un-pinned paging suffers — each page re-planning against the live
  * directory picks up rows appended behind the cursor. */
class PagingPitSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gp"

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(specRoot, tag).toString + "/idx"

  test("pitScrollPages: page union is invariant across a mid-pagination APPEND; un-pinned paging drifts") {
    val dir = freshDir("graft_pitscroll")
    (1L to 40L).map(i => (i, i.toDouble)).toDF("id", "ts").write.parquet(dir)

    // ---- pinned session ----
    val pit = Connector.openPit(spark, dir)
    val pages = Connector.pitScrollPages(spark, dir, pit, "id", "ts", 10)
    val first = pages.next().map(_.getAs[Long]("id"))
    assert(first == (1L to 10L))
    // concurrent ingest lands NEW FILES with ts values right behind
    // the cursor — the worst case for an un-pinned cursor
    Seq((1001L, 10.5), (1002L, 11.5)).toDF("id", "ts")
      .write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val rest = pages.flatMap(_.map(_.getAs[Long]("id"))).toSeq
    // union of pages == exactly the snapshot at open time
    assert((first ++ rest).sorted == (1L to 40L))
    Connector.closePit(spark, dir, pit)

    // ---- the same flow WITHOUT the pin (each page re-plans against
    // the live directory, the pre-r14 q_search_after shape): the rows
    // appended mid-scroll surface in later pages — cursor drift ----
    def livePage(after: Option[(Double, Long)]): Seq[(Long, Double)] = {
      val base = spark.read.parquet(dir)
      val fl = after match {
        case None => base
        case Some((ts, id)) =>
          base.where(col("ts") > ts || (col("ts") === ts && col("id") > id))
      }
      fl.orderBy(col("ts").asc, col("id").asc).limit(10)
        .select("id", "ts").as[(Long, Double)].collect().toSeq
    }
    val p1 = livePage(None)
    Seq((2001L, 10.7)).toDF("id", "ts").write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val p2 = livePage(Some((p1.last._2, p1.last._1)))
    assert(p2.exists(_._1 == 2001L),
      "expected the un-pinned cursor to drift onto the appended row — " +
        "if this stops failing, the drift documentation is stale")
  }

  test("pitSlice: disjoint slices drained around a concurrent append union to the snapshot") {
    val dir = freshDir("graft_pitslice")
    (1L to 60L).map(i => (i, s"d$i")).toDF("id", "v").write.parquet(dir)
    val pit = Connector.openPit(spark, dir)
    val s0 = Connector.pitSlice(spark, dir, pit, "id", 0, 4).select("id").as[Long].collect()
    // ingest between slice drains — the parallel-export steady state
    (1001L to 1010L).map(i => (i, s"d$i")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    spark.catalog.refreshByPath(dir)
    val others = (1 to 3).flatMap(i =>
      Connector.pitSlice(spark, dir, pit, "id", i, 4).select("id").as[Long].collect())
    val all = s0 ++ others
    assert(all.sorted.toSeq == (1L to 60L)) // exactly the snapshot, no dup, no appended row
    Connector.closePit(spark, dir, pit)
  }

  test("pitSearchAfter: cursor stays consistent across a crash-safe SWAP (bulk upsert)") {
    val dir = freshDir("graft_pitsa")
    val cfg = Map("graft.mapping.id" -> "id")
    (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "score").saveToGraft(dir, cfg)

    val pit = Connector.openPit(spark, dir)
    // searchAfter sorts (score DESC, id ASC): first page from the top
    val p1 = Connector.pitSearchAfter(spark, dir, pit, "id", "score",
      Double.MaxValue, -1L, 8).select("id").as[Long].collect().toSeq
    assert(p1 == (20L to 13L by -1L))
    // a bulk upsert SWAPS the whole index (update 5, insert 100) —
    // the open PIT pins the retired generation
    Seq((5L, 500.0), (100L, 99.0)).toDF("id", "score").saveToGraft(dir, cfg)
    val p2 = Connector.pitSearchAfter(spark, dir, pit, "id", "score",
      13.0, 13L, 8).select("id").as[Long].collect().toSeq
    assert(p2 == (12L to 5L by -1L), s"post-swap page drifted: $p2")
    // live reads see the swap; the pinned session never did
    assert(spark.graftDF(dir).where(col("id") === 5L)
      .select("score").as[Double].head() == 500.0)
    Connector.closePit(spark, dir, pit)
  }
}

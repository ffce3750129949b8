package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier politeness scheduling: space each host's fetches by
  * that host's Crawl-delay so a billion-URL frontier becomes a
  * per-host fetch timeline.
  *
  * The plan is ONE window partitioned by host: Spark hash-partitions
  * on the window key, so every host's timeline is computed locally on
  * its partition — no global sort, no driver state, and the shape is
  * exactly as wide as the worst single host (a skewed mega-host is a
  * data problem, not a plan problem: its slots still stream through
  * one partition's sort). Delay lookup is a broadcast-sized join on
  * host (the robots table is hosts-cardinality, tiny next to the
  * frontier).
  */
object Frontier {

  /** Assign each frontier row its per-host fetch slot and offset.
    *
    * `delays`: (host, delay_ms) — hosts absent from it (no robots
    * row, or no Crawl-delay in the selected group) fall back to
    * `defaultDelayMs`, the crawler's own politeness floor.
    * Slots order by priority DESC then id ASC (deterministic
    * tiebreak); `fetch_offset_ms` = slot * delay_ms is when the slot
    * fires relative to the host's first fetch. */
  def schedule(frontier: DataFrame, idCol: String, hostCol: String,
      priorityCol: String, delays: DataFrame, defaultDelayMs: Long): DataFrame = {
    val w = Window.partitionBy(col(hostCol))
      .orderBy(col(priorityCol).desc, col(idCol).asc)
    frontier
      .join(broadcast(delays), Seq(hostCol), "left_outer")
      .withColumn("delay_ms",
        coalesce(col("delay_ms"), lit(defaultDelayMs)))
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .withColumn("fetch_offset_ms", col("slot") * col("delay_ms"))
  }

  /** (host, delay_ms) out of a (host, robots body) frame for one
    * agent: bodies parse EXECUTOR-side (same discipline as the
    * per-host robots gate — no corpus body reaches the driver),
    * seconds scale to millis via round (a bare (d*1000).toLong floors
    * through binary-double error: 2.3 * 1000 = 2299.999... would read
    * 2299). Duplicate host rows (a re-fetched robots.txt kept beside
    * the old one — the per-host gate supports them) aggregate to the
    * MIN delay, so the join side is one row per host and schedule()
    * can never duplicate frontier rows. Hosts whose selected group
    * declares no delay drop out (schedule() applies the default). */
  def crawlDelays(robots: DataFrame, hostCol: String, bodyCol: String,
      agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        Robots.crawlDelay(if (body == null) "" else body, agent)
          .map(d => (host, math.round(d * 1000)))
      }
      .toDF(hostCol, "delay_ms")
      .groupBy(col(hostCol)).agg(min(col("delay_ms")).as("delay_ms"))
  }
}

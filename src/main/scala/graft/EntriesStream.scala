package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: Streaming-shaped + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesStream {

  /** The streaming-engine execution harness every oracle-keyed
    * streaming key shares: stage the events file into a temp dir
    * (file sources read DIRECTORIES), run the transform through
    * readStream -> complete-mode memory sink, drain, read the sink
    * back, and clean the staging dir up. */
  /** A session CLONE with the streaming drain's shuffle layout: a
    * stateful streaming operator materializes ONE STATE STORE PER
    * SHUFFLE PARTITION per micro-batch — at the session's 32 that is
    * pure fixed setup cost against a bounded test input; 4 keeps the
    * drain parallel enough while cutting store bring-up 8x. The clone
    * shares the SparkContext and catalog but owns its SQL conf, so
    * the setting can never leak into (or race with) other queries on
    * the shared session — the r16 form toggled the session-global
    * conf around the stream and restored it in finally, which was
    * only safe while the driver ran keys strictly sequentially. */
  private[graft] def streamSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    // r18: after the data batch drains, the engine by default runs an
    // extra NO-DATA micro-batch (watermark-only state maintenance) —
    // a full IncrementalExecution replan + one job against an empty
    // source, pure fixed cost on these bounded drains. Disabling it
    // changes no emitted row: complete-mode sinks hold the last DATA
    // batch's result either way, and append-mode dedup emits on
    // arrival (eviction timing moves to the next data batch, which on
    // a live stream is immediate). Scoped to the CLONE, so the
    // session-global default stays untouched for everything else.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2
  }

  private def runEventsStream(
      s: SparkSession, d: String, sink: String, mode: String = "complete")(
      transform: DataFrame => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$sink")
    val s2 = streamSession(s)
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"),
        dir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val in = s2.readStream.schema(Tables.eventsSchema)
        .parquet(dir.toString)
        .transform(Tables.normalizeEvents)
      val q = transform(in)
        .writeStream.outputMode(mode)
        .format("memory").queryName(sink).start()
      try q.processAllAvailable() finally q.stop()
      s2.table(sink)
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- G. Streaming-shaped ----
    // STREAMING WARC ingestion (r16): readStream over a landing dir
    // of real .warc.gz files (the shared warchtml artifact), composed
    // with the crawl stages — strip -> length gate -> exact dedup as
    // dropDuplicates STATE — and drained through a memory sink. The
    // oracle re-derives the distinct extracted fingerprints from the
    // source table through the strip mirror: the WARC bytes, the
    // binaryFile streaming source, the Column strip and the state
    // dedup must all land on identical md5s
    "q_stream_warc" -> ((s, d) => {
      val landing = EntryShared.ensureWarcHtml(s, d)
      // state stores scale per shuffle partition per micro-batch: the
      // session CLONE carries the drain's 4-partition layout without
      // ever touching the shared session's conf (r17, the r16 advice)
      val s2 = streamSession(s)
      val q = graft.sources.Warc.crawlExtract(
          graft.sources.Warc.warcStreamDF(s2, landing), minChars = 100)
        .select(col("fp"), length(col("text")).cast("long").as("n_chars"))
        .writeStream.outputMode("append")
        .format("memory").queryName("q_stream_warc_sink").start()
      try q.processAllAvailable() finally q.stop()
      s2.table("q_stream_warc_sink").orderBy(col("fp"))
    }),
    // BOUNDED-STATE streaming WARC dedup (r17): the watermark-TTL
    // form — dropDuplicatesWithinWatermark on the fingerprint keyed
    // by WARC-Date event time, state bounded by crawl rate x ttl
    // instead of corpus lifetime. The artifact's records share one
    // crawl date, so within the TTL the guarantee is exact and the
    // oracle is the same distinct-fp strip mirror as q_stream_warc;
    // the TTL-eviction/re-admission behavior itself is spec-driven
    // over a four-batch drain (StreamingSpec)
    "q_stream_warc_bounded" -> ((s, d) => {
      val landing = EntryShared.ensureWarcHtml(s, d)
      val s2 = streamSession(s)
      val q = graft.sources.Warc.crawlExtractBounded(
          graft.sources.Warc.warcStreamDF(s2, landing),
          minChars = 100, ttl = "24 hours")
        .select(col("fp"), length(col("text")).cast("long").as("n_chars"))
        .writeStream.outputMode("append")
        .format("memory").queryName("q_stream_warc_bounded_sink").start()
      try q.processAllAvailable() finally q.stop()
      s2.table("q_stream_warc_bounded_sink").orderBy(col("fp"))
    }),
    "q_stream_window" -> ((s, d) => EventStreams.hourlyTypeCounts(Tables.events(s, d))),
    // _downsample: the time-series index aggregated to 1-day buckets
    "q_downsample" -> ((s, d) =>
      graft.sources.Downsample.downsample(
        Tables.events(s, d), "ts_ns", 86400L * 1000000000L, Seq("event_type"), "value")
        .select(col("bucket_ts"), col("event_type"), col("doc_count"),
          col("value_min"), col("value_max"),
          graft.util.Num.round(col("value_sum").cast("double"), 4).as("value_sum"))
        .orderBy(col("bucket_ts"), col("event_type"))),
    // rollup search: downsampled HISTORIC + raw RECENT merged without
    // double counting — must equal the all-raw aggregation (the oracle
    // aggregates raw directly; only the Spark path goes through the
    // split + associative merge)
    "q_rollup_search" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val splitNs = 1706745600000000000L // 2024-02-01T00:00:00Z
      val rolled = graft.sources.Downsample.downsample(
        ev.where(col("ts_ns") < splitNs), "ts_ns",
        86400L * 1000000000L, Seq("event_type"), "value")
      graft.sources.Downsample.rollupSearch(
        rolled, ev.where(col("ts_ns") >= splitNs), "ts_ns",
        86400L * 1000000000L, Seq("event_type"), "value")
        .select(col("bucket_ts"), col("event_type"), col("doc_count"),
          col("value_min"), col("value_max"),
          graft.util.Num.round(col("value_sum").cast("double"), 4).as("value_sum"))
        .orderBy(col("bucket_ts"), col("event_type"))
    }),
    "q_sessionize" -> ((s, d) => EventStreams.sessionize(Tables.events(s, d), 30)),
    "q_props_json" -> ((s, d) => EventStreams.propsField(Tables.events(s, d), "k")),
    // REAL streaming execution, oracle-keyed: the same hourly agg as
    // q_stream_window but run through readStream + a complete-mode
    // memory sink (processAllAvailable drains the file source), then
    // read back — the DuckDB oracle checks the STREAMING engine's
    // output, not a batch stand-in. Shares q_stream_window's oracle.
    "q_stream_exec" -> ((s, d) =>
      runEventsStream(s, d, "q_stream_exec_sink")(EventStreams.hourlyTypeCounts)
        .orderBy(col("hour_bucket").asc, col("event_type").asc)),
    // native session_window through the STREAMING engine (r13): the
    // memory-sink readback is what the oracle hash-checks, so gap
    // sessionization is verified against the streaming operator, not
    // the batch lag/running-sum stand-in. Complete mode: bounded test
    // input — append+watermark would hold back the tail sessions.
    "q_stream_sessionize" -> ((s, d) =>
      runEventsStream(s, d, "q_stream_sessionize_sink")(
        EventStreams.sessionWindows(_, 30))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          col("n_events"))
        .orderBy(col("user_id").asc, col("session_start_us").asc)),
    // windowed cardinality through the streaming engine (r13): exact
    // per-bucket distinct users via one collect_set aggregation (the
    // streaming-legal form), memory-sink readback oracle-checked
    "q_stream_cardinality" -> ((s, d) =>
      runEventsStream(s, d, "q_stream_cardinality_sink")(
        EventStreams.hourlyUserCardinality)
        .orderBy(col("hour_bucket").asc, col("event_type").asc)),
    // streaming exact dedup THROUGH the engine (r13b): append-mode sink
    // (dedup emits rows, not aggregates), keyed per (event_type, hash)
    // so surviving rows are key-determined. The horizon is set past the
    // data span: within it streaming dedup equals GLOBAL dedup, the
    // oracle-checkable configuration (production runs a short horizon
    // so state ages out — same operator, bounded memory). The sink is
    // aggregated in batch; the dedup itself is the streaming engine's.
    "q_stream_dedup" -> ((s, d) =>
      runEventsStream(s, d, "q_stream_dedup_sink", "append")(
        EventStreams.streamingDedupByContent(_, "3650 days", Seq("event_type")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_unique"))
        .orderBy(col("event_type").asc)),
    // Watcher registry (r13b): ES _watcher stored watches as DATA —
    // four watches with their own filters/windows/thresholds evaluate
    // in one pass; the fired-alert table is oracle-checked
    "q_watch_registry" -> ((s, d) => {
      import s.implicits._
      val hourNs = 3600L * 1000 * 1000 * 1000
      val watches = Seq(
        ("w_err_h6", "error", hourNs, 6L),
        ("w_click_h7", "click", hourNs, 7L),
        ("w_purch_d8", "purchase", 24 * hourNs, 8L),
        ("w_view_d9", "view", 24 * hourNs, 9L))
        .toDF("watch_id", "w_type", "w_window_ns", "w_threshold")
      EventStreams.watchRegistry(Tables.events(s, d), watches)
    }),
    // the same registry evaluated BY THE STREAMING ENGINE (r13b): a
    // stream-static broadcast join (streaming-legal) + one windowed
    // count per watch; hourly watches only — a streaming agg groups by
    // the watch's bucket column, and mixing window sizes in one
    // aggregation is exactly what the batch form's per-watch bucketing
    // does, so the engine run pins the hour-window subset
    "q_stream_watch" -> ((s, d) => {
      import s.implicits._
      val hourNs = 3600L * 1000 * 1000 * 1000
      val watches = Seq(
        ("w_err_h6", "error", hourNs, 6L),
        ("w_click_h7", "click", hourNs, 7L))
        .toDF("watch_id", "w_type", "w_window_ns", "w_threshold")
      runEventsStream(s, d, "q_stream_watch_sink")(
        EventStreams.watchRegistry(_, watches))
        .orderBy(col("watch_id").asc, col("window_start_ns").asc)
    }),
    // CONTINUOUS downsample through the engine: the same 1-day bucket
    // shape as q_downsample (count/min/max/decimal sum per series),
    // complete-mode readback so the oracle checks the streaming
    // window() aggregation, not the batch Downsample operator
    "q_stream_downsample" -> ((s, d) =>
      runEventsStream(s, d, "q_stream_downsample_sink")(
        EventStreams.streamingDownsample(_, Seq("event_type"), "value", "1 day"))
        .select((unix_micros(col("bucket_start")) * 1000).as("bucket_ts"),
          col("event_type"), col("doc_count"),
          col("value_min"), col("value_max"),
          Num.round(col("value_sum"), 4).as("value_sum"))
        .orderBy(col("bucket_ts"), col("event_type"))),
  )

  val oracleSql: Map[String, String] = Map(
    // distinct extracted fingerprints re-derived from the source table
    // through the q_warc_pipeline strip mirror — arrival order (which
    // duplicate survives the state dedup) cannot affect (fp, n_chars)
    "q_stream_warc" -> ("WITH h AS (SELECT doc_id, " +
      "'<html><head><title>d</title></head><body><p>' || text || '</p></body></html>' AS html " +
      "FROM documents), " +
      "s AS (SELECT doc_id, trim(replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), " +
      "'&amp;', '&')) AS text FROM h) " +
      "SELECT DISTINCT md5(text) AS fp, length(text)::BIGINT AS n_chars FROM s " +
      "WHERE length(text) >= 100 ORDER BY fp"),
    // the bounded form is answer-equal within one TTL window (the
    // artifact's records share a crawl date): same strip mirror
    "q_stream_warc_bounded" -> ("WITH h AS (SELECT doc_id, " +
      "'<html><head><title>d</title></head><body><p>' || text || '</p></body></html>' AS html " +
      "FROM documents), " +
      "s AS (SELECT doc_id, trim(replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), " +
      "'&amp;', '&')) AS text FROM h) " +
      "SELECT DISTINCT md5(text) AS fp, length(text)::BIGINT AS n_chars FROM s " +
      "WHERE length(text) >= 100 ORDER BY fp"),
    // ---- G ----
    "q_downsample" -> DownsampleOracle,
    "q_rollup_search" -> DownsampleOracle,
    "q_stream_window" -> ("SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type, " +
      "count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"),
    // identical formula — the streaming-engine run must agree with it
    "q_stream_exec" -> ("SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type, " +
      "count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"),
    "q_sessionize" -> ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tn FROM events), " +
      "l AS (SELECT *, lag(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS prev FROM e), " +
      "n AS (SELECT *, CASE WHEN prev IS NULL OR tn - prev > 1800000000000 THEN 1 ELSE 0 END AS ns FROM l), " +
      "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM n) " +
      "SELECT user_id, session_id, count(*)::BIGINT AS n_events, round((max(tn) - min(tn)) / 1e9, 3) AS duration_sec " +
      "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"),
    "q_props_json" -> ("SELECT event_type, count(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS n, " +
      "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k FROM events GROUP BY event_type ORDER BY event_type"),
    // session_window gap semantics: a gap of EXACTLY the window size
    // starts a new session (Spark merges only when next < prev + gap),
    // hence >= in the break condition — the lag-derivation q_sessionize
    // uses > (its own documented batch semantics)
    "q_stream_sessionize" -> ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tn FROM events), " +
      "l AS (SELECT *, lag(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS prev FROM e), " +
      "n AS (SELECT *, CASE WHEN prev IS NULL OR tn - prev >= 1800000000000 THEN 1 ELSE 0 END AS ns FROM l), " +
      "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id FROM n) " +
      "SELECT user_id, (min(tn) // 1000)::BIGINT AS session_start_us, count(*)::BIGINT AS n_events " +
      "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start_us"),
    "q_stream_cardinality" -> ("SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type, " +
      "count(DISTINCT user_id)::BIGINT AS n_users FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"),
    // distinct props per type (+ null-props rows, which pass through on
    // unique synthetic keys) — md5 is injective here, so distinct
    // hashes = distinct props and the oracle needs no cross-engine md5
    "q_stream_dedup" -> ("SELECT event_type, (count(DISTINCT props) + " +
      "sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_unique " +
      "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_stream_downsample" -> DownsampleOracle,
    "q_watch_registry" -> ("WITH w(watch_id, w_type, w_window_ns, w_threshold) AS (VALUES " +
      "('w_err_h6', 'error', 3600000000000, 6), " +
      "('w_click_h7', 'click', 3600000000000, 7), " +
      "('w_purch_d8', 'purchase', 86400000000000, 8), " +
      "('w_view_d9', 'view', 86400000000000, 9)), " +
      "m AS (SELECT w.watch_id, epoch_ns(e.ts) // w.w_window_ns AS bucket, " +
      "w.w_window_ns, w.w_threshold FROM events e JOIN w ON e.event_type = w.w_type) " +
      "SELECT watch_id, (bucket * w_window_ns)::BIGINT AS window_start_ns, " +
      "count(*)::BIGINT AS n_events FROM m " +
      "GROUP BY watch_id, bucket, w_window_ns, w_threshold " +
      "HAVING count(*) >= w_threshold ORDER BY watch_id, window_start_ns"),
    "q_stream_watch" -> ("WITH w(watch_id, w_type, w_window_ns, w_threshold) AS (VALUES " +
      "('w_err_h6', 'error', 3600000000000, 6), " +
      "('w_click_h7', 'click', 3600000000000, 7)), " +
      "m AS (SELECT w.watch_id, epoch_ns(e.ts) // w.w_window_ns AS bucket, " +
      "w.w_window_ns, w.w_threshold FROM events e JOIN w ON e.event_type = w.w_type) " +
      "SELECT watch_id, (bucket * w_window_ns)::BIGINT AS window_start_ns, " +
      "count(*)::BIGINT AS n_events FROM m " +
      "GROUP BY watch_id, bucket, w_window_ns, w_threshold " +
      "HAVING count(*) >= w_threshold ORDER BY watch_id, window_start_ns"),
  )
}

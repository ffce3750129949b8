package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.search.Search
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gs"

  import spark.implicits._

  /** Stage the events parquet into a directory so it can drive a file
    * stream source. */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory(specRoot, "graft_stream").toString
    Files.copy(
      Paths.get(s"$sfDir/events.parquet"),
      Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("hourly window agg: identical results on batch and stream") {
    val batch = EventStreams.hourlyTypeCounts(Tables.events(spark, sfDir))
      .as[(Long, String, Long, Double)].collect().toSet

    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q = EventStreams.hourlyTypeCounts(streamIn)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream attribution join: identical results on batch and stream") {
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    def split(df: org.apache.spark.sql.DataFrame) = (
      withTs(df).where(col("event_type") === "view"),
      withTs(df).where(col("event_type") === "purchase"))

    val (bv, bb) = split(Tables.events(spark, sfDir))
    val batch = EventStreams.attributionJoin(bv, bb, horizonSec = 1800)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)

    val streamIn = spark.readStream.schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val (sv, sb) = split(streamIn)
    val q = EventStreams.attributionJoin(
      sv.withWatermark("ts", "2 hours"),
      sb.withWatermark("ts", "2 hours"), horizonSec = 1800)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_out").as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session_window agg runs on a stream with watermark") {
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", "1 hour")
    val sessions = streamIn
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed sessions; with a static
      // file the stream ends before the watermark passes the last
      // session, so assert the QUERY RAN and the plan is stateful
      assert(q.lastProgress != null)
    } finally q.stop()
  }

  test("batch sessionize and session_window agree on session counts") {
    val ev = Tables.events(spark, sfDir)
    val manual = EventStreams.sessionize(ev, 30)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val native = EventStreams.sessionWindows(ev, 30)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(manual == native)
  }

  test("custom state: mapGroupsWithState running per-user counts on a stream") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
      .select("user_id").as[Long]
    val counts = streamIn
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
    val q = counts.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("state_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("state_out")
        .groupBy("_1").agg(max("_2").as("n"))
        .as[(Long, Long)].collect().toMap
      val want = Tables.events(spark, sfDir)
        .groupBy("user_id").count().as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("streaming EQL sequence: matches agree with the batch plan") {
    import graft.streaming.EqlStream
    // single-batch file stream: within-batch (ts, id) ordering makes
    // the stream fold identical to the batch window-carry
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val steps = Seq(
      ("view", lit(true)),
      ("click", col("value") > 50),
      ("purchase", lit(true)))
    val maxspanNs = 24L * 3600 * 1000000000L
    val q = EqlStream.sequence(streamIn, "user_id", steps, maxspanNs)
      .writeStream.outputMode("append")
      .format("memory").queryName("eql_stream_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("eql_stream_out")
        .select(col("key"), col("eventIds").getItem(2).as("e3"), col("spanMs"))
        .as[(Long, Long, Long)].collect().toSet
      val want = graft.dsl.Eql.sequence(
          Tables.events(spark, sfDir), "user_id", "ts_ns", "event_id",
          steps, maxspanNs)
        .select(col("user_id"), col("e3_id"), col("span_ms"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("sliding window agg: identical results on batch and stream") {
    val batch = EventStreams.slidingTypeCounts(Tables.events(spark, sfDir))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q = EventStreams.slidingTypeCounts(streamIn)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
      // overlapping windows: each event lands in width/slide = 2 windows
      val n = Tables.events(spark, sfDir).count()
      assert(batch.toSeq.map(_._3).sum == 2 * n)
    } finally q.stop()
  }

  test("threshold alerting: stream fires the same alerts as batch") {
    val batch = EventStreams.alertOnThreshold(
      Tables.events(spark, sfDir), "error", threshold = 3)
      .as[(java.sql.Timestamp, Long)].collect().toSet
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q = EventStreams.alertOnThreshold(streamIn, "error", threshold = 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("alert_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("alert_out")
        .as[(java.sql.Timestamp, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
      // every alert is at or above the threshold; quiet windows absent
      assert(batch.forall(_._2 >= 3))
    } finally q.stop()
  }

  test("streaming WARC ingestion: landing-dir arrivals parse, dedup state spans batches, GraftSink indexes (r16)") {
    import graft.sources.Warc
    import graft.streaming.GraftSink
    val landing = Files.createTempDirectory(specRoot, "graft_warc_landing").toString
    val stage = Files.createTempDirectory(specRoot, "graft_warc_stage").toString
    // land a range of doc ids as ONE real .warc.gz file (body text is
    // id-determined, so re-landing an id is an exact duplicate)
    def land(ids: Range, tag: String): Unit = {
      val dir = s"$stage/$tag"
      Warc.saveWarc(spark.range(ids.start, ids.end).coalesce(1).select(
        concat(lit("https://s.test/doc/"), col("id")).as("uri"),
        lit("text/html; charset=UTF-8").as("mime"),
        encode(concat(lit("<html><body><p>streamed body of doc "), col("id"),
          lit(" with enough characters to clear the crawl length gate</p></body></html>")),
          "UTF-8").as("body")), dir, "2026-01-01T00:00:00Z")
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, Paths.get(s"$landing/$tag-$i.warc.gz")): Unit
        }
    }
    land(0 until 20, "b1")
    val idx = Files.createTempDirectory(specRoot, "graft_warc_idx").toString + "/idx"
    // readStream -> strip -> gate -> state dedup -> the existing
    // connector sink (append: deduped rows are new documents)
    val q = GraftSink.startAppend(
      Warc.crawlExtract(Warc.warcStreamDF(spark, landing), minChars = 50),
      idx, Map.empty,
      Files.createTempDirectory(specRoot, "graft_warc_ck").toString)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(idx).count() == 20)
      // a LATER landing: 10 exact duplicates (ids 10-19 re-land with
      // identical bodies) + 10 new docs — the dropDuplicates state
      // must span micro-batches, so only the new rows index
      land(10 until 30, "b2")
      q.processAllAvailable()
      val rows = spark.read.parquet(idx)
      assert(rows.count() == 30,
        s"expected 20 + 10 new after cross-batch dedup, got ${rows.count()}")
      assert(rows.select("fp").distinct().count() == 30)
      // extracted text matches the batch pipeline's Column strip
      val one = rows.where(col("target_uri") === "https://s.test/doc/7")
        .select("text").as[String].head()
      assert(one == "streamed body of doc 7 with enough characters to clear the crawl length gate")
    } finally q.stop()
  }

  test("bounded-state crawl dedup: watermark TTL caps state; late duplicates re-admit (r17)") {
    import graft.sources.Warc
    val landing = Files.createTempDirectory(specRoot, "graft_warcb_landing").toString
    val stage = Files.createTempDirectory(specRoot, "graft_warcb_stage").toString
    def land(ids: Range, tag: String, date: String): Unit = {
      val dir = s"$stage/$tag"
      Warc.saveWarc(spark.range(ids.start, ids.end).coalesce(1).select(
        concat(lit("https://s.test/doc/"), col("id")).as("uri"),
        lit("text/html; charset=UTF-8").as("mime"),
        encode(concat(lit("<html><body><p>streamed body of doc "), col("id"),
          lit(" with enough characters to clear the crawl length gate</p></body></html>")),
          "UTF-8").as("body")), dir, date)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
        .zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, Paths.get(s"$landing/$tag-$i.warc.gz")): Unit
        }
    }
    land(0 until 20, "b1", "2026-01-01T00:00:00Z")
    val q = Warc.crawlExtractBounded(
        Warc.warcStreamDF(spark, landing), minChars = 50, ttl = "1 hour")
      .select(col("fp"), col("crawl_ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("warcb_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warcb_out").count() == 20)
      // duplicates WITHIN the TTL window: dropped exactly like the
      // unbounded form
      land(10 until 20, "b2", "2026-01-01T00:30:00Z")
      q.processAllAvailable()
      assert(spark.table("warcb_out").count() == 20,
        "within-TTL duplicates were not dropped")
      // fresh ids far past the TTL advance the watermark, which
      // EVICTS the first batch's fingerprint state...
      land(20 until 30, "b3", "2026-01-01T10:00:00Z")
      q.processAllAvailable()
      assert(spark.table("warcb_out").count() == 30)
      // ...so the SAME pages re-landing now are re-admitted — the
      // documented trade for bounded state
      land(0 until 10, "b4", "2026-01-01T10:30:00Z")
      q.processAllAvailable()
      assert(spark.table("warcb_out").count() == 40,
        "beyond-TTL duplicates must re-admit (their state was evicted)")
      // boundedness, measured: state rows track the TTL window (the
      // 20 fingerprints inside the last hour), NOT the 30 distinct
      // fingerprints ever seen — the unbounded form would hold 30
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 20 && stateRows < 30,
        s"state rows $stateRows not bounded by the TTL window (30 distinct fps ever)")
    } finally q.stop()
  }

  test("continuous indexing: streaming appends keep analysis artifacts fresh incrementally") {
    import graft.streaming.GraftSink
    // two micro-batches (one file each) streaming into an index whose
    // writes carry the analysis option: every batch routes through
    // Connector.save's append -> refreshAnalysis, so the BM25
    // artifacts stay fresh CONTINUOUSLY — the ES behavior (documents
    // analyzed per bulk request), not rebuild-per-batch
    val srcDir = Files.createTempDirectory(specRoot, "graft_cidx_src").toString
    val docs = Tables.documents(spark, sfDir).limit(60)
    docs.where(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/b1")
    docs.where(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$srcDir/b2")
    // flat staging dir with one parquet file per batch
    val stage = Files.createTempDirectory(specRoot, "graft_cidx_stage").toString
    Seq("b1", "b2").foreach { b =>
      val f = new java.io.File(s"$srcDir/$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$stage/$b.parquet"))
    }
    val idx = Files.createTempDirectory(specRoot, "graft_cidx").toString + "/idx"
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage)
    val q = GraftSink.startAppend(stream, idx, Map(
      "graft.mapping.id" -> "doc_id",
      "graft.index.analysis" -> "text"),
      Files.createTempDirectory(specRoot, "graft_cidx_ck").toString)
    try q.processAllAvailable() finally q.stop()

    // artifacts fresh after the last batch, ids clean across batches
    assert(graft.index.IndexArtifacts.load(spark, graft.index.ArtifactKind.Analysis,
      idx, "text", Some("doc_id")).exists(_.state.idsClean))
    val indexed = Search.bm25ScoresIndexed(spark, idx, "doc_id", "text", "fast hash join")
      .orderBy(col("score").desc, col("id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fly = Search.bm25Scores(spark.read.parquet(idx), "doc_id", "text", "fast hash join")
      .orderBy(col("score").desc, col("id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == fly && indexed.nonEmpty)
    assert(spark.read.parquet(idx).count() == 60)
  }

  test("streaming dedup within watermark matches batch distinct-content count") {
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q = EventStreams.streamingDedupByContent(streamIn)
      .select("event_id", "content_hash")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("dedup_out").count()
      val ev = Tables.events(spark, sfDir)
      // nulls pass through untouched (each gets a unique synthetic key)
      val want = ev.where(col("props").isNotNull)
        .select(md5(col("props"))).distinct().count() +
        ev.where(col("props").isNull).count()
      assert(kept == want && kept > 0)
    } finally q.stop()
  }

  test("windowed cardinality + value profile: identical on batch and stream") {
    val ev = Tables.events(spark, sfDir)
    val batchCard = EventStreams.windowedUserCardinality(ev)
      .as[(java.sql.Timestamp, Long)].collect().toSet
    val batchProf = EventStreams.windowedValueProfile(ev)
      .as[(java.sql.Timestamp, Long, Double, Double, Double)].collect().toSet
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q1 = EventStreams.windowedUserCardinality(streamIn)
      .writeStream.outputMode("complete")
      .format("memory").queryName("card_out").start()
    val q2 = EventStreams.windowedValueProfile(streamIn)
      .writeStream.outputMode("complete")
      .format("memory").queryName("prof_out").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      val sCard = spark.table("card_out")
        .as[(java.sql.Timestamp, Long)].collect().toSet
      val sProf = spark.table("prof_out")
        .as[(java.sql.Timestamp, Long, Double, Double, Double)].collect().toSet
      assert(sCard == batchCard && batchCard.nonEmpty)
      assert(sProf == batchProf && batchProf.nonEmpty)
      // HLL estimate stays within its error bound of the exact count
      val exact = ev
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        .groupBy(window(col("ts"), "1 hour")).agg(countDistinct(col("user_id")).as("n"))
        .agg(sum(col("n"))).as[Long].collect().head
      val approxTotal = batchCard.toSeq.map(_._2).sum
      assert(math.abs(approxTotal - exact).toDouble / exact < 0.15)
    } finally { q1.stop(); q2.stop() }
  }

  test("continuous downsample: stream buckets equal the batch rollup") {
    val ev = Tables.events(spark, sfDir)
    val batch = EventStreams.streamingDownsample(ev, Seq("event_type"), "value")
      .as[(java.sql.Timestamp, String, Long, Double, Double, Double)]
      .collect().toSet
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    val q = EventStreams.streamingDownsample(streamIn, Seq("event_type"), "value")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ds_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ds_out")
        .as[(java.sql.Timestamp, String, Long, Double, Double, Double)]
        .collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("windowed t-digest percentiles run on a stream within rank epsilon") {
    val ev = Tables.events(spark, sfDir)
    val streamIn = spark.readStream
      .schema(Tables.eventsSchema)
      .parquet(streamDir)
      .transform(Tables.normalizeEvents)
    // 1000 fixture events spread thin at hourly grain — weekly
    // windows concentrate enough mass for a meaningful rank check
    val q = EventStreams.windowedPercentiles(streamIn, Seq(0.5),
      width = "7 days", watermark = "14 days")
      .writeStream.outputMode("complete")
      .format("memory").queryName("pctl_out").start()
    try {
      q.processAllAvailable()
      val est = spark.table("pctl_out")
        .select("w_start", "p50").as[(java.sql.Timestamp, Double)].collect().toMap
      assert(est.nonEmpty)
      // per-window rank check against the REAL window data: the
      // estimate's rank must be within epsilon of 0.5
      val byWindow = ev
        .withColumn("w", window(timestamp_micros(expr("ts_ns div 1000")), "7 days")
          .getField("start"))
        .select(col("w"), col("value")).as[(java.sql.Timestamp, Double)]
        .collect().groupBy(_._1)
      var checked = 0
      for ((w, e) <- est) {
        val vals = byWindow(w).map(_._2)
        if (vals.length >= 50) {
          // rank epsilon only means something with mass in the window
          val rank = vals.count(_ <= e).toDouble / vals.length
          assert(math.abs(rank - 0.5) <= 0.05,
            s"window $w: rank $rank for estimate $e over ${vals.length} values")
          checked += 1
        } else {
          assert(e >= vals.min && e <= vals.max,
            s"window $w: estimate $e outside [${vals.min}, ${vals.max}]")
        }
      }
      assert(checked > 0, "no window was big enough to rank-check")
    } finally { q.stop() }
  }

  test("graftStream: streaming read of an index with an ES query applied") {
    import graft.sources.Connector.implicits._
    val dir = Files.createTempDirectory(specRoot, "graft_rstream").toString + "/idx"
    Tables.documents(spark, sfDir).write.parquet(dir)
    val q = spark.graftStream(dir, """{"term": {"lang": "en"}}""", idField = "doc_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_rstream_t")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT lang, n FROM graft_rstream_t").collect()
      val expected = Tables.documents(spark, sfDir).where(col("lang") === "en").count()
      assert(rows.toSeq.map(r => (r.getString(0), r.getLong(1))) == Seq(("en", expected)))
    } finally q.stop()
  }

  test("upsert semantics: one row per id, latest wins") {
    val ops = Seq(
      (1L, 100L, "a", 10L), (1L, 200L, "b", 11L), (2L, 150L, "c", 12L))
      .toDF("user_id", "ts_ns", "event_type", "event_id")
    val r = graft.rel.Relational
      .upsertLastWriteWins(ops, Seq("user_id"), col("ts_ns"), col("event_id"))
      .select("user_id", "event_type").as[(Long, String)].collect().toMap
    assert(r == Map(1L -> "b", 2L -> "c"))
  }

  test("transform continuous pivot: dest index converges to the batch pivot") {
    val base = Files.createTempDirectory(specRoot, "graft_transform").toString
    val src = s"$base/src"; val dest = s"$base/dest"; val ckpt = s"$base/ckpt"
    Seq((1L, "en", 10.0), (2L, "en", 20.0), (3L, "de", 5.0))
      .toDF("doc_id", "lang", "v").write.parquet(src)
    val q = graft.streaming.Transforms.continuousPivot(
      spark, src, dest, "lang", "v", ckpt)
    try {
      q.processAllAvailable()
      // source grows: one existing group changes, one new group appears
      Seq((4L, "en", 30.0), (5L, "fr", 7.0)).toDF("doc_id", "lang", "v")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.read.parquet(dest)
        .select("lang", "doc_count", "value_sum", "value_max")
        .as[(String, Long, Double, Double)].collect().toSet
      val want = graft.streaming.Transforms.pivot(
          spark.read.parquet(src), "lang", "v")
        .as[(String, Long, Double, Double)].collect().toSet
      assert(got == want)
      assert(got == Set(("en", 3L, 60.0, 30.0), ("de", 1L, 5.0, 5.0), ("fr", 1L, 7.0, 7.0)))
    } finally q.stop()
  }

  test("transform continuous latest: dest upserts converge to batch latest") {
    val base = Files.createTempDirectory(specRoot, "graft_tlatest").toString
    val src = s"$base/src"; val dest = s"$base/dest"; val ckpt = s"$base/ckpt"
    Seq((1L, 10L, 100L, "a", 1.0), (2L, 20L, 150L, "b", 2.0))
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .write.parquet(src)
    val q = graft.streaming.Transforms.continuousLatest(
      spark, src, dest, "user_id", "ts_us", "event_id",
      Seq("event_id", "event_type", "value"), ckpt)
    try {
      q.processAllAvailable()
      // user 10 gets a NEWER event; user 30 appears
      Seq((3L, 10L, 200L, "c", 3.0), (4L, 30L, 50L, "d", 4.0))
        .toDF("event_id", "user_id", "ts_us", "event_type", "value")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.read.parquet(dest)
        .select("user_id", "event_id", "event_type", "value")
        .as[(Long, Long, String, Double)].collect().toSet
      assert(got == Set((10L, 3L, "c", 3.0), (20L, 2L, "b", 2.0), (30L, 4L, "d", 4.0)))
    } finally q.stop()
  }

  test("transform latest: newest doc per key, explicit tiebreak") {
    val src = Seq(
      (1L, 10L, 100L, "a", 1.0),
      (2L, 10L, 200L, "b", 2.0), // newest for user 10
      (3L, 20L, 300L, "c", 3.0),
      (4L, 20L, 300L, "d", 4.0)  // same ts as 3 -> higher event_id wins
    ).toDF("event_id", "user_id", "ts_us", "event_type", "value")
    val out = graft.streaming.Transforms.latest(
      src, "user_id", "ts_us", "event_id", Seq("event_id", "event_type", "value"))
      .orderBy("user_id")
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(out == Seq((10L, 2L, "b", 2.0), (20L, 4L, "d", 4.0)))
  }
}

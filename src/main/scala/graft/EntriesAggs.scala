package graft

import graft.agg.Aggs
import graft.rel.Relational
import graft.search.Search
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: Aggregations + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesAggs {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- C. Aggregations ----
    "q_agg_terms" -> ((s, d) => Aggs.termsAgg(t(s, d, "orders"), "o_orderpriority", 3)),
    // bucket_correlation: monthly doc counts vs a deterministic
    // indicator curve, corr on the tiny bucket frame
    "q_agg_bucket_corr" -> ((s, d) => Aggs.bucketCorrelation(
      Aggs.dateHistogramAgg(t(s, d, "orders"), "o_orderdate", "month"),
      "bucket", "doc_count",
      (0 until 80).map(i => (i * 37 % 100) / 100.0))),
    // bucket_count_ks_test: K-S of the clamped width-10 value
    // histogram (10 buckets) against uniform expected fractions
    "q_agg_ks_test" -> ((s, d) => Aggs.bucketCountKsTest(
      Tables.events(s, d)
        .groupBy(least(floor(col("value") / 10), lit(9.0)).as("bucket"))
        .agg(count(lit(1)).as("doc_count")),
      "bucket", "doc_count", Seq.fill(10)(0.1))),
    // terms agg keyed by a Painless script (price-band buckets)
    "q_agg_terms_script" -> ((s, d) => Aggs.termsAggScript(
      t(s, d, "orders"),
      "Math.floor(doc['o_totalprice'].value / params.band)",
      Map("band" -> 50000.0), size = 8)),
    // histogram offset + min_doc_count: shifted boundaries, sparse
    // buckets dropped
    "q_agg_histogram_offset" -> ((s, d) => Aggs.histogramOffsetAgg(
      t(s, d, "lineitem"), "l_extendedprice",
      interval = 5000.0, offset = 2500.0, minDocCount = 100L)),
    // terms `missing`: null keys count under a substitute bucket
    "q_agg_terms_missing" -> ((s, d) => Aggs.termsAggMissing(
      t(s, d, "documents").withColumn("maybe_lang",
        when(col("lang") === "xx", lit(null).cast("string")).otherwise(col("lang"))),
      "maybe_lang", 10, missing = "N/A")),
    // bucket order by a sub-aggregation metric, not doc_count
    "q_agg_terms_order" -> ((s, d) => Aggs.termsAggOrderBy(t(s, d, "orders"),
      "o_orderpriority", 3, Num.round(avg(col("o_totalprice")), 4), "avg_price")),
    // include.partition: the deterministic hash-slice pager for
    // high-cardinality term sets (1 of 4 slices here)
    "q_agg_terms_partition" -> ((s, d) => Aggs.termsAggPartition(t(s, d, "part"),
      "p_name", 10, partition = 1, numPartitions = 4)),
    "q_agg_stats" -> ((s, d) => Aggs.statsAgg(t(s, d, "lineitem"), "l_extendedprice")),
    "q_agg_extended_stats" -> ((s, d) => Aggs.extendedStatsAgg(t(s, d, "lineitem"), "l_quantity")),
    // distributed sort-selection, not the single-reducer percentile agg
    "q_agg_percentiles" -> ((s, d) => Aggs.percentilesExactDistributed(
      t(s, d, "lineitem"), "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.50, "p95" -> 0.95))),
    // percentiles via t-digest (ES's actual sketch, compression knob
    // and all) — probe shape: sketch estimate, then re-rank against
    // the real data and assert the published rank-error bound, so the
    // exact oracle stays value-stable despite sketch nondeterminism
    "q_agg_percentiles_tdigest" -> ((s, d) => graft.agg.TDigest.percentilesProbe(
      t(s, d, "lineitem"), "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.50, "p95" -> 0.95),
      compression = 100.0, epsRank = 0.015)),
    // percentiles, hdr method: deterministic significant-digit
    // buckets — the sketch itself is oracle-mirrored hash-exact
    "q_agg_percentiles_hdr" -> ((s, d) => Aggs.percentilesHdr(
      t(s, d, "lineitem"), "l_extendedprice",
      Seq("p25" -> 0.25, "p50" -> 0.50, "p95" -> 0.95), sigDigits = 3)),
    "q_agg_cardinality" -> ((s, d) => Aggs.cardinalityAgg(t(s, d, "lineitem"), "l_partkey")),
    "q_agg_histogram" -> ((s, d) => Aggs.histogramAgg(t(s, d, "lineitem"), "l_extendedprice", 5000.0)),
    "q_agg_date_histogram" -> ((s, d) => Aggs.dateHistogramAgg(t(s, d, "orders"), "o_orderdate", "month")),
    "q_agg_range" -> ((s, d) => Aggs.rangeAgg(t(s, d, "orders"), "o_totalprice", Seq(1000.0, 5000.0, 20000.0))),
    "q_agg_filters" -> ((s, d) => Aggs.filtersAgg(Tables.events(s, d), Seq(
      "high_value" -> (col("value") > 75),
      "clicks" -> (col("event_type") === "click"),
      "errors" -> (col("event_type") === "error")))),
    // TSDS time_series agg: one bucket per dimension tuple, keyed by
    // the deterministic _tsid
    "q_time_series" -> ((s, d) => graft.sources.Downsample.timeSeriesAgg(
      Tables.events(s, d)
        .withColumn("shard", pmod(col("user_id"), lit(3)).cast("string")),
      tsCol = "ts_ns", dims = Seq("event_type", "shard"), metric = "value")),
    // composite with a date_histogram source: month bucket + terms
    // key, after-key paging across the pair
    "q_agg_composite_date" -> ((s, d) => Aggs.compositeAgg(
      t(s, d, "orders").withColumn("month_key",
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")),
      keys = Seq("month_key", "o_orderpriority"),
      afterKey = Some(Seq("1995-06-01", "3-MEDIUM")), size = 12)),
    // composite missing_bucket: docs with a null source key get a
    // null-key bucket ordered first (asc nulls-first on both engines)
    "q_agg_composite_missing" -> ((s, d) => Aggs.compositeAgg(
      t(s, d, "documents").withColumn("maybe_lang",
        when(col("lang") === "xx", lit(null).cast("string")).otherwise(col("lang"))),
      keys = Seq("maybe_lang", "source"), afterKey = None, size = 15,
      missingBucket = true)),
    // other_bucket: docs matching NO named filter get their own count
    "q_agg_filters_other" -> ((s, d) => Aggs.filtersAggOther(Tables.events(s, d), Seq(
      "high_value" -> (col("value") > 75),
      "clicks" -> (col("event_type") === "click"),
      "errors" -> (col("event_type") === "error")), otherName = "other_docs")),
    "q_agg_top_hits" -> ((s, d) =>
      Aggs.topHitsAgg(t(s, d, "orders"), "o_orderpriority", "o_totalprice", "o_orderkey", 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_orderpriority"), col("rn"))),
    "q_agg_composite" -> ((s, d) =>
      Aggs.compositeAgg(t(s, d, "documents"), Seq("lang", "source"), Some(Seq("de", "src3")), 10)),
    // composite with a geotile_grid SOURCE (+ a terms source) and
    // after-key paging — the TSDB map-dashboard page shape; the grid
    // key is computed once, the after predicate pushes below the agg
    "q_agg_composite_geo" -> ((s, d) =>
      Aggs.compositeAggSources(withGeo(t(s, d, "customer")),
        Seq("tile" -> Aggs.geotileKey("lat", "lon", zoom = 4),
          "seg" -> col("c_mktsegment")),
        afterKey = Some(Seq("4/11/7", "BUILDING")), size = 12)),
    "q_agg_nested" -> ((s, d) => Aggs.nestedAgg(t(s, d, "documents"), "lang", "source", "n_chars")),
    "q_agg_top_metrics" -> ((s, d) => t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(
        max_by(col("n_chars"), col("doc_id")).as("latest_n_chars"),
        max(col("doc_id")).as("latest_doc"))
      .orderBy(col("lang"))),
    // top_metrics with SEVERAL metrics from the same top document
    // (one max_by struct — atomically the same row's values, which
    // separate max_by calls would not guarantee under ties)
    "q_agg_top_metrics_multi" -> ((s, d) => t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(max_by(struct(col("n_chars"), col("source")), col("doc_id")).as("m"),
        max(col("doc_id")).as("latest_doc"))
      .select(col("lang"), col("m.n_chars").as("latest_n_chars"),
        col("m.source").as("latest_source"), col("latest_doc"))
      .orderBy(col("lang"))),
    // date_histogram with offset: +10 days shifts bucket boundaries
    "q_agg_date_histogram_offset" -> ((s, d) =>
      Aggs.dateHistogramOffsetAgg(t(s, d, "orders"), "o_orderdate", "month", "10 days")),
    "q_agg_string_stats" -> ((s, d) => t(s, d, "documents")
      .agg(
        count(col("text")).as("cnt"),
        min(length(col("text"))).as("min_length"),
        max(length(col("text"))).as("max_length"),
        Num.round(avg(length(col("text"))), 4).as("avg_length"))),
    "q_agg_sampler" -> ((s, d) => t(s, d, "documents")
      // deterministic hash sampler (~20%): the shard-seeded sampler agg
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long") % 5 === 0)
      .agg(count(lit(1)).as("sample_size"), Num.round(avg(col("n_chars")), 4).as("avg_n_chars"))),
    "q_agg_date_range" -> ((s, d) => {
      val o = col("o_orderdate")
      t(s, d, "orders")
        .groupBy(
          when(o < "1997-01-01", "*-1997")
            .when(o >= "1997-01-01" && o < "1999-01-01", "1997-1999")
            .otherwise("1999-*").as("bucket"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(col("bucket"))
    }),
    "q_agg_adjacency" -> ((s, d) => Aggs.adjacencyMatrix(t(s, d, "orders"), Seq(
      "urgent" -> (col("o_orderpriority") === "1-URGENT"),
      "big" -> (col("o_totalprice") > 20000),
      "open" -> (col("o_orderstatus") === "O")))),
    "q_agg_rare_terms" -> ((s, d) => Aggs.rareTermsAgg(t(s, d, "documents"), "source", 30L, 10)),
    "q_agg_weighted_avg" -> ((s, d) =>
      Aggs.weightedAvg(t(s, d, "lineitem"), "l_extendedprice", "l_quantity")),
    "q_agg_matrix_stats" -> ((s, d) =>
      Aggs.matrixStats(t(s, d, "lineitem"), "l_quantity", "l_extendedprice")),
    "q_geo_centroid" -> ((s, d) => {
      val g = withGeo(t(s, d, "customer"))
      Aggs.geoCentroid(g.where(col("c_mktsegment") === "BUILDING"), "lat", "lon")
    }),
    // moving_fn MovingFunctions.ewma: exponentially-weighted moving
    // average over a 6-bucket trailing window of the date_histogram —
    // the fold recurrence (acc*0.7 + x*0.3, seeded by the window's
    // first value) runs as one array fold per bucket, mirrored by
    // DuckDB's list_reduce bit-for-bit
    "q_agg_ewma" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val buckets = Tables.events(s, d)
        .groupBy(expr("ts_ns div 3600000000000").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("bucket")).rowsBetween(-5, 0)
      val windowArr = collect_list(col("n").cast("double")).over(w)
      buckets
        .select(col("bucket"), col("n"),
          aggregate(windowArr, lit(null).cast("double"),
            (acc, x) => when(acc.isNull, x).otherwise(x * 0.3 + acc * 0.7))
            .as("raw_ewma"))
        .select(col("bucket"), col("n"),
          graft.util.Num.round(col("raw_ewma"), 4).as("ewma"))
        .orderBy(col("bucket"))
    }),
    // ES `histogram` FIELD type: per-user pre-aggregated (values[],
    // counts[]) histograms built once, then stats aggregate the
    // histograms — raw observations never re-aggregate (the rollup/
    // TSDB read path). Decimal partials make the sums order-free.
    "q_agg_histogram_field" -> ((s, d) => {
      val hist = Tables.events(s, d)
        .groupBy(col("user_id"), (floor(col("value") / 100.0) * 100.0).as("bv"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("bv"), col("c")))).as("h"))
        .select(col("user_id"),
          transform(col("h"), x => x.getField("bv")).as("values"),
          transform(col("h"), x => x.getField("c")).as("counts"))
      Aggs.histogramFieldStats(hist, "values", "counts")
    }),
    "q_geo_grid" -> ((s, d) =>
      Aggs.geohashGridAgg(withGeo(t(s, d, "customer")), "lat", "lon", precision = 4, k = 15)),
    "q_geo_tile" -> ((s, d) =>
      Aggs.geotileGridAgg(withGeo(t(s, d, "customer")), "lat", "lon", zoom = 6, k = 15)),
    // the FULL _search body lifecycle in one JSON: runtime field ->
    // query on it -> aggs tree (ES's evaluation order)
    "q_search_body" -> ((s, d) => graft.dsl.SearchBody.search(t(s, d, "documents"),
      """{"runtime_mappings": {
           "kchars": {"type": "long", "script": {"source": "emit(doc['n_chars'].value / 100)"}}},
         "query": {"bool": {"filter": [
           {"range": {"kchars": {"gte": 1}}}, {"term": {"lang": "en"}}]}},
         "aggs": {"by_k": {"terms": {"field": "kchars"},
           "aggs": {"srcs": {"cardinality": {"field": "source"}}}}}}""",
      idField = "doc_id")),
    // _search body hit path: sort objects + from/size paging (ordered
    // offset+limit, never a collect)
    "q_search_paging" -> ((s, d) => graft.dsl.SearchBody.search(t(s, d, "documents"),
      """{"query": {"term": {"lang": "de"}},
         "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": {"order": "asc"}}],
         "from": 5, "size": 10}""",
      idField = "doc_id")),
    // the _search body "aggs" JSON compiler: a nested bucket tree
    // (terms > terms > metrics) compiles to ONE flat groupBy
    "q_aggs_json" -> ((s, d) => graft.dsl.AggsJson.compile(t(s, d, "documents"),
      """{"aggs": {"by_lang": {"terms": {"field": "lang"}, "aggs": {
           "by_src": {"terms": {"field": "source"}, "aggs": {
             "avg_chars": {"avg": {"field": "n_chars"}},
             "n_vals": {"value_count": {"field": "n_chars"}}}}}}}}""")),
    // aggs JSON: date_histogram bucket + cardinality/sum metrics over
    // the event stream (the dashboard-panel request shape)
    "q_aggs_json_date" -> ((s, d) => graft.dsl.AggsJson.compile(Tables.events(s, d),
      """{"aggs": {"by_day": {"date_histogram": {"field": "ts_ns", "fixed_interval": "1d"},
           "aggs": {"users": {"cardinality": {"field": "user_id"}},
                    "total": {"sum": {"field": "value"}}}}}}""")),
    // aggs JSON: range buckets with ES's */from/to key labels;
    // out-of-range rows drop like ES
    "q_aggs_json_range" -> ((s, d) => graft.dsl.AggsJson.compile(Tables.events(s, d),
      """{"aggs": {"vr": {"range": {"field": "value", "ranges": [
           {"to": 100}, {"from": 100, "to": 300}, {"from": 300}]},
           "aggs": {"hi": {"max": {"field": "value"}}}}}}""")),
    // _mvt vector-tile search: per-tile features (count, centroid,
    // closed-form tile envelope) — the map-rendering read path
    "q_mvt" -> ((s, d) =>
      Aggs.mvtTiles(withGeo(t(s, d, "customer")), "lat", "lon", zoom = 5, k = 12)),
    "q_autocomplete" -> ((s, d) => t(s, d, "documents")
      .select(explode(graft.analysis.Analyzer.tokens(col("text"))).as("token"))
      .where(col("token").startsWith("s"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(8)),
    "q_agg_pipeline" -> ((s, d) =>
      Aggs.dateHistogramPipeline(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    "q_agg_bucket_ops" -> ((s, d) =>
      Aggs.pipelineBucketOps(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice",
        lagN = 12, minAvg = 250000.0)),
    "q_agg_percentile_ranks" -> ((s, d) =>
      Aggs.percentileRanksAgg(t(s, d, "lineitem"), "l_extendedprice", Seq(1000.0, 10000.0, 50000.0))),
    "q_agg_histogram_empty" -> ((s, d) =>
      Aggs.dateHistogramEmptyBuckets(t(s, d, "orders"), "o_orderdate")),
    "q_terms_lookup" -> ((s, d) =>
      Relational.termsLookup(t(s, d, "orders"), "o_custkey",
        t(s, d, "customer").where(col("c_mktsegment") === "MACHINERY"), "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))),
    "q_agg_multi_terms" -> ((s, d) =>
      Aggs.multiTermsAgg(t(s, d, "documents"), Seq("lang", "source"), 10)),
    "q_agg_auto_date_histogram" -> ((s, d) =>
      Aggs.autoDateHistogramAgg(t(s, d, "orders"), "o_orderdate", 20)),
    "q_agg_diversified" -> ((s, d) =>
      Aggs.diversifiedSamplerAgg(t(s, d, "documents"), "doc_id", "lang", "n_chars", 40)),
    "q_agg_missing" -> ((s, d) => Aggs.missingAgg(Tables.events(s, d), "value")),
    "q_agg_bucket_stats" -> ((s, d) =>
      Aggs.bucketStatsAgg(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    "q_agg_normalize" -> ((s, d) =>
      Aggs.normalizeAgg(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    // the remaining normalize methods: min-max rescales, mean
    // deviation, z-score (percent_of_sum is q_agg_normalize)
    "q_agg_normalize_methods" -> ((s, d) =>
      Aggs.normalizeAggMethods(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    "q_agg_boxplot" -> ((s, d) => Aggs.boxplotAgg(t(s, d, "lineitem"), "l_extendedprice")),
    "q_agg_mad" -> ((s, d) =>
      Aggs.medianAbsoluteDeviation(t(s, d, "lineitem"), "l_extendedprice")),
    // significant_text: sampled + duplicate-text-filtered foreground
    "q_agg_sig_text" -> ((s, d) => Aggs.significantText(
      t(s, d, "documents"), "doc_id", "text", col("lang") === "en",
      sampleProb = 0.5, minFgCount = 5, k = 10)),
    "q_agg_t_test" -> ((s, d) => Aggs.tTestAgg(Tables.events(s, d), "value",
      col("event_type") === "click", col("event_type") === "view")),
    // change_point pipeline agg (the aggs-framework spelling of the
    // ES|QL command): monthly revenue series, k=2 CUSUM argmax
    "q_agg_change_point" -> ((s, d) =>
      Aggs.changePointAgg(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    // the other two t_test types: Student pooled-variance and paired
    // (per-user min click vs min view)
    "q_agg_t_test_homo" -> ((s, d) => Aggs.tTestHomoAgg(Tables.events(s, d), "value",
      col("event_type") === "click", col("event_type") === "view")),
    "q_agg_t_test_paired" -> ((s, d) => Aggs.tTestPairedAgg(Tables.events(s, d),
      "user_id", "value", col("event_type") === "click", col("event_type") === "view")),
    // cumulative_cardinality over integer hour buckets (exact ns math)
    "q_agg_cum_card" -> ((s, d) => Aggs.cumulativeCardinality(
      Tables.events(s, d), "user_id", expr("ts_ns div 3600000000000"))),
    "q_agg_variable_width" -> ((s, d) =>
      Aggs.variableWidthHistogram(t(s, d, "lineitem"), "l_quantity", 4)),
    // geo_line: per-nation polyline of customer points ordered by key
    "q_agg_geo_line" -> ((s, d) => Aggs.geoLineAgg(
      withGeo(t(s, d, "customer")), "c_nationkey", "c_custkey",
      col("lat"), col("lon"), 5)),
    "q_agg_rate" -> ((s, d) =>
      Aggs.rateAgg(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice")),
    // geo_bounds: tightest envelope per market segment
    "q_agg_geo_bounds" -> ((s, d) =>
      Aggs.geoBounds(withGeo(t(s, d, "customer")), "c_mktsegment", "lat", "lon")),
    // cartesian_bounds + cartesian_centroid (ES 8.6): the planar
    // twins over point x/y — the synthetic coordinates read as an
    // unprojected plane
    "q_agg_cartesian" -> ((s, d) =>
      Aggs.cartesianBoundsCentroid(withGeo(t(s, d, "customer")),
        "c_mktsegment", "lon", "lat")),
    // scripted_metric: Painless map script compiled to codegen'd
    // column math, associative combine/reduce -> one partial agg
    "q_agg_scripted_metric" -> ((s, d) =>
      Aggs.scriptedMetric(t(s, d, "lineitem"), "l_returnflag",
        "doc['l_extendedprice'].value * (1 - doc['l_discount'].value)")),
    "q_agg_geo_distance" -> ((s, d) =>
      Aggs.geoDistanceAgg(withGeo(t(s, d, "customer")), "lat", "lon",
        originLat = 10.0, originLon = 20.0, edgesKm = Seq(2000.0, 5000.0, 10000.0))),
    "q_agg_moving_fn" -> ((s, d) =>
      Aggs.dateHistogramMovingFn(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice", 3)),
    // holtWinters: seasonal triple smoothing, quarterly period over
    // monthly buckets, 8-bucket windows
    "q_agg_holt_winters" -> ((s, d) =>
      Aggs.dateHistogramHoltWinters(t(s, d, "orders"), "o_orderdate", "month",
        "o_totalprice", window = 8, alpha = 0.5, beta = 0.3, gamma = 0.2,
        period = 4)),
    // the rest of the moving_fn model whitelist: unweightedAvg /
    // linearWeightedAvg / stdDev / holt over monthly windows
    "q_agg_moving_models" -> ((s, d) =>
      Aggs.dateHistogramMovingModels(t(s, d, "orders"), "o_orderdate", "month",
        "o_totalprice", window = 3, alpha = 0.3, beta = 0.1)),
    "q_agg_bucket_sort" -> ((s, d) =>
      Aggs.bucketSortAgg(t(s, d, "orders"), "o_orderdate", "month", "o_totalprice",
        from = 2, sz = 5)),
    "q_agg_children" -> ((s, d) =>
      Aggs.childrenAgg(t(s, d, "orders"), t(s, d, "lineitem"),
        "o_orderkey", "l_orderkey", "o_orderstatus", "l_quantity")),
    // bucket by the nested field, count PARENT docs per bucket
    "q_agg_reverse_nested" -> ((s, d) =>
      Aggs.reverseNestedAgg(t(s, d, "lineitem"), "l_orderkey", "l_returnflag")),
    // bucket CHILD docs by a PARENT field (inverse of children agg)
    "q_agg_parent" -> ((s, d) =>
      Aggs.parentAgg(t(s, d, "orders"), t(s, d, "lineitem"),
        "o_orderkey", "l_orderkey", "o_orderstatus", "l_quantity")),
    // hexagonal grid buckets (axial lattice, H3's role)
    "q_agg_geohex" -> ((s, d) =>
      Aggs.geohexGridAgg(withGeo(t(s, d, "customer")), "lat", "lon", size = 5.0, k = 15)),
    "q_agg_random_sampler" -> ((s, d) =>
      Aggs.randomSamplerAgg(t(s, d, "orders"), "o_orderkey", 0.1, "o_totalprice")),
    "q_suggest_phrase" -> ((s, d) =>
      Search.phraseSuggest(t(s, d, "documents"), "text", "table scin", maxEdits = 1, k = 5)),
    "q_match_fuzzy" -> ((s, d) => t(s, d, "documents")
      .where(graft.dsl.QueryDslJson.compile(
        """{"match": {"text": {"query": "spak window", "fuzziness": 1}}}"""))
      .select(col("doc_id")).orderBy(col("doc_id"))),
    "q_agg_sig_terms" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text", col("lang") === "en", minFgCount = 5, k = 10)),
    // significance heuristics are pluggable column math — chi_square
    // here, over the same one-pass (fg, bg) doc-count frame
    "q_agg_sig_chi2" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text", col("lang") === "en",
        minFgCount = 5, k = 10, heuristic = "chi_square")),
    // significant_terms, jlh heuristic (absolute x relative uplift)
    "q_agg_sig_jlh" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text", col("lang") === "en",
        minFgCount = 5, k = 10, heuristic = "jlh")),
    // significant_terms, mutual_information: textbook 2x2 MI over
    // term-presence x fg-membership doc counts (log2, bg superset)
    "q_agg_sig_mi" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text", col("lang") === "en",
        minFgCount = 5, k = 10, heuristic = "mutual_information")),
    // significant_terms, gnd: 1 - Google Normalized Distance between
    // the term and the foreground set (Cilibrasi & Vitanyi 2007)
    "q_agg_sig_gnd" -> ((s, d) =>
      Aggs.significantTerms(t(s, d, "documents"), "text", col("lang") === "en",
        minFgCount = 5, k = 10, heuristic = "gnd")),
    // significant_terms over a KEYWORD field: uplift math on field
    // values — one groupBy, no token explode
    "q_agg_sig_keyword" -> ((s, d) =>
      Aggs.significantTermsKeyword(t(s, d, "documents"), "source",
        col("lang") === "de", minFgCount = 2, k = 10)),
    // distributed terms accounting: per-shard top-N + ES's
    // doc_count_error_upper_bound from the unreporting shards' last
    // counts — the real coordinator protocol at 1000 executors
    "q_agg_terms_error" -> ((s, d) =>
      Aggs.termsAggShardError(t(s, d, "documents"), "source", "doc_id",
        size = 10, shards = 4, shardSize = 5)),
    // categorize_text over log-like event messages: the numeric
    // variable parts drop out, stable token patterns remain
    "q_agg_categorize" -> ((s, d) =>
      Aggs.categorizeText(Tables.events(s, d),
        concat_ws(" ", col("event_type"), col("props")), maxTokens = 4)),
    "q_agg_global" -> ((s, d) =>
      Aggs.globalWithFilter(t(s, d, "orders"), col("o_orderstatus") === "F", "o_totalprice")),
    // pipeline-agg percentile family over monthly bucket sums
    "q_agg_percentiles_bucket" -> ((s, d) =>
      Aggs.percentilesBucket(monthlyOrderSums(t(s, d, "orders")), "msum")),
    "q_agg_moving_percentiles" -> ((s, d) =>
      Aggs.movingPercentiles(monthlyOrderSums(t(s, d, "orders")), "m", "msum", 3)),
    // frequent_item_sets (pairs): brands co-occurring within an order
    "q_agg_frequent_items" -> ((s, d) =>
      Aggs.frequentItemSets(
        t(s, d, "lineitem").join(
          broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand", minSupport = 50).limit(20)),
  )

  val oracleSql: Map[String, String] = Map(
    // ---- C ----
    "q_agg_bucket_ops" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
      "p AS (SELECT bucket, doc_count, sum_v, round(sum_v / doc_count::DOUBLE, 4) AS avg_per_doc, " +
      "round(sum_v - lag(sum_v, 12) OVER (ORDER BY bucket), 4) AS serial_diff FROM b) " +
      "SELECT bucket, doc_count, sum_v, avg_per_doc, serial_diff FROM p " +
      "WHERE avg_per_doc >= 250000.0 ORDER BY bucket"),
    "q_agg_percentile_ranks" -> ("SELECT " +
      "round(count_if(l_extendedprice <= 1000.0)::DOUBLE / count(l_extendedprice)::DOUBLE * 100.0, 4) AS rank_1000_0, " +
      "round(count_if(l_extendedprice <= 10000.0)::DOUBLE / count(l_extendedprice)::DOUBLE * 100.0, 4) AS rank_10000_0, " +
      "round(count_if(l_extendedprice <= 50000.0)::DOUBLE / count(l_extendedprice)::DOUBLE * 100.0, 4) AS rank_50000_0 " +
      "FROM lineitem"),
    "q_agg_multi_terms" -> ("SELECT lang, source, count(*)::BIGINT AS doc_count FROM documents " +
      "GROUP BY lang, source ORDER BY doc_count DESC, lang, source LIMIT 10"),
    "q_agg_histogram_empty" -> ("WITH mm AS (SELECT date_trunc('month', min(o_orderdate)) AS lo, " +
      "date_trunc('month', max(o_orderdate)) AS hi FROM orders), " +
      "spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS bucket FROM mm), " +
      "c AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, count(*)::BIGINT AS n FROM orders GROUP BY 1) " +
      "SELECT spine.bucket, coalesce(c.n, 0)::BIGINT AS doc_count FROM spine LEFT JOIN c USING (bucket) ORDER BY bucket"),
    "q_terms_lookup" -> ("SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IN " +
      "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') ORDER BY o_orderkey"),
    "q_agg_auto_date_histogram" -> ("WITH sp AS (SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders), " +
      "st AS (SELECT CASE " +
      "WHEN date_diff('hour', date_trunc('hour', mn), date_trunc('hour', mx)) + 1 <= 20 THEN 'hour' " +
      "WHEN date_diff('day', date_trunc('day', mn), date_trunc('day', mx)) + 1 <= 20 THEN 'day' " +
      "WHEN date_diff('month', date_trunc('month', mn), date_trunc('month', mx)) + 1 <= 20 THEN 'month' " +
      "ELSE 'year' END AS iv FROM sp), " +
      "b AS (SELECT iv, CASE iv WHEN 'hour' THEN strftime(date_trunc('hour', o_orderdate), '%Y-%m-%d %H:%M:%S') " +
      "WHEN 'day' THEN strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S') " +
      "WHEN 'month' THEN strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') " +
      "ELSE strftime(date_trunc('year', o_orderdate), '%Y-%m-%d %H:%M:%S') END AS bucket " +
      "FROM orders CROSS JOIN st) " +
      "SELECT iv AS interval, bucket, count(*)::BIGINT AS doc_count FROM b GROUP BY 1, 2 ORDER BY bucket"),
    "q_agg_missing" -> ("SELECT sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT " +
      "AS missing_count FROM events"),
    "q_agg_bucket_stats" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1) " +
      "SELECT count(*)::BIGINT AS n_buckets, round(CAST(sum(CAST(sum_v AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_bucket, " +
      "round(max(sum_v), 4) AS max_bucket, round(min(sum_v), 4) AS min_bucket, " +
      "round(CAST(sum(CAST(sum_v AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_bucket FROM b"),
    "q_agg_normalize" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1) " +
      "SELECT bucket, doc_count, sum_v, " +
      "round(sum_v / CAST(sum(CAST(sum_v AS DECIMAL(18,4))) OVER () AS DOUBLE) * 100.0, 4) AS pct_of_sum " +
      "FROM b ORDER BY bucket"),
    "q_agg_normalize_methods" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
      "m AS (SELECT bucket, doc_count, sum_v, min(sum_v) OVER () AS mn, max(sum_v) OVER () AS mx, " +
      "CAST(sum(CAST(sum_v AS DECIMAL(18,4))) OVER () AS DOUBLE) / count(*) OVER () AS mean, " +
      "stddev_pop(sum_v) OVER () AS sd FROM b) " +
      "SELECT bucket, doc_count, sum_v, " +
      "round((sum_v - mn) / (mx - mn), 4) AS rescale_0_1, " +
      "round((sum_v - mn) / (mx - mn) * 100.0, 4) AS rescale_0_100, " +
      "round(sum_v - mean, 4) AS dev_from_mean, " +
      "round((sum_v - mean) / sd, 4) AS zscore FROM m ORDER BY bucket"),
    "q_agg_boxplot" -> ("SELECT round(quantile_cont(l_extendedprice, 0.0), 4) AS min_v, " +
      "round(quantile_cont(l_extendedprice, 0.25), 4) AS q1, " +
      "round(quantile_cont(l_extendedprice, 0.5), 4) AS q2, " +
      "round(quantile_cont(l_extendedprice, 0.75), 4) AS q3, " +
      "round(quantile_cont(l_extendedprice, 1.0), 4) AS max_v FROM lineitem"),
    "q_agg_mad" -> ("SELECT round(quantile_cont(abs(l_extendedprice - " +
      "(SELECT round(quantile_cont(l_extendedprice, 0.5), 4) FROM lineitem)), 0.5), 4) AS mad " +
      "FROM lineitem"),
    "q_agg_t_test" -> ("WITH m AS (SELECT " +
      "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS n1, " +
      "sum(CASE WHEN event_type = 'click' THEN value::DECIMAL(28,8) ELSE 0::DECIMAL(28,8) END)::DOUBLE AS s1, " +
      "sum(CASE WHEN event_type = 'click' THEN value * value ELSE 0.0 END) AS q1, " +
      "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::DOUBLE AS n2, " +
      "sum(CASE WHEN event_type = 'view' THEN value::DECIMAL(28,8) ELSE 0::DECIMAL(28,8) END)::DOUBLE AS s2, " +
      "sum(CASE WHEN event_type = 'view' THEN value * value ELSE 0.0 END) AS q2 FROM events) " +
      "SELECT n1::BIGINT AS n1, n2::BIGINT AS n2, " +
      "round(s1 / n1, 4) AS mean1, round(s2 / n2, 4) AS mean2, " +
      "round((s1 / n1 - s2 / n2) / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 + " +
      "((q2 - s2 * s2 / n2) / (n2 - 1)) / n2), 4) AS t_stat FROM m"),
    "q_agg_change_point" -> ("WITH b0 AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
      "b AS (SELECT bucket, round(sum_v / doc_count / 1000.0, 4) AS avg_k FROM b0), " +
      "t AS (SELECT count(avg_k)::DOUBLE AS n, CAST(sum(CAST(avg_k AS DECIMAL(24,6))) AS DOUBLE) AS s FROM b), " +
      "c AS (SELECT bucket, avg_k, " +
      "(count(avg_k) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS n1, " +
      "sum(avg_k) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1 FROM b), " +
      "st AS (SELECT bucket, avg_k, round(n1 * ((s1/n1) - (s/n)) * ((s1/n1) - (s/n)) + " +
      "(n - n1) * (((s-s1)/(n-n1)) - (s/n)) * (((s-s1)/(n-n1)) - (s/n)), 4) AS cp_stat " +
      "FROM c CROSS JOIN t WHERE n1 < n) " +
      "SELECT bucket, avg_k, cp_stat FROM st ORDER BY cp_stat DESC, bucket LIMIT 1"),
    "q_agg_t_test_homo" -> ("WITH m AS (SELECT " +
      "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS n1, " +
      "sum(CASE WHEN event_type = 'click' THEN value::DECIMAL(28,8) ELSE 0::DECIMAL(28,8) END)::DOUBLE AS s1, " +
      "sum(CASE WHEN event_type = 'click' THEN value * value ELSE 0.0 END) AS q1, " +
      "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::DOUBLE AS n2, " +
      "sum(CASE WHEN event_type = 'view' THEN value::DECIMAL(28,8) ELSE 0::DECIMAL(28,8) END)::DOUBLE AS s2, " +
      "sum(CASE WHEN event_type = 'view' THEN value * value ELSE 0.0 END) AS q2 FROM events) " +
      "SELECT n1::BIGINT AS n1, n2::BIGINT AS n2, " +
      "round(s1 / n1, 4) AS mean1, round(s2 / n2, 4) AS mean2, " +
      "round((s1 / n1 - s2 / n2) / sqrt((((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (n1 + n2 - 2)) " +
      "* (1.0 / n1 + 1.0 / n2)), 4) AS t_stat FROM m"),
    "q_agg_t_test_paired" -> ("WITH p AS (SELECT user_id, " +
      "min(CASE WHEN event_type = 'click' THEN value END) AS va, " +
      "min(CASE WHEN event_type = 'view' THEN value END) AS vb FROM events GROUP BY 1), " +
      "d AS (SELECT va - vb AS d FROM p WHERE va IS NOT NULL AND vb IS NOT NULL), " +
      "m AS (SELECT count(*)::DOUBLE AS n, sum(d::DECIMAL(28,8))::DOUBLE AS sd_sum, " +
      "sum(d * d) AS qd FROM d) " +
      "SELECT n::BIGINT AS n_pairs, round(sd_sum / n, 4) AS mean_diff, " +
      "round((sd_sum / n) / sqrt(((qd - sd_sum * sd_sum / n) / (n - 1)) / n), 4) AS t_stat FROM m"),
    "q_agg_cum_card" -> ("WITH fs AS (SELECT user_id, " +
      "min(epoch_ns(ts) // 3600000000000) AS bucket FROM events GROUP BY 1), " +
      "pb AS (SELECT bucket, count(*)::BIGINT AS new_users FROM fs GROUP BY 1) " +
      "SELECT bucket, new_users, " +
      "(sum(new_users) OVER (ORDER BY bucket))::BIGINT AS cum_users FROM pb ORDER BY bucket"),
    "q_agg_variable_width" -> ("WITH ed AS (SELECT " +
      "round(quantile_cont(l_quantity, 0.25), 4) AS e1, " +
      "round(quantile_cont(l_quantity, 0.50), 4) AS e2, " +
      "round(quantile_cont(l_quantity, 0.75), 4) AS e3 FROM lineitem) " +
      "SELECT ((l_quantity >= e1)::INT + (l_quantity >= e2)::INT + (l_quantity >= e3)::INT) AS bucket, " +
      "round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(sum(l_quantity::DECIMAL(18,4))::DOUBLE / count(*), 4) AS avg_v " +
      "FROM lineitem CROSS JOIN ed GROUP BY 1 ORDER BY 1"),
    "q_agg_geo_line" -> (GeoCte +
      " SELECT c.c_nationkey AS key, " +
      "array_to_string((list(printf('%.4f,%.4f', g.lat, g.lon) ORDER BY g.c_custkey))[1:5], '|') AS line, " +
      "least(count(*), 5)::INT AS n_points " +
      "FROM g JOIN customer c ON c.c_custkey = g.c_custkey " +
      "GROUP BY 1 ORDER BY 1"),
    "q_agg_geo_bounds" -> ("WITH g AS (SELECT c_mktsegment, " +
      "(c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat, " +
      "(c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon FROM customer) " +
      "SELECT c_mktsegment AS key, round(max(lat), 4) AS top, round(min(lon), 4) AS \"left\", " +
      "round(min(lat), 4) AS bottom, round(max(lon), 4) AS \"right\", count(*)::BIGINT AS doc_count " +
      "FROM g GROUP BY 1 ORDER BY key"),
    "q_agg_cartesian" -> ("WITH g AS (SELECT c_mktsegment, " +
      "(c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat, " +
      "(c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon FROM customer) " +
      "SELECT c_mktsegment AS key, round(min(lon), 4) AS min_x, round(max(lon), 4) AS max_x, " +
      "round(min(lat), 4) AS min_y, round(max(lat), 4) AS max_y, " +
      "round(avg(lon), 4) AS centroid_x, round(avg(lat), 4) AS centroid_y, " +
      "count(*)::BIGINT AS doc_count FROM g GROUP BY 1 ORDER BY key"),
    "q_agg_scripted_metric" -> ("SELECT l_returnflag AS key, " +
      "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 4) AS value, " +
      "count(*)::BIGINT AS doc_count FROM lineitem GROUP BY 1 ORDER BY key"),
    "q_agg_rate" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1) " +
      "SELECT bucket, doc_count, sum_v, " +
      "round(sum_v / date_part('day', last_day(bucket))::DOUBLE, 4) AS per_day " +
      "FROM b ORDER BY bucket"),
    "q_agg_geo_distance" -> (GeoCte + ", d AS (SELECT " +
      "2 * 6371 * asin(sqrt(pow(sin(radians(10.0 - lat) / 2), 2) + " +
      "cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(20.0 - lon) / 2), 2))) AS km FROM g) " +
      "SELECT CASE WHEN km < 2000.0 THEN '*-2000.0' WHEN km >= 2000.0 AND km < 5000.0 THEN '2000.0-5000.0' " +
      "WHEN km >= 5000.0 AND km < 10000.0 THEN '5000.0-10000.0' ELSE '10000.0-*' END AS ring, " +
      "count(*)::BIGINT AS doc_count FROM d GROUP BY 1 ORDER BY ring"),
    "q_agg_moving_fn" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1) " +
      "SELECT bucket, doc_count, sum_v, " +
      "round(max(sum_v) OVER w, 4) AS moving_max, " +
      "round(min(sum_v) OVER w, 4) AS moving_min, " +
      "round(CAST(sum(CAST(sum_v AS DECIMAL(18,4))) OVER w AS DOUBLE), 4) AS moving_sum " +
      "FROM b WINDOW w AS (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
      "ORDER BY bucket"),
    // every model folds the ordered window list left-to-right via
    // list_reduce — the same FP op order as the Scala aggregate()
    "q_agg_moving_models" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
      "w AS (SELECT bucket, doc_count, sum_v, " +
      "list(sum_v) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS vals FROM b), " +
      "m AS (SELECT bucket, doc_count, sum_v, vals, len(vals)::DOUBLE AS n, " +
      "list_reduce(list_prepend(0.0::DOUBLE, vals), (a, x) -> a + x) / len(vals)::DOUBLE AS mean FROM w) " +
      "SELECT bucket, doc_count, sum_v, round(mean, 4) AS unweighted_avg, " +
      "round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(vals) + 1), i -> vals[i] * i::DOUBLE)), (a, x) -> a + x) " +
      "/ (n * (n + 1.0) / 2.0), 4) AS linear_wavg, " +
      "round(sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(vals, x -> (x - mean) * (x - mean))), (a, x) -> a + x) / n), 4) AS moving_stddev, " +
      // 1-alpha / 1-beta are SUBTRACTED IN DOUBLE like the Scala side
      // (DECIMAL literals would promote differently). State is a
      // LIST [s, b], NOT a struct: DuckDB's list_reduce rebinds a
      // struct accumulator's fields mid-construction from the second
      // fold step on (a.s read while computing 'b' sees the NEW s),
      // while list construction reads the old accumulator throughout.
      "round(list_reduce(list_transform(vals, x -> [x::DOUBLE, 0.0::DOUBLE]), " +
      "(a, e) -> [0.3 * e[1] + (1.0::DOUBLE - 0.3::DOUBLE) * (a[1] + a[2]), " +
      "0.1 * ((0.3 * e[1] + (1.0::DOUBLE - 0.3::DOUBLE) * (a[1] + a[2])) - a[1]) + (1.0::DOUBLE - 0.1::DOUBLE) * a[2]])[1], 4) AS holt " +
      "FROM m ORDER BY bucket"),
    "q_agg_bucket_sort" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
      "r AS (SELECT row_number() OVER (ORDER BY sum_v DESC, bucket)::INT AS rank, " +
      "bucket, doc_count, sum_v FROM b) " +
      "SELECT rank, bucket, doc_count, sum_v FROM r WHERE rank > 2 AND rank <= 7 ORDER BY rank"),
    "q_agg_reverse_nested" -> ("SELECT l_returnflag AS key, count(*)::BIGINT AS doc_count, " +
      "count(DISTINCT l_orderkey)::BIGINT AS parent_count FROM lineitem GROUP BY 1 ORDER BY 1"),
    "q_agg_parent" -> ("SELECT o_orderstatus AS key, count(*)::BIGINT AS child_count, " +
      "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS metric_sum " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1"),
    "q_agg_geohex" -> (GeoCte +
      s", h AS (SELECT (${graft.agg.Aggs.Sqrt3Over3} * lon - lat / 3.0) / 5.0 AS q, " +
      s"lat * ${2.0 / 3.0} / 5.0 AS r FROM g), " +
      "c AS (SELECT q, r, -q - r AS s3, floor(q + 0.5) AS rq0, floor(r + 0.5) AS rr0, " +
      "floor((-q - r) + 0.5) AS rs0 FROM h), " +
      "d AS (SELECT *, abs(rq0 - q) AS dq, abs(rr0 - r) AS dr, abs(rs0 - s3) AS ds3 FROM c), " +
      "e AS (SELECT CASE WHEN dq > dr AND dq > ds3 THEN -rr0 - rs0 ELSE rq0 END AS rq, " +
      "CASE WHEN NOT (dq > dr AND dq > ds3) AND dr > ds3 THEN -rq0 - rs0 ELSE rr0 END AS rr FROM d) " +
      "SELECT rq::BIGINT::VARCHAR || ',' || rr::BIGINT::VARCHAR AS key, count(*)::BIGINT AS doc_count " +
      "FROM e GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 15"),
    "q_agg_children" -> ("WITH pp AS (SELECT l_orderkey AS o_orderkey, count(*)::BIGINT AS n_children, " +
      "sum(CAST(l_quantity AS DECIMAL(18,4))) AS m_sum FROM lineitem GROUP BY 1) " +
      "SELECT o_orderstatus AS key, count(*)::BIGINT AS parent_count, " +
      "sum(n_children)::BIGINT AS child_count, " +
      "round(CAST(sum(m_sum) AS DOUBLE), 4) AS metric_sum " +
      "FROM orders JOIN pp USING (o_orderkey) GROUP BY 1 ORDER BY key"),
    "q_agg_random_sampler" -> ("SELECT count(*)::BIGINT AS sampled_count, " +
      "floor(count(*)::DOUBLE / 0.1)::BIGINT AS est_total, " +
      "round(avg(o_totalprice), 4) AS sample_avg FROM orders " +
      s"WHERE ${hexFold("o_orderkey::VARCHAR", 12)} / 281474976710656.0 < 0.1"),
    "q_agg_diversified" -> ("WITH s AS (SELECT doc_id, lang, n_chars FROM documents " +
      "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) <= 40) " +
      "SELECT count(*)::BIGINT AS sample_size, round(avg(n_chars), 4) AS avg_metric FROM s"),
    "q_suggest_phrase" -> (TokCte + ", bg AS (SELECT doc_id, " +
      "unnest(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS bigram FROM tok WHERE len(toks) >= 2), " +
      "v AS (SELECT bigram, count(*)::BIGINT AS freq FROM bg GROUP BY bigram) " +
      "SELECT bigram AS suggestion, freq FROM v " +
      "WHERE bigram <> 'table scin' " +
      "AND levenshtein(split_part(bigram, ' ', 1), 'table') <= 1 " +
      "AND levenshtein(split_part(bigram, ' ', 2), 'scin') <= 1 " +
      "ORDER BY freq DESC, suggestion LIMIT 5"),
    "q_match_fuzzy" -> (TokCte + " SELECT doc_id FROM tok WHERE " +
      "len(list_filter(toks, t -> levenshtein(t, 'spak') <= 1)) > 0 " +
      "OR len(list_filter(toks, t -> levenshtein(t, 'window') <= 1)) > 0 ORDER BY doc_id"),
    "q_agg_terms" -> "SELECT o_orderpriority AS key, count(*)::BIGINT AS doc_count FROM orders GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 3",
    "q_agg_bucket_corr" -> ("WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count FROM orders GROUP BY 1), " +
      "r AS (SELECT doc_count, row_number() OVER (ORDER BY bucket) AS rn FROM b), " +
      "c AS (SELECT unnest(range(1, 81)) AS rn, unnest(list_transform(range(0, 80), " +
      "i -> (i * 37 % 100) / 100.0)) AS ind) " +
      "SELECT round(corr(doc_count::DOUBLE, ind), 4) AS correlation, " +
      "count(*)::BIGINT AS n_buckets FROM r JOIN c USING (rn)"),
    "q_agg_holt_winters" -> {
      // State is a flat LIST [s, b, se1..se4, t] — see the q_agg_
      // moving_models holt note: a struct accumulator's fields rebind
      // mid-construction in DuckDB's list_reduce, lists don't. The
      // level update s' is inlined at each use so the recomputed
      // value is bit-identical to the Spark side's reuse; the
      // seasonal slot for step t sits at list position (t%4)+3.
      val seasAt = "a[(CAST(a[7] AS INTEGER) % 4) + 3]"
      val sN = s"(0.5 * (e[1] - $seasAt) + (1.0::DOUBLE - 0.5::DOUBLE) * (a[1] + a[2]))"
      def seasSlot(k: Int) =
        s"CASE WHEN (CAST(a[7] AS INTEGER) % 4) + 3 = ${k + 2} " +
        s"THEN 0.2 * (e[1] - $sN) + (1.0::DOUBLE - 0.2::DOUBLE) * a[${k + 2}] ELSE a[${k + 2}] END"
      "WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
        "count(*)::BIGINT AS doc_count, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM orders GROUP BY 1), " +
        "w AS (SELECT bucket, doc_count, sum_v, " +
        "list(sum_v) OVER (ORDER BY bucket ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals FROM b), " +
        "r AS (SELECT bucket, doc_count, sum_v, " +
        "list_reduce(list_transform(vals, x -> [x::DOUBLE, 0.0::DOUBLE, " +
        "0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 1.0::DOUBLE]), " +
        s"(a, e) -> [$sN, " +
        s"0.3 * ($sN - a[1]) + (1.0::DOUBLE - 0.3::DOUBLE) * a[2], " +
        s"${seasSlot(1)}, ${seasSlot(2)}, ${seasSlot(3)}, ${seasSlot(4)}, " +
        "a[7] + 1.0]) AS st FROM w) " +
        "SELECT bucket, doc_count, sum_v, " +
        "round(st[1] + st[2] + st[(CAST(st[7] AS INTEGER) % 4) + 3], 4) AS holt_winters FROM r ORDER BY bucket"
    },
    // mirrors bucketCountKsTest bit-for-bit: expected CDF accumulates
    // 0.1 REPEATEDLY (window sum), matching the Scala scanLeft's
    // addition order, so round(·,4) can't straddle an FP knife edge
    "q_agg_ks_test" -> ("WITH b AS (SELECT least(floor(value / 10), 9) AS bucket, " +
      "count(*)::DOUBLE AS cnt FROM events GROUP BY 1), " +
      "o AS (SELECT bucket, cnt, row_number() OVER (ORDER BY bucket) AS rn, " +
      "sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS oc, " +
      "sum(cnt) OVER () AS n FROM b), " +
      "f AS (SELECT rn, sum(fr) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS ecum " +
      "FROM (SELECT unnest(range(1, 11)) AS rn, 0.1::DOUBLE AS fr)), " +
      "dd AS (SELECT o.oc / o.n - f.ecum AS diff, o.n AS n FROM o JOIN f USING (rn)), " +
      "a AS (SELECT max(-diff) AS dl, max(diff) AS dg, max(abs(diff)) AS dt, " +
      "any_value(n) AS n, count(*)::BIGINT AS n_buckets FROM dd) " +
      "SELECT round(greatest(dl, 0.0), 4) AS d_less, round(greatest(dg, 0.0), 4) AS d_greater, " +
      "round(dt, 4) AS d_two_sided, " +
      "round(least(exp(-2.0 * n * greatest(dl, 0.0) * greatest(dl, 0.0)), 1.0), 4) AS p_less, " +
      "round(least(exp(-2.0 * n * greatest(dg, 0.0) * greatest(dg, 0.0)), 1.0), 4) AS p_greater, " +
      "round(least(2.0 * exp(-2.0 * n * dt * dt), 1.0), 4) AS p_two_sided, " +
      "n_buckets FROM a"),
    "q_agg_terms_script" -> ("SELECT floor(o_totalprice / 50000.0) AS key, " +
      "count(*)::BIGINT AS doc_count FROM orders GROUP BY 1 " +
      "ORDER BY doc_count DESC, key LIMIT 8"),
    "q_agg_histogram_offset" -> ("SELECT floor((l_extendedprice - 2500.0) / 5000.0) * 5000.0 " +
      "+ 2500.0 AS bucket, count(*)::BIGINT AS doc_count FROM lineitem " +
      "GROUP BY 1 HAVING count(*) >= 100 ORDER BY bucket"),
    "q_agg_terms_missing" -> ("SELECT coalesce(CASE WHEN lang = 'xx' THEN NULL ELSE lang END, " +
      "'N/A') AS key, count(*)::BIGINT AS doc_count FROM documents GROUP BY 1 " +
      "ORDER BY doc_count DESC, key LIMIT 10"),
    "q_agg_terms_order" -> ("SELECT o_orderpriority AS key, count(*)::BIGINT AS doc_count, " +
      "round(avg(o_totalprice), 4) AS avg_price FROM orders GROUP BY 1 " +
      "ORDER BY avg_price DESC, key LIMIT 3"),
    "q_agg_terms_partition" -> (s"SELECT p_name AS key, count(*)::BIGINT AS doc_count " +
      s"FROM part WHERE ${hexFold("p_name", 12)} % 4 = 1 GROUP BY 1 " +
      "ORDER BY doc_count DESC, key LIMIT 10"),
    "q_agg_stats" -> ("SELECT count(l_extendedprice)::BIGINT AS cnt, round(min(l_extendedprice), 4) AS min_v, " +
      "round(max(l_extendedprice), 4) AS max_v, round(avg(l_extendedprice), 4) AS avg_v, " +
      "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v FROM lineitem"),
    "q_agg_extended_stats" -> ("SELECT count(l_quantity)::BIGINT AS cnt, round(avg(l_quantity), 4) AS avg_v, " +
      "round(sum(l_quantity * l_quantity), 4) AS sum_sq, round(var_pop(l_quantity), 4) AS variance, " +
      "round(stddev_pop(l_quantity), 4) AS std_dev FROM lineitem"),
    "q_agg_percentiles" -> ("SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25, " +
      "round(quantile_cont(l_extendedprice, 0.50), 4) AS p50, round(quantile_cont(l_extendedprice, 0.95), 4) AS p95 FROM lineitem"),
    "q_agg_percentiles_tdigest" -> ("SELECT true AS p25_ok, true AS p50_ok, " +
      "true AS p95_ok, count(*)::BIGINT AS n FROM lineitem"),
    "q_agg_percentiles_hdr" -> ("WITH b AS (SELECT " +
      "floor(round(l_extendedprice / pow(10, floor(round(log10(l_extendedprice), 9)) - 2), 9)) * " +
      "pow(10, floor(round(log10(l_extendedprice), 9)) - 2) AS bucket " +
      "FROM lineitem WHERE l_extendedprice > 0), " +
      "c AS (SELECT bucket, count(*)::BIGINT AS c FROM b GROUP BY 1), " +
      "s AS (SELECT bucket, sum(c) OVER (ORDER BY bucket) AS cum, sum(c) OVER () AS n FROM c) " +
      "SELECT min(CASE WHEN cum >= n * 0.25 THEN bucket END) AS p25, " +
      "min(CASE WHEN cum >= n * 0.50 THEN bucket END) AS p50, " +
      "min(CASE WHEN cum >= n * 0.95 THEN bucket END) AS p95 FROM s"),
    "q_agg_cardinality" -> "SELECT count(DISTINCT l_partkey)::BIGINT AS cardinality FROM lineitem",
    "q_agg_histogram" -> ("SELECT CAST(floor(l_extendedprice / 5000.0) * 5000.0 AS DOUBLE) AS bucket, " +
      "count(*)::BIGINT AS doc_count FROM lineitem GROUP BY 1 ORDER BY bucket"),
    "q_agg_date_histogram" -> ("SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS bucket, " +
      "count(*)::BIGINT AS doc_count FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_agg_range" -> ("SELECT CASE WHEN o_totalprice < 1000.0 THEN '*-1000.0' " +
      "WHEN o_totalprice >= 1000.0 AND o_totalprice < 5000.0 THEN '1000.0-5000.0' " +
      "WHEN o_totalprice >= 5000.0 AND o_totalprice < 20000.0 THEN '5000.0-20000.0' " +
      "ELSE '20000.0-*' END AS bucket, count(*)::BIGINT AS doc_count, " +
      "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v " +
      "FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_agg_filters" -> ("SELECT count_if(value > 75)::BIGINT AS high_value, " +
      "count_if(event_type = 'click')::BIGINT AS clicks, count_if(event_type = 'error')::BIGINT AS errors FROM events"),
    "q_time_series" -> ("WITH s AS (SELECT event_type, (user_id % 3)::VARCHAR AS shard, " +
      "epoch_ns(ts) AS tsn, value FROM events), " +
      s"t AS (SELECT ${hexFold("event_type || '|' || shard", 12)} AS _tsid, event_type, shard, " +
      "tsn, value FROM s) " +
      "SELECT _tsid, event_type, shard, count(*)::BIGINT AS doc_count, " +
      "min(tsn) // 1000000 AS ts_min, max(tsn) // 1000000 AS ts_max, " +
      "round(min(value), 4) AS value_min, round(max(value), 4) AS value_max, " +
      "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS value_sum " +
      "FROM t GROUP BY 1, 2, 3 ORDER BY _tsid"),
    "q_agg_composite_date" -> ("WITH b AS (SELECT strftime(date_trunc('month', o_orderdate), " +
      "'%Y-%m-%d') AS month_key, o_orderpriority, count(*)::BIGINT AS doc_count " +
      "FROM orders GROUP BY 1, 2) " +
      "SELECT month_key, o_orderpriority, doc_count FROM b " +
      "WHERE month_key > '1995-06-01' OR (month_key = '1995-06-01' AND o_orderpriority > '3-MEDIUM') " +
      "ORDER BY month_key, o_orderpriority LIMIT 12"),
    "q_agg_composite_missing" -> ("SELECT CASE WHEN lang = 'xx' THEN NULL ELSE lang END " +
      "AS maybe_lang, source, count(*)::BIGINT AS doc_count FROM documents GROUP BY 1, 2 " +
      "ORDER BY maybe_lang ASC NULLS FIRST, source ASC LIMIT 15"),
    "q_agg_filters_other" -> ("SELECT count_if(value > 75)::BIGINT AS high_value, " +
      "count_if(event_type = 'click')::BIGINT AS clicks, " +
      "count_if(event_type = 'error')::BIGINT AS errors, " +
      "count_if(NOT (coalesce(value > 75, false) OR coalesce(event_type = 'click', false) " +
      "OR coalesce(event_type = 'error', false)))::BIGINT AS other_docs FROM events"),
    "q_agg_top_hits" -> ("SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM " +
      "(SELECT o_orderpriority, o_orderkey, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
      "WHERE rn <= 3 ORDER BY o_orderpriority, rn"),
    "q_agg_composite" -> ("SELECT lang, source, count(*)::BIGINT AS doc_count FROM documents " +
      "WHERE lang > 'de' OR (lang = 'de' AND source > 'src3') GROUP BY lang, source ORDER BY lang, source LIMIT 10"),
    "q_agg_nested" -> ("SELECT lang, source, count(*)::BIGINT AS doc_count, round(avg(n_chars), 4) AS avg_metric " +
      "FROM documents GROUP BY lang, source ORDER BY lang, source"),
    "q_agg_sig_terms" -> ("WITH terms AS (SELECT lang = 'en' AS fg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'en')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count(*)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5) " +
      "SELECT term, fg_count, bg_count, " +
      "round((fg_count / fg_total) * ln((fg_count / fg_total) / (bg_count / bg_total)), 4) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_sig_chi2" -> ("WITH terms AS (SELECT lang = 'en' AS fg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'en')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count(*)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5) " +
      "SELECT term, fg_count, bg_count, " +
      "round(pow((fg_count / fg_total) - (bg_count / bg_total), 2) / ((fg_count / fg_total) + (bg_count / bg_total)), 6) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_sig_jlh" -> ("WITH terms AS (SELECT lang = 'en' AS fg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'en')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count(*)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5) " +
      "SELECT term, fg_count, bg_count, " +
      "round(((fg_count / fg_total) - (bg_count / bg_total)) * ((fg_count / fg_total) / (bg_count / bg_total)), 6) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_sig_mi" -> ("WITH terms AS (SELECT lang = 'en' AS fg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'en')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count(*)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5), " +
      "c AS (SELECT term, fg_count, bg_count, bg_total AS n, fg_count::DOUBLE AS n11, " +
      "(bg_count - fg_count)::DOUBLE AS n10, (fg_total - fg_count)::DOUBLE AS n01, " +
      "(bg_total - bg_count - fg_total + fg_count)::DOUBLE AS n00, " +
      "bg_count::DOUBLE AS r1, (bg_total - bg_count)::DOUBLE AS r0, " +
      "fg_total AS c1, (bg_total - fg_total) AS c0 FROM g CROSS JOIN tot) " +
      "SELECT term, fg_count, bg_count, round(" +
      "(CASE WHEN n11 > 0 THEN (n11/n) * log2(n*n11/(r1*c1)) ELSE 0 END) + " +
      "(CASE WHEN n10 > 0 THEN (n10/n) * log2(n*n10/(r1*c0)) ELSE 0 END) + " +
      "(CASE WHEN n01 > 0 THEN (n01/n) * log2(n*n01/(r0*c1)) ELSE 0 END) + " +
      "(CASE WHEN n00 > 0 THEN (n00/n) * log2(n*n00/(r0*c0)) ELSE 0 END), 6) AS score " +
      "FROM c ORDER BY score DESC, term LIMIT 10"),
    "q_agg_sig_gnd" -> ("WITH terms AS (SELECT lang = 'en' AS fg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'en')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count(*)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5) " +
      "SELECT term, fg_count, bg_count, " +
      "round(1 - (greatest(ln(bg_count::DOUBLE), ln(fg_total)) - ln(fg_count::DOUBLE)) / " +
      "(ln(bg_total) - least(ln(bg_count::DOUBLE), ln(fg_total))), 6) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_sig_keyword" -> ("WITH tot AS (SELECT count_if(lang = 'de')::DOUBLE AS fg_total, count(*)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT source AS term, count_if(lang = 'de')::BIGINT AS fg_count, count(*)::BIGINT AS bg_count " +
      "FROM documents GROUP BY source HAVING count_if(lang = 'de') >= 2) " +
      "SELECT term, fg_count, bg_count, " +
      "round((fg_count / fg_total) * ln((fg_count / fg_total) / (bg_count / bg_total)), 4) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_terms_error" -> (s"WITH s AS (SELECT source AS key, ${hexFold("'shard:' || doc_id::VARCHAR", 12)} % 4 AS sh FROM documents), " +
      "ps AS (SELECT sh, key, count(*)::BIGINT AS cnt FROM s GROUP BY sh, key), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY sh ORDER BY cnt DESC, key) AS rk FROM ps), " +
      "kept AS (SELECT * FROM rk WHERE rk <= 5), " +
      "th AS (SELECT sh, CASE WHEN count(*) < 5 THEN 0 ELSE min(cnt) END AS th FROM kept GROUP BY sh), " +
      "tot AS (SELECT sum(th) AS total FROM th), " +
      "m AS (SELECT key, sum(cnt)::BIGINT AS doc_count, sum(th) AS rep FROM kept JOIN th USING (sh) GROUP BY key) " +
      "SELECT key, doc_count, (total - rep)::BIGINT AS doc_count_error_upper_bound " +
      "FROM m CROSS JOIN tot ORDER BY doc_count DESC, key LIMIT 10"),
    "q_count" -> ("SELECT count(*)::BIGINT AS count FROM documents " +
      "WHERE lang = 'en' AND n_chars >= 200"),
    "q_source_filter" -> ("SELECT doc_id, n_chars FROM documents " +
      "WHERE lang = 'en' ORDER BY doc_id"),
    "q_agg_sig_bg" -> ("WITH terms AS (SELECT (lang = 'de' AND n_chars > 100) AS fg, n_chars > 100 AS bg, " +
      "unnest(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS term FROM documents), " +
      "tot AS (SELECT count_if(lang = 'de' AND n_chars > 100)::DOUBLE AS fg_total, count_if(n_chars > 100)::DOUBLE AS bg_total FROM documents), " +
      "g AS (SELECT term, count_if(fg)::BIGINT AS fg_count, count_if(bg)::BIGINT AS bg_count FROM terms GROUP BY term HAVING count_if(fg) >= 5) " +
      "SELECT term, fg_count, bg_count, " +
      "round((fg_count / fg_total) * ln((fg_count / fg_total) / (bg_count / bg_total)), 4) AS score " +
      "FROM g CROSS JOIN tot ORDER BY score DESC, term LIMIT 10"),
    "q_agg_categorize" -> ("WITH m AS (SELECT list_filter(" +
      "regexp_split_to_array(lower(concat_ws(' ', event_type, props)), '[^a-z0-9]+'), x -> len(x) > 0) AS toks FROM events), " +
      "c AS (SELECT array_to_string(list_filter(toks, t -> NOT regexp_matches(t, '^[0-9]+$'))[1:4], ' ') AS category FROM m) " +
      "SELECT category, count(*)::BIGINT AS doc_count FROM c WHERE len(category) > 0 " +
      "GROUP BY category ORDER BY doc_count DESC, category"),
    "q_agg_global" -> ("SELECT count(*)::BIGINT AS global_count, round(avg(o_totalprice), 4) AS global_avg, " +
      "count_if(o_orderstatus = 'F')::BIGINT AS filtered_count, " +
      "round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS filtered_avg FROM orders"),

    "q_agg_top_metrics" -> ("SELECT lang, max_by(n_chars, doc_id) AS latest_n_chars, " +
      "max(doc_id) AS latest_doc FROM documents GROUP BY lang ORDER BY lang"),
    "q_agg_top_metrics_multi" -> ("SELECT lang, max_by(n_chars, doc_id) AS latest_n_chars, " +
      "max_by(source, doc_id) AS latest_source, max(doc_id) AS latest_doc " +
      "FROM documents GROUP BY lang ORDER BY lang"),
    "q_agg_date_histogram_offset" -> ("SELECT date_trunc('month', o_orderdate - INTERVAL 10 DAY) " +
      "+ INTERVAL 10 DAY AS bucket, count(*)::BIGINT AS doc_count FROM orders " +
      "GROUP BY 1 ORDER BY bucket"),
    "q_agg_string_stats" -> ("SELECT count(text)::BIGINT AS cnt, min(length(text))::INT AS min_length, " +
      "max(length(text))::INT AS max_length, round(avg(length(text)), 4) AS avg_length FROM documents"),
    "q_agg_sampler" -> ("WITH h AS (SELECT *, list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(regexp_extract_all(substr(md5(doc_id::VARCHAR), 1, 4), '.'), " +
      "c -> (CASE WHEN ascii(c) <= 57 THEN ascii(c) - 48 ELSE ascii(c) - 87 END)::BIGINT)), (a, v) -> a * 16 + v) AS hv " +
      "FROM documents) SELECT count(*)::BIGINT AS sample_size, round(avg(n_chars), 4) AS avg_n_chars " +
      "FROM h WHERE hv % 5 = 0"),
    "q_agg_date_range" -> ("SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN '*-1997' " +
      "WHEN o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01' THEN '1997-1999' " +
      "ELSE '1999-*' END AS bucket, count(*)::BIGINT AS doc_count FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_tpch_q6" -> ("SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue " +
      "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
      "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    "q_agg_adjacency" -> ("SELECT count_if(o_orderpriority = '1-URGENT')::BIGINT AS urgent, " +
      "count_if(o_totalprice > 20000)::BIGINT AS big, count_if(o_orderstatus = 'O')::BIGINT AS open, " +
      "count_if(o_orderpriority = '1-URGENT' AND o_totalprice > 20000)::BIGINT AS \"urgent&big\", " +
      "count_if(o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')::BIGINT AS \"urgent&open\", " +
      "count_if(o_totalprice > 20000 AND o_orderstatus = 'O')::BIGINT AS \"big&open\" FROM orders"),
    "q_agg_rare_terms" -> ("SELECT source AS key, count(*)::BIGINT AS doc_count FROM documents " +
      "GROUP BY source HAVING count(*) <= 30 ORDER BY doc_count, key LIMIT 10"),
    "q_agg_weighted_avg" -> ("SELECT round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,8))) AS DOUBLE) / " +
      "CAST(sum(CAST(CASE WHEN l_extendedprice IS NOT NULL THEN l_quantity END AS DECIMAL(28,8))) AS DOUBLE), 4) AS weighted_avg FROM lineitem"),
    "q_agg_matrix_stats" -> ("SELECT count(*)::BIGINT AS cnt, " +
      "round(covar_pop(l_quantity, l_extendedprice), 4) AS covariance, " +
      "round(corr(l_quantity, l_extendedprice), 4) AS correlation FROM lineitem"),
    "q_agg_ewma" -> ("WITH b AS (SELECT epoch_us(ts) // 3600000000 AS bucket, count(*)::BIGINT AS n " +
      "FROM events GROUP BY 1), " +
      "w AS (SELECT bucket, n, list(n::DOUBLE) OVER " +
      "(ORDER BY bucket ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS arr FROM b) " +
      "SELECT bucket, n, round(list_reduce(arr, (a, x) -> x * 0.3 + a * 0.7), 4) AS ewma " +
      "FROM w ORDER BY bucket"),
    "q_agg_histogram_field" -> ("WITH b AS (SELECT user_id, floor(value / 100.0) * 100.0 AS bv, " +
      "count(*)::BIGINT AS c FROM events GROUP BY 1, 2) " +
      "SELECT sum(c)::BIGINT AS value_count, " +
      "CAST(sum(CAST(bv * c AS DECIMAL(18,4))) AS DOUBLE) AS total, " +
      "min(bv) AS lo, max(bv) AS hi FROM b"),
    "q_geo_centroid" -> (GeoCte.replace("FROM customer", "FROM customer WHERE c_mktsegment = 'BUILDING'") +
      " SELECT round(avg(lat), 4) AS centroid_lat, round(avg(lon), 4) AS centroid_lon, " +
      "count(*)::BIGINT AS doc_count FROM g"),
    // geohash p=4: 20 interleaved bits (lon 10 + lat 10), base32 chars.
    // Same fixed-point floor construction as the GeoHash kernel —
    // pure arithmetic, so both engines agree bit-for-bit.
    "q_geo_grid" -> (GeoCte + ", b AS (SELECT " +
      "least(CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT), 1023) AS loni, " +
      "least(CAST(floor((lat + 90.0) / 180.0 * 1024) AS BIGINT), 1023) AS lati FROM g), " +
      "v AS (SELECT list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 20), k -> " +
      "CASE WHEN k % 2 = 0 THEN (loni >> (9 - k // 2)::INT) & 1 ELSE (lati >> (9 - k // 2)::INT) & 1 END)), " +
      "(a, b) -> a * 2 + b) AS v FROM b), " +
      "h AS (SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (((v >> 15) & 31))::INT + 1, 1) || " +
      "substr('0123456789bcdefghjkmnpqrstuvwxyz', (((v >> 10) & 31))::INT + 1, 1) || " +
      "substr('0123456789bcdefghjkmnpqrstuvwxyz', (((v >> 5) & 31))::INT + 1, 1) || " +
      "substr('0123456789bcdefghjkmnpqrstuvwxyz', ((v & 31))::INT + 1, 1) AS key FROM v) " +
      "SELECT key, count(*)::BIGINT AS doc_count FROM h GROUP BY key " +
      "ORDER BY doc_count DESC, key LIMIT 15"),
    "q_agg_composite_geo" -> (GeoCte.replace("SELECT c_custkey,", "SELECT c_custkey, c_mktsegment AS seg,")
      + ", c AS (SELECT seg, greatest(least(lat, 85.05112878), -85.05112878) AS latc, lon FROM g), " +
      "tt AS (SELECT seg, '4/' || CAST(least(floor((lon + 180.0) / 360.0 * 16.0), 15.0) AS BIGINT)::VARCHAR || '/' || " +
      "CAST(greatest(least(floor(round((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 16.0, 9)), 15.0), 0.0) AS BIGINT)::VARCHAR AS tile FROM c), " +
      "b AS (SELECT tile, seg, count(*)::BIGINT AS doc_count FROM tt GROUP BY 1, 2) " +
      "SELECT tile, seg, doc_count FROM b WHERE tile > '4/11/7' OR (tile = '4/11/7' AND seg > 'BUILDING') " +
      "ORDER BY tile, seg LIMIT 12"),
    "q_geo_tile" -> (GeoCte + ", c AS (SELECT greatest(least(lat, 85.05112878), -85.05112878) AS latc, lon FROM g), " +
      "t AS (SELECT CAST(least(floor((lon + 180.0) / 360.0 * 64.0), 63.0) AS BIGINT) AS x, " +
      "CAST(greatest(least(floor(round((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 64.0, 9)), 63.0), 0.0) AS BIGINT) AS y FROM c) " +
      "SELECT '6/' || x::VARCHAR || '/' || y::VARCHAR AS key, count(*)::BIGINT AS doc_count " +
      "FROM t GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 15"),
    "q_search_body" -> ("WITH r AS (SELECT source, CAST(trunc(n_chars / 100.0) AS BIGINT) AS kchars " +
      "FROM documents WHERE lang = 'en') " +
      "SELECT kchars AS by_k, count(*)::BIGINT AS doc_count, " +
      "count(DISTINCT source)::BIGINT AS srcs FROM r WHERE kchars >= 1 " +
      "GROUP BY 1 ORDER BY by_k"),
    "q_search_paging" -> ("SELECT * FROM documents WHERE lang = 'de' " +
      "ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 5"),
    "q_aggs_json" -> ("SELECT lang AS by_lang, source AS by_src, count(*)::BIGINT AS doc_count, " +
      "round(avg(n_chars), 4) AS avg_chars, count(n_chars)::BIGINT AS n_vals " +
      "FROM documents GROUP BY 1, 2 ORDER BY by_lang, by_src"),
    "q_aggs_json_date" -> ("SELECT (epoch_us(ts) // 86400000000) * 86400000000000 AS by_day, " +
      "count(*)::BIGINT AS doc_count, count(DISTINCT user_id)::BIGINT AS users, " +
      "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total FROM events GROUP BY 1 ORDER BY by_day"),
    "q_aggs_json_range" -> ("WITH r AS (SELECT value, CASE WHEN value < 100 THEN '*-100.0' " +
      "WHEN value >= 100 AND value < 300 THEN '100.0-300.0' " +
      "WHEN value >= 300 THEN '300.0-*' END AS vr FROM events) " +
      "SELECT vr, count(*)::BIGINT AS doc_count, max(value) AS hi FROM r " +
      "WHERE vr IS NOT NULL GROUP BY vr ORDER BY vr"),
    "q_mvt" -> (GeoCte + ", c AS (SELECT lat, lon, greatest(least(lat, 85.05112878), -85.05112878) AS latc FROM g), " +
      "t AS (SELECT lat, lon, CAST(least(floor((lon + 180.0) / 360.0 * 32.0), 31.0) AS BIGINT) AS x, " +
      "CAST(greatest(least(floor(round((1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * 32.0, 9)), 31.0), 0.0) AS BIGINT) AS y FROM c), " +
      "a AS (SELECT x, y, count(*)::BIGINT AS doc_count, round(avg(lat), 4) AS centroid_lat, round(avg(lon), 4) AS centroid_lon FROM t GROUP BY x, y) " +
      "SELECT '5/' || x::VARCHAR || '/' || y::VARCHAR AS key, doc_count, centroid_lat, centroid_lon, " +
      "round(x / 32.0 * 360.0 - 180.0, 6) AS west, round((x + 1) / 32.0 * 360.0 - 180.0, 6) AS east, " +
      "round(degrees(atan((exp(pi() * (1.0 - 2.0 * y / 32.0)) - exp(-(pi() * (1.0 - 2.0 * y / 32.0)))) / 2.0)), 6) AS north, " +
      "round(degrees(atan((exp(pi() * (1.0 - 2.0 * (y + 1) / 32.0)) - exp(-(pi() * (1.0 - 2.0 * (y + 1) / 32.0)))) / 2.0)), 6) AS south " +
      "FROM a ORDER BY doc_count DESC, key LIMIT 12"),
    "q_autocomplete" -> (TokCte + " SELECT token, count(*)::BIGINT AS freq FROM " +
      "(SELECT unnest(toks) AS token FROM tok) WHERE token LIKE 's%' " +
      "GROUP BY token ORDER BY freq DESC, token LIMIT 8"),
  )
}

package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.util.Num

/** The `_search` request-body `"aggs"` JSON compiler — the aggregation
  * half of the Query DSL surface (QueryDslJson compiles the `query`
  * half). A request's aggregation TREE compiles to ONE flat groupBy:
  * every bucket level contributes a key column (named after its agg),
  * metrics evaluate at the deepest level next to `doc_count`, and the
  * whole tree costs a single partial-aggregated exchange — the Spark
  * shape of ES's per-shard bucket tree + reduce.
  *
  * Supported (the high-frequency subset):
  *  - bucket: `terms` (field, size, include/exclude full-match regex
  *    filters pushed below the partial agg, `missing` substitute
  *    bucket), `histogram` (field, interval), `date_histogram`
  *    (fixed_interval s/m/h/d over ns-long event time, OR
  *    calendar_interval day/week/month/quarter/year via date_trunc),
  *    `range` (ES's `*-to` / `from-to` / `from-*` key labels;
  *    from-inclusive, to-exclusive, non-matching rows drop like ES;
  *    declared-order first-match-wins — ES additionally duplicates a
  *    doc into every OVERLAPPING range, so keep ranges disjoint
  *    here), `geotile_grid` / `geohash_grid` (geo_point field →
  *    `<f>_lat`/`<f>_lon` columns, shared cell-key math with the
  *    Scala operators)
  *  - metric: `avg` `sum` `min` `max` `value_count` `cardinality`
  *    (exact distinct by default — documented superior to ES's HLL;
  *    `precision_threshold` routes to HLL++, the O(sketch)-state
  *    100 TB path), `stats` / `extended_stats` / `percentiles`
  *    (exact interpolation, or `"tdigest": true` for ES's own sketch
  *    engine) / `weighted_avg` as flat `<agg>_<part>` columns
  *  - dedicated tree shapes: `composite` (after-key paging below the
  *    agg), `significant_terms` (query foreground vs index
  *    background), terms > `top_hits` (per-bucket document windows),
  *    `filters` (named Query-DSL buckets + other_bucket),
  *    `random_sampler` (deterministic hash draw below the sub-tree),
  *    `missing` (null-bucket count)
  *  - nesting: bucket > bucket > ... > metrics, any depth
  *  - PIPELINE aggs (the Kibana staples). Parent pipelines —
  *    `derivative`, `cumulative_sum`, `serial_diff`, `moving_fn`
  *    (MovingFunctions whitelist), `bucket_script`,
  *    `bucket_selector`, `bucket_sort` — are declared beside the leaf
  *    metrics and compile to window math / Painless column math OVER
  *    the compiled bucket frame: the frame is #buckets rows (tiny at
  *    any corpus size — the heavy exchange is the partial-aggregated
  *    groupBy below it), so the single-partition ordered window is
  *    free, exactly like the Scala pipeline kernels
  *    (Aggs.dateHistogramPipeline). Sibling pipelines — `avg_bucket`
  *    `sum_bucket` `min_bucket` `max_bucket` `stats_bucket`
  *    `extended_stats_bucket` `percentiles_bucket` beside ONE
  *    multi-bucket parent at the root — compile the parent tree, then
  *    reduce the referenced metric column to ONE row (documented
  *    delta: ES's response carries buckets AND the sibling value; the
  *    flat frame returns the sibling REDUCE row — re-issue without
  *    the sibling for the buckets).
  *
  * Flat-table semantics (documented delta vs ES): metric aggs may
  * appear ONLY at the deepest level — a metric declared as a sibling
  * of a bucket agg at a non-leaf level throws (ES re-aggregates per
  * level; silently dropping it would return a result with columns
  * missing). `terms` honors `size` only when the tree is a SINGLE
  * terms level (top-k by doc_count, ES's order, ES default size 10);
  * an explicit `size` on a nested tree throws because the flat
  * groupBy cannot page per level, and an omitted nested size returns
  * all bucket paths ordered by key. */
object AggsJson {

  def compile(df: DataFrame, json: String): DataFrame =
    compile(df, json, fgPred = None, background = None)

  /** Full compile surface: `fgPred`/`background` carry the request's
    * query predicate and the PRE-query frame so `significant_terms`
    * can measure foreground uplift against the whole index (the
    * filtered frame alone cannot see the background rates). The
    * SearchBody front door passes both; direct callers without a
    * query context get fg == bg (defined, degenerate uplift 0). */
  def compile(df: DataFrame, json: String,
      fgPred: Option[Column], background: Option[DataFrame]): DataFrame = {
    val root = JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap.get("aggs").orElse(fs.toMap.get("aggregations")) match {
        case Some(JObject(aggs)) => aggs
        case _ => throw new IllegalArgumentException("body needs an aggs object")
      }
      case _ => throw new IllegalArgumentException(s"bad aggs body: $json")
    }
    // dedicated tree shapes first: composite (its own paging protocol),
    // significant_terms (needs the background frame), and a
    // terms>top_hits tree (returns DOCS per bucket, not metrics)
    root match {
      // SIBLING pipelines: `*_bucket` nodes beside one multi-bucket
      // parent — reduce the parent's bucket frame to one row
      case fields if fields.size >= 2 && fields.exists(isSiblingPipe) =>
        return compileSiblings(df, fields, fgPred, background)
      // bucket_correlation / bucket_count_ks_test: one-row reduces of
      // the parent's ORDERED bucket frame against a caller-provided
      // series (delegating to the Scala kernels, which carry the loud
      // length contracts and the pre-join n fix)
      case fields if fields.size == 2 && fields.exists(isCorrKs) =>
        return compileCorrKs(df, fields, fgPred, background)
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "composite") =>
        return compileComposite(df, name, spec.toMap)
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "significant_terms") =>
        return compileSigTerms(df, name, spec.toMap, fgPred, background)
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "filters") =>
        return compileFilters(df, name, spec.toMap)
      // random_sampler (ES 8.2): the sub-agg tree evaluates on a
      // probability sample. The draw is the DETERMINISTIC 48-bit
      // content-hash (same construction as every sampling operator —
      // rand() would be irreproducible across retries and engines),
      // keyed by the graft extension `key_field` (ES seeds a shard-
      // local RNG; a row key is the portable equivalent). The filter
      // sits BELOW the whole sub-tree: one scan of the sample.
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "random_sampler") =>
        val m = spec.toMap
        val rs = m.get("random_sampler") match {
          case Some(JObject(r)) => r.toMap
          case _ => throw new IllegalArgumentException(s"bad random_sampler under '$name'")
        }
        val p = rs.get("probability").map(num).getOrElse(
          throw new IllegalArgumentException("random_sampler needs probability"))
        val keyField = rs.get("key_field") match {
          case Some(JString(k)) => k
          case _ => throw new IllegalArgumentException(
            "random_sampler needs key_field (the row key the deterministic " +
              "hash draw replaces ES's shard-local RNG with)")
        }
        val sub = m.get("aggs").orElse(m.get("aggregations")) match {
          case Some(s: JObject) => s
          case _ => throw new IllegalArgumentException(
            s"random_sampler under '$name' needs sub-aggs (it is a sampling wrapper)")
        }
        // ES parity: doc_count and sum-type metrics (sum, value_count)
        // scale back up by 1/probability — the per-metric special-
        // casing ES does (an avg must NOT scale, a percentile must
        // not). doc_count floor-casts to long like the Scala kernel's
        // est_total. The remaining delta at this node: key_field
        // replaces ES's shard-local RNG with the deterministic
        // content-hash draw (oracle-reproducible).
        // pipeline aggs under the sampler would compute on RAW sample
        // values while doc_count/sums scale afterwards — their outputs
        // would silently disagree with the scaled columns beside them
        // (ES reduces first, so its pipelines see scaled inputs). Loud.
        val pipeKeys = aggTypeKeysOf(sub).intersect(ParentPipeKeys ++ SiblingPipeKeys)
        require(pipeKeys.isEmpty,
          s"pipeline agg(s) under random_sampler would read pre-scaled " +
            s"values: ${pipeKeys.toSeq.sorted.mkString(", ")}; compute them " +
            "over the scaled response instead")
        val sampled = df.where(Num.uniformHash48(col(keyField)) < p)
        val raw = compile(sampled,
          JsonMethods.compact(JsonMethods.render(JObject(List(JField("aggs", sub))))),
          fgPred, background)
        val sumCols = sumTypeAggNames(sub)
        return raw.columns.foldLeft(raw) { (f, c) =>
          if (c == "doc_count")
            f.withColumn(c, floor(col(c).cast("double") / p).cast("long"))
          else if (sumCols(c))
            f.withColumn(c, Num.round(col(c).cast("double") / p, 4))
          else f
        }
      // `missing` (the null-bucket count): one-row doc_count of docs
      // lacking the field
      case JField(_, JObject(JField("missing", JObject(ms)) :: Nil)) :: Nil =>
        val f = str(ms.toMap, "field", "missing")
        return df.where(col(f).isNull)
          .agg(count(lit(1)).as("doc_count"))
      // `adjacency_matrix`: each named filter is a FULL Query-DSL
      // object; singles + pairwise intersections count in ONE scan
      // (delegates to the Scala kernel — row predicates, no joins)
      case JField(name, JObject(JField("adjacency_matrix", JObject(am)) :: Nil)) :: Nil =>
        val filters = am.toMap.get("filters") match {
          case Some(JObject(fs)) => fs.map { case JField(n, q) =>
            n -> EsQuery.compile(JsonMethods.compact(JsonMethods.render(q)), "_id")
          }
          case _ => throw new IllegalArgumentException(
            s"adjacency_matrix under '$name' needs a filters object")
        }
        return graft.agg.Aggs.adjacencyMatrix(df, filters)
      // `geo_distance`: rings around an origin — ES's ranges must form
      // a contiguous chain (*-a, a-b, ..., z-*), which is exactly the
      // edge list the Scala kernel rings on; unit is km
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "geo_distance") =>
        val m = spec.toMap
        require(!m.contains("aggs") && !m.contains("aggregations"),
          s"geo_distance under '$name' supports no sub-aggs here")
        val gm = m("geo_distance") match {
          case JObject(g) => g.toMap
          case other => throw new IllegalArgumentException(s"bad geo_distance: $other")
        }
        val f = str(gm, "field", "geo_distance")
        val (olat, olon) = gm.get("origin") match {
          case Some(JObject(o)) =>
            val om = o.toMap
            (num(om.getOrElse("lat", throw new IllegalArgumentException("origin needs lat"))),
              num(om.getOrElse("lon", throw new IllegalArgumentException("origin needs lon"))))
          case _ => throw new IllegalArgumentException("geo_distance needs an origin object")
        }
        val ranges: Seq[(Option[Double], Option[Double])] = gm.get("ranges") match {
          case Some(JArray(rs)) => rs.map {
            case JObject(r) =>
              val rm = r.toMap
              (rm.get("from").map(num), rm.get("to").map(num))
            case other => throw new IllegalArgumentException(s"bad geo range: $other")
          }
          case _ => throw new IllegalArgumentException("geo_distance needs ranges")
        }
        // contiguity check: the chain's interior boundaries ARE the
        // kernel's ring edges — [*-a, a-b, b-*] rings on [a, b]
        require(ranges.size >= 2, "geo_distance needs at least two ranges")
        require(ranges.head._1.isEmpty,
          "first geo_distance range must be open below (*-a)")
        require(ranges.last._2.isEmpty,
          "last geo_distance range must be open above (z-*)")
        ranges.sliding(2).zipWithIndex.foreach {
          case (Seq((_, to), (from, _)), i) =>
            require(to.isDefined && from == to,
              s"geo_distance ranges must chain contiguously at index ${i + 1}")
          case _ => ()
        }
        return graft.agg.Aggs.geoDistanceAgg(df, s"${f}_lat", s"${f}_lon",
          olat, olon, ranges.init.map(_._2.get))
      // `auto_date_histogram`: delegate to the Scala kernel (the
      // interval election needs a min/max pre-pass; the JSON node and
      // the Scala operator share one implementation, so the bucket
      // election cannot diverge)
      case JField(_, JObject(JField("auto_date_histogram", JObject(as)) :: Nil)) :: Nil =>
        val m = as.toMap
        return graft.agg.Aggs.autoDateHistogramAgg(df,
          str(m, "field", "auto_date_histogram"),
          m.get("buckets").map(num(_).toInt).getOrElse(10))
      // `multi_terms`: compound-key terms — ONE groupBy over all key
      // fields (one exchange), top-N by doc_count (ES's default
      // order, key-asc tie-break), metric sub-aggs per bucket
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "multi_terms") =>
        return compileMultiTerms(df, name, spec.toMap)
      // `global`: the sub-tree evaluates over the WHOLE index,
      // ignoring the request's query — exactly the background frame
      // the front door passes for significant_terms; a direct caller
      // without one gets df itself (already un-filtered)
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "global") =>
        val m = spec.toMap
        val sub = m.get("aggs").orElse(m.get("aggregations")) match {
          case Some(s: JObject) => s
          case _ => throw new IllegalArgumentException(
            s"global under '$name' needs sub-aggs (it is a scope wrapper)")
        }
        return compile(background.getOrElse(df),
          JsonMethods.compact(JsonMethods.render(JObject(List(JField("aggs", sub))))),
          fgPred, background)
      // `ip_range`: from-inclusive / to-exclusive dotted-quad bounds,
      // ES's "from-to" auto keys or explicit `key` — delegates to the
      // Scala kernel (one scan, N conditional counts)
      case JField(_, JObject(JField("ip_range", JObject(irs)) :: Nil)) :: Nil =>
        val m = irs.toMap
        val f = str(m, "field", "ip_range")
        val ranges: Seq[(String, Option[String], Option[String])] = m.get("ranges") match {
          case Some(JArray(rs)) => rs.map {
            case JObject(r) =>
              val rm = r.toMap
              def side(k: String) = rm.get(k).collect { case JString(x) => x }
              val (from, to) = (side("from"), side("to"))
              require(from.isDefined || to.isDefined, "ip_range range needs from or to")
              val key = rm.get("key").collect { case JString(x) => x }
                .getOrElse(s"${from.getOrElse("*")}-${to.getOrElse("*")}")
              (key, from, to)
            case other => throw new IllegalArgumentException(s"bad ip range: $other")
          }
          case _ => throw new IllegalArgumentException("ip_range needs ranges")
        }
        return graft.agg.Aggs.ipRange(df, f, ranges)
      // `date_histogram` with `min_doc_count: 0`: gap buckets
      // materialize (the chart-consumer contract) — the Scala kernel's
      // sequence() spine + broadcast left join, month granularity
      case JField(_, JObject(JField("date_histogram", JObject(ds)) :: Nil)) :: Nil
          if ds.toMap.get("min_doc_count").exists(num(_) == 0) =>
        val m = ds.toMap
        require(m.get("calendar_interval").contains(JString("month")),
          "min_doc_count: 0 gap filling supports calendar_interval month " +
            "(the kernel's spine granularity)")
        return graft.agg.Aggs.dateHistogramEmptyBuckets(
          df, str(m, "field", "date_histogram"))
      // `rare_terms`: the long-tail inverse of terms — buckets with
      // doc_count <= max_doc_count, rarest first. One partial-agged
      // groupBy + a HAVING predicate; never a global sort of the
      // full key space
      case JField(_, JObject(JField("rare_terms", JObject(rs)) :: Nil)) :: Nil =>
        val m = rs.toMap
        val f = str(m, "field", "rare_terms")
        val maxDoc = m.get("max_doc_count").map(num(_).toLong).getOrElse(1L)
        // ES terms-family semantics: docs missing the field join no
        // bucket — without the filter they'd form a null-key bucket
        return df.where(col(f).isNotNull).groupBy(col(f).as("key"))
          .agg(count(lit(1)).as("doc_count"))
          .where(col("doc_count") <= maxDoc)
          .orderBy(col("doc_count").asc, col("key").asc)
      case JField(name, JObject(spec)) :: Nil
          if spec.exists(_._1 == "terms") && topHitsChild(spec.toMap).isDefined =>
        return compileTopHits(df, name, spec.toMap)
      // `median_absolute_deviation` at the top level: the kernel's
      // two-pass distributed-exact shape (global median, then median
      // of deviations). The GROUPED form would need a per-group median
      // joined back — route through the Scala operator for that.
      case JField(_, JObject(
          JField("median_absolute_deviation", JObject(ms)) :: Nil)) :: Nil =>
        val madUnknown = ms.toMap.keySet -- Set("field")
        require(madUnknown.isEmpty,
          s"unsupported median_absolute_deviation option(s): " +
            madUnknown.toSeq.sorted.mkString(", "))
        return graft.agg.Aggs.medianAbsoluteDeviation(
          df, str(ms.toMap, "field", "median_absolute_deviation"))
      // `t_test`: a/b are filter-defined groups over ONE shared field
      // (ES's same-field form; `filter` is a full Query-DSL object).
      // heteroscedastic = Welch (ES's default), homoscedastic =
      // pooled-variance Student. `paired` needs the pairing key ES
      // derives from doc identity — unsupported here, loud.
      case JField(_, JObject(JField("t_test", JObject(ts)) :: Nil)) :: Nil =>
        val m = ts.toMap
        val ttUnknown = m.keySet -- Set("a", "b", "type")
        require(ttUnknown.isEmpty,
          s"unsupported t_test option(s): ${ttUnknown.toSeq.sorted.mkString(", ")}")
        def side(k: String): (String, Column) = m.get(k) match {
          case Some(JObject(s)) =>
            val sm = s.toMap
            val sideUnknown = sm.keySet -- Set("field", "filter")
            require(sideUnknown.isEmpty,
              s"unsupported t_test.$k option(s): ${sideUnknown.toSeq.sorted.mkString(", ")}")
            val f = str(sm, "field", s"t_test.$k")
            val pred = sm.get("filter") match {
              case Some(fv) => EsQuery.compile(
                JsonMethods.compact(JsonMethods.render(fv)), "_id")
              case None => lit(true)
            }
            (f, pred)
          case _ => throw new IllegalArgumentException(s"t_test needs $k.field")
        }
        val ((fa, pa), (fb, pb)) = (side("a"), side("b"))
        require(fa == fb,
          "t_test through the JSON door supports one shared field " +
            s"(a.field == b.field; got $fa vs $fb)")
        m.get("type") match {
          case None | Some(JString("heteroscedastic")) =>
            return graft.agg.Aggs.tTestAgg(df, fa, pa, pb)
          case Some(JString("homoscedastic")) =>
            return graft.agg.Aggs.tTestHomoAgg(df, fa, pa, pb)
          case Some(other) => throw new IllegalArgumentException(
            s"unsupported t_test type: $other (paired needs a pairing " +
              "key — use the Scala operator Aggs.tTestPairedAgg)")
        }
      // `matrix_stats`: pairwise moment matrix — the kernel computes
      // the two-field form (count / means / variances / covariance /
      // correlation in one partial-aggregated pass)
      case JField(_, JObject(JField("matrix_stats", JObject(ms)) :: Nil)) :: Nil =>
        val mxUnknown = ms.toMap.keySet -- Set("fields")
        require(mxUnknown.isEmpty,
          s"unsupported matrix_stats option(s): ${mxUnknown.toSeq.sorted.mkString(", ")}")
        val fields = ms.toMap.get("fields") match {
          case Some(JArray(fs)) => fs.map {
            case JString(f) => f
            case o => throw new IllegalArgumentException(s"bad matrix_stats field: $o")
          }
          case _ => throw new IllegalArgumentException("matrix_stats needs fields")
        }
        require(fields.size == 2,
          s"matrix_stats supports exactly two fields (got ${fields.size})")
        return graft.agg.Aggs.matrixStats(df, fields(0), fields(1))
      // `variable_width_histogram`: equal-depth buckets on quantile
      // edges (one edge pre-pass + one bucketed agg pass, the kernel)
      case JField(_, JObject(
          JField("variable_width_histogram", JObject(vs)) :: Nil)) :: Nil =>
        val m = vs.toMap
        val vwUnknown = m.keySet -- Set("field", "buckets")
        require(vwUnknown.isEmpty,
          s"unsupported variable_width_histogram option(s): " +
            vwUnknown.toSeq.sorted.mkString(", "))
        return graft.agg.Aggs.variableWidthHistogram(df,
          str(m, "field", "variable_width_histogram"),
          m.get("buckets").map(num(_).toInt).getOrElse(10))
      // `ip_prefix`: /N network buckets via integer mask math, buckets
      // ordered by NUMERIC network value like ES
      case JField(_, JObject(JField("ip_prefix", JObject(ps)) :: Nil)) :: Nil =>
        val m = ps.toMap
        val ipUnknown = m.keySet -- Set("field", "prefix_length", "is_ipv6")
        require(ipUnknown.isEmpty,
          s"unsupported ip_prefix option(s): ${ipUnknown.toSeq.sorted.mkString(", ")}")
        m.get("is_ipv6").foreach {
          case JBool(false) => ()
          case o => throw new IllegalArgumentException(
            s"ip_prefix supports IPv4 (is_ipv6: $o unsupported)")
        }
        return graft.agg.Aggs.ipPrefix(df, str(m, "field", "ip_prefix"),
          num(m.getOrElse("prefix_length",
            throw new IllegalArgumentException("ip_prefix needs prefix_length"))).toInt)
      // `categorize_text` (ES ML): cluster semi-structured messages by
      // token pattern — variable (numeric) tokens drop, the first
      // max_matched_tokens surviving tokens form the category key
      case JField(_, JObject(JField("categorize_text", JObject(cs)) :: Nil)) :: Nil =>
        val m = cs.toMap
        val ctUnknown = m.keySet -- Set("field", "max_matched_tokens")
        require(ctUnknown.isEmpty,
          s"unsupported categorize_text option(s): ${ctUnknown.toSeq.sorted.mkString(", ")}")
        return graft.agg.Aggs.categorizeText(df,
          col(str(m, "field", "categorize_text")),
          m.get("max_matched_tokens").map(num(_).toInt).getOrElse(4))
      // `frequent_item_sets` (ES ML): pairwise co-occurrence with the
      // A-Priori support prune. Documented deltas: ES derives a
      // transaction from each DOCUMENT's array fields — on graft's
      // row-per-item tables `transaction_field` names the basket key
      // instead; `minimum_support_count` is the absolute-count form of
      // ES's minimum_support fraction (a fraction would need a count
      // pre-pass); set size is fixed at 2 (the kernel's pair shape).
      case JField(_, JObject(
          JField("frequent_item_sets", JObject(fs)) :: Nil)) :: Nil =>
        val m = fs.toMap
        val fiUnknown = m.keySet --
          Set("fields", "transaction_field", "minimum_support_count", "size")
        require(fiUnknown.isEmpty,
          s"unsupported frequent_item_sets option(s): " +
            fiUnknown.toSeq.sorted.mkString(", "))
        val item = m.get("fields") match {
          case Some(JArray(List(JObject(f)))) => str(f.toMap, "field", "frequent_item_sets")
          case _ => throw new IllegalArgumentException(
            "frequent_item_sets needs fields: [{field: <item>}] (one item field)")
        }
        val basket = str(m, "transaction_field", "frequent_item_sets")
        val minSupport = m.get("minimum_support_count").map(num(_).toLong).getOrElse(
          throw new IllegalArgumentException(
            "frequent_item_sets needs minimum_support_count (the absolute-count " +
              "form of ES's minimum_support fraction)"))
        val out = graft.agg.Aggs.frequentItemSets(df, basket, item, minSupport)
        return m.get("size").map(num(_).toInt).fold(out)(out.limit)
      // `diversified_sampler`: the sub-tree evaluates on a sample
      // capped at max_docs_per_value docs per diversity-field value.
      // The per-value pick is the DETERMINISTIC md5 order on
      // `key_field` (the graft extension random_sampler also uses —
      // ES's shard-local collection order is not portable). The
      // row_number window partitions by the diversity field: a
      // per-value-bounded local pass, never a global sort.
      case JField(name, JObject(spec)) :: Nil
          if spec.exists(_._1 == "diversified_sampler") =>
        val m = spec.toMap
        val ds = m("diversified_sampler") match {
          case JObject(d) => d.toMap
          case o => throw new IllegalArgumentException(s"bad diversified_sampler: $o")
        }
        val dsUnknown = ds.keySet -- Set("field", "key_field", "max_docs_per_value")
        require(dsUnknown.isEmpty,
          s"unsupported diversified_sampler option(s): " +
            dsUnknown.toSeq.sorted.mkString(", "))
        val f = str(ds, "field", "diversified_sampler")
        val keyField = str(ds, "key_field", "diversified_sampler")
        val maxPer = ds.get("max_docs_per_value").map(num(_).toInt).getOrElse(1)
        val sub = m.get("aggs").orElse(m.get("aggregations")) match {
          case Some(s: JObject) => s
          case _ => throw new IllegalArgumentException(
            s"diversified_sampler under '$name' needs sub-aggs (it is a sampling wrapper)")
        }
        // ONE draw definition, shared with the Scala operator
        val sampled = graft.agg.Aggs.diversifiedSampleFrame(df, keyField, f, maxPer)
        return compile(sampled,
          JsonMethods.compact(JsonMethods.render(JObject(List(JField("aggs", sub))))),
          fgPred, background)
      // date_histogram > rate: the kernel computes the whole shape
      // (monthly buckets + per-day rate from each bucket's true day
      // count) — ES infers the rate's date context from the parent,
      // which the flat metric compile cannot see, hence the dedicated
      // tree shape
      case JField(_, JObject(spec)) :: Nil
          if spec.exists(_._1 == "date_histogram") && rateChild(spec.toMap).isDefined =>
        val m = spec.toMap
        val dh = m("date_histogram") match {
          case JObject(d) => d.toMap
          case o => throw new IllegalArgumentException(s"bad date_histogram: $o")
        }
        require(dh.get("calendar_interval").contains(JString("month")),
          "rate under date_histogram supports calendar_interval month " +
            "(the kernel's bucket granularity)")
        val rm = rateChild(m).get
        val unknownR = rm.keySet -- Set("field", "unit")
        require(unknownR.isEmpty,
          s"unsupported rate option(s): ${unknownR.toSeq.sorted.mkString(", ")}")
        // unit is REQUIRED here: ES's default unit is the parent
        // interval, i.e. the plain bucket sum — silently dividing by
        // days would return a ~30x-smaller number on that request
        // (use a sum metric for the bucket-sum form)
        rm.get("unit") match {
          case Some(JString("day")) => ()
          case other => throw new IllegalArgumentException(
            s"rate needs unit: day (got $other); ES's default unit (the parent " +
              "interval) is the plain bucket sum — use a sum metric for that")
        }
        return graft.agg.Aggs.rateAgg(df,
          str(dh, "field", "date_histogram"), "month", str(rm, "field", "rate"))
      // `geohex_grid` (ES's H3 hex buckets): delegates to the axial-
      // lattice kernel. Graft deltas, documented at the Scala row:
      // `cell_degrees` (hex size) + `k` stand in for H3's
      // `precision`/`size` pair — the axial lattice is the
      // closed-form, oracle-checkable hex partition where H3's
      // icosahedral cells are not. ES's own option NAMES are rejected
      // by name (silently reinterpreting `size` as a cell width would
      // turn a valid ES request into different buckets), and the
      // single-node shape is explicit: sub-aggs route to geotile_grid.
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "geohex_grid") =>
        val m0 = spec.toMap
        require(!m0.contains("aggs") && !m0.contains("aggregations"),
          s"geohex_grid under '$name' supports no sub-aggs here " +
            "(geotile_grid buckets compose with sub-aggs)")
        val m = m0("geohex_grid") match {
          case JObject(g) => g.toMap
          case o => throw new IllegalArgumentException(s"bad geohex_grid: $o")
        }
        val ghUnknown = m.keySet -- Set("field", "cell_degrees", "k")
        require(ghUnknown.isEmpty,
          s"unsupported geohex_grid option(s): ${ghUnknown.toSeq.sorted.mkString(", ")}" +
            (if (m.contains("precision") || m.contains("size"))
              " (H3 precision/size have no closed-form analog here — " +
                "use cell_degrees + k)" else ""))
        val f = str(m, "field", "geohex_grid")
        val cell = m.get("cell_degrees").map(num).getOrElse(
          throw new IllegalArgumentException("geohex_grid needs cell_degrees"))
        require(cell > 0.0, s"geohex_grid cell_degrees must be positive: $cell")
        val k = m.get("k").map(num(_).toInt).getOrElse(10)
        require(k >= 1, s"geohex_grid k must be >= 1: $k")
        return graft.agg.Aggs.geohexGridAgg(df, s"${f}_lat", s"${f}_lon", cell, k)
      // date_histogram > cumulative_cardinality: first-seen counting
      // needs the RAW rows (a per-bucket cardinality cannot merge into
      // a running distinct count on the bucket frame — ES merges HLL
      // sketches; the exact first-seen groupBy is the oracle-checkable
      // equivalent and ONE extra narrow exchange), hence the dedicated
      // tree shape delegating to the Scala kernel
      case JField(name, JObject(spec)) :: Nil
          if spec.exists(_._1 == "date_histogram") && cumCardChild(spec.toMap).isDefined =>
        val m = spec.toMap
        val cc = cumCardChild(m).get
        val unknownCc = cc.keySet -- Set("field")
        require(unknownCc.isEmpty,
          s"unsupported cumulative_cardinality option(s): " +
            unknownCc.toSeq.sorted.mkString(", "))
        // the kernel path never HAVINGs by doc_count, so a
        // min_doc_count/offset bucketKey would otherwise accept and
        // silently ignore must be loud here
        m("date_histogram") match {
          case JObject(dh) =>
            val dhUnknown = dh.toMap.keySet --
              Set("field", "fixed_interval", "calendar_interval")
            require(dhUnknown.isEmpty,
              "unsupported date_histogram option(s) under the " +
                "cumulative_cardinality tree: " +
                dhUnknown.toSeq.sorted.mkString(", "))
          case _ => ()
        }
        val bucketCol = bucketKey(name,
          Map("date_histogram" -> m("date_histogram")))
        return graft.agg.Aggs.cumulativeCardinality(
          df, str(cc, "field", "cumulative_cardinality"), bucketCol)
      // `nested`: sub-aggs evaluate over the EXPLODED inner docs of an
      // array-of-structs column. Inner fields keep their ES refs
      // (`path.field`) — the explode flattens each struct field to a
      // literal `path.field` column, so the sub-tree compiles through
      // the normal path unchanged. A single terms > reverse_nested
      // sub-tree additionally counts PARENT docs per inner bucket —
      // that needs the graft `parent_id_field` extension (ES derives
      // parent identity from the index layout; a frame needs it named).
      case JField(name, JObject(spec)) :: Nil if spec.exists(_._1 == "nested") =>
        val m = spec.toMap
        val ns = m("nested") match {
          case JObject(n) => n.toMap
          case o => throw new IllegalArgumentException(s"bad nested: $o")
        }
        val nUnknown = ns.keySet -- Set("path", "parent_id_field")
        require(nUnknown.isEmpty,
          s"unsupported nested option(s): ${nUnknown.toSeq.sorted.mkString(", ")}")
        val path = str(ns, "path", "nested")
        val sub = m.get("aggs").orElse(m.get("aggregations")) match {
          case Some(s: JObject) => s
          case _ => throw new IllegalArgumentException(
            s"nested under '$name' needs sub-aggs (it is a scope wrapper)")
        }
        val structFields = df.schema(path).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            st: org.apache.spark.sql.types.StructType, _) => st.fieldNames.toSeq
          case other => throw new IllegalArgumentException(
            s"nested path '$path' must be an array of structs (got $other)")
        }
        val exploded = df.withColumn("__graft_nested", explode(col(path))).drop(path)
        // flatten to `path__field` (a dotted column name would need
        // backticks at every ref site — Spark splits bare `a.b` into
        // struct access) and rewrite the sub-tree's `path.field` refs
        // to match, so the ES spelling keeps working
        val flat = structFields.foldLeft(exploded)((d, f) =>
          d.withColumn(s"${path}__$f", col(s"__graft_nested.$f")))
          .drop("__graft_nested")
        def rewriteRefs(v: JValue): JValue = v match {
          case JString(x) if x.startsWith(path + ".") =>
            JString(path + "__" + x.stripPrefix(path + "."))
          case JObject(fs) => JObject(fs.map { case JField(k, vv) =>
            JField(k, rewriteRefs(vv)) })
          case JArray(xs) => JArray(xs.map(rewriteRefs))
          case other => other
        }
        val subRw = rewriteRefs(sub).asInstanceOf[JObject]
        // terms > reverse_nested: one partial-agged groupBy carrying
        // BOTH the inner doc count and the distinct-parent count
        subRw match {
          case JObject(List(JField(tname, JObject(tspec)))) =>
            val tm = tspec.toMap
            (tm.get("terms"), tm.get("aggs").orElse(tm.get("aggregations"))) match {
              case (Some(JObject(ts)), Some(JObject(List(JField(rname, JObject(rspec))))))
                  if rspec.toMap.contains("reverse_nested") =>
                require(rspec.toMap.get("reverse_nested").contains(JObject(Nil)),
                  "reverse_nested here is the bare parent-count form " +
                    "(sub-aggs over parents need the Scala operator)")
                // this dedicated path returns ALL buckets key-asc; a
                // terms option it cannot honor (size/order/include/...)
                // must be loud, not silently dropped
                val tUnknown = ts.toMap.keySet -- Set("field")
                require(tUnknown.isEmpty,
                  "unsupported terms option(s) under the reverse_nested tree " +
                    s"(all buckets, key-asc here): ${tUnknown.toSeq.sorted.mkString(", ")}")
                val parentId = str(ns, "parent_id_field", "nested")
                val tf = str(ts.toMap, "field", "terms")
                return flat.where(col(tf).isNotNull) // ES drops null-key docs
                  .groupBy(col(tf).as(tname))
                  .agg(count(lit(1)).as("doc_count"),
                    count_distinct(col(parentId)).as(rname))
                  .orderBy(col(tname).asc)
              case _ => ()
            }
          case _ => ()
        }
        return compile(flat,
          JsonMethods.compact(JsonMethods.render(JObject(List(JField("aggs", subRw))))),
          fgPred, background)
      // `significant_text`: the free-text twin of significant_terms —
      // sampled, duplicate-text-filtered foreground vs the index
      // background (the shared Scala kernel). `key_field` is the
      // dedup/sampling key (graft determinism extension, like
      // random_sampler); the foreground predicate is the request's
      // query, threaded through fgPred.
      case JField(_, JObject(JField("significant_text", JObject(st)) :: Nil)) :: Nil =>
        val m = st.toMap
        val stUnknown = m.keySet --
          Set("field", "key_field", "sample_probability", "min_doc_count", "size")
        require(stUnknown.isEmpty,
          s"unsupported significant_text option(s): ${stUnknown.toSeq.sorted.mkString(", ")}")
        val pred = fgPred.getOrElse(throw new IllegalArgumentException(
          "significant_text needs the request's query as the foreground — " +
            "send it through the _search body (or pass fgPred)"))
        return graft.agg.Aggs.significantText(
          background.getOrElse(df),
          str(m, "key_field", "significant_text"),
          str(m, "field", "significant_text"),
          pred,
          m.get("sample_probability").map(num).getOrElse(1.0),
          m.get("min_doc_count").map(num(_).toLong).getOrElse(3L),
          m.get("size").map(num(_).toInt).getOrElse(10))
      // terms > geo_line: per-bucket polyline (the "vessel track"
      // shape) — delegates to the Scala kernel so the point ordering
      // and truncation cannot diverge
      case JField(_, JObject(spec)) :: Nil
          if spec.exists(_._1 == "terms") && geoLineChild(spec.toMap).isDefined =>
        val m = spec.toMap
        val tf = m("terms") match {
          case JObject(ts) =>
            // the kernel returns a polyline for EVERY key, key-asc — a
            // terms option it cannot honor is loud, never dropped
            val tUnknown = ts.toMap.keySet -- Set("field")
            require(tUnknown.isEmpty,
              "unsupported terms option(s) under the geo_line tree " +
                s"(all buckets, key-asc here): ${tUnknown.toSeq.sorted.mkString(", ")}")
            str(ts.toMap, "field", "terms")
          case o => throw new IllegalArgumentException(s"bad terms: $o")
        }
        val gl = geoLineChild(m).get
        val glUnknown = gl.keySet -- Set("point", "sort", "size")
        require(glUnknown.isEmpty,
          s"unsupported geo_line option(s): ${glUnknown.toSeq.sorted.mkString(", ")}")
        def fieldOfObj(k: String): String = gl.get(k) match {
          case Some(JObject(o)) => str(o.toMap, "field", s"geo_line.$k")
          case _ => throw new IllegalArgumentException(s"geo_line needs $k.field")
        }
        val (pt, sortF) = (fieldOfObj("point"), fieldOfObj("sort"))
        return graft.agg.Aggs.geoLineAgg(df, tf, sortF,
          col(s"${pt}_lat"), col(s"${pt}_lon"),
          gl.get("size").map(num(_).toInt).getOrElse(10000))
      case _ => ()
    }
    // walk the tree: collect (name, keyColumn) per bucket level and the
    // leaf metric set
    val keys = scala.collection.mutable.ListBuffer.empty[(String, Column)]
    // terms include/exclude bucket-key regex filters (full-match, like
    // ES's Java matches() semantics) — applied as row predicates BELOW
    // the partial aggregation, so excluded buckets never aggregate
    val rowFilters = scala.collection.mutable.ListBuffer.empty[Column]
    var metrics = Seq.empty[(String, Column)]
    // PARENT pipeline nodes (declared beside the leaf metrics in ES);
    // they evaluate over the compiled bucket frame after the groupBy
    val pipeNodes = scala.collection.mutable.ListBuffer.empty[(String, Map[String, JValue])]
    // the bucket node types per level (pipeline sequencing rules need
    // to know whether the single level is histogram-family)
    val bucketTypes = scala.collection.mutable.ListBuffer.empty[String]
    var topSize: Option[Int] = None
    var topSizeExplicit = false
    // bucket min_doc_count (> 0): a HAVING on the grouped frame; ES
    // applies it before size truncation
    var topMinDoc: Option[Long] = None
    // ES terms `order`: {"_key"|"_count"|<metric name>: "asc"|"desc"},
    // or the array form [{...},{...}] for multi-criteria ordering
    var topOrder: List[(String, Boolean)] = Nil
    var level = 0

    def walk(aggs0: List[JField]): Unit = {
      // parent pipelines ride beside the leaf metrics; lift them out
      // before the metric partition (they are frame transforms, not
      // aggregation expressions)
      val (pipes, aggs) = aggs0.partition {
        case JField(_, JObject(spec)) => spec.exists(f => ParentPipeKeys(f._1))
        case _ => false
      }
      pipeNodes ++= pipes.collect { case JField(n, JObject(spec)) => n -> spec.toMap }
      val (buckets, leafMetrics) = aggs.partition {
        case JField(_, JObject(spec)) =>
          spec.exists { case JField(k, _) =>
            Set("terms", "histogram", "date_histogram", "range", "date_range",
              "geotile_grid", "geohash_grid").contains(k) }
        case _ => false
      }
      if (buckets.nonEmpty && leafMetrics.nonEmpty)
        throw new IllegalArgumentException(
          "metric aggs must sit at the deepest level; found metric(s) " +
            leafMetrics.map(_._1).mkString(",") +
            " beside bucket agg " + buckets.head._1)
      metrics = leafMetrics.flatMap {
        case JField(name, JObject(spec)) => metricCols(name, spec.toMap)
        case other => throw new IllegalArgumentException(s"bad metric agg: $other")
      }
      buckets match {
        case Nil => ()
        case JField(name, JObject(spec)) :: Nil =>
          val m = spec.toMap
          val sub = m.get("aggs").orElse(m.get("aggregations"))
          val keyCol = bucketKey(name, m - "aggs" - "aggregations")
          keys += name -> keyCol
          bucketTypes += (m - "aggs" - "aggregations").keysIterator
            .find(Set("terms", "histogram", "date_histogram", "range",
              "date_range", "geotile_grid", "geohash_grid")).getOrElse("?")
          // min_doc_count (terms / histogram / date_histogram): only
          // meaningful at the single level the flat compile can HAVING
          val nodeOpts: Map[String, JValue] =
            (m - "aggs" - "aggregations").collectFirst {
              case (k, JObject(o)) if BucketNodeKeys(k) => o.toMap
            }.getOrElse(Map.empty)
          nodeOpts.get("min_doc_count").map(num(_).toLong).foreach { n =>
            require(n > 0,
              s"min_doc_count: 0 under '$name' (gap filling) is the dedicated " +
                "single-node date_histogram shape; it cannot combine with sub-aggs here")
            if (level == 0) topMinDoc = Some(n)
            else throw new IllegalArgumentException(
              s"min_doc_count on nested level '$name' is not honored by the flat compile")
          }
          m.get("terms").foreach {
            case JObject(ts) =>
              val tm = ts.toMap
              val unknownOpt = tm.keySet -- Set("field", "size", "order",
                "include", "exclude", "missing", "min_doc_count")
              require(unknownOpt.isEmpty,
                s"unsupported terms option(s) under '$name': ${unknownOpt.mkString(", ")}")
              tm.get("include").foreach {
                case JString(re) => rowFilters += keyCol.rlike(s"^(?:$re)$$")
                case other => throw new IllegalArgumentException(s"bad include: $other")
              }
              tm.get("exclude").foreach {
                case JString(re) => rowFilters += !keyCol.rlike(s"^(?:$re)$$")
                case other => throw new IllegalArgumentException(s"bad exclude: $other")
              }
            case _ => ()
          }
          val explicitSize = m.get("terms").collect {
            case JObject(s) => s.toMap.get("size") }.flatten.collect {
              case JInt(i) => i.toInt }
          if (level == 0) {
            // ES defaults terms to top 10; honored when this stays the
            // only bucket level (checked after the walk)
            topSize = explicitSize.orElse(
              if (m.contains("terms")) Some(10) else None)
            topSizeExplicit = explicitSize.isDefined
            def oneOrder(v: JValue): (String, Boolean) = v match {
              case JObject(List(JField(by, JString(dir))))
                  if Set("asc", "desc")(dir.toLowerCase) =>
                (by, dir.toLowerCase == "asc")
              case other => throw new IllegalArgumentException(
                "unsupported terms order entry (want a single-entry " +
                  s"""{"target": "asc"|"desc"} object): $other""")
            }
            topOrder = m.get("terms").collect {
              case JObject(s) => s.toMap.get("order") }.flatten match {
                case None => Nil
                case Some(JArray(entries)) => entries.map(oneOrder)
                case Some(v) => List(oneOrder(v))
              }
          } else if (explicitSize.isDefined)
            throw new IllegalArgumentException(
              s"terms size on nested level '$name' is not honored by the " +
                "flat groupBy compile; page per level with composite instead")
          level += 1
          sub match {
            case Some(JObject(inner)) => walk(inner)
            case None => ()
            case other => throw new IllegalArgumentException(s"bad sub-aggs: $other")
          }
        case several => throw new IllegalArgumentException(
          "one bucket agg per level (sibling bucket aggs need separate requests): " +
            several.map(_._1).mkString(","))
      }
    }
    walk(root)
    require(keys.nonEmpty || metrics.nonEmpty || pipeNodes.nonEmpty, "empty aggs body")
    if (pipeNodes.nonEmpty)
      require(keys.size == 1,
        "pipeline aggs need exactly one bucket level (the parent whose " +
          "buckets they transform); got " + keys.map(_._1).mkString(","))

    val unpiped = if (keys.isEmpty) {
      // metric-only body: one global row
      val cols = metrics.map { case (n, c) => c.as(n) }
      df.agg(cols.head, cols.tail: _*)
    } else {
      val aggCols = (count(lit(1)).as("doc_count") +:
        metrics.map { case (n, c) => c.as(n) })
      val base = rowFilters.foldLeft(df)(_ where _)
      val grouped0 = base
        .groupBy(keys.map { case (n, c) => c.as(n) }.toSeq: _*)
        .agg(aggCols.head, aggCols.tail: _*)
        // range buckets: rows outside every range fold to null — drop
        .where(keys.map { case (n, _) => col(n).isNotNull }.reduce(_ && _))
      // min_doc_count > 0: HAVING before size truncation (ES's order)
      val grouped = topMinDoc.fold(grouped0)(n => grouped0.where(col("doc_count") >= n))
      topSize match {
        case Some(k) if keys.size == 1 =>
          val keyCol = col(keys.head._1)
          // order target: _key / _count / a declared metric name;
          // key-asc tie-break everywhere (ES's determinism rule)
          val ordered = topOrder match {
            case Nil =>
              grouped.orderBy(col("doc_count").desc, keyCol.asc)
            case specs =>
              def target(by: String): Column =
                if (by == "_key") keyCol
                else if (by == "_count") col("doc_count")
                else if (metrics.exists(_._1 == by)) col(by)
                else throw new IllegalArgumentException(
                  s"terms order references unknown target: $by")
              val sortCols = specs.map { case (by, asc) =>
                if (asc) target(by).asc else target(by).desc }
              // key-asc as the final tie-break (ES's determinism rule)
              grouped.orderBy((sortCols :+ keyCol.asc): _*)
          }
          ordered.limit(k)
        case Some(_) if topSizeExplicit =>
          throw new IllegalArgumentException(
            "terms size on a nested tree is not honored by the flat " +
              "groupBy compile; page per level with composite instead")
        case _ =>
          grouped.orderBy(keys.map { case (n, _) => col(n).asc }.toSeq: _*)
      }
    }
    if (pipeNodes.isEmpty) unpiped
    else applyPipelines(unpiped, keys.head._1, bucketTypes.head, pipeNodes.toList)
  }

  /** Parent pipeline aggs over the compiled bucket frame, in
    * declaration order (later pipes may reference earlier pipes'
    * columns, like ES). The frame is #buckets rows, so the
    * single-partition `Window.orderBy(key)` is free — the heavy
    * exchange is the partial-aggregated groupBy that BUILT the frame
    * (the same argument as Aggs.dateHistogramPipeline). Sequencing
    * pipes (derivative / cumulative_sum / serial_diff / moving_fn)
    * require a histogram-family parent whose key order is the bucket
    * order, like ES; bucket_script / bucket_selector / bucket_sort
    * work on any parent and — matching ES's reduce-phase contract —
    * see the buckets AFTER terms-size pruning. Documented delta:
    * `moving_fn`'s window INCLUDES the current bucket (the Scala
    * kernels' shared convention, = ES `shift: 1`; ES's default
    * shift 0 excludes it). */
  private def applyPipelines(frame: DataFrame, keyName: String,
      bucketType: String, pipes: List[(String, Map[String, JValue])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val histogramFamily = Set("histogram", "date_histogram")
    val ordered = Window.orderBy(col(keyName).asc)
    def resolve(df: DataFrame, path: String): Column = {
      // `_count` = the bucket's doc_count; dotted ES response paths
      // (`price.avg`) map onto the flat frame's `price_avg` columns
      val c = if (path == "_count") "doc_count" else path.replace('.', '_')
      require(df.columns.contains(c),
        s"buckets_path '$path' resolves to no column (have: ${df.columns.mkString(", ")})")
      col(c)
    }
    pipes.foldLeft(frame) { case (df, (name, spec)) =>
      val (kind, body) = spec.find(f => ParentPipeKeys(f._1)) match {
        case Some((k, JObject(b))) => (k, b.toMap)
        case other => throw new IllegalArgumentException(s"bad pipeline agg '$name': $other")
      }
      if (Set("derivative", "cumulative_sum", "serial_diff", "moving_fn",
        "moving_percentiles")(kind))
        require(histogramFamily(bucketType),
          s"$kind needs a histogram-family parent whose key order is the " +
            s"bucket order (got $bucketType)")
      kind match {
        case "cumulative_sum" =>
          val p = resolve(df, str(body, "buckets_path", kind))
          df.withColumn(name, Num.round(sum(p).over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        case "derivative" =>
          val p = resolve(df, str(body, "buckets_path", kind))
          df.withColumn(name, Num.round(p - lag(p, 1).over(ordered), 4))
        case "serial_diff" =>
          val p = resolve(df, str(body, "buckets_path", kind))
          val lagN = body.get("lag").map(num(_).toInt).getOrElse(1)
          df.withColumn(name, Num.round(p - lag(p, lagN).over(ordered), 4))
        case "moving_fn" =>
          val p = resolve(df, str(body, "buckets_path", kind))
          val n = body.get("window").map(num(_).toInt).getOrElse(
            throw new IllegalArgumentException("moving_fn needs window"))
          // ES's window is [current - window + shift, current + shift):
          // the DEFAULT shift:0 EXCLUDES the current bucket, shift:1
          // ends the window on it, larger shifts look ahead — all
          // compile to the same rowsBetween frame (an empty frame
          // yields null, like ES's gap policy)
          val shift = body.get("shift").map(num(_).toInt).getOrElse(0)
          val w = ordered.rowsBetween(shift - n, shift - 1)
          val c = str(body, "script", kind).stripPrefix("MovingFunctions.") match {
            case "unweightedAvg" => avg(p).over(w)
            case "sum" => sum(p).over(w)
            case "max" => max(p).over(w)
            case "min" => min(p).over(w)
            // ES's MovingFunctions.stdDev contract: population, around
            // the window's unweighted avg
            case "stdDev" => stddev_pop(p).over(w)
            case other => throw new IllegalArgumentException(
              "unsupported moving_fn script (want MovingFunctions." +
                s"unweightedAvg|sum|max|min|stdDev; the exotic models — holt, " +
                s"holtWinters, linearWeightedAvg — live on the Scala kernels): $other")
          }
          df.withColumn(name, Num.round(c, 4))
        case "bucket_script" | "bucket_selector" =>
          val params: Map[String, Any] = body.get("buckets_path") match {
            case Some(JObject(ps)) => ps.map {
              case JField(alias, JString(path)) => alias -> (resolve(df, path): Any)
              case other => throw new IllegalArgumentException(s"bad buckets_path entry: $other")
            }.toMap
            case _ => throw new IllegalArgumentException(
              s"$kind needs a buckets_path object of alias -> path")
          }
          val script = body.get("script") match {
            case Some(JString(s)) => s
            case Some(JObject(s)) => str(s.toMap, "source", kind)
            case _ => throw new IllegalArgumentException(s"$kind needs a script")
          }
          val compiled = Painless.compile(script, params)
          if (kind == "bucket_script") df.withColumn(name, Num.round(compiled, 4))
          // Painless comparisons compile to 1.0/0.0 doubles (its
          // numeric-boolean convention); nonzero keeps the bucket
          else df.where(compiled.cast("double") =!= 0.0)
        case "normalize" =>
          // ONE formula definition shared with the Scala kernels
          // (Aggs.normalizeMethodCol): window math over the tiny
          // bucket frame; works on ANY multi-bucket parent like ES
          val p = resolve(df, str(body, "buckets_path", kind))
          df.withColumn(name,
            graft.agg.Aggs.normalizeMethodCol(p, str(body, "method", "normalize")))
        case "moving_percentiles" =>
          // sliding median over the bucket frame (shared kernel:
          // include-current window = ES shift 1, emits p50 — ES
          // mirrors the whole percentile set of a percentiles parent)
          val p = resolve(df, str(body, "buckets_path", kind))
          val window = body.get("window").map(num(_).toInt).getOrElse(
            throw new IllegalArgumentException("moving_percentiles needs window"))
          df.withColumn(name,
            graft.agg.Aggs.movingMedianCol(p, col(keyName), window))
        case "bucket_sort" =>
          val sorts: Seq[Column] = body.get("sort") match {
            case Some(JArray(es)) => es.map {
              case JObject(List(JField(f, JObject(o)))) =>
                val asc = !o.toMap.get("order")
                  .collect { case JString(x) => x }.contains("desc")
                if (asc) resolve(df, f).asc else resolve(df, f).desc
              case JString(f) => resolve(df, f).asc
              case other => throw new IllegalArgumentException(s"bad bucket_sort entry: $other")
            }
            case None => Nil
            case Some(other) => throw new IllegalArgumentException(s"bad bucket_sort sort: $other")
          }
          val from = body.get("from").map(num(_).toInt).getOrElse(0)
          val size = body.get("size").map(num(_).toInt)
          // key-asc tie-break keeps truncation deterministic (ES's rule)
          val sorted =
            if (sorts.nonEmpty) df.orderBy(sorts :+ col(keyName).asc: _*) else df
          val shifted = if (from > 0) sorted.offset(from) else sorted
          size.map(shifted.limit).getOrElse(shifted)
      }
    }
  }

  private val ParentPipeKeys = Set("derivative", "cumulative_sum", "serial_diff",
    "moving_fn", "bucket_script", "bucket_selector", "bucket_sort",
    "normalize", "moving_percentiles")
  private val SiblingPipeKeys = Set("avg_bucket", "sum_bucket", "min_bucket",
    "max_bucket", "stats_bucket", "extended_stats_bucket", "percentiles_bucket")
  private def isSiblingPipe(f: JField): Boolean = f match {
    case JField(_, JObject(spec)) => spec.exists(x => SiblingPipeKeys(x._1))
    case _ => false
  }

  private def isCorrKs(f: JField): Boolean = f match {
    case JField(_, JObject(spec)) =>
      spec.exists(x => x._1 == "bucket_correlation" || x._1 == "bucket_count_ks_test")
    case _ => false
  }

  /** `bucket_correlation` (count_correlation indicator) and
    * `bucket_count_ks_test` beside ONE multi-bucket parent: compile
    * the parent, pair its ordered buckets with the provided series,
    * reduce to one row via the Scala kernels. */
  private def compileCorrKs(df: DataFrame, fields: List[JField],
      fgPred: Option[Column], background: Option[DataFrame]): DataFrame = {
    val (pipes, parents) = fields.partition(isCorrKs)
    require(parents.size == 1 && pipes.size == 1,
      "bucket_correlation/bucket_count_ks_test need exactly ONE multi-bucket " +
        "parent beside ONE pipe node")
    val JField(parentName, parentSpec) = parents.head
    val parentFrame = compile(df,
      JsonMethods.compact(JsonMethods.render(
        JObject(List(JField("aggs", JObject(List(JField(parentName, parentSpec)))))))),
      fgPred, background)
    val JField(_, JObject(pspec)) = pipes.head: @unchecked
    val (kind, body) = pspec.toMap.head match {
      case (k, JObject(b)) => (k, b.toMap)
      case other => throw new IllegalArgumentException(s"bad $other")
    }
    val path = str(body, "buckets_path", kind)
    val (pfx, metricPath) = path.split(">") match {
      case Array(a, b) => (a, b)
      case _ => throw new IllegalArgumentException(
        s"buckets_path must be parent>metric: $path")
    }
    require(pfx == parentName,
      s"buckets_path '$path' references '$pfx' but the parent agg is '$parentName'")
    val cname = if (metricPath == "_count") "doc_count" else metricPath.replace('.', '_')
    require(parentFrame.columns.contains(cname),
      s"buckets_path '$path' resolves to no column " +
        s"(have: ${parentFrame.columns.mkString(", ")})")
    kind match {
      case "bucket_correlation" =>
        val unknownC = body.keySet -- Set("buckets_path", "function")
        require(unknownC.isEmpty,
          s"unsupported bucket_correlation option(s): ${unknownC.toSeq.sorted.mkString(", ")}")
        val expectations = body.get("function") match {
          case Some(JObject(List(JField("count_correlation", JObject(cc))))) =>
            cc.toMap.get("indicator") match {
              case Some(JObject(ind)) => ind.toMap.get("expectations") match {
                case Some(JArray(xs)) => xs.map(num)
                case _ => throw new IllegalArgumentException(
                  "count_correlation needs indicator.expectations")
              }
              case _ => throw new IllegalArgumentException(
                "count_correlation needs an indicator object")
            }
          case _ => throw new IllegalArgumentException(
            "bucket_correlation needs function.count_correlation")
        }
        graft.agg.Aggs.bucketCorrelation(parentFrame, parentName, cname, expectations)
      case "bucket_count_ks_test" =>
        val unknownK = body.keySet -- Set("buckets_path", "fractions", "alternative")
        require(unknownK.isEmpty,
          s"unsupported bucket_count_ks_test option(s): ${unknownK.toSeq.sorted.mkString(", ")}")
        val fractions = body.get("fractions") match {
          case Some(JArray(xs)) => xs.map(num)
          case _ => throw new IllegalArgumentException(
            "bucket_count_ks_test needs fractions")
        }
        // the kernel emits ALL THREE alternatives (less/greater/
        // two_sided) — an `alternative` list is accepted when it names
        // a subset of those (the columns ride along regardless)
        body.get("alternative").foreach {
          case JArray(alts) => alts.foreach {
            case JString(a) => require(
              Set("less", "greater", "two_sided")(a), s"bad alternative: $a")
            case o => throw new IllegalArgumentException(s"bad alternative: $o")
          }
          case o => throw new IllegalArgumentException(s"bad alternative: $o")
        }
        graft.agg.Aggs.bucketCountKsTest(parentFrame, parentName, cname, fractions)
    }
  }

  /** Sibling pipeline aggs: `*_bucket` nodes at the root beside ONE
    * multi-bucket parent. The parent tree compiles through the normal
    * path; each sibling reduces the buckets_path metric column over
    * the (tiny) bucket frame into named one-row columns. Documented
    * delta: ES's response carries the parent's buckets AND the sibling
    * value; the flat frame returns the sibling REDUCE row only (the
    * buckets are the same request without the sibling). min/max_bucket
    * return the value (ES additionally lists the keys holding it). */
  private def compileSiblings(df: DataFrame, fields: List[JField],
      fgPred: Option[Column], background: Option[DataFrame]): DataFrame = {
    val (sibs, parents) = fields.partition(isSiblingPipe)
    require(parents.size == 1,
      "sibling pipeline aggs need exactly ONE multi-bucket parent beside " +
        s"them; got ${parents.size} (${parents.map(_._1).mkString(", ")})")
    val JField(parentName, parentSpec) = parents.head
    val parentFrame = compile(df,
      JsonMethods.compact(JsonMethods.render(
        JObject(List(JField("aggs", JObject(List(JField(parentName, parentSpec)))))))),
      fgPred, background)
    def label(p: Double) =
      (if (p == p.floor) p.toLong.toString else p.toString).replace('.', '_')
    val aggCols: Seq[Column] = sibs.flatMap {
      case JField(name, JObject(spec)) =>
        val (kind, bodyJ) = spec.find(x => SiblingPipeKeys(x._1)).get
        val body = bodyJ match {
          case JObject(b) => b.toMap
          case other => throw new IllegalArgumentException(s"bad $kind under '$name': $other")
        }
        val path = str(body, "buckets_path", kind)
        val (pfx, metricPath) = path.split(">") match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"sibling buckets_path must be parent>metric: $path")
        }
        require(pfx == parentName,
          s"buckets_path '$path' references '$pfx' but the parent agg is '$parentName'")
        val cname =
          if (metricPath == "_count") "doc_count" else metricPath.replace('.', '_')
        require(parentFrame.columns.contains(cname),
          s"buckets_path '$path' resolves to no column " +
            s"(have: ${parentFrame.columns.mkString(", ")})")
        val c = col(cname)
        kind match {
          case "avg_bucket" => Seq(Num.round(avg(c), 4).as(name))
          // decimal partials: bucket values are 4-dp-rounded doubles, so
          // decimal(18,4) sums them exactly and order-free
          case "sum_bucket" =>
            Seq(Num.round(sum(c.cast("decimal(18,4)")).cast("double"), 4).as(name))
          case "min_bucket" => Seq(min(c).as(name))
          case "max_bucket" => Seq(max(c).as(name))
          case "stats_bucket" => Seq(
            count(c).as(s"${name}_count"),
            Num.round(min(c), 4).as(s"${name}_min"),
            Num.round(max(c), 4).as(s"${name}_max"),
            Num.round(avg(c), 4).as(s"${name}_avg"),
            Num.round(sum(c.cast("decimal(18,4)")).cast("double"), 4).as(s"${name}_sum"))
          case "extended_stats_bucket" => Seq(
            count(c).as(s"${name}_count"),
            Num.round(avg(c), 4).as(s"${name}_avg"),
            Num.round(var_pop(c), 4).as(s"${name}_variance"),
            Num.round(stddev_pop(c), 4).as(s"${name}_std_dev"))
          case "percentiles_bucket" =>
            val percents = body.get("percents") match {
              case Some(JArray(xs)) => xs.map(num)
              case None => Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)
              case Some(other) => throw new IllegalArgumentException(s"bad percents: $other")
            }
            percents.map(p =>
              Num.round(percentile(c, lit(p / 100.0)), 4).as(s"${name}_p${label(p)}"))
        }
      case other => throw new IllegalArgumentException(s"bad sibling pipeline agg: $other")
    }
    parentFrame.agg(aggCols.head, aggCols.tail: _*)
  }

  private def str(m: Map[String, JValue], k: String, agg: String): String =
    m.get(k).collect { case JString(s) => s }
      .getOrElse(throw new IllegalArgumentException(s"$agg needs $k"))

  /** Every agg-TYPE key in an aggs subtree (the keys of each named
    * agg's body, minus nesting/meta), for structural guards. */
  private def aggTypeKeysOf(aggs: JValue): Set[String] = aggs match {
    case JObject(named) => named.iterator.flatMap {
      case JField(_, JObject(body)) => body.flatMap {
        case JField("aggs" | "aggregations", sub) => aggTypeKeysOf(sub)
        case JField("meta", _) => Nil
        case JField(t, _) => Seq(t)
      }
      case _ => Nil
    }.toSet
    case _ => Set.empty
  }

  /** Names of sum-type metric aggs (sum, value_count) anywhere in an
    * aggs subtree — the outputs ES scales by 1/probability under
    * random_sampler (mean/percentile-type metrics stay unscaled). */
  private def sumTypeAggNames(aggs: JValue): Set[String] = aggs match {
    case JObject(named) => named.iterator.flatMap {
      case JField(n, JObject(body)) => body.flatMap {
        case JField("aggs" | "aggregations", sub) => sumTypeAggNames(sub)
        case JField("sum" | "value_count", _) => Seq(n)
        case _ => Nil
      }
      case _ => Nil
    }.toSet
    case _ => Set.empty
  }

  private def num(v: JValue): Double = v match {
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"bad number: $other")
  }

  private val BucketNodeKeys = Set("terms", "histogram", "date_histogram",
    "range", "date_range", "geotile_grid", "geohash_grid")

  private def bucketKey(name: String, spec: Map[String, JValue]): Column =
    // dispatch on the RECOGNIZED bucket key, not map order — a spec
    // carrying an unsupported option key must not shadow the node type
    // in the error
    spec.find(kv => BucketNodeKeys(kv._1)).getOrElse(spec.head) match {
      case ("terms", JObject(s)) =>
        val m = s.toMap
        val c = col(str(m, "field", "terms"))
        // ES terms `missing`: docs without the field land in the
        // substitute's bucket instead of being dropped
        m.get("missing") match {
          case Some(JString(v)) => coalesce(c, lit(v))
          case Some(n) => coalesce(c, lit(num(n)))
          case None => c
        }
      case ("histogram", JObject(s)) =>
        val m = s.toMap
        val f = str(m, "field", "histogram")
        val interval = num(m.getOrElse("interval",
          throw new IllegalArgumentException("histogram needs interval")))
        floor(col(f) / interval) * interval
      case ("date_histogram", JObject(s)) =>
        val m = s.toMap
        val f = str(m, "field", "date_histogram")
        val unknown = m.keySet -- Set("field", "fixed_interval",
          "calendar_interval", "offset", "min_doc_count")
        require(unknown.isEmpty,
          s"unsupported date_histogram option(s) under '$name': ${unknown.mkString(", ")}")
        // `offset` shifts the bucket boundaries (ES: billing months
        // starting on the 10th) — truncate in offset-space, shift
        // back; validated shape so the interval literal stays a
        // literal. Offset keys are TIMESTAMPs (a shifted boundary is
        // no longer a pure date at every granularity).
        val offset = m.get("offset").map {
          case JString(o) =>
            require(o.matches("\\d+ (day|days|hour|hours|minute|minutes|week|weeks)"),
              s"bad date_histogram offset '$o' (want '<n> day[s]|hour[s]|minute[s]|week[s]')")
            o
          case other => throw new IllegalArgumentException(s"bad offset: $other")
        }
        (m.get("fixed_interval"), m.get("calendar_interval")) match {
          case (Some(JString(iv)), None) =>
            val IntervalRe = """(\d+)(ms|s|m|h|d)""".r
            val ns = iv match {
              case IntervalRe(n, unit) => n.toLong * (unit match {
                case "ms" => 1000000L
                case "s" => 1000000000L
                case "m" => 60L * 1000000000L
                case "h" => 3600L * 1000000000L
                case "d" => 86400L * 1000000000L
              })
              case other => throw new IllegalArgumentException(
                s"bad fixed_interval '$other' (want <n>ms|s|m|h|d)")
            }
            // bucket START in ns (integer math — the ES epoch-aligned key)
            require(offset.isEmpty,
              "date_histogram offset supports calendar_interval only here")
            expr(s"($f div ${ns}L) * ${ns}L")
          case (None, Some(JString(unit))) =>
            // calendar units over DATE/TIMESTAMP fields — variable-width
            // buckets fixed_interval cannot express (months differ in
            // days); date_trunc is the epoch-free calendar alignment
            require(Set("day", "week", "month", "quarter", "year")(unit),
              s"bad calendar_interval '$unit' (want day|week|month|quarter|year)")
            offset match {
              case Some(o) =>
                date_trunc(unit, col(f) - expr(s"interval $o")) + expr(s"interval $o")
              case None => date_trunc(unit, col(f)).cast("date")
            }
          case _ => throw new IllegalArgumentException(
            "date_histogram needs exactly one of fixed_interval | calendar_interval")
        }
      // geo grid buckets: ES's geo_point `field` maps onto the flat
      // schema's `<field>_lat`/`<field>_lon` column pair (the same
      // convention the geo query clauses use); the cell key math is
      // Aggs.geotileKey / geohashKey — identical to the Scala
      // operators, so the grid keys cannot diverge
      case ("geotile_grid", JObject(s)) =>
        val m = s.toMap
        val f = str(m, "field", "geotile_grid")
        val z = m.get("precision").map(num(_).toInt).getOrElse(7)
        graft.agg.Aggs.geotileKey(s"${f}_lat", s"${f}_lon", z)
      case ("geohash_grid", JObject(s)) =>
        val m = s.toMap
        val f = str(m, "field", "geohash_grid")
        val p = m.get("precision").map(num(_).toInt).getOrElse(5)
        graft.agg.Aggs.geohashKey(s"${f}_lat", s"${f}_lon", p)
      case ("date_range", JObject(s)) =>
        // like `range` but with date-string bounds (from inclusive, to
        // exclusive, ES semantics); bucket key = "from-to" with the
        // request's strings, missing side = "*"
        val m = s.toMap
        val f = str(m, "field", "date_range")
        val ranges: Seq[(Option[String], Option[String])] = m.get("ranges") match {
          case Some(JArray(rs)) => rs.map {
            case JObject(r) =>
              val rm = r.toMap
              def side(k: String) = rm.get(k).map {
                case JString(x) => x
                case other => throw new IllegalArgumentException(
                  s"date_range $k must be a date string: $other")
              }
              (side("from"), side("to"))
            case other => throw new IllegalArgumentException(s"bad date range: $other")
          }
          case _ => throw new IllegalArgumentException("date_range needs ranges")
        }
        ranges.foldRight(lit(null).cast("string")) { case ((from, to), acc) =>
          val label = s"${from.getOrElse("*")}-${to.getOrElse("*")}"
          val c = col(f)
          val cond = (from.map(x => c >= to_date(lit(x))),
            to.map(x => c < to_date(lit(x)))) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case _ => throw new IllegalArgumentException("date range needs from or to")
          }
          when(cond, lit(label)).otherwise(acc)
        }
      case ("range", JArrayOrRanges(ranges)) =>
        ranges.foldRight(lit(null).cast("string")) { case ((from, to, _), acc) =>
          val label =
            s"${from.map(_.toString).getOrElse("*")}-${to.map(_.toString).getOrElse("*")}"
          val fieldCol = col(ranges.head._3)
          val cond = (from.map(fieldCol >= _), to.map(fieldCol < _)) match {
            case (Some(a), Some(b)) => a && b
            case (Some(a), None) => a
            case (None, Some(b)) => b
            case (None, None) => lit(true)
          }
          when(cond, lit(label)).otherwise(acc)
        }
      case (other, _) => throw new IllegalArgumentException(
        s"unsupported bucket agg under '$name': $other")
    }

  /** `{"multi_terms": {"terms": [{"field": a}, {"field": b}],
    * "size": N}}` — compound-key terms. One groupBy over every key
    * field (one exchange with map-side partial aggregation), top-N
    * buckets by doc_count desc (ES's default order; key-asc
    * tie-break), optional metric sub-aggs evaluated per bucket. */
  private def compileMultiTerms(
      df: DataFrame, name: String, spec: Map[String, JValue]): DataFrame = {
    val mt = spec("multi_terms") match {
      case JObject(m) => m.toMap
      case other => throw new IllegalArgumentException(s"bad multi_terms under '$name': $other")
    }
    val fields: Seq[String] = mt.get("terms") match {
      case Some(JArray(ts)) => ts.map {
        case JObject(t) => str(t.toMap, "field", "multi_terms.terms")
        case other => throw new IllegalArgumentException(s"bad multi_terms term: $other")
      }
      case _ => throw new IllegalArgumentException("multi_terms needs a terms array")
    }
    require(fields.size >= 2, "multi_terms needs at least two fields (use terms for one)")
    val size = mt.get("size").map(num(_).toInt).getOrElse(10)
    val metrics = spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(subs)) => subs.flatMap {
        case JField(mn, JObject(ms)) => metricCols(mn, ms.toMap)
        case other => throw new IllegalArgumentException(s"bad multi_terms sub-agg: $other")
      }
      case None => Nil
      case Some(other) => throw new IllegalArgumentException(s"bad sub-aggs: $other")
    }
    val aggCols = count(lit(1)).as("doc_count") +: metrics.map { case (n, c) => c.as(n) }
    df.groupBy(fields.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col("doc_count").desc +: fields.map(col(_).asc): _*)
      .limit(size)
  }

  /** range spec extractor: (from, to, field) triples. */
  private object JArrayOrRanges {
    def unapply(v: JValue): Option[Seq[(Option[Double], Option[Double], String)]] =
      v match {
        case JObject(s) =>
          val m = s.toMap
          val f = m.get("field").collect { case JString(x) => x }.getOrElse(return None)
          m.get("ranges") match {
            case Some(JArray(rs)) => Some(rs.map {
              case JObject(r) =>
                val rm = r.toMap
                (rm.get("from").map(num), rm.get("to").map(num), f)
              case other => throw new IllegalArgumentException(s"bad range: $other")
            })
            case _ => None
          }
        case _ => None
      }
  }

  /** `{"composite": {"sources": [...], "size": N, "after": {...}}}` —
    * multi-source bucket pagination as a JSON tree node. Sources are
    * `terms` / `histogram` / `date_histogram` (each reuses bucketKey,
    * so the key math cannot diverge from the flat tree's); `after` is
    * ES's object keyed by source name, compiled to a lexicographic
    * strictly-greater predicate that references only grouping keys —
    * Catalyst pushes it BELOW the partial aggregation, so a deep page
    * never aggregates the skipped prefix. Sub-aggs may be metrics
    * (evaluated per composite bucket); nested bucket aggs throw.
    * Per ES, a source with `missing_bucket: true` keeps null keys
    * (sorted first); default drops them. */
  private def compileComposite(
      df: DataFrame, name: String, spec: Map[String, JValue]): DataFrame = {
    val cm = spec.get("composite") match {
      case Some(JObject(c)) => c.toMap
      case _ => throw new IllegalArgumentException(s"bad composite spec under '$name'")
    }
    val size = cm.get("size").map(num(_).toInt).getOrElse(10)
    val sources: Seq[(String, Column, Boolean)] = cm.get("sources") match {
      case Some(JArray(srcs)) => srcs.map {
        case JObject(JField(sname, JObject(sspec)) :: Nil) =>
          val m = sspec.toMap
          val inner = m.head match {
            case (kind, JObject(ks))
                if Set("terms", "histogram", "date_histogram", "geotile_grid")(kind) =>
              val km = ks.toMap
              val allowed = Set("field", "missing_bucket", "order") ++ (kind match {
                case "histogram" => Set("interval")
                case "date_histogram" => Set("fixed_interval", "calendar_interval")
                case "geotile_grid" => Set("precision")
                case _ => Set.empty[String]
              })
              val extra = km.keySet -- allowed
              require(extra.isEmpty,
                s"unsupported composite source option(s) under '$sname': " +
                  extra.toSeq.sorted.mkString(", "))
              // the after cursor pages key-ASCENDING; a desc source
              // would need the predicate inverted per source — reject
              // rather than silently paging the wrong way
              km.get("order").foreach {
                case JString("asc") => ()
                case o => throw new IllegalArgumentException(
                  s"composite source order supports asc (got $o)")
              }
              bucketKey(sname,
                Map(kind -> JObject((km - "missing_bucket" - "order").toList)))
            case (other, _) => throw new IllegalArgumentException(
              s"unsupported composite source type '$other' under '$sname'")
          }
          val missing = m.head._2 match {
            case JObject(ks) => ks.toMap.get("missing_bucket")
              .collect { case JBool(b) => b }.getOrElse(false)
            case _ => false
          }
          (sname, inner, missing)
        case other => throw new IllegalArgumentException(s"bad composite source: $other")
      }
      case _ => throw new IllegalArgumentException("composite needs a sources array")
    }
    val metrics = (spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(subs)) => subs.map {
        case JField(mn, JObject(ms)) =>
          require(!ms.exists { case JField(k, _) =>
            Set("terms", "histogram", "date_histogram", "range", "composite",
              "significant_terms", "top_hits", "geotile_grid",
              "geohash_grid").contains(k) },
            s"composite sub-agg '$mn' must be a metric (bucket aggs don't nest under composite)")
          mn -> metricCol(mn, ms.toMap)
        case other => throw new IllegalArgumentException(s"bad composite sub-agg: $other")
      }
      case None => Nil
      case Some(other) => throw new IllegalArgumentException(s"bad sub-aggs: $other")
    })
    val keyed = sources.foldLeft(df) { case (d, (n, c, _)) => d.withColumn(n, c) }
    val base = sources.filterNot(_._3).map(_._1) match {
      case Nil => keyed
      case drop => keyed.where(drop.map(col(_).isNotNull).reduce(_ && _))
    }
    val aggCols = count(lit(1)).as("doc_count") +: metrics.map { case (n, c) => c.as(n) }
    val grouped = base.groupBy(sources.map(s => col(s._1)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val afterLit: Map[String, Column] = cm.get("after") match {
      case Some(JObject(af)) => af.map {
        case JField(k, v) =>
          val raw = v match {
            case JString(s) => lit(s)
            case other => lit(num(other))
          }
          // typed to the SOURCE KEY's type: a calendar date_histogram
          // key is DATE-typed, so its cursor literal must compare as a
          // date (an untyped string literal throws a lexicographic
          // type-mismatch on any page after the first); numeric keys
          // compare at their own width
          k -> grouped.schema.find(_.name == k)
            .map(f => raw.cast(f.dataType)).getOrElse(raw)
      }.toMap
      case None => Map.empty
      case Some(other) => throw new IllegalArgumentException(s"bad composite after: $other")
    }
    val paged =
      if (afterLit.isEmpty) grouped
      else {
        val names = sources.map(_._1)
        require(afterLit.keySet == names.toSet,
          s"composite after keys ${afterLit.keySet.toSeq.sorted.mkString(",")} must match " +
            s"sources ${names.mkString(",")}")
        val gt = names.zipWithIndex.map { case (k, i) =>
          names.take(i).map(p => col(p) === afterLit(p))
            .foldLeft(col(k) > afterLit(k))(_ && _)
        }.reduce(_ || _)
        grouped.where(gt)
      }
    paged.orderBy(sources.map(s => col(s._1).asc): _*).limit(size)
  }

  /** `{"significant_terms": {"field": f, "min_doc_count": n, "size": k,
    * "heuristic": h}}` — foreground-vs-background uplift as a JSON
    * node. The foreground is the request's query (fgPred), the
    * background is the PRE-query frame; a `.keyword` field suffix
    * routes to the keyword variant (field VALUES as terms, no token
    * explode), anything else tokenizes like ES's text mapping. */
  private def compileSigTerms(
      df: DataFrame, name: String, spec: Map[String, JValue],
      fgPred: Option[Column], background: Option[DataFrame]): DataFrame = {
    require(spec.size == 1,
      s"significant_terms must be the only agg under '$name' (its result is a term table)")
    val m = spec.get("significant_terms") match {
      case Some(JObject(s)) => s.toMap
      case _ => throw new IllegalArgumentException(s"bad significant_terms under '$name'")
    }
    val field = str(m, "field", "significant_terms")
    val minDoc = m.get("min_doc_count").map(num(_).toLong).getOrElse(5L)
    val size = m.get("size").map(num(_).toInt).getOrElse(10)
    val heuristic = m.get("heuristic").collect { case JString(h) => h }.getOrElse("default")
    val base = background.getOrElse(df)
    val pred = fgPred.getOrElse(lit(true))
    if (field.endsWith(".keyword"))
      graft.agg.Aggs.significantTermsKeyword(
        base, field.dropRight(".keyword".length), pred, minDoc, size)
    else
      graft.agg.Aggs.significantTerms(base, field, pred, minDoc, size,
        heuristic = heuristic)
  }

  /** `{"filters": {"filters": {name: <query-dsl>, ...},
    * "other_bucket": bool}}` — named-filter counts as a JSON node.
    * Each named filter is a FULL Query-DSL object compiled through
    * QueryDslJson (so bool/range/match/term all work); the counts are
    * conditional sums in ONE scan, `other_bucket: true` adds ES's
    * `_other_` count of docs no named filter matched. */
  private def compileFilters(
      df: DataFrame, name: String, spec: Map[String, JValue]): DataFrame = {
    require(spec.size == 1,
      s"filters must be the only agg under '$name' (its result is one count row)")
    val m = spec.get("filters") match {
      case Some(JObject(s)) => s.toMap
      case _ => throw new IllegalArgumentException(s"bad filters spec under '$name'")
    }
    val buckets = m.get("filters") match {
      case Some(JObject(fs)) => fs.map {
        case JField(n, q) =>
          n -> QueryDslJson.compile(JsonMethods.compact(JsonMethods.render(q)))
      }
      case _ => throw new IllegalArgumentException(
        s"filters under '$name' needs a named filters object")
    }
    require(buckets.nonEmpty, s"filters under '$name' is empty")
    val other = m.get("other_bucket").collect { case JBool(b) => b }.getOrElse(false)
    if (other) graft.agg.Aggs.filtersAggOther(df, buckets)
    else graft.agg.Aggs.filtersAgg(df, buckets)
  }

  /** terms > top_hits: the per-bucket DOCUMENT window (`size` best
    * hits per bucket by the node's `sort`, `_source`-selected
    * columns + `rn`). Returns docs, not metrics — hence its own
    * compile path; the tree must be exactly terms > top_hits. */
  /** date_histogram > cumulative_cardinality: Some(spec) when the
    * single sub-agg is a `cumulative_cardinality` node. */
  private def cumCardChild(spec: Map[String, JValue]): Option[Map[String, JValue]] =
    spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(JField(_, JObject(c)) :: Nil)) =>
        c.toMap.get("cumulative_cardinality") match {
          case Some(JObject(t)) => Some(t.toMap)
          case _ => None
        }
      case _ => None
    }

  /** terms > geo_line: Some(geo_line spec) when the single sub-agg is
    * a `geo_line` node (the dedicated tree shape above). */
  private def geoLineChild(spec: Map[String, JValue]): Option[Map[String, JValue]] =
    spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(JField(_, JObject(g)) :: Nil)) =>
        g.toMap.get("geo_line") match {
          case Some(JObject(t)) => Some(t.toMap)
          case _ => None
        }
      case _ => None
    }

  /** date_histogram > rate: Some(rate spec) when the single sub-agg is
    * a `rate` node (the dedicated tree shape above). */
  private def rateChild(spec: Map[String, JValue]): Option[Map[String, JValue]] =
    spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(JField(_, JObject(r)) :: Nil)) =>
        r.toMap.get("rate") match {
          case Some(JObject(t)) => Some(t.toMap)
          case _ => None
        }
      case _ => None
    }

  private def topHitsChild(spec: Map[String, JValue]): Option[Map[String, JValue]] =
    spec.get("aggs").orElse(spec.get("aggregations")) match {
      case Some(JObject(JField(_, JObject(th)) :: Nil)) =>
        th.toMap.get("top_hits") match {
          case Some(JObject(t)) => Some(t.toMap)
          case _ => None
        }
      case _ => None
    }

  private def compileTopHits(
      df: DataFrame, name: String, spec: Map[String, JValue]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketField = spec.get("terms") match {
      case Some(JObject(t)) => str(t.toMap, "field", "terms")
      case _ => throw new IllegalArgumentException(s"bad terms under '$name'")
    }
    val th = topHitsChild(spec).get
    val k = th.get("size").map(num(_).toInt).getOrElse(3)
    val sortCols = th.get("sort") match {
      case Some(JArray(specs)) if specs.nonEmpty => specs.map {
        case JObject(JField(f, JObject(o)) :: Nil) =>
          o.toMap.get("order") match {
            case Some(JString("desc")) => col(f).desc
            case _ => col(f).asc
          }
        case JString(f) => col(f).asc
        case other => throw new IllegalArgumentException(s"bad top_hits sort: $other")
      }
      case _ => throw new IllegalArgumentException(
        "top_hits needs an explicit sort (make it total for deterministic hits)")
    }
    val sourceCols = th.get("_source") match {
      case Some(JArray(fs)) => fs.map {
        case JString(f) => f
        case other => throw new IllegalArgumentException(s"bad _source entry: $other")
      }
      case None => df.columns.toSeq.filterNot(_ == bucketField)
      case Some(other) => throw new IllegalArgumentException(s"bad top_hits _source: $other")
    }
    val w = Window.partitionBy(col(bucketField)).orderBy(sortCols: _*)
    df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select((bucketField +: sourceCols :+ "rn").map(col): _*)
      .orderBy(col(bucketField).asc, col("rn").asc)
  }

  /** Multi-column metric nodes (flat-frame naming, documented delta
    * from ES's nested response paths: `<agg>.<part>` becomes
    * `<agg>_<part>` columns):
    *  - `stats` → _count/_min/_max/_avg/_sum
    *  - `extended_stats` → _count/_avg/_variance/_std_dev (population,
    *    like ES's default)
    *  - `percentiles` → one `_p<n>` column per requested percent
    *    (`percents`, default ES's [1,5,25,50,75,95,99]); exact linear
    *    interpolation, group-local (the scale-out note on the GLOBAL
    *    exact percentile — distributed sort-selection — does not apply
    *    to grouped percentiles, which partition by bucket key)
    *  - `weighted_avg` → sum(v*w)/sum(w), ES's value/weight objects
    * Single-valued nodes fall through to metricCol unchanged. */
  private def metricCols(name: String, spec: Map[String, JValue]): Seq[(String, Column)] = {
    import graft.util.Num
    def fieldOf(s: Map[String, JValue], agg: String): Column =
      col(str(s, "field", agg))
    spec.head match {
      case ("stats", JObject(s)) =>
        val c = fieldOf(s.toMap, "stats")
        Seq(
          s"${name}_count" -> count(c),
          s"${name}_min" -> Num.round(min(c), 4),
          s"${name}_max" -> Num.round(max(c), 4),
          s"${name}_avg" -> Num.round(avg(c), 4),
          s"${name}_sum" -> Num.round(sum(c.cast("decimal(18,4)")).cast("double"), 4))
      case ("extended_stats", JObject(s)) =>
        val c = fieldOf(s.toMap, "extended_stats")
        Seq(
          s"${name}_count" -> count(c),
          s"${name}_avg" -> Num.round(avg(c), 4),
          s"${name}_variance" -> Num.round(var_pop(c), 4),
          s"${name}_std_dev" -> Num.round(stddev_pop(c), 4))
      case ("percentiles", JObject(s)) =>
        val m = s.toMap
        val f = str(m, "field", "percentiles")
        val percents = m.get("percents") match {
          case Some(JArray(xs)) => xs.map(num)
          case None => Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0) // ES default
          case Some(other) => throw new IllegalArgumentException(s"bad percents: $other")
        }
        def label(p: Double) =
          (if (p == p.floor) p.toLong.toString else p.toString).replace('.', '_')
        m.get("tdigest") match {
          case Some(JBool(true)) =>
            // ES's OWN percentiles implementation is the t-digest
            // sketch; this is the 100 TB route — the agg state is
            // O(compression) centroids per group, not the group's
            // value multiset. Sketch layout is not bit-deterministic,
            // so tdigest percentiles are spec-checked via rank-error
            // bounds (TDigest.percentilesProbe), never hash-compared.
            val sketch = graft.agg.TDigest.percentilesCol(f, percents.map(_ / 100.0))
            percents.zipWithIndex.map { case (p, i) =>
              s"${name}_p${label(p)}" ->
                element_at(sketch, i + 1)
            }
          case _ =>
            // EXACT percentile (linear interpolation — the same
            // definition as DuckDB's quantile_cont). Group-local: the
            // agg state is the GROUP's value multiset, so this is for
            // bounded groups; at corpus-scale groups use
            // `"tdigest": true` (ES's own default engine).
            // ONE array-form aggregate shared by every output column —
            // N scalar percentile(...) calls would each keep their OWN
            // copy of the group's value multiset (N× the agg state)
            val shared = percentile(col(f),
              typedLit(percents.map(_ / 100.0)))
            percents.zipWithIndex.map { case (p, i) =>
              s"${name}_p${label(p)}" ->
                Num.round(element_at(shared, i + 1), 4)
            }
        }
      case ("weighted_avg", JObject(s)) =>
        val m = s.toMap
        def part(key: String): Column = m.get(key) match {
          case Some(JObject(p)) => col(str(p.toMap, "field", s"weighted_avg.$key"))
          case _ => throw new IllegalArgumentException(s"weighted_avg needs $key.field")
        }
        val (v, w) = (part("value"), part("weight"))
        Seq(name -> Num.round(
          sum((v * w).cast("decimal(18,4)")).cast("double") /
            sum(w.cast("decimal(18,4)")).cast("double"), 4))
      case ("string_stats", JObject(s)) =>
        // per-group length statistics over a string field — the
        // lengths fold in the SAME partial aggregation, no extra pass
        val c = fieldOf(s.toMap, "string_stats")
        Seq(
          s"${name}_count" -> count(c),
          s"${name}_min_length" -> min(length(c)),
          s"${name}_max_length" -> max(length(c)),
          s"${name}_avg_length" -> Num.round(avg(length(c)), 4))
      case ("boxplot", JObject(s)) =>
        // grouped five-number summary (exact interpolation, like the
        // percentiles metric's exact route: group-local value-multiset
        // state — corpus-scale groups use percentiles+tdigest instead).
        // One shared array-form aggregate: five scalar percentiles
        // would keep five copies of the group's value multiset
        val c = fieldOf(s.toMap, "boxplot")
        val parts = Seq("min" -> 0.0, "q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75, "max" -> 1.0)
        val shared = percentile(c, typedLit(parts.map(_._2)))
        parts.zipWithIndex.map { case ((part, _), i) =>
          s"${name}_$part" -> Num.round(element_at(shared, i + 1), 4)
        }
      case ("top_metrics", JObject(s)) =>
        // per-bucket metric value AT the best sort key (ES's size-1
        // default): ONE max_by/min_by partial agg, never a window
        val m = s.toMap
        val metricField = m.get("metrics") match {
          case Some(JObject(mm)) => str(mm.toMap, "field", "top_metrics.metrics")
          case _ => throw new IllegalArgumentException("top_metrics needs metrics.field")
        }
        val (sortField, asc) = m.get("sort") match {
          case Some(JObject(sm)) =>
            val smm = sm.toMap
            (str(smm, "field", "top_metrics.sort"),
              !smm.get("order").collect { case JString(o) => o }.contains("desc"))
          case _ => throw new IllegalArgumentException("top_metrics needs a sort object")
        }
        val (mcol, scol) = (col(metricField), col(sortField))
        if (asc) Seq(
          s"${name}_$metricField" -> min_by(mcol, scol),
          s"${name}_sort" -> min(scol))
        else Seq(
          s"${name}_$metricField" -> max_by(mcol, scol),
          s"${name}_sort" -> max(scol))
      case ("geo_bounds", JObject(s)) =>
        // tightest lat/lon envelope per bucket — min/max combine
        // associatively, so the cost is 4 doubles per group in the
        // same partial aggregation (geo_point field convention:
        // `<f>_lat` / `<f>_lon` columns, like the grid nodes)
        require((s.toMap.keySet -- Set("field")).isEmpty,
          s"unsupported geo_bounds option(s): ${(s.toMap.keySet - "field").toSeq.sorted.mkString(", ")}")
        val f = str(s.toMap, "field", "geo_bounds")
        Seq(
          s"${name}_top" -> Num.round(max(col(s"${f}_lat")), 4),
          s"${name}_left" -> Num.round(min(col(s"${f}_lon")), 4),
          s"${name}_bottom" -> Num.round(min(col(s"${f}_lat")), 4),
          s"${name}_right" -> Num.round(max(col(s"${f}_lon")), 4))
      case ("geo_centroid", JObject(s)) =>
        // mean point per bucket (column-pair model, same pass)
        require((s.toMap.keySet -- Set("field")).isEmpty,
          s"unsupported geo_centroid option(s): ${(s.toMap.keySet - "field").toSeq.sorted.mkString(", ")}")
        val f = str(s.toMap, "field", "geo_centroid")
        Seq(
          s"${name}_lat" -> Num.round(avg(col(s"${f}_lat")), 4),
          s"${name}_lon" -> Num.round(avg(col(s"${f}_lon")), 4))
      case ("cartesian_bounds", JObject(s)) =>
        // the planar twin (ES 8.6): point field convention
        // `<f>_x` / `<f>_y`
        require((s.toMap.keySet -- Set("field")).isEmpty,
          s"unsupported cartesian_bounds option(s): ${(s.toMap.keySet - "field").toSeq.sorted.mkString(", ")}")
        val f = str(s.toMap, "field", "cartesian_bounds")
        Seq(
          s"${name}_min_x" -> Num.round(min(col(s"${f}_x")), 4),
          s"${name}_max_x" -> Num.round(max(col(s"${f}_x")), 4),
          s"${name}_min_y" -> Num.round(min(col(s"${f}_y")), 4),
          s"${name}_max_y" -> Num.round(max(col(s"${f}_y")), 4))
      case ("cartesian_centroid", JObject(s)) =>
        require((s.toMap.keySet -- Set("field")).isEmpty,
          s"unsupported cartesian_centroid option(s): ${(s.toMap.keySet - "field").toSeq.sorted.mkString(", ")}")
        val f = str(s.toMap, "field", "cartesian_centroid")
        Seq(
          s"${name}_x" -> Num.round(avg(col(s"${f}_x")), 4),
          s"${name}_y" -> Num.round(avg(col(s"${f}_y")), 4))
      case ("scripted_metric", JObject(s)) =>
        // the map script compiles ONCE (driver-side) to codegen'd
        // column math; combine/reduce must be the associative sum —
        // the only shape a partial aggregation can honor (and the
        // shape ES's own docs use) — so a scripted metric costs the
        // same as a built-in sum at any scale. init_script is LOUDLY
        // rejected (a seed value would be silently dropped, skewing
        // the sum by seed×shards vs ES); combine/reduce accept only
        // the canonical sum spellings, not any string containing
        // "sum" (e.g. "consume(states)" is not an associative sum).
        val m = s.toMap
        val unknownSm = m.keySet -- Set("map_script", "combine_script", "reduce_script")
        require(unknownSm.isEmpty,
          s"unsupported scripted_metric option(s): ${unknownSm.toSeq.sorted.mkString(", ")}" +
            (if (m.contains("init_script"))
              " (an init seed cannot ride a partial-aggregated sum — fold it " +
                "into the map script or use the Scala operator)" else ""))
        val mapScript = str(m, "map_script", "scripted_metric")
        val SumForms = Set("state.sum", "states.sum", "sum(states)", "returnstates.sum",
          "returnstate.sum", "returnsum(states)")
        for (k <- Seq("combine_script", "reduce_script"); v <- m.get(k))
          v match {
            case JString(x)
                if SumForms(x.toLowerCase.replaceAll("[\\s;]", "")) => ()
            case o => throw new IllegalArgumentException(
              s"scripted_metric $k must be the associative sum " +
                s"(state.sum / states.sum / sum(states)); got $o — " +
                "other reduce shapes need the Scala operator")
          }
        Seq(name -> Num.round(
          sum(Painless.compile(mapScript, Map.empty).cast("decimal(28,8)"))
            .cast("double"), 4))
      case ("percentile_ranks", JObject(s)) =>
        // inverse percentiles: the PERCENT of the group's values at or
        // below each requested value — one conditional count per
        // value, all in the same partial aggregation (no extra pass)
        val m = s.toMap
        val f = col(str(m, "field", "percentile_ranks"))
        val values = m.get("values") match {
          case Some(JArray(xs)) => xs.map(num)
          case _ => throw new IllegalArgumentException("percentile_ranks needs values")
        }
        def label(v: Double) =
          (if (v == v.floor) v.toLong.toString else v.toString).replace('.', '_')
        values.map { v =>
          s"${name}_rank_${label(v)}" -> Num.round(
            count(when(f <= v, lit(1))).cast("double") /
              count(f).cast("double") * 100.0, 4)
        }
      case _ => Seq(name -> metricCol(name, spec))
    }
  }

  private def metricCol(name: String, spec: Map[String, JValue]): Column = {
    // ES metric aggs accept `missing`: docs without the field count as
    // that substitute value instead of being skipped
    def fld(s: Map[String, JValue], agg: String): Column = {
      val c = col(str(s, "field", agg))
      s.get("missing").map(m => coalesce(c, lit(num(m)))).getOrElse(c)
    }
    spec.head match {
      case ("avg", JObject(s)) =>
        Num.round(avg(fld(s.toMap, "avg")), 4)
      case ("sum", JObject(s)) =>
        // decimal partials keep the sum order-free exact; the FINAL
        // value goes out as double — Spark's sum(decimal(18,4)) would
        // declare decimal(28,4) where DuckDB declares decimal(38,4),
        // and the driver's hash is type-sensitive (r10)
        sum(fld(s.toMap, "sum").cast("decimal(18,4)")).cast("double")
      case ("min", JObject(s)) => min(fld(s.toMap, "min"))
      case ("max", JObject(s)) => max(fld(s.toMap, "max"))
      case ("value_count", JObject(s)) =>
        count(fld(s.toMap, "value_count"))
      case ("cardinality", JObject(s)) =>
        val m = s.toMap
        // default: EXACT distinct (documented superior to ES's HLL).
        // `precision_threshold` present = the caller accepted sketch
        // accuracy — route to HLL++ (approx_count_distinct), whose agg
        // state is O(sketch) instead of the distinct value set: the
        // 100 TB path for high-cardinality fields. Spec-checked by
        // relative error, never hash-compared (cross-engine sketches
        // differ bit-wise).
        if (m.contains("precision_threshold"))
          approx_count_distinct(fld(m, "cardinality"))
        else count_distinct(fld(m, "cardinality"))
      case (other, _) => throw new IllegalArgumentException(
        s"unsupported metric agg under '$name': $other")
    }
  }
}

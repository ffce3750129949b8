package graft.sources

import graft.dsl.EsQuery
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The connector facade — graft's equivalent of the reference's
  * `org.elasticsearch.spark.sql` implicits (`spark.esDF(index, query)`
  * / `df.saveToEs(index, cfg)`).
  *
  * An "index" is a parquet directory. Reads accept an ES Query-DSL
  * JSON string (compiled to a pushdown-eligible predicate). Writes
  * honor the reference's option names, remapped:
  *
  *   - `graft.mapping.id`       (es.mapping.id): document id column
  *   - `graft.write.operation`  (es.write.operation):
  *       `index` (default) — replace-by-id into the index (upsert)
  *       `create`          — insert only ids NOT already present
  *       `update`          — replace only ids already present
  *       `delete`          — remove the batch's ids from the index
  *       `append`          — blind bulk append (no id semantics)
  *       `overwrite`       — replace the whole index
  *   - `graft.mapping.version`  (es.mapping.version): optional version
  *       column; higher version wins on id conflict (external
  *       versioning). Without it, incoming rows win over existing.
  *
  * Scale notes: upsert unions the existing index with the batch and
  * resolves ids with ONE partially-aggregating max_by (map-side
  * combine, no sort — see `resolve`) — the distributed analog of ES
  * bulk-upsert, with no per-doc round trips. The swap is a directory
  * rename, not a rewrite-in-place, because Spark cannot overwrite an
  * input path it is still reading.
  */
object Connector {

  object implicits {
    implicit class GraftSessionOps(val spark: SparkSession) {
      /** `spark.esDF(resource, query)` analog. `query` is either URI
        * (`?q=...`) or Query-DSL JSON. `fieldInclude`/`fieldExclude`
        * mirror es.read.field.include/exclude (source filtering →
        * column pruning here). */
      def graftDF(
          path: String,
          query: String = null,
          idField: String = "_id",
          fieldInclude: Seq[String] = Nil,
          fieldExclude: Seq[String] = Nil,
          readMetadata: Boolean = false,
          format: String = "parquet",
          missingAsEmpty: Boolean = false): DataFrame = {
        // ES multi-index syntax: "idx1,idx2" reads several indices.
        // Loaded separately and unioned by name: each index may carry
        // its own (routing) partitioning scheme.
        // `missingAsEmpty` = es.index.read.missing.as.empty: a missing
        // LITERAL index reads as zero hits instead of the 404 error
        val parts = path.split(",").map(_.trim).filter(_.nonEmpty)
          .flatMap(Connector.expandPattern(spark, _))
          .filter { p =>
            !missingAsEmpty || {
              val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
              fs.exists(new Path(p)) || fs.exists(new Path(p + "_graft_old"))
            }
          }
          .map { p =>
            // a crash mid-swap may have left the index at _graft_old;
            // restore it here too, or a read issued between the crash
            // and the next write fails on a missing directory
            Connector.recoverSwap(spark, p)
            // one dir walk per part: its fingerprint keys the schema
            // cache and is the artifact freshness fingerprint below
            val (frame, concrete, plain, fp) = Connector.resolveAlias(spark, p) match {
              case Some((target, filter)) =>
                Connector.recoverSwap(spark, target)
                val (t, fp) = graft.index.IndexArtifacts.readFingerprinted(spark, target, format)
                (filter.fold(t)(f => t.where(EsQuery.compile(f, idField))),
                  target, filter.isEmpty, fp)
              case None =>
                val (t, fp) = graft.index.IndexArtifacts.readFingerprinted(spark, p, format)
                (t, p, true, fp)
            }
            // per-part concrete index tag: ES metadata reports each
            // hit's ACTUAL index (alias resolved), not the comma-list
            // or pattern string the request was addressed at — the
            // reindex-per-source-index pattern depends on that.
            // fs-QUALIFIED so a literal part and a glob-expanded part
            // (whose globStatus paths carry the scheme) agree on the
            // same index's name
            val tagged = if (readMetadata) {
              val cp = new Path(concrete)
              val qualified = cp.getFileSystem(
                spark.sparkContext.hadoopConfiguration).makeQualified(cp).toString
              frame.withColumn("__graft_src_index", lit(qualified))
            } else frame
            (tagged, concrete, plain, fp)
          }
        // the `_score` path can read persisted analysis artifacts only
        // when the read resolved to exactly ONE unfiltered index —
        // artifacts carry that index's full corpus stats, which a
        // union or an alias filter would silently misstate
        val (artifactIndexPath, readFp) = parts match {
          case Array((_, concrete, true, fp)) => (Some(concrete), fp)
          case _ => (None, None)
        }
        // every artifact lookup below (match rewrite + one per scoring
        // field) reuses the read's fingerprint instead of re-listing
        // and re-hashing the index files
        lazy val artifactFp: Option[String] = artifactIndexPath.map(p =>
          readFp.getOrElse(graft.index.IndexArtifacts.dataFingerprint(spark, p)))
        // one analysis load per field per request: the match rewrite
        // and the metadata scoring share the meta read and the frames
        val analysisLoads =
          scala.collection.mutable.Map.empty[String, Option[graft.index.IndexArtifacts.Analysis]]
        def analysisOf(f: String): Option[graft.index.IndexArtifacts.Analysis] =
          analysisLoads.getOrElseUpdate(f, artifactIndexPath.flatMap(p =>
            graft.index.IndexArtifacts.loadAnalysis(
              spark, p, f, expectIdCol = Some(idField), knownFp = artifactFp)))
        // allow_no_indices=true (the ES default for wildcard
        // expressions): a pattern matching nothing yields zero hits,
        // not an error. With no matched index there is no schema, so
        // an empty zero-column frame is the faithful "0 hits" result
        // — returned before query/projection, which could not resolve
        // against it anyway.
        if (parts.isEmpty) return spark.emptyDataFrame
        // allowMissingColumns: the WRITE path supports dynamic mapping
        // (an upsert may add fields), so generations of one stream /
        // indices under one pattern legitimately drift — ES serves
        // such a search with nulls for the absent fields, so must we
        val dfU = parts.map(_._1)
          .reduce(_.unionByName(_, allowMissingColumns = true))
        // search-body form: {"runtime_mappings": {...}, "query": {...}}
        // — runtime fields project BEFORE the query, so the predicate
        // can reference them like mapped fields (ES semantics)
        val (runtimeFields, innerQuery) =
          if (query != null && query.trim.startsWith("{"))
            graft.dsl.SearchBody.parse(query)
          else (Seq.empty[(String, org.apache.spark.sql.Column)], Option(query))
        val df0 = runtimeFields.foldLeft(dfU) {
          case (d, (name, c)) => d.withColumn(name, c)
        }
        // a FULL body (sort/size/knn/collapse/... beyond
        // runtime+query) routes through the composed search front
        // door — previously those sections were silently dropped here,
        // the exact failure mode SearchBody's loud-key contract exists
        // to prevent
        val fullBody = query != null && query.trim.startsWith("{") &&
          graft.dsl.SearchBody.hasBodySections(query)
        // FILTER-context analyze-once: a plain OR-semantics `match` on
        // a single-index read whose field carries fresh analysis
        // artifacts rewrites to a postings semi-join — "any analyzed
        // term present" IS the set of ids in the query terms'
        // postings, so the row set is identical and the corpus is
        // never re-tokenized at query time. Anything beyond the plain
        // form (operator/fuzziness/zero_terms, bool composition, a
        // runtime-shadowed field) keeps the predicate path.
        val matchRewritten: Option[DataFrame] =
          if (fullBody) None
          else for {
            q <- innerQuery.map(_.trim).filter(_.startsWith("{"))
            (f, text) <- Connector.simpleMatchClause(q)
            if !runtimeFields.exists(_._1 == f)
            // zero-token queries keep the predicate path so the loud
            // analyzed-to-nothing error fires identically in both
            // regimes (a silent empty result here would make the same
            // request's behavior depend on artifact freshness)
            terms = graft.analysis.Analyzer.analyze(text)
            if terms.nonEmpty
            // clean ids only: the semi-join is row-set-equal to the
            // predicate only when the build audited ids as unique and
            // non-null (a null id never joins; a duplicate id
            // over-matches sibling rows)
            a <- analysisOf(f)
            if a.idsClean
          } yield df0.join(
            a.postings.where(col("term").isin(terms: _*))
              .select(col("id").as("__graft_mid")),
            col(idField) === col("__graft_mid"), "left_semi")
        val df1 =
          if (fullBody) graft.dsl.SearchBody.search(dfU, query, idField)
          else matchRewritten.getOrElse(
            innerQuery.fold(df0)(q => df0.where(EsQuery.compile(q, idField))))
        // es.read.field.include/exclude accept `*` patterns (the
        // `fields`-API wildcard retrieval); expand against the schema
        // includes fail loudly on a no-match pattern (a typo'd include
        // would otherwise silently yield a zero-column frame); excludes
        // stay permissive — excluding nothing is a no-op, not an error
        def expand(specs: Seq[String], df: DataFrame,
            requireMatch: Boolean = false): Seq[String] =
          specs.flatMap { p =>
            if (!p.contains("*")) Seq(p)
            else {
              val re = ("^" + p.split("\\*", -1)
                .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
              val hits = df.columns.filter(c => re.findFirstIn(c).isDefined).toSeq
              require(!requireMatch || hits.nonEmpty,
                s"es.read.field.include pattern '$p' matches no columns of [${df.columns.mkString(", ")}]")
              hits
            }
          }.distinct
        val df2 =
          if (fieldInclude.nonEmpty)
            // the source-index tag is metadata, not _source: it rides
            // through source filtering like ES's hit metadata does
            df1.select((expand(fieldInclude, df1, requireMatch = true) ++
              (if (readMetadata) Seq("__graft_src_index") else Nil))
              .distinct.map(col): _*)
          else df1
        // the source-index tag is hit METADATA: a wildcard exclude
        // (e.g. "*_index") must not strip it out from under the
        // readMetadata projection below
        val df3 = expand(fieldExclude, df2)
          .filterNot(_ == "__graft_src_index").foldLeft(df2)(_ drop _)
        // es.read.metadata analog: surface _id/_index alongside the
        // source fields, plus _score when the query carries scoring
        // (match) clauses — mirroring the reference, where a scored
        // query exposes its relevance via the metadata map.
        if (readMetadata) {
          // a body returning buckets/suggestions has no hits to
          // decorate — fail with the feature's name, not a missing-id
          if (fullBody) {
            val nonHit = graft.dsl.SearchBody.nonHitSections(query)
            require(nonHit.isEmpty,
              s"es.read.metadata is a hit-path feature: a body with " +
                s"${nonHit.mkString("/")} returns buckets/suggestions with no " +
                "_id/_index to attach — disable es.read.metadata or issue a " +
                "separate request")
          }
          require(df3.columns.contains(idField),
            s"readMetadata needs id column '$idField' in the result")
          val withMeta = df3.withColumn("_id", col(idField))
            .withColumn("_index", col("__graft_src_index"))
            .drop("__graft_src_index")
          val scoring = innerQuery.map(_.trim).filter(_.startsWith("{"))
            .map(graft.dsl.QueryDslJson.scoringClauses).getOrElse(Nil)
          // a full body with a scoring section already computed its
          // composed `_score` (knn/min_score/rescore folded in) — the
          // metadata bm25 would be both redundant and ambiguous
          if (scoring.isEmpty || df3.columns.contains("_score")) withMeta
          else {
            // ONE corpus pass for all scoring clauses over the whole
            // index (corpus stats come from the index, not the
            // filtered hits). The scores frame is small (only docs
            // containing query terms) and joins back on id. A
            // single-index read with fresh analysis artifacts scores
            // from the persisted postings instead of re-tokenizing
            // (bit-identical; runtime fields that shadow a stored
            // column are excluded from the artifact path).
            val scored = artifactIndexPath match {
              case Some(_) => graft.search.Search.bm25BoolClausesScoresAuto(
                analysisOf, df0, idField, scoring,
                excludeFields = runtimeFields.map(_._1).toSet)
              case None => graft.search.Search
                .bm25BoolClausesScores(df0, idField, scoring)
            }
            val scores = scored
              .select(col("id").as("_graft_score_id"), col("score").as("_score"))
            withMeta
              .join(scores, col(idField) === col("_graft_score_id"), "left")
              .drop("_graft_score_id")
              .withColumn("_score", coalesce(col("_score"), lit(0.0)))
          }
        } else df3
      }

      /** `readStream` over an index — the streaming analog of graftDF.
        * Schema is inferred once from the existing index; the ES query
        * compiles to the same pushdown predicate; files appearing in
        * the index directory become micro-batches (file-source
        * semantics). Pairs with GraftSink for index-to-index streaming
        * pipelines. */
      def graftStream(
          path: String,
          query: String = null,
          idField: String = "_id",
          format: String = "parquet"): DataFrame = {
        Connector.recoverSwap(spark, path)
        val schema = graft.index.IndexArtifacts.read(spark, path, format).schema
        val s0 = spark.readStream.schema(schema).format(format).load(path)
        if (query == null) s0 else s0.where(EsQuery.compile(query, idField))
      }

      /** `_count` analog: hit count under an optional query — the
        * cheapest request ES serves; here it is a count over the
        * pushed-down predicate (parquet row-group stats serve most of
        * it without materializing rows). */
      def graftCount(path: String, query: String = null): Long =
        graftDF(path, query).count()

      /** `_mget` analog: docs by id list, in REQUEST ORDER, with a
        * `found` flag for absent ids (ES returns found=false entries
        * rather than dropping them). The id list is driver-side tiny,
        * so it broadcasts and the index side stays a pushdown-filtered
        * scan (`isin` reaches the parquet reader) — no full-index
        * shuffle for a point-lookup batch. */
      def graftMget(path: String, ids: Seq[Long], idField: String): DataFrame = {
        import spark.implicits._
        val req = ids.zipWithIndex
          .map { case (id, i) => (i + 1L, id) }.toDF("pos", "_mget_id")
        // the hits side is the BROADCAST side (an outer join cannot
        // broadcast its outer side): at most |ids| rows survive the
        // pushed-down isin filter
        val hits = graftDF(path).where(col(idField).isin(ids: _*))
        req
          .join(broadcast(hits), col("_mget_id") === col(idField), "left")
          .withColumn("found", col(idField).isNotNull.cast("int"))
          .withColumn(idField, col("_mget_id"))
          .drop("_mget_id")
          .orderBy(col("pos"))
      }

      /** `_field_caps` analog: one row per field with its type and
        * aggregatable/searchable flags (in graft every primitive
        * column is both — there is no doc_values split). Pure schema
        * introspection, no data read. */
      def fieldCaps(path: String, format: String = "parquet"): DataFrame = {
        Connector.recoverSwap(spark, path)
        val schema = graft.index.IndexArtifacts.read(spark, path, format).schema
        import org.apache.spark.sql.types._
        val rows = schema.fields.map { f =>
          val primitive = f.dataType match {
            case _: StructType | _: ArrayType | _: MapType => false
            case _ => true
          }
          // integral widths collapse to "long", same as mappingJson's
          // LongType|IntegerType|ShortType|ByteType fold — field caps
          // report the ES type, and ES has one integral doc_values
          // representation regardless of the parquet physical width
          val esType = f.dataType match {
            case LongType | IntegerType | ShortType | ByteType => "long"
            case other => other.typeName
          }
          (f.name, esType, primitive, primitive)
        }.toSeq
        import spark.implicits._
        rows.toDF("field", "type", "searchable", "aggregatable")
          .orderBy(col("field"))
      }
    }

    implicit class GraftDataFrameOps(val df: DataFrame) {
      /** `df.saveToEs(resource, cfg)` analog. */
      def saveToGraft(path: String, cfg: Map[String, String] = Map.empty): Unit =
        Connector.save(df, path, cfg)
    }
  }

  /** `_rollover` analog (the ILM write-alias pattern): when the
    * alias's current target holds >= maxDocs documents, create the
    * next generation (numeric-suffix increment, zero-padded like ES's
    * `-000001`) as an empty index with the same schema and repoint
    * the alias. Returns whether a rollover happened. Writes THROUGH
    * the alias (see `save`) then land in the new generation while
    * pattern reads (`idx-*`) keep seeing every generation. */
  def rollover(spark: SparkSession, aliasPath: String, maxDocs: Long): Boolean = {
    val (target, aliasFilter) = resolveAlias(spark, aliasPath).getOrElse(
      throw new IllegalArgumentException(s"rollover target is not an alias: $aliasPath"))
    recoverSwap(spark, target)
    val current = spark.read.parquet(target)
    if (current.count() < maxDocs) return false
    val m = "^(.*?)(\\d+)$".r
    val next = target match {
      case m(prefix, digits) =>
        val width = digits.length
        prefix + s"%0${width}d".format(digits.toLong + 1)
      case _ => throw new IllegalArgumentException(
        s"rollover needs a numeric-suffix index name (like idx-000001): $target")
    }
    // empty next generation with the same schema, then repoint
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), current.schema)
      .write.mode("overwrite").parquet(next)
    // the repoint must CARRY the alias's filter — a filtered alias
    // that silently widens to all-rows after its first rollover is
    // the wrong-results bug class, not an ergonomic nit
    putAlias(spark, aliasPath, next, aliasFilter.orNull)
    true
  }

  /** Dynamic per-document write resources — elasticsearch-hadoop's
    * `es.resource.write = "media-{media_type}"` (and the date form
    * `"logs-{ts|yyyy.MM.dd}"`): each row routes to the index named by
    * its own field values. `pattern` is resolved under `root`; every
    * distinct resolved name becomes one `save` with full bulk
    * semantics (id/upsert/version options apply per target).
    *
    * Scale shape: ONE pass over the batch — a `partitionBy` spool
    * write splits the rows by resolved index name in a single job, so
    * the (possibly expensive) upstream pipeline computes exactly once
    * no matter how many targets the pattern resolves to. Each target
    * then goes through the bulk `save` path reading ONLY its spooled
    * slice (directory-pruned), so ids/versions/pipelines keep full
    * semantics at per-slice cost. A `{field}` routing with thousands
    * of targets (daily x tenant) therefore costs one batch scan plus
    * one slice-sized read per target — not O(targets) re-reads of a
    * disk-spilled cache, which a loop of filters over it would pay. */
  def saveDynamic(
      batch: DataFrame, root: String, pattern: String,
      cfg: Map[String, String] = Map.empty): Unit = {
    val spark = batch.sparkSession
    val FieldRe = """\{([A-Za-z0-9_]+)(?:\|([^}]+))?\}""".r
    // build the resolved-name column by stitching literals and fields
    var cols = Vector.empty[Column]
    var last = 0
    for (m <- FieldRe.findAllMatchIn(pattern)) {
      if (m.start > last) cols :+= lit(pattern.substring(last, m.start))
      val f = col(m.group(1))
      cols :+= (Option(m.group(2)) match {
        case Some(fmt) => date_format(f, fmt)
        case None => f.cast("string")
      })
      last = m.end
    }
    if (last < pattern.length) cols :+= lit(pattern.substring(last))
    require(cols.nonEmpty, s"empty resource pattern: $pattern")
    val idx = concat(cols: _*)
    val named = batch.withColumn("__graft_idx", idx)
    val spool = new Path(root, "_graft_dynspool")
    val fs = spool.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(spool)) fs.delete(spool, true)
    try {
      // the single batch pass: split by target via partitionBy
      named.write.partitionBy("__graft_idx").mode("overwrite")
        .parquet(spool.toString)
      // targets from the spool LISTING (O(targets) driver-side names,
      // no row data) — dir names carry Hive %XX escaping for the few
      // path-unsafe chars, undone here so `$root/$t` matches the name
      // the caller's pattern resolved to
      val dirs = fs.listStatus(spool).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("__graft_idx=")).sorted
      val targets = dirs.map(d => d -> unescapePathName(d.stripPrefix("__graft_idx=")))
      // validate EVERY target before the first save: a NULL/empty
      // resolved name must fail with zero targets written, or a retry
      // after the exception re-appends the already-saved slices
      for ((_, t) <- targets) {
        require(t != "__HIVE_DEFAULT_PARTITION__",
          s"dynamic index pattern '$pattern' resolved to NULL for some rows")
        require(t.nonEmpty,
          s"dynamic index pattern '$pattern' resolved to an EMPTY name for some rows")
        // an unescaped field value can carry path syntax ("video/mp4",
        // "../x") — a resolved name must stay a SINGLE dir under root,
        // the same character discipline ES imposes on index names
        require(!t.contains("/") && !t.contains("\\") && t != "." && t != "..",
          s"dynamic index pattern '$pattern' resolved to path-unsafe name '$t'")
        // "_graft_" is the reserved machinery infix: every read/list
        // path EXCLUDES such names, so a write there would be silently
        // invisible — and "_graft_dynspool" is deleted by our finally
        require(!t.contains("_graft_"),
          s"dynamic index pattern '$pattern' resolved to reserved name '$t'")
      }
      for ((dir, t) <- targets) {
        // partition values are not stored in the slice files, so the
        // slice reads back with exactly the original columns
        save(spark.read.parquet(new Path(spool, dir).toString), s"$root/$t", cfg)
      }
    } finally fs.delete(spool, true)
  }

  /** Undo Hive-style %XX partition-dir escaping (the inverse of what
    * `partitionBy` applies to path-unsafe characters). Plain chars
    * pass through — index names are path-safe by contract, so this is
    * usually the identity. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  def save(batch: DataFrame, path: String, cfg0: Map[String, String]): Unit = {
    implicit val spark: SparkSession = batch.sparkSession
    // a write addressed at an alias goes to its current target (the
    // ES write-alias contract that makes rollover transparent);
    // alias FILTERS gate reads, not writes, so they are ignored here
    resolveAlias(spark, path) match {
      case Some((target, _)) => return save(batch, target, cfg0)
      case None => ()
    }
    // `_index_template` analog: when this write CREATES the index (ES
    // applies templates only at index creation, never retroactively),
    // the highest-priority template whose pattern matches the index
    // name contributes settings; explicit cfg always wins.
    val cfg = cfg0.get("graft.templates.dir") match {
      case Some(tdir) =>
        val fs0 = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs0.exists(new Path(path))) cfg0
        else templateSettings(spark, tdir, new Path(path).getName) ++ cfg0
      case None => cfg0
    }
    // ingest-pipeline analog: the processor chain shapes every doc
    // before indexing (after alias resolution, so it runs exactly
    // once). graft.ingest.pipeline.<name> options form the registry
    // the nested `pipeline` processor resolves against.
    val pipelineRegistry = cfg.collect {
      case (k, v) if k.startsWith("graft.ingest.pipeline.") =>
        k.stripPrefix("graft.ingest.pipeline.") -> v
    }
    val piped = cfg.get("graft.ingest.pipeline")
      .map(IngestPipeline.compile(_, pipelineRegistry)(batch)).getOrElse(batch)
    // es.mapping.include/exclude analog: field filtering on the WRITE
    // side (what subset of the row becomes the indexed doc). The id
    // column always survives — it is metadata here, like ES's _id,
    // which also outlives _source filtering.
    val idKeep = cfg.get("graft.mapping.id").toSeq
    val included = cfg.get("graft.mapping.include") match {
      case Some(fields) =>
        val keep = (fields.split(",").map(_.trim).filter(_.nonEmpty) ++ idKeep).distinct
        piped.select(keep.map(col): _*)
      case None => piped
    }
    val shaped = cfg.get("graft.mapping.exclude") match {
      case Some(fields) =>
        val dropCols = fields.split(",").map(_.trim).filter(_.nonEmpty)
          .filterNot(idKeep.contains)
        included.drop(dropCols: _*)
      case None => included
    }
    val op = cfg.getOrElse("graft.write.operation", "index")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a swap that died between "rename live aside" and
    // "rename tmp in" leaves the index at path_graft_old. Restore it
    // before looking at `exists`, so a sink replay after a crash sees
    // the full index instead of silently rebuilding from one batch.
    val livePath = new Path(path)
    recoverSwap(spark, path)
    val exists = fs.exists(livePath)
    // es.input.json analog: the index can be stored as json (or orc)
    // instead of parquet — same bulk semantics over any columnar/row fmt
    val fmt = cfg.getOrElse("graft.format", "parquet")

    // es.mapping.routing analog: co-locate docs by the routing column
    // (directory partitioning, so routed reads prune whole partitions)
    def writer(df: DataFrame) = cfg.get("graft.mapping.routing") match {
      case Some(r) => applyIndexSort(applyZOrder(df, cfg), cfg).write.format(fmt).partitionBy(r)
      case None => applyIndexSort(applyZOrder(df, cfg), cfg).write.format(fmt)
    }
    def reader = spark.read.format(fmt)

    op match {
      case "append" =>
        writer(shaped).mode("append").save(path)
      case "overwrite" =>
        writer(shaped).mode("overwrite").save(path)
      case "create" if exists =>
        // ES `create`: only documents whose id is absent are written
        val idCol = cfg.getOrElse("graft.mapping.id",
          throw new IllegalArgumentException("create write needs graft.mapping.id"))
        val existingIds = reader.load(path).select(col(idCol))
        val fresh = dedupWithin(shaped, idCol, cfg)
          .join(existingIds, Seq(idCol), "left_anti")
        writer(fresh).mode("append").save(path)
      case "create" =>
        val idCol = cfg.getOrElse("graft.mapping.id",
          throw new IllegalArgumentException("create write needs graft.mapping.id"))
        writer(dedupWithin(shaped, idCol, cfg)).mode("overwrite").save(path)
      case "update" =>
        // ES `_update` is a PARTIAL-document merge: fields present in
        // the batch schema overwrite, fields ABSENT from it keep their
        // stored values (a whole-row replace silently wiped omitted
        // fields); only documents whose id EXISTS update.
        val idCol = cfg.getOrElse("graft.mapping.id",
          throw new IllegalArgumentException("update write needs graft.mapping.id"))
        if (exists) {
          val existing = reader.load(path)
          val incoming = dedupWithin(shaped, idCol, cfg)
          val inCols = incoming.columns.toSet
          val joined = existing.join(
            incoming, existing(idCol) === incoming(idCol), "left")
          // external versioning: ES demands a STRICTLY greater version
          // (stale or equal -> noop for that doc). A configured version
          // column MISSING from the batch is a loud error — silently
          // applying the update unversioned would let a stale batch
          // clobber newer documents.
          val applies = cfg.get("graft.mapping.version") match {
            case Some(v) =>
              require(inCols.contains(v),
                s"graft.mapping.version='$v' is configured but the update batch " +
                  s"has no such column (batch columns: ${incoming.columns.mkString(",")})")
              incoming(idCol).isNotNull && incoming(v) > existing(v)
            case None => incoming(idCol).isNotNull
          }
          val mergedCols = existing.columns.map { c =>
            if (inCols.contains(c) && c != idCol)
              when(applies, incoming(c)).otherwise(existing(c)).as(c)
            else existing(c).as(c)
          }
          val newCols = incoming.columns
            .filterNot(existing.columns.contains).map { c =>
              when(applies, incoming(c)).otherwise(lit(null)).as(c)
            }
          val merged = joined.select((mergedCols ++ newCols).toIndexedSeq: _*)
          val tmp = new Path(path + "_graft_tmp")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          writer(merged).mode("overwrite").save(tmp.toString)
          swapIn(fs, livePath, tmp)
        } // no index -> nothing to update (ES would error per-doc)
      case "delete" =>
        // ES bulk `delete`: remove the shaped's ids from the index
        val idCol = cfg.getOrElse("graft.mapping.id",
          throw new IllegalArgumentException("delete write needs graft.mapping.id"))
        if (exists) {
          val remaining = reader.load(path)
            .join(shaped.select(col(idCol)), Seq(idCol), "left_anti")
          val tmp = new Path(path + "_graft_tmp")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          writer(remaining).mode("overwrite").save(tmp.toString)
          swapIn(fs, livePath, tmp)
        } // no index -> nothing to delete (ES reports not_found per doc)
      case "index" | "upsert" =>
        val idCol = cfg.getOrElse("graft.mapping.id",
          throw new IllegalArgumentException(s"$op write needs graft.mapping.id"))
        if (!exists) {
          writer(dedupWithin(shaped, idCol, cfg)).mode("overwrite").save(path)
        } else {
          val existing = reader.load(path)
          // incoming rows outrank existing on id conflict (bulk order);
          // with a version column, the higher version wins instead.
          // In-batch duplicates resolve FIRST via dedupWithin (arrival
          // order / version) — resolving them through the merge's
          // (_src) key would tie two incoming rows on the identical
          // key and let max_by keep an arbitrary one per run.
          // allowMissingColumns = ES dynamic mapping: a shaped may add
          // fields (or omit existing ones); absent fields become null
          val unioned = existing.withColumn("_src", lit(0)).unionByName(
            dedupWithin(shaped, idCol, cfg).withColumn("_src", lit(1)),
            allowMissingColumns = true)
          val merged = cfg.get("graft.mapping.version") match {
            case Some(v) => resolve(unioned, idCol, col(v), col("_src"))
            case None => resolve(unioned, idCol, col("_src"), col("_src"))
          }
          // two-phase swap: can't overwrite a path being read
          val tmp = new Path(path + "_graft_tmp")
          if (fs.exists(tmp)) fs.delete(tmp, true)
          writer(merged.drop("_src")).mode("overwrite").save(tmp.toString)
          swapIn(fs, livePath, tmp)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown graft.write.operation: $other")
    }
    // index artifacts (`graft.index.<kind>` = column, a comma list for
    // several, one artifact dir each — ES analyzes every mapped field
    // at index time): maintained AFTER the data landed or swapped, so
    // the recorded fingerprint describes the live files queries read.
    // An APPEND encodes only the new documents over a meta it can read
    // and rebuilds otherwise (IndexArtifacts.maintain) — the
    // incremental indexing an ES server does per bulk request. Kind
    // parameters are `graft.index.<kind>.<key>` options:
    //   minhash.hashes = 32, minhash.bands = 8;
    //   vectors.centroids = 16, vectors.fit = seed | kmeans | hnsw;
    //   pq.m = 4, pq.k = 16, pq.fit = sample | lloyd | lloyd-dist,
    //   pq.fit.sample_n = 65536, pq.fit.iters = 5.
    graft.index.ArtifactKind.all.foreach { kind =>
      cfg.get(kind.option).foreach { spec =>
        val idCol = cfg.getOrElse("graft.mapping.id", throw new IllegalArgumentException(
          s"${kind.option} needs graft.mapping.id (the artifact doc id)"))
        spec.split(",").map(_.trim).filter(_.nonEmpty).foreach { c =>
          // graph inserts are order-dependent: an HNSW graph rebuilds
          // on every write (one corpus pass, the cost a segment merge
          // pays in ES)
          if (kind == graft.index.ArtifactKind.Ivf && cfg.get(s"${kind.option}.fit").contains("hnsw"))
            graft.sim.Ann.buildHnsw(spark, path, idCol, c, fmt = fmt)
          else graft.index.IndexArtifacts.maintain(spark, kind, path, idCol, c, op == "append", cfg, fmt)
        }
      }
    }
  }

  /** `_aliases` analog: an alias is a directory holding ONE
    * descriptor file (`_graft_alias.json`) pointing at a target index
    * with an optional filter query — ES's filtered alias. Reads
    * through `graftDF` resolve it transparently; the filter compiles
    * into the same pushdown predicate as any query, so a filtered
    * alias costs nothing over a direct filtered read. One level only
    * (ES aliases cannot point at aliases either). */
  def putAlias(
      spark: SparkSession, aliasPath: String, targetPath: String,
      filter: String = null): Unit = {
    val dir = new Path(aliasPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val f = fs.create(new Path(dir, "_graft_alias.json"), true)
    val filterJson = Option(filter)
      .map(q => s""","filter":${q.trim}""").getOrElse("")
    f.write(s"""{"target":"$targetPath"$filterJson}""".getBytes("UTF-8"))
    f.close()
  }

  // ---- data streams -----------------------------------------------

  /** ES data streams: append-only time-series storage behind a write
    * alias over numbered backing indices. `create` provisions backing
    * generation 000001 plus the stream's write alias; writes through
    * the stream name APPEND into the current generation only (the
    * data-stream contract — documents are added, never updated in
    * place); reads union every backing generation via the pattern
    * path; rollover is the ordinary alias rollover, so ILM-style
    * generation cycling needs no new machinery. Appends add files to
    * the current generation without touching closed generations —
    * at 100 TB the closed generations are cold, immutable, and
    * downsample-able (see Downsample), which is the entire point of
    * the time-series design. */
  def createDataStream(spark: SparkSession, name: String, schemaOf: DataFrame): Unit = {
    val first = s"${name}_ds_000001"
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schemaOf.schema)
      .write.mode("overwrite").parquet(first)
    putAlias(spark, name, first)
  }

  /** Append-only write into the stream's current backing generation.
    * (The generic save would honor upsert ops; a data stream refuses
    * them, like ES rejecting update ops into a stream.) */
  def appendToDataStream(df: DataFrame, name: String): Unit = {
    require(resolveAlias(df.sparkSession, name).isDefined,
      s"not a data stream (no write alias): $name")
    save(df, name, Map("graft.write.operation" -> "append"))
  }

  /** Every backing generation unioned (the `.ds-*` pattern read). */
  def dataStreamDF(spark: SparkSession, name: String): DataFrame = {
    import Connector.implicits.GraftSessionOps
    spark.graftDF(s"${name}_ds_*")
  }

  def rolloverDataStream(spark: SparkSession, name: String, maxDocs: Long): Boolean =
    rollover(spark, name, maxDocs)

  /** A query body that is EXACTLY a plain OR-semantics match —
    * `{"match": {f: "q"}}` or `{"match": {f: {"query": "q"}}}` with
    * no other options — the only form the postings semi-join rewrite
    * models (graftDF's filter-context analyze-once path). */
  private[sources] def simpleMatchClause(json: String): Option[(String, String)] = {
    import org.json4s._
    scala.util.Try(jackson.JsonMethods.parse(json)).toOption.flatMap {
      case JObject(JField("match", JObject(JField(f, v) :: Nil)) :: Nil) =>
        v match {
          case JString(s) => Some(f -> s)
          case JObject(fields) =>
            fields.toMap match {
              case m if m.keySet == Set("query") =>
                m("query") match {
                  case JString(s) => Some(f -> s)
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }
  }

  private[sources] def resolveAlias(
      spark: SparkSession, p: String): Option[(String, Option[String])] = {
    val marker = new Path(p, "_graft_alias.json")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) return None
    val in = fs.open(marker)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    import org.json4s._
    val root = org.json4s.jackson.JsonMethods.parse(body) match {
      case JObject(fields) => fields.toMap
      case other => throw new IllegalArgumentException(s"bad alias descriptor: $other")
    }
    val target = root.get("target") match {
      case Some(JString(t)) => t
      case _ => throw new IllegalArgumentException(s"alias $p has no target")
    }
    val filter = root.get("filter")
      .map(f => org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(f)))
    Some((target, filter))
  }

  /** ES index-pattern expansion (`logs-*`): a path containing glob
    * characters expands to every matching index directory, sorted for
    * determinism. A literal path passes through untouched (missing
    * literals surface as the usual read error, matching ES's 404). */
  /** The reserved machinery-name rule, single-sourced: swap leftovers
    * (_graft_old/_graft_tmp), pits manifests, retired generations and
    * the dynamic-write spool all carry the "_graft_" infix and are
    * excluded from every read/list surface. */
  private def isMachineryName(name: String): Boolean = name.contains("_graft_")

  private[sources] def expandPattern(spark: SparkSession, pattern: String): Seq[String] = {
    if (!pattern.exists("*?[{".contains(_))) return Seq(pattern)
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def glob(pat: Path): Seq[Path] =
      Option(fs.globStatus(pat)).map(_.toSeq).getOrElse(Nil)
        .filter(_.isDirectory)
        // keep the SCHEME (s3a://...): toUri.getPath would strip it and
        // re-resolve against the default filesystem
        .map(_.getPath)
    // an index whose swap crashed mid-rename exists only as X_graft_old
    // — the live glob can't see it, so recover those FIRST or a
    // pattern read silently returns partial data
    glob(new Path(pattern + "_graft_old")).foreach { old =>
      val live = old.toString.stripSuffix("_graft_old")
      recoverSwap(spark, live)
    }
    val hits = glob(p)
      // "_graft_" is the reserved machinery infix (same rule as
      // catCount): _graft_old/_graft_tmp swap leftovers, but ALSO
      // _graft_pits manifests, _graft_retired_<uuid> generations
      // pinned by open PITs, and a crash-leaked _graft_dynspool —
      // a pattern read that unions a retired generation returns
      // every pre-swap doc twice, and the pits dir isn't parquet
      .filterNot(p => isMachineryName(p.getName))
      .map(_.toString).sorted
    // allow_no_indices: unmatched wildcard = empty expansion (only
    // literal names 404, and those never reach the glob branch)
    hits
  }

  /** `_update_by_query` analog: apply column assignments to every
    * document matching the ES query, leave the rest untouched, swap
    * the result in crash-safely. One read + one conditional projection
    * + one write — no per-doc round trips (the reference's
    * update-by-query is a scroll + bulk loop). */
  /** Bucketed index storage — the co-located-join layout. An index
    * written with `bucketBy(n, key)` records its hash-partitioning in
    * the catalog; a join or aggregate on that key then reads each
    * bucket as a pre-shuffled partition and the Exchange disappears
    * from the plan entirely. This is the 100 TB answer to the
    * fact-⋈-fact join (routing co-location in ES terms): pay the
    * shuffle ONCE at write time, amortize it over every subsequent
    * query. Both sides must agree on bucket count and key. Requires a
    * table name (bucket metadata lives in the catalog, not parquet). */
  def saveBucketed(
      df: DataFrame, table: String, path: String,
      bucketKey: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** `_cat/indices` analog: one row per index directory under `root`
    * (docs, size on disk, file count). Listing + footers only — no
    * data scan. */
  def catIndices(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(root)).filter(_.isDirectory)
      // the full "_graft_" machinery rule (same as catCount): pits
      // manifests, retired generations and spool dirs are not indices
      .map(_.getPath).filterNot(p => isMachineryName(p.getName))
    val rows = dirs.map { p =>
      val files = fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val docs =
        try spark.read.parquet(p.toString).count()
        catch { case _: Throwable => -1L }
      (p.getName, docs, files.map(_.getLen).sum, files.length)
    }.toSeq.sortBy(_._1)
    rows.toDF("index", "docs_count", "store_bytes", "file_count")
  }

  /** `_cat/shards` analog: one row per data FILE per index under
    * `root` — the file is graft's shard unit (scan parallelism splits
    * on it, index sorting writes disjoint key ranges per file). Pure
    * file-system metadata, no data read. */
  def catShards(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(root)).filter(_.isDirectory)
      // same "_graft_" machinery rule as catCount/catIndices
      .map(_.getPath).filterNot(p => isMachineryName(p.getName))
    dirs.flatMap { p =>
      fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        // listStatus order is not guaranteed by the Hadoop API — sort
        // by name so shard numbering is deterministic across
        // filesystems and runs
        .sortBy(_.getPath.getName)
        .zipWithIndex
        .map { case (f, i) => (p.getName, i, f.getPath.getName, f.getLen) }
    }.toSeq.sortBy(r => (r._1, r._3))
      .toDF("index", "shard", "file", "store_bytes")
  }

  /** `GET index/_mapping` analog: the parquet schema rendered as an ES
    * mapping JSON — ES's own dynamic-mapping conventions: strings map
    * to `text` with a `keyword` subfield, integral types to `long`,
    * floating point to `double`/`float`, timestamps to `date`,
    * float/double arrays to `dense_vector`, other arrays to their
    * element type (ES has no array type), structs to `properties`
    * objects, maps to `flattened`. */
  def mappingJson(spark: SparkSession, path: String): String = {
    import org.apache.spark.sql.types._
    recoverSwap(spark, path)
    def field(dt: DataType): JObject = dt match {
      case StringType => JObject(
        "type" -> JString("text"),
        "fields" -> JObject("keyword" -> JObject("type" -> JString("keyword"))))
      case LongType | IntegerType | ShortType | ByteType =>
        JObject("type" -> JString("long"))
      case DoubleType => JObject("type" -> JString("double"))
      case FloatType => JObject("type" -> JString("float"))
      case BooleanType => JObject("type" -> JString("boolean"))
      case TimestampType | TimestampNTZType | DateType =>
        JObject("type" -> JString("date"))
      case BinaryType => JObject("type" -> JString("binary"))
      case _: DecimalType => JObject("type" -> JString("scaled_float"))
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        JObject("type" -> JString("dense_vector"))
      case ArrayType(elem, _) => field(elem) // ES: arrays are implicit
      case st: StructType => JObject("properties" -> props(st))
      case _: MapType => JObject("type" -> JString("flattened"))
      case other => JObject("type" -> JString(other.typeName))
    }
    def props(st: StructType): JObject =
      JObject(st.fields.map(f => f.name -> (field(f.dataType): JValue)).toList)
    val schema = spark.read.parquet(path).schema
    JsonMethods.compact(JsonMethods.render(
      JObject("mappings" -> JObject("properties" -> props(schema)))))
  }

  /** `_cat/count` analog: doc count per index directory under
    * `root` — parquet footer metadata only, no row scan. */
  def catCount(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath).filterNot(p => isMachineryName(p.getName))
      .map { p =>
        val docs =
          try spark.read.parquet(p.toString).count()
          catch { case _: Throwable => -1L }
        (p.getName, docs)
      }.toSeq.sortBy(_._1).toDF("index", "count")
  }

  /** `_cat/aliases` analog: every alias descriptor under `root` with
    * its target and filter. Listing + descriptor reads only. */
  def catAliases(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        resolveAlias(spark, p.toString).map { case (target, filter) =>
          (p.getName, new Path(target).getName, filter.getOrElse(""))
        }
      }.toSeq.sortBy(_._1).toDF("alias", "index", "filter")
  }

  /** `_validate/query`: compile without executing. Returns
    * (valid, explanation) — the explanation is the compiled Catalyst
    * predicate, the analog of ES's rewritten Lucene query. */
  def validateQuery(query: String, idField: String = "_id"): (Boolean, String) =
    try {
      val c = graft.dsl.EsQuery.compile(query, idField = idField)
      (true, c.toString)
    } catch { case e: Exception => (false, String.valueOf(e.getMessage)) }

  /** `_reindex`: copy `srcPath` into `dstPath`, optionally filtered by
    * an ES query (JSON Query DSL or `?q=` URI form) and transformed by
    * an ingest pipeline. Delegates to `save`, so id extraction /
    * upsert-vs-create semantics come from the same cfg keys a bulk
    * write uses (`graft.mapping.id`, `graft.write.operation`, ...) —
    * exactly how ES reindex reuses the bulk path. Returns the number
    * of docs indexed. Distributed end to end: the filter pushes into
    * the source scan; nothing is collected. */
  def reindex(
      spark: SparkSession, srcPath: String, dstPath: String,
      query: String = null,
      pipeline: String = null,
      cfg: Map[String, String] = Map.empty): Long = {
    recoverSwap(spark, srcPath)
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val src0 = spark.read.format(fmt).load(srcPath)
    val idField = cfg.getOrElse("graft.mapping.id", "_id")
    val filtered =
      if (query == null) src0
      else src0.where(graft.dsl.EsQuery.compile(query, idField = idField))
    val shaped =
      if (pipeline == null) filtered else IngestPipeline.compile(pipeline)(filtered)
    val n = shaped.count()
    save(shaped, dstPath, cfg)
    n
  }

  /** `_forcemerge?max_num_segments=N` analog: compact the index to N
    * files. ES merges Lucene segments to cut per-query open/seek
    * overhead; the parquet analog is file-count compaction — the
    * thousands of small files an incremental bulk write accumulates
    * become N large ones (fewer scan tasks, full-size row groups).
    * `repartition` (one shuffle) rather than `coalesce`: merged
    * segments should be evenly sized, and coalesce would chain the
    * skew of whatever partitions happened to exist. Crash-safe via the
    * same directory swap as `save`. */
  /** Alias transparency for by-query/maintenance ops, mirroring ES:
    * an op addressed at an alias runs against its current target, and
    * the alias FILTER (when present) bounds which documents the op
    * may touch — a delete_by_query through a tenant-filtered alias
    * must never delete another tenant's docs. */
  private def resolveOpTarget(
      spark: SparkSession, path: String,
      idField: String): (String, Option[Column]) =
    resolveAlias(spark, path) match {
      case Some((target, f)) => (target, f.map(EsQuery.compile(_, idField)))
      case None => (path, None)
    }

  def forceMerge(
      spark: SparkSession, rawPath: String, maxSegments: Int,
      cfg: Map[String, String] = Map.empty): Unit = {
    require(maxSegments > 0, s"max segments must be positive: $maxSegments")
    // a merge addressed at an alias compacts its current target
    // (alias filters gate queries, not segment maintenance)
    val (path, _) = resolveOpTarget(spark, rawPath, "_id")
    recoverSwap(spark, path)
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val df = spark.read.format(fmt).load(path).repartition(maxSegments)
    writeSwapped(spark, path, df, cfg)
  }

  /** `_shrink` / `_split` analog: copy the index to a NEW path (ES
    * requires a fresh target index) with a different shard (file)
    * count. Shrinking coalesces — no shuffle, the Spark analog of
    * shrink's segment-hardlink trick; splitting repartitions — one
    * even-redistribution shuffle. */
  def resize(
      spark: SparkSession, srcPath: String, dstPath: String, shards: Int,
      cfg: Map[String, String] = Map.empty): Unit = {
    require(shards > 0, s"shard count must be positive: $shards")
    recoverSwap(spark, srcPath)
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val df = spark.read.format(fmt).load(srcPath)
    val cur = df.inputFiles.length
    val out = if (shards <= cur) df.coalesce(shards) else df.repartition(shards)
    out.write.format(fmt).mode("error").save(dstPath)
  }

  /** `_index_template` registry: one JSON descriptor per template
    * under `templatesDir`:
    * `{"index_patterns": ["logs-*"], "priority": 10,
    *   "settings": {"graft.index.sort": "ts", ...}}`.
    * Settings use graft's own write-option names (the analog of ES
    * `settings.index.*`). */
  def putTemplate(spark: SparkSession, templatesDir: String,
      name: String, json: String): Unit = {
    // validate eagerly so a bad template fails at PUT, not at write
    parseTemplate(json)
    val fs = new Path(templatesDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$templatesDir/$name.json"), true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  private def parseTemplate(json: String): (Seq[String], Int, Map[String, String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap
      case other => throw new IllegalArgumentException(s"bad template: $other")
    }
    val patterns = m.get("index_patterns") match {
      case Some(JArray(xs)) => xs.collect { case JString(s) => s }
      case _ => throw new IllegalArgumentException("template needs index_patterns")
    }
    val priority = m.get("priority").collect { case JInt(i) => i.toInt }.getOrElse(0)
    val settings = m.get("settings") match {
      case Some(JObject(ss)) => ss.collect { case JField(k, JString(v)) => k -> v }.toMap
      case None => Map.empty[String, String]
      case other => throw new IllegalArgumentException(s"bad template settings: $other")
    }
    (patterns, priority, settings)
  }

  /** Highest-priority matching template's settings for `indexName`
    * (empty when none match or the registry is empty/missing). */
  private def templateSettings(spark: SparkSession, templatesDir: String,
      indexName: String): Map[String, String] = {
    val fs = new Path(templatesDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(templatesDir))) return Map.empty
    val matching = fs.listStatus(new Path(templatesDir)).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = fs.open(st.getPath)
        val json = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        in.close()
        parseTemplate(json)
      }
      .filter { case (patterns, _, _) =>
        patterns.exists { p =>
          val re = ("^" + p.split("\\*", -1)
            .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
          re.findFirstIn(indexName).isDefined
        }
      }
    if (matching.isEmpty) Map.empty
    else matching.maxBy(_._2)._3
  }

  /** `_clone` analog: byte-identical copy of an index to a fresh
    * target (ES clones by segment hardlink; here a filesystem copy —
    * no read/rewrite of the data, no Spark job at all). Refuses an
    * existing target like ES's "index already exists". */
  def cloneIndex(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    recoverSwap(spark, srcPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(srcPath).getFileSystem(conf)
    require(fs.exists(new Path(srcPath)), s"clone source missing: $srcPath")
    require(!fs.exists(new Path(dstPath)), s"clone target exists: $dstPath")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(srcPath), fs, new Path(dstPath), false, conf)
  }

  /** `_snapshot` create/restore analog: a snapshot is a copy of the
    * index directory under `repoPath/<snapshot>/<indexName>` plus a
    * tiny manifest. Restore copies it back to a (fresh) live path —
    * the crash-safe swap never sees partially-restored state because
    * restore writes to `path_graft_tmp` and swaps in. */
  def snapshotCreate(spark: SparkSession, indexPath: String,
      repoPath: String, snapshot: String): Unit = {
    recoverSwap(spark, indexPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(indexPath).getFileSystem(conf)
    val name = new Path(indexPath).getName
    val dst = new Path(s"$repoPath/$snapshot/$name")
    require(!fs.exists(dst), s"snapshot already holds $name: $dst")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(indexPath), fs, dst, false, conf)
    val manifest = new Path(s"$repoPath/$snapshot/_graft_snapshot.json")
    if (!fs.exists(manifest)) {
      val out = fs.create(manifest)
      out.write(s"""{"snapshot": "$snapshot"}""".getBytes("UTF-8"))
      out.close()
    }
  }

  def snapshotRestore(spark: SparkSession, repoPath: String,
      snapshot: String, indexName: String, targetPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(targetPath).getFileSystem(conf)
    val src = new Path(s"$repoPath/$snapshot/$indexName")
    require(fs.exists(src), s"snapshot missing $indexName: $src")
    // restore into tmp then swap — a crash mid-copy leaves the live
    // path untouched (or recoverable via the standard swap recovery)
    val tmp = new Path(targetPath + "_graft_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, conf)
    // the snapshot copy carries the SOURCE's _graft_gen_* marker, and
    // stampGeneration is a no-op when one exists — the restored
    // generation must get a FRESH identity or it can collide with a
    // PIT-pinned retired generation of the same id
    fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("_graft_gen_"))
      .foreach(p => fs.delete(p, false))
    // the STANDARD swap, not a hand-rolled rename dance: swapIn
    // retires (not deletes) a displaced generation an open PIT still
    // pins, stamps the restored generation's identity marker, and
    // refreshes Spark's file-status cache for the target path — the
    // hand-rolled version silently broke all three
    implicit val s: SparkSession = spark
    swapIn(fs, new Path(targetPath), tmp)
  }

  def updateByQuery(
      spark: SparkSession,
      rawPath: String,
      query: String,
      set: Map[String, org.apache.spark.sql.Column],
      cfg: Map[String, String] = Map.empty): Unit = {
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val idField = cfg.getOrElse("graft.mapping.id", "_id")
    // alias transparency: run against the target, and AND the alias
    // filter into the match predicate so only the alias's view updates
    val (path, aliasPred) = resolveOpTarget(spark, rawPath, idField)
    recoverSwap(spark, path)
    val existing = spark.read.format(fmt).load(path)
    val basePred = EsQuery.compile(query, idField)
    val pred = aliasPred.fold(basePred)(a => a && basePred)
    // ES update_by_query evaluates the query ONCE against the original
    // docs. Sequential withColumn folds would re-resolve the predicate
    // (and later set expressions) against already-updated columns —
    // wrong row set when the query references a column the set also
    // assigns. Materialize the match bit first, then apply every
    // assignment in ONE select so all value expressions see the
    // original snapshot.
    val matchCol = Iterator.from(0).map(i => s"__graft_ubq_match_$i")
      .find(c => !existing.columns.contains(c)).get
    val snap = existing.withColumn(matchCol, coalesce(pred, lit(false)))
    val assigned = existing.columns.map { c =>
      set.get(c) match {
        case Some(v) => when(col(matchCol), v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }
    // set keys naming columns absent from the index add the field
    // (ES scripted updates can introduce fields); null where unmatched
    val added = set.collect {
      case (c, v) if !existing.columns.contains(c) =>
        when(col(matchCol), v).otherwise(lit(null)).as(c)
    }
    val updated = snap.select((assigned ++ added).toIndexedSeq: _*)
    writeSwapped(spark, path, updated, cfg)
  }

  /** Scripted `_update_by_query` (the `script.source` form): a chain
    * of `ctx._source.<field> = <painless expr>;` assignments.
    * Painless executes statements SEQUENTIALLY per doc: a later RHS
    * reading an earlier-assigned field sees the NEW value
    * (`ctx._source.a = 1; ctx._source.b = ctx._source.a + 1` → b=2).
    * We thread that textually: before compiling statement i, the
    * already-threaded RHS of every previously assigned field is
    * substituted for its doc-value reference, so each field's FINAL
    * expression is closed over the original snapshot — which is what
    * updateByQuery's one-select application needs. A field assigned
    * twice keeps its last (threaded) assignment; a self-reference
    * (`a = a + 1`) correctly reads the prior value. */
  def updateByQueryScript(
      spark: SparkSession,
      path: String,
      query: String,
      script: String,
      params: Map[String, Any] = Map.empty,
      cfg: Map[String, String] = Map.empty): Unit = {
    val assignPat = """\s*ctx\._source\.(\w+)\s*=\s*(.+)""".r
    val stmts = script.split(";").map(_.trim).filter(_.nonEmpty).map {
      case assignPat(field, rhs) =>
        field -> rhs.replaceAll("""ctx\._source\.(\w+)""", "doc['$1'].value")
      case other => throw new IllegalArgumentException(
        s"update script statements must be ctx._source.<field> = <expr>: $other")
    }
    val threaded = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((field, rhs) <- stmts) {
      var s = rhs
      for ((f, prior) <- threaded) s = s.replace(s"doc['$f'].value", s"($prior)")
      threaded(field) = s
    }
    val set = threaded.map { case (f, s) =>
      f -> graft.dsl.Painless.compile(s, params)
    }.toMap
    updateByQuery(spark, path, query, set, cfg)
  }

  /** `_count` API: the hit count of a query with no hits
    * materialized — ONE partial-aggregating count over the pushed-
    * down predicate (the scan never surfaces matching rows). */
  def countQuery(df: org.apache.spark.sql.DataFrame, query: String,
      idField: String = "_id"): org.apache.spark.sql.DataFrame =
    // plain where(pred): a null-evaluating predicate drops the row
    // (exactly the ES non-match), and UNLIKE coalesce(pred, false)
    // the bare predicate stays pushdown-eligible — wrapping in
    // coalesce leaves PushedFilters empty and scans the whole index
    df.where(EsQuery.compile(query, idField))
      .agg(count(lit(1)).as("count"))

  /** `_delete_by_query` analog: drop every document matching the ES
    * query. Same one-pass swap shape as updateByQuery. */
  def deleteByQuery(
      spark: SparkSession,
      rawPath: String,
      query: String,
      cfg: Map[String, String] = Map.empty): Unit = {
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val idField = cfg.getOrElse("graft.mapping.id", "_id")
    // alias transparency: only docs INSIDE the alias's filtered view
    // are deletable — another tenant's docs must survive untouched
    val (path, aliasPred) = resolveOpTarget(spark, rawPath, idField)
    recoverSwap(spark, path)
    // NULL-safe negation: a predicate that evaluates NULL (e.g. a term
    // over a null field) must KEEP the doc, not delete it
    val basePred = EsQuery.compile(query, idField)
    val delPred = aliasPred.fold(basePred)(a => a && basePred)
    val remaining = spark.read.format(fmt).load(path)
      .where(!coalesce(delPred, lit(false)))
    writeSwapped(spark, path, remaining, cfg)
  }

  /** Shared crash-safe rewrite honoring the index's write options
    * (format + routing partitioning) — by-query ops must not silently
    * flatten a routed index's directory layout. */
  private def writeSwapped(
      spark: SparkSession, path: String, df: DataFrame,
      cfg: Map[String, String]): Unit = {
    val fmt = cfg.getOrElse("graft.format", "parquet")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "_graft_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val w = cfg.get("graft.mapping.routing") match {
      case Some(r) => applyIndexSort(applyZOrder(df, cfg), cfg).write.format(fmt).partitionBy(r)
      case None => applyIndexSort(applyZOrder(df, cfg), cfg).write.format(fmt)
    }
    w.mode("overwrite").save(tmp.toString)
    swapIn(fs, new Path(path), tmp)(spark)
  }

  /** `index.sort.field` analog (`graft.index.sort` = "col[,col...]",
    * each with an optional `:desc` suffix): range-repartition on the
    * sort key, then sort within partitions, before every write of the
    * index — so each parquet file covers a DISJOINT key range and
    * row-group min/max stats carry real information. A range query on
    * the sort key then prunes to the few files that overlap it at
    * FOOTER level (Spark's parquet reader applies the pushed filter to
    * row-group stats), which at 100 TB is the difference between
    * scanning an index and scanning a shard's worth of files. The
    * shuffle this costs happens once, at write time — ES makes the
    * same trade in its index-sorting segment merge. */
  private def applyIndexSort(df: DataFrame, cfg: Map[String, String]): DataFrame =
    cfg.get("graft.index.sort") match {
      case Some(spec) =>
        val orders = spec.split(",").map(_.trim).filter(_.nonEmpty).map {
          case c if c.endsWith(":desc") => col(c.stripSuffix(":desc")).desc
          case c => col(c.stripSuffix(":asc")).asc
        }.toIndexedSeq
        require(orders.nonEmpty, "graft.index.sort needs at least one column")
        // graft.index.sort.partitions pins the segment count (AQE
        // otherwise coalesces the range shuffle; at scale you size
        // this so each sorted file lands near the rowgroup target)
        cfg.get("graft.index.sort.partitions").map(_.toInt) match {
          case Some(n) => df.repartitionByRange(n, orders: _*).sortWithinPartitions(orders: _*)
          case None => df.repartitionByRange(orders: _*).sortWithinPartitions(orders: _*)
        }
      case None => df
    }

  /** `_analyze_disk_usage` analog: per-FIELD storage accounting read
    * straight from the parquet footers (column-chunk metadata — no
    * data pages touched, the same metadata-only cost class as the
    * _cat family). Returns one row per leaf column: on-disk compressed
    * bytes, uncompressed bytes, and value count, summed across every
    * file of the index. The ES API answers "which field is eating my
    * disk"; so does this. */
  def diskUsage(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    recoverSwap(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val files = fs.listStatus(new Path(path))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long)]
    for (f <- files) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        val meta = reader.getFooter.getBlocks
        meta.forEach { block =>
          block.getColumns.forEach { c =>
            val key = c.getPath.toDotString
            val (cb, ub, n) = acc.getOrElse(key, (0L, 0L, 0L))
            acc(key) = (cb + c.getTotalSize, ub + c.getTotalUncompressedSize,
              n + c.getValueCount)
          }
        }
      } finally reader.close()
    }
    acc.toSeq.map { case (c, (cb, ub, n)) => (c, cb, ub, n) }
      .toDF("field", "store_bytes", "uncompressed_bytes", "value_count")
      .orderBy(col("store_bytes").desc, col("field"))
  }

  /** Z-ORDER clustering (`graft.index.zorder` = "colA,colB[,colC]"):
    * multi-dimensional file clustering where linear index sorting
    * cannot help — a sort on (a, b) prunes on `a` alone, every file
    * still spans the full `b` range. Here each numeric column
    * rank-normalizes to a `bits`-wide integer via a broadcast 1-row
    * min/max frame, the bit-INTERLEAVED key (a Morton/Z curve)
    * range-repartitions and sorts the write, and each parquet file
    * then covers a compact hyper-rectangle of the key space — so
    * footer-level min/max stats prune point/range queries on EVERY
    * participating column, not just the leading one. The write-side
    * shuffle is the one cost, paid once (the same trade Delta/Iceberg
    * OPTIMIZE ZORDER makes).
    *
    * Column math only: 2·bits shift/mask terms per column stay inside
    * whole-stage codegen; no kernel needed. */
  private[sources] def zOrderKey(df: DataFrame, cols: Seq[String], bits: Int): Column = {
    require(cols.size >= 2, "z-order needs at least two columns")
    require(bits * cols.size <= 60, s"bits=$bits x ${cols.size} columns overflows a long")
    val aggCols = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"_mn_$c"),
      max(col(c).cast("double")).as(s"_mx_$c")))
    val maxRank = (1L << bits) - 1
    // one 1-row stats pass; only 2·|cols| doubles reach the driver
    val row = df.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val ranks = cols.zipWithIndex.map { case (c, _) =>
      // an empty (or all-null) batch has null stats: any constant key
      // is a valid z-order of nothing
      def stat(n: String): Double =
        if (row.isNullAt(row.fieldIndex(n))) 0.0 else row.getAs[Double](n)
      val mn = stat(s"_mn_$c")
      val mx = stat(s"_mx_$c")
      val span = if (mx > mn) mx - mn else 1.0
      least(floor((col(c).cast("double") - mn) / span * maxRank), lit(maxRank))
        .cast("long")
    }
    // interleave: output bit (i*nCols + d) takes bit i of column d
    val terms = for {
      i <- 0 until bits
      (r, d) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, i).bitwiseAND(1L), i * cols.size + d)
    terms.reduce(_ + _)
  }

  private def applyZOrder(df: DataFrame, cfg: Map[String, String]): DataFrame =
    cfg.get("graft.index.zorder") match {
      case Some(spec) =>
        val cols = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val bits = cfg.get("graft.index.zorder.bits").map(_.toInt).getOrElse(16)
        val z = zOrderKey(df, cols, bits)
        val keyed = df.withColumn("__graft_z", z)
        val parts = cfg.get("graft.index.sort.partitions").map(_.toInt)
        val ranged = parts match {
          case Some(n) => keyed.repartitionByRange(n, col("__graft_z").asc)
          case None => keyed.repartitionByRange(col("__graft_z").asc)
        }
        ranged.sortWithinPartitions(col("__graft_z").asc).drop("__graft_z")
      case None => df
    }

  /** Restore a crash-interrupted swap: live directory missing but
    * `_graft_old` present means the writer died between "rename live
    * aside" and "rename tmp in" — the old generation IS the index.
    * Shared by the write path and both read paths (graftDF /
    * graftStream), so any access after the crash heals it. */
  private[graft] def recoverSwap(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val old = new Path(path + "_graft_old")
    if (!fs.exists(live) && fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(s"swap recovery: rename $old -> $live failed")
      spark.catalog.refreshByPath(path)
    }
  }

  /** Crash-safe index swap: rename the live directory ASIDE, rename
    * the new one in, then drop the old copy — every crash point leaves
    * either the old or the new index recoverable (`save` restores a
    * leftover `_graft_old` on its next run). The previous
    * delete-then-rename had a window where a crash lost the index
    * entirely, which a foreachBatch replay then "recovered" from a
    * single micro-batch. */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem, live: Path, tmp: Path)(
      implicit spark: SparkSession): Unit = {
    val old = new Path(live.toString + "_graft_old")
    // a leftover from a crash after the new live landed: retire it if
    // a PIT pins it rather than dropping a pinned generation
    if (fs.exists(old)) disposeGeneration(fs, live, old)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"swap: rename $live -> $old failed")
    // every generation carries an identity marker so open PITs can
    // pin it across the swap
    stampGeneration(fs, tmp)
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"swap: rename $tmp -> $live failed")
    disposeGeneration(fs, live, old)
    // the rename bypassed Spark's writers, so the shared file-status
    // cache still lists the pre-swap files for this path
    spark.catalog.refreshByPath(live.toString)
  }

  // ---- point-in-time reads (`_pit`) -------------------------------

  /** ES PIT semantics on parquet storage: a PIT pins the exact data
    * files visible at open time — the direct analog of ES holding
    * segment references, since parquet files are immutable once
    * written. Appends after the open are invisible (the manifest
    * lists files, not the directory); a swap (update/delete_by_query,
    * bulk upsert) RETIRES the pinned generation instead of deleting
    * it, and `closePit` garbage-collects retired generations nobody
    * references. At cluster scale this is the manifest-pinning design
    * every table format uses — no data is copied at open time, the
    * open cost is one directory listing. `op=overwrite` writes bypass
    * the swap and therefore invalidate PITs, exactly as deleting an
    * ES index invalidates its PITs. */
  def openPit(spark: SparkSession, path: String): String = {
    recoverSwap(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    require(fs.exists(live), s"no index at $path")
    stampGeneration(fs, live)
    val gen = genOf(fs, live).get
    val root = fs.makeQualified(live).toString
    val files = scala.collection.mutable.ListBuffer.empty[String]
    val it = fs.listFiles(live, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        // store paths RELATIVE to the index root: the generation may
        // move to a retired directory while the PIT is open
        val full = st.getPath.toString
        require(full.startsWith(root), s"file outside index root: $full")
        files += full.stripPrefix(root).stripPrefix("/")
      }
    }
    val pitId = java.util.UUID.randomUUID.toString
    val out = fs.create(new Path(pitsDir(live), pitId), false)
    out.write((gen +: files.toList).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    pitId
  }

  /** Read through an open PIT: the manifest's file list under the
    * generation's CURRENT location (live until a swap retires it).
    * `basePath` keeps routing-partition columns intact. */
  def pitDF(
      spark: SparkSession, path: String, pitId: String,
      format: String = "parquet"): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val manifest = new Path(pitsDir(live), pitId)
    require(fs.exists(manifest), s"unknown pit: $pitId")
    val lines = readSmallFile(fs, manifest).split("\n").toList
    val (gen, files) = (lines.head, lines.tail)
    val base =
      if (genOf(fs, live).contains(gen)) fs.makeQualified(live).toString
      else {
        val retired = new Path(live.toString + "_graft_retired_" + gen)
        require(fs.exists(retired), s"pit $pitId: generation $gen is gone")
        fs.makeQualified(retired).toString
      }
    spark.read.option("basePath", base).format(format)
      .load(files.map(f => s"$base/$f"): _*)
  }

  /** Close a PIT and sweep retired generations no open PIT pins. */
  def closePit(spark: SparkSession, path: String, pitId: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    fs.delete(new Path(pitsDir(live), pitId), false)
    val pinned = pinnedGens(fs, live)
    val parent = live.getParent
    val prefix = live.getName + "_graft_retired_"
    if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix) && !pinned.contains(n.stripPrefix(prefix)))
        fs.delete(st.getPath, true)
    }
  }

  // ---- PIT-pinned paging sessions ---------------------------------

  /** Scroll/search_after paging THROUGH an open PIT — ES's
    * "search_after with a point in time" (the only ES-supported way
    * to page consistently). Every page plans against the PIT's pinned
    * file manifest, so a concurrent append or crash-safe swap between
    * pages can neither surface new rows mid-cursor nor drop pinned
    * ones — the union of pages is exactly the snapshot at open time.
    * Un-pinned pages (planning against the live directory) re-list
    * files per page and CAN drift; PagingPitSpec documents that drift
    * and proves the invariance with the pin. Cost shape is unchanged:
    * each page is one cursor-predicate scan of the pinned files. */
  def pitScrollPages(
      spark: SparkSession, path: String, pitId: String,
      idCol: String, sortCol: String, pageSize: Int)
      : Iterator[Seq[org.apache.spark.sql.Row]] =
    graft.search.Search.scrollPages(pitDF(spark, path, pitId), idCol, sortCol, pageSize)

  /** One search_after page through an open PIT (the from/size-free
    * deep-paging primitive, pinned). */
  def pitSearchAfter(
      spark: SparkSession, path: String, pitId: String,
      idCol: String, sortField: String,
      afterSort: Any, afterId: Any, size: Int): DataFrame =
    graft.search.Search.searchAfter(
      pitDF(spark, path, pitId), idCol, sortField, afterSort, afterId, size)

  /** One slice of a PIT-pinned sliced scroll: the same deterministic
    * md5-48 slice predicate as the live q_slice operator, planned over
    * the pinned manifest — disjoint slices drained by parallel workers
    * union to exactly the snapshot even while the live index keeps
    * ingesting. */
  def pitSlice(
      spark: SparkSession, path: String, pitId: String,
      idCol: String, sliceId: Int, maxSlices: Int): DataFrame = {
    require(maxSlices > 0 && sliceId >= 0 && sliceId < maxSlices,
      s"slice id $sliceId out of range for max $maxSlices")
    import org.apache.spark.sql.functions.{concat, conv, lit, md5, pmod, substring}
    pitDF(spark, path, pitId).where(
      pmod(conv(substring(md5(concat(lit("slice:"),
        org.apache.spark.sql.functions.col(idCol).cast("string"))), 1, 12), 16, 10)
        .cast("long"), lit(maxSlices.toLong)) === sliceId.toLong)
  }

  private def pitsDir(live: Path) = new Path(live.toString + "_graft_pits")

  /** The generation marker (`_graft_gen_<uuid>`) of a directory. */
  private def genOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[String] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName)
      .find(_.startsWith("_graft_gen_")).map(_.stripPrefix("_graft_gen_"))

  private def stampGeneration(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit =
    if (fs.exists(dir) && genOf(fs, dir).isEmpty)
      fs.create(new Path(dir,
        s"_graft_gen_${java.util.UUID.randomUUID.toString}"), false).close()

  private def pinnedGens(fs: org.apache.hadoop.fs.FileSystem, live: Path): Set[String] = {
    val pd = pitsDir(live)
    if (!fs.exists(pd)) Set.empty
    else fs.listStatus(pd).map(st =>
      readSmallFile(fs, st.getPath).split("\n").head).toSet
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The outgoing generation after a swap: retired (renamed aside)
    * while any open PIT pins it, deleted otherwise. */
  private def disposeGeneration(
      fs: org.apache.hadoop.fs.FileSystem, live: Path, old: Path): Unit =
    genOf(fs, old) match {
      case Some(gen) if pinnedGens(fs, live).contains(gen) =>
        val retired = new Path(live.toString + "_graft_retired_" + gen)
        if (fs.exists(retired)) fs.delete(retired, true)
        if (!fs.rename(old, retired))
          throw new java.io.IOException(s"swap: rename $old -> $retired failed")
      case _ => fs.delete(old, true)
    }

  /** Keep one row per id: highest (primary, tiebreak) wins. max_by
    * instead of a row_number window — partial aggregation shrinks the
    * exchange to one row per id per task and skips the sort (see
    * Relational.upsertLastWriteWins). */
  private def resolve(
      df: DataFrame, idCol: String,
      primary: org.apache.spark.sql.Column,
      tiebreak: org.apache.spark.sql.Column): DataFrame = {
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(col(idCol))
      .agg(max_by(payload, struct(primary, tiebreak)).as("_latest"))
      .select(df.columns.map(c => col("_latest").getField(c).as(c)).toIndexedSeq: _*)
  }

  /** In-batch id dedup for first write: last occurrence wins, matching
    * bulk-apply order. With a version column the higher version wins;
    * otherwise arrival order is stamped with monotonically_increasing_id
    * at this boundary — deterministic for a given input partitioning,
    * unlike dropDuplicates (which keeps whichever row a partition race
    * delivers first). */
  private def dedupWithin(df: DataFrame, idCol: String, cfg: Map[String, String]): DataFrame = {
    // collision-free internal name: a user column literally named
    // "_ord" must survive (the updateByQuery fresh-name pattern)
    val ord = Iterator.from(0).map(i => s"__graft_ord_$i")
      .find(c => !df.columns.contains(c)).get
    cfg.get("graft.mapping.version") match {
      // arrival order breaks version TIES too — two in-batch rows with
      // the same id and version must resolve the same way on every run
      case Some(v) =>
        resolve(df.withColumn(ord, monotonically_increasing_id()),
          idCol, col(v), col(ord)).drop(ord)
      case None =>
        resolve(df.withColumn(ord, monotonically_increasing_id()),
          idCol, col(ord), col(ord)).drop(ord)
    }
  }
}

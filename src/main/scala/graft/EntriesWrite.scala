package graft

import graft.agg.Aggs
import graft.dedup.Dedup
import graft.dsl.QueryDsl
import graft.rel.Relational
import graft.search.{Search, Sorting}
import graft.sim.Ann
import graft.streaming.EventStreams
import graft.text.TextAnalysis
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Num
import graft.EntryShared._

/** SparkEntry registrations: Write path / geo + their oracles.
  * Split from SparkEntry.scala in r11 (registration-only; the
  * implementing operators live in the modules named in SURVEY §2). */
private[graft] object EntriesWrite {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- E. Write path / geo ----
    // pre-projected to the columns the result + ordering need: the
    // upsert's payload struct packs every input column (whole-doc
    // last-write-wins), which blocks pruning through the aggregate —
    // so prune BEFORE the struct (r15 scan audit: props stays unread)
    "q_upsert_id" -> ((s, d) =>
      Relational.upsertLastWriteWins(
        Tables.events(s, d).select("user_id", "event_type", "value", "ts_ns", "event_id"),
        Seq("user_id"), col("ts_ns"), col("event_id"))
        .select(col("user_id"), col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy(col("user_id"))),
    // WARC (Common Crawl) round trip: documents serialize into REAL
    // .warc.gz files (one gzip member per record, the published CC
    // layout) once per testdata generation, then the streaming
    // one-file-per-task reader parses them back; the oracle checks the
    // recovered HTTP fields and body hash against the source table —
    // a header, HTTP-split or gzip-member bug anywhere breaks the hash
    "q_warc_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = graft.index.IndexArtifacts.ensureArtifact("warc", s"$d/documents.parquet")(
        p => graft.index.IndexArtifacts.fsDirExists(s, p))(
        stage => graft.sources.Warc.saveWarc(
          docs.select(
            concat(lit("https://corpus.test/doc/"), col("doc_id")).as("uri"),
            lit("text/plain; charset=UTF-8").as("mime"),
            encode(col("text"), "UTF-8").as("body")),
          stage, "2026-01-01T00:00:00Z"))
      graft.sources.Warc.warcDF(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status"), col("mime"),
          length(col("body")).cast("long").as("n_bytes"),
          md5(col("body")).as("body_hash"))
        .orderBy(col("doc_id"))
    }),
    // crawl-to-corpus: the composed Common Crawl ingestion shape over
    // the WARC source — real .warc.gz bytes -> streaming per-file
    // parse -> html_strip extraction -> length gate -> exact dedup
    // (first doc_id survives). Every stage after the source is a
    // narrow pass except dedup's one (fingerprint, id) exchange; the
    // oracle re-derives extraction + gate + dedup from the source
    // table through the same strip mirror q_analyze_html pins
    "q_warc_pipeline" -> ((s, d) => {
      val dir = EntryShared.ensureWarcHtml(s, d)
      val extracted = graft.sources.Warc.warcDF(s, dir)
        .where(col("http_status") === 200 && col("mime").like("text/html%"))
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          trim(graft.analysis.Analyzer.htmlStrip(decode(col("body"), "UTF-8"))).as("text"))
      graft.dedup.Dedup.keepFirstByKey(
          extracted.where(length(col("text")) >= 100), "doc_id", md5(col("text")))
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    // WET extraction sink: the other half of the Common Crawl
    // pipeline — WARC-in (real crawl bytes), html_strip extraction,
    // then the PUBLISHED WET layout out (warcinfo at file head +
    // conversion records, one gzip member each) and a streaming
    // read-back of those bytes. The oracle re-derives the extracted
    // text from the source table through the q_analyze_html strip
    // mirror: WARC parse, HTTP split, strip, WET serialize and WET
    // parse must all agree to land on identical md5s
    "q_wet_roundtrip" -> ((s, d) => {
      val wetDir = graft.index.IndexArtifacts.ensureArtifact("wet", s"$d/documents.parquet")(
        p => graft.index.IndexArtifacts.fsDirExists(s, p))(stage => {
          val warcDir = EntryShared.ensureWarcHtml(s, d)
          graft.sources.Warc.saveWet(
            graft.sources.Warc.warcDF(s, warcDir)
              .where(col("http_status") === 200 && col("mime").like("text/html%"))
              .select(
                col("target_uri").as("uri"),
                col("record_id").as("refers_to"),
                trim(graft.analysis.Analyzer.htmlStrip(
                  decode(col("body"), "UTF-8"))).as("text")),
            stage, "2026-01-01T00:00:00Z")
        })
      graft.sources.Warc.warcDF(s, wetDir)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("mime"),
          length(decode(col("body"), "UTF-8")).cast("long").as("n_chars"),
          md5(col("body")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    "q_write_roundtrip" -> ((s, d) => {
      val out = s"/tmp/graft_roundtrip_${System.getProperty("user.name")}"
      Multimodal.mediaTable(t(s, d, "documents"))
        .write.mode("overwrite").partitionBy("mime").parquet(out)
      s.read.parquet(out).groupBy(col("mime")).agg(count(lit(1)).as("n"))
        .orderBy(col("mime"))
    }),
    // routed write round-trip, oracle-keyed (upgraded from spec):
    // es.mapping.routing partitions the index dir; the oracle reads
    // the WRITTEN files back with hive partitioning
    "q_write_routing" -> ((s, d) => {
      import graft.sources.Connector.implicits._
      val out = s"/tmp/graft_routed_${System.getProperty("user.name")}"
      t(s, d, "documents").saveToGraft(out, Map(
        "graft.mapping.id" -> "doc_id",
        "graft.write.operation" -> "overwrite",
        "graft.mapping.routing" -> "lang"))
      s.read.parquet(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),
    // ingest-pipeline-at-write round-trip, oracle-keyed: the chain
    // shapes every doc before indexing; the oracle RECOMPUTES the
    // transformation from the source table, so write+read+pipeline
    // all hash-check against an independent derivation
    "q_write_pipeline" -> ((s, d) => {
      val out = s"/tmp/graft_piped_${System.getProperty("user.name")}"
      graft.sources.Connector.save(t(s, d, "documents"), out, Map(
        "graft.write.operation" -> "overwrite",
        "graft.ingest.pipeline" -> """{"processors": [
            {"set": {"field": "pipe_tag", "value": "r12"}},
            {"uppercase": {"field": "lang"}},
            {"fingerprint": {"fields": ["doc_id", "lang"], "target_field": "fp"}}]}"""))
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("pipe_tag"), col("fp"))
        .orderBy(col("doc_id"))
    }),
    // write-side field filtering, oracle-keyed: es.mapping.include
    // projects the indexed doc; the read back shows only the kept
    // fields (id survives like ES's _id)
    "q_write_fields" -> ((s, d) => {
      val out = s"/tmp/graft_fields_${System.getProperty("user.name")}"
      graft.sources.Connector.save(t(s, d, "documents"), out, Map(
        "graft.write.operation" -> "overwrite",
        "graft.mapping.id" -> "doc_id",
        "graft.mapping.include" -> "lang,n_chars"))
      s.read.parquet(out).orderBy(col("doc_id"))
    }),
    // _update_by_query + _delete_by_query round-trip, oracle-keyed
    // (upgraded from spec): seed an index, mutate DE docs, delete the
    // short ones, read the surviving index back; the oracle
    // recomputes the whole mutation sequence from the source table
    "q_write_mutations" -> ((s, d) => {
      val out = s"/tmp/graft_mut_${System.getProperty("user.name")}"
      val cfg = Map("graft.mapping.id" -> "doc_id")
      graft.sources.Connector.save(t(s, d, "documents"), out,
        cfg + ("graft.write.operation" -> "overwrite"))
      graft.sources.Connector.updateByQuery(s, out,
        """{"term": {"lang": "de"}}""",
        Map("source" -> concat(col("source"), lit("-ubq"))), cfg)
      graft.sources.Connector.deleteByQuery(s, out,
        """{"range": {"n_chars": {"lt": 150}}}""", cfg)
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // _mapping, oracle-keyed (upgraded from spec): the dynamic-mapping
    // render flattened to (field, es_type) rows — the oracle derives
    // the same rows INDEPENDENTLY from DuckDB's DESCRIBE of the table
    "q_mapping" -> ((s, d) => {
      import s.implicits._
      import org.json4s._
      val json = graft.sources.Connector.mappingJson(s, s"$d/orders.parquet")
      val props = org.json4s.jackson.JsonMethods.parse(json) \ "mappings" \ "properties"
      props.asInstanceOf[JObject].obj.map { case (f, v) =>
        (f, (v \ "type").asInstanceOf[JString].s)
      }.sortBy(_._1).toDF("field", "es_type")
    }),
    // _field_caps, oracle-keyed (upgraded from spec): per-field type +
    // searchable/aggregatable flags, DESCRIBE-derived on the oracle
    "q_field_caps" -> ((s, d) => {
      import graft.sources.Connector.implicits._
      s.fieldCaps(s"$d/documents.parquet")
    }),
    // _analyze_disk_usage, oracle-keyed (upgraded from spec): the
    // per-field footer byte accounting, independently derived by the
    // oracle from parquet_metadata() over the SAME file
    "q_disk_usage" -> ((s, d) =>
      graft.sources.Connector.diskUsage(s, s"$d/documents.parquet")),
    // _cat/count, oracle-keyed (upgraded from spec): footer-metadata
    // doc counts per index under a root
    "q_cat_count" -> ((s, d) => {
      val root = s"/tmp/graft_cat_${System.getProperty("user.name")}"
      // start from a clean root: _cat/count lists EVERY index dir, so
      // a stray subdir from an older session would add a row
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      t(s, d, "documents").write.mode("overwrite").parquet(s"$root/idx_docs")
      t(s, d, "orders").where(col("o_totalprice") > 10000)
        .write.mode("overwrite").parquet(s"$root/idx_orders")
      graft.sources.Connector.catCount(s, root)
    }),
    // bulk create/update operation semantics, oracle-keyed: update
    // touches only EXISTING ids, create only NEW ids — the ES bulk
    // op contract verified on the read-back index
    "q_write_ops" -> ((s, d) => {
      val out = s"/tmp/graft_ops_${System.getProperty("user.name")}"
      val docs = t(s, d, "documents")
      val cfg = Map("graft.mapping.id" -> "doc_id")
      graft.sources.Connector.save(docs.where(col("doc_id") < 300), out,
        cfg + ("graft.write.operation" -> "overwrite"))
      graft.sources.Connector.save(
        docs.where(col("doc_id") >= 200 && col("doc_id") < 400)
          .withColumn("source", concat(col("source"), lit("-upd"))),
        out, cfg + ("graft.write.operation" -> "update"))
      graft.sources.Connector.save(
        docs.where(col("doc_id") >= 250 && col("doc_id") < 450)
          .withColumn("source", concat(col("source"), lit("-new"))),
        out, cfg + ("graft.write.operation" -> "create"))
      s.read.parquet(out)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // _reindex round-trip, oracle-keyed (upgraded from spec): source
    // index -> query-filtered, pipeline-shaped copy -> read the
    // DESTINATION back; the oracle recomputes filter+pipeline
    "q_write_reindex" -> ((s, d) => {
      val u = System.getProperty("user.name")
      val src = s"/tmp/graft_reix_src_$u"; val dst = s"/tmp/graft_reix_dst_$u"
      val cfg = Map("graft.mapping.id" -> "doc_id",
        "graft.write.operation" -> "overwrite")
      graft.sources.Connector.save(t(s, d, "documents"), src, cfg)
      graft.sources.Connector.reindex(s, src, dst,
        query = """{"range": {"n_chars": {"gte": 200}}}""",
        pipeline = """{"processors": [{"set": {"field": "reindexed", "value": true}},
            {"uppercase": {"field": "source"}}]}""",
        cfg = cfg)
      s.read.parquet(dst)
        .select(col("doc_id"), col("source"), col("n_chars"), col("reindexed"))
        .orderBy(col("doc_id"))
    }),
    "q_geo_distance" -> ((s, d) => {
      val g = withGeo(t(s, d, "customer"))
      g.withColumn("dist_km",
        Num.round(Relational.haversineKm(col("lat"), col("lon"), lit(0.0), lit(0.0)), 4))
        .where(col("dist_km") <= 3000.0)
        .select(col("c_custkey"), col("dist_km"))
        .orderBy(col("c_custkey"))
    }),
    "q_geo_bbox" -> ((s, d) => withGeo(t(s, d, "customer"))
      .where(Relational.geoBoundingBox(col("lat"), col("lon"), 40.0, -60.0, -30.0, 90.0))
      .select(col("c_custkey"), col("lat"), col("lon"))
      .orderBy(col("c_custkey"))),
  )

  // the seed-quantizer IVF derivation, shared verbatim by q_ann_ivf
  // (fit-per-query) and q_ann_ivf_persisted (write-time artifact):
  // one SQL, two execution regimes, bit-identical rows
  private val IvfSql: String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.vec_id AS id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.vec_id ORDER BY round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) WHERE rn = 1), " +
      "qp AS (SELECT query_id, cent_id FROM (SELECT q.vec_id AS query_id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_reduce(list_prepend(0.0, list_transform(range(1, len(q.v) + 1), i -> q.v[i] * cv[i])), (x, y) -> x + y) / (q.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n q CROSS JOIN cents WHERE q.vec_id < 5) WHERE rn <= 4), " +
      "cand AS (SELECT DISTINCT query_id, id FROM qp JOIN asg USING (cent_id) WHERE id <> query_id), " +
      "p AS (SELECT query_id, id, round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * q.v[i])), (x, y) -> x + y) / (c.nrm * q.nrm), 4) AS cosine " +
      "FROM cand JOIN n c ON c.vec_id = cand.id JOIN n q ON q.vec_id = cand.query_id) " +
      "SELECT query_id, id, cosine, rank FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id) AS rank FROM p) " +
      "WHERE rank <= 10 ORDER BY query_id, rank"

  // the list-balance report over the same seed-quantizer assignment
  // derivation (e/n/cents/asg CTEs shared verbatim with IvfSql)
  private val IvfListStatsSql: String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm FROM e), " +
      "cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16), " +
      "asg AS (SELECT id, cent_id FROM (SELECT c.vec_id AS id, cents.cent_id, " +
      "row_number() OVER (PARTITION BY c.vec_id ORDER BY round(list_reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cv[i])), (x, y) -> x + y) / (c.nrm * cnrm), 4) DESC, cents.cent_id) AS rn " +
      "FROM n c CROSS JOIN cents) WHERE rn = 1), " +
      "counts AS (SELECT cents.cent_id, count(asg.id)::BIGINT AS list_size " +
      "FROM cents LEFT JOIN asg ON asg.cent_id = cents.cent_id GROUP BY cents.cent_id), " +
      "agg AS (SELECT min(list_size) AS mn, max(list_size) AS mx, avg(list_size) AS av, count(*)::BIGINT AS nl FROM counts) " +
      "SELECT c.cent_id, c.list_size, nl AS n_lists, mn AS min_size, mx AS max_size, " +
      "round(mx / av, 4) AS imbalance FROM counts c CROSS JOIN agg ORDER BY c.cent_id"

  val oracleSql: Map[String, String] = Map(
    "q_ivf_list_stats" -> IvfListStatsSql,
    // ---- E ----
    "q_upsert_id" -> ("SELECT user_id, event_type AS last_type, value AS last_value FROM events " +
      "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) = 1 ORDER BY user_id"),
    // the write-path oracle reads the parquet the query itself WROTE
    // (Verify runs the query before the checker runs the oracle), so
    // rows+schema+hash all verify the on-disk bytes, not a re-derive
    // Spark URL-escapes partition-dir values (mime=image%2Fpng) and
    // unescapes them on read; DuckDB's hive_partitioning reads the
    // raw dir name, so the oracle undoes the one escape mime can hit
    // extraction + gate + dedup re-derived from the source table via
    // the same html_strip mirror q_analyze_html uses — the Spark side
    // must land on identical md5s out of real WARC/HTTP/gzip bytes
    "q_warc_pipeline" -> ("WITH h AS (SELECT doc_id, " +
      "'<html><head><title>d</title></head><body><p>' || text || '</p></body></html>' AS html " +
      "FROM documents), " +
      "s AS (SELECT doc_id, trim(replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), " +
      "'&amp;', '&')) AS text FROM h), " +
      "g AS (SELECT doc_id, text, length(text) AS n_chars, md5(text) AS fp FROM s " +
      "WHERE length(text) >= 100), " +
      "k AS (SELECT fp, min(doc_id) AS keep FROM g GROUP BY fp) " +
      "SELECT g.doc_id, g.n_chars::BIGINT AS n_chars, g.fp " +
      "FROM g JOIN k ON g.fp = k.fp AND g.doc_id = k.keep ORDER BY g.doc_id"),
    // re-derived from the SOURCE table: the Spark side must recover
    // exactly these fields out of real WARC/HTTP/gzip bytes
    "q_warc_roundtrip" -> ("SELECT doc_id, 200 AS http_status, " +
      "'text/plain; charset=UTF-8' AS mime, octet_length(encode(text))::BIGINT AS n_bytes, " +
      "md5(text) AS body_hash FROM documents ORDER BY doc_id"),
    // extracted text re-derived from the source table via the same
    // html_strip mirror; the Spark side must recover it from real
    // WARC -> strip -> WET conversion-record bytes
    "q_wet_roundtrip" -> ("WITH h AS (SELECT doc_id, " +
      "'<html><head><title>d</title></head><body><p>' || text || '</p></body></html>' AS html " +
      "FROM documents), " +
      "s AS (SELECT doc_id, trim(replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(html, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), " +
      "'&amp;', '&')) AS text FROM h) " +
      "SELECT doc_id, 'text/plain' AS mime, length(text)::BIGINT AS n_chars, " +
      "md5(text) AS fp FROM s ORDER BY doc_id"),
    "q_write_roundtrip" -> ("SELECT replace(mime, '%2F', '/') AS mime, count(*) AS n " +
      s"FROM read_parquet('/tmp/graft_roundtrip_${System.getProperty("user.name")}/*/*.parquet', " +
      "hive_partitioning=true) GROUP BY 1 ORDER BY 1"),
    "q_write_routing" -> ("SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars " +
      s"FROM read_parquet('/tmp/graft_routed_${System.getProperty("user.name")}/*/*.parquet', " +
      "hive_partitioning=true) GROUP BY 1 ORDER BY lang"),
    // recomputed from the source table, NOT read back — stronger than
    // the roundtrip stance: write + pipeline + read must all agree
    // with an independent derivation
    "q_write_pipeline" -> ("SELECT doc_id, upper(lang) AS lang, 'r12' AS pipe_tag, " +
      "md5(doc_id::VARCHAR || '|' || upper(lang)) AS fp " +
      "FROM documents ORDER BY doc_id"),
    "q_write_fields" -> ("SELECT lang, n_chars, doc_id FROM documents ORDER BY doc_id"),
    "q_field_caps" -> ("SELECT column_name AS field, CASE " +
      "WHEN column_type IN ('BIGINT', 'INTEGER', 'SMALLINT', 'TINYINT') THEN 'long' " +
      "WHEN column_type = 'DOUBLE' THEN 'double' WHEN column_type = 'VARCHAR' THEN 'string' " +
      "WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp' ELSE lower(column_type) END AS type, " +
      "true AS searchable, true AS aggregatable " +
      "FROM (DESCRIBE SELECT * FROM documents) ORDER BY field"),
    "q_disk_usage" -> ("SELECT path_in_schema AS field, " +
      "sum(total_compressed_size)::BIGINT AS store_bytes, " +
      "sum(total_uncompressed_size)::BIGINT AS uncompressed_bytes, " +
      "sum(num_values)::BIGINT AS value_count " +
      "FROM parquet_metadata('__SFDIR__/documents.parquet') " +
      "GROUP BY 1 ORDER BY store_bytes DESC, field"),
    "q_mapping" -> ("SELECT column_name AS field, CASE " +
      "WHEN column_type IN ('BIGINT', 'INTEGER', 'SMALLINT', 'TINYINT') THEN 'long' " +
      "WHEN column_type = 'DOUBLE' THEN 'double' WHEN column_type = 'FLOAT' THEN 'float' " +
      "WHEN column_type = 'VARCHAR' THEN 'text' WHEN column_type = 'BOOLEAN' THEN 'boolean' " +
      "WHEN column_type LIKE 'TIMESTAMP%' OR column_type = 'DATE' THEN 'date' " +
      "ELSE lower(column_type) END AS es_type " +
      "FROM (DESCRIBE SELECT * FROM orders) ORDER BY field"),
    "q_cat_count" -> ("SELECT 'idx_docs' AS \"index\", (SELECT count(*) FROM documents) AS count " +
      "UNION ALL SELECT 'idx_orders', (SELECT count(*) FROM orders WHERE o_totalprice > 10000) " +
      "ORDER BY \"index\""),
    "q_write_ops" -> ("SELECT doc_id, CASE " +
      "WHEN doc_id >= 200 AND doc_id < 300 THEN source || '-upd' " +
      "WHEN doc_id >= 300 AND doc_id < 450 THEN source || '-new' " +
      "ELSE source END AS source, n_chars FROM documents " +
      "WHERE doc_id < 450 ORDER BY doc_id"),
    "q_write_reindex" -> ("SELECT doc_id, upper(source) AS source, n_chars, true AS reindexed " +
      "FROM documents WHERE n_chars >= 200 ORDER BY doc_id"),
    "q_write_mutations" -> ("SELECT doc_id, lang, " +
      "CASE WHEN lang = 'de' THEN source || '-ubq' ELSE source END AS source, n_chars " +
      "FROM documents WHERE n_chars >= 150 ORDER BY doc_id"),
    "q_geo_distance" -> (GeoCte + " SELECT * FROM (SELECT c_custkey, " +
      "round(2 * 6371 * asin(sqrt(pow(sin(radians(0.0 - lat) / 2), 2) + " +
      "cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2))), 4) AS dist_km " +
      "FROM g) WHERE dist_km <= 3000.0 ORDER BY c_custkey"),
    "q_geo_bbox" -> (GeoCte + " SELECT c_custkey, lat, lon FROM g " +
      "WHERE lat <= 40.0 AND lat >= -30.0 AND lon >= -60.0 AND lon <= 90.0 ORDER BY c_custkey"),

"q_ann_ivf" -> IvfSql,
    // bit-identical contract: the persisted-artifact path must return
    // exactly what the fit-per-query quantizer returns
    "q_ann_ivf_persisted" -> IvfSql,
"q_tpch_q1" -> ("SELECT l_returnflag, l_linestatus, " +
      "round(CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_qty, " +
      "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_base_price, " +
      "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_disc_price, " +
      "round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_charge, " +
      "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, " +
      "round(avg(l_discount), 4) AS avg_disc, count(*)::BIGINT AS count_order " +
      "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
  )
}

package graft.index

import graft.analysis.Analyzer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.{JBool, JDouble, JInt, JString, JValue}

/** Analyze-once persisted index artifacts — the Spark-native analog of
  * what an ES server amortizes across queries by maintaining a Lucene
  * index (elasticsearch-hadoop delegates all of this to the server;
  * graft re-expresses it as columnar side tables beside the index
  * directory).
  *
  * Layout (inside the index directory — every name is underscore-
  * prefixed, so Spark's hidden-path filter keeps artifact files out of
  * ordinary reads of the index, and the `_graft_` infix keeps the dir
  * out of pattern/cat listings like all machinery paths):
  *
  * {{{
  * <index>/_graft_analysis/<textCol>/postings/   (term, id, dl, tf) — inverted index
  * <index>/_graft_analysis/<textCol>/doclen/     (id, dl)           — every doc; refresh's known ids
  * <index>/_graft_analysis/<textCol>/_graft_meta.json  fingerprint, n_docs, n_dl, dl_sum — commit point
  * }}}
  *
  * BM25 needs nothing else: a term's df is the count of its postings
  * rows (one per (term, doc)), which the query's own `term IN (...)`
  * slice holds, and n_docs / avgdl = dl_sum / n_dl come from the meta.
  *
  * Scale shape: the build pays ONE corpus tokenize + one (term,id)
  * exchange — the same work every single BM25 query pays today — and
  * every subsequent query reads only the postings of ITS OWN terms:
  * postings are range-partitioned and sorted by term, so a
  * `term IN (...)` predicate prunes whole files and row groups via
  * parquet min/max stats. Query-time cost becomes proportional to the
  * matched postings, not the corpus (at 100 TB, the difference between
  * re-reading 100 TB of text per query and reading a few MB of posting
  * rows).
  *
  * Freshness: `_graft_meta.json` records an md5 fingerprint of the
  * live data files (relative path, length, mtime of every non-hidden
  * file) and is written LAST, making it the commit point. A stale
  * artifact — data appended or swapped after the build — fingerprint-
  * mismatches and readers fall back to on-the-fly analysis; a build
  * that crashed before the meta write is simply absent. The crash-safe
  * index swap (Connector.save's `_graft_tmp` rename) replaces the
  * whole index directory, artifacts included, so a swap can never
  * leave new data paired with old artifacts.
  */
object IndexArtifacts {

  /** Artifact root: `graft.artifacts.root` on the active session (any
    * Hadoop-FS-addressable URI), defaulting to /tmp on the root's own
    * filesystem. The whole commit path runs on the Hadoop FileSystem
    * API (staging dir + `fs.rename` commit), so artifacts are
    * storage-portable. ATOMICITY CAVEAT: rename-as-commit is atomic on
    * HDFS and local filesystems ONLY. S3A rename is a non-atomic
    * O(data) copy — a concurrent reader on s3a:// can observe a
    * partially-copied artifact that the exists() pre-check treats as
    * committed. Point concurrent builders at an HDFS or local root; an
    * S3A root is safe only when one process owns the build (the same
    * restriction S3A puts on FileOutputCommitter v1, which this layer
    * mirrors). */
  private def artifactRoot: String =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption("graft.artifacts.root"))
      .getOrElse("/tmp")

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** FS-API directory probe for `ensureArtifact` loaded() callbacks:
    * artifact roots may be Hadoop-FS URIs (hdfs://, s3a://) where a
    * java.io.File probe always returns false — the artifact would
    * rebuild every run only to lose the rename race and discard its
    * staging copy. */
  def fsDirExists(spark: SparkSession, p: String): Boolean = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.getFileStatus(path).isDirectory
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** Build-once artifact directory keyed by source fingerprint, safe
    * against CONCURRENT builders and stale generations:
    * `loaded(finalDir)` probes for a fresh artifact; when absent,
    * `build(stagingDir)` runs into a process-unique sibling path and
    * the result is ATOMICALLY renamed into place — two concurrent
    * harness runs over the same testdata can never observe a
    * partially-written artifact at the final path, and the rename
    * loser just deletes its staging copy and reads the winner's.
    * Sibling dirs from EARLIER testdata generations (same kind+user
    * prefix, different fingerprint) are best-effort swept, so the root
    * stops accumulating one artifact tree per regeneration. */
  def ensureArtifact(kind: String, srcFp: String)
      (loaded: String => Boolean)(build: String => Unit): String = {
    val user = System.getProperty("user.name")
    val prefix = s"graft_${kind}_${user}_"
    val root = new Path(artifactRoot)
    val fs = root.getFileSystem(hadoopConf)
    val finalPath = new Path(root, s"$prefix$srcFp")
    // scheme-less roots (the /tmp default) hand callers plain paths so
    // java.io.File probes keep working; a URI root (s3a://, hdfs://)
    // must KEEP its scheme or loaded()/build() would resolve against
    // the wrong (default) filesystem
    def external(p: Path): String =
      if (root.toUri.getScheme == null)
        Path.getPathWithoutSchemeAndAuthority(p).toString
      else p.toString
    val finalDir = external(finalPath)
    if (!loaded(finalDir)) {
      // sweep stale generations (same kind+user, other fingerprint)
      try fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) && n != s"$prefix$srcFp")
          try { fs.delete(st.getPath, true); () } catch { case _: Throwable => () }
      } catch { case _: Throwable => () }
      val staging = new Path(root,
        s".$prefix${srcFp}_stage_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      try build(external(staging))
      catch { case e: Throwable =>
        // a failed build must not leak its half-written staging dir
        try { fs.delete(staging, true); () } catch { case _: Throwable => () }
        throw e
      }
      // rename-as-commit. Hadoop rename into an EXISTING directory
      // does not fail like NIO ATOMIC_MOVE: it moves the source
      // INSIDE the destination (or copy-falls-back on the local FS),
      // so a pre-check decides the race and a post-check repairs the
      // narrow window where a concurrent winner lands between the two
      // (the nested leftover is deleted; the winner's artifact is the
      // one both readers see either way).
      val won =
        if (fs.exists(finalPath)) false
        else (try fs.rename(staging, finalPath) catch { case _: Throwable => false })
      if (won) {
        val nested = new Path(finalPath, staging.getName)
        if (fs.exists(nested)) {
          try { fs.delete(nested, true); () } catch { case _: Throwable => () }
        }
      } else {
        try { fs.delete(staging, true); () } catch { case _: Throwable => () }
        require(fs.exists(finalPath),
          s"artifact commit failed and no concurrent winner exists at $finalPath")
      }
    }
    finalDir
  }

  // ---- shared artifact lifecycle: meta, freshness, append audit ----

  /** md5 over the sorted (relative path, length, mtime) of every
    * non-hidden file under the index dir — changes on any append,
    * overwrite or swap; ignores artifact/machinery paths themselves
    * (underscore-prefixed), so building artifacts does not invalidate
    * the fingerprint they record. */
  def dataFingerprint(spark: SparkSession, indexPath: String): String = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BEFORE stripping: listStatus returns scheme-qualified
    // child paths, so stripping the raw input string would be a no-op
    // and the fingerprint would embed absolute addresses — the same
    // directory addressed two ways ("/idx" vs "file:///idx") would
    // then mismatch forever and silently disable analyze-once
    val root = fs.makeQualified(new Path(indexPath))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else lines += s"${st.getPath.toString.stripPrefix(root.toString)}:${st.getLen}:${st.getModificationTime}"
        }
      }
    walk(root)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  // ---- request-path reads: schema inferred once per fingerprint ----

  /** Per-session bound on remembered schemas: past it the least
    * recently read (path, format) is forgotten and infers again. */
  private val SchemaCacheCap = 256

  /** A remembered schema and what a hit must match besides its key:
    * the directory's fingerprint and the session's confs at inference
    * time (a conf such as `spark.sql.parquet.binaryAsString` changes
    * what the same files infer to). */
  private final case class InferredSchema(
      fingerprint: String, confs: Map[String, String], schema: StructType)

  /** session -> (fs-qualified path, format) -> schema; weak on the
    * session, so a dropped session's entries go with it. */
  private val inferredSchemas = new java.util.WeakHashMap[
    SparkSession, java.util.LinkedHashMap[(String, String), InferredSchema]]()

  private def schemasOf(
      spark: SparkSession): java.util.LinkedHashMap[(String, String), InferredSchema] =
    inferredSchemas.synchronized {
      var m = inferredSchemas.get(spark)
      if (m == null) {
        m = new java.util.LinkedHashMap[(String, String), InferredSchema](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(String, String), InferredSchema]): Boolean =
            size() > SchemaCacheCap
        }
        inferredSchemas.put(spark, m)
      }
      m
    }

  /** `spark.read.format(format).load(path)` for the request path, with
    * the directory's `dataFingerprint` alongside (None for a glob or a
    * path the walk cannot list — those read exactly as before, so a
    * missing index raises the read's own error).
    *
    * Schema inference launches a Spark job (parquet reads a footer);
    * the schema is remembered per (session, fs-qualified path, format)
    * with the fingerprint and session confs it was inferred under, and
    * a read with all three unchanged passes it to
    * `spark.read.schema(..)`, which launches none. Only the schema is
    * reused: Spark still lists the files on every read, so a hit
    * never addresses deleted files, and any append, overwrite or swap
    * changes the fingerprint — the same trust contract as artifact
    * freshness. */
  def readFingerprinted(
      spark: SparkSession, path: String, format: String = "parquet"): (DataFrame, Option[String]) = {
    val fp =
      if (path.exists("*?[]{}\\".contains(_))) None
      else try Some(dataFingerprint(spark, path)) catch { case _: java.io.IOException => None }
    fp match {
      case None => (spark.read.format(format).load(path), None)
      case Some(f) =>
        val p = new Path(path)
        val key = (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(p).toString, format)
        val confs = spark.conf.getAll
        val schemas = schemasOf(spark)
        val hit = schemas.synchronized(Option(schemas.get(key)))
          .filter(e => e.fingerprint == f && e.confs == confs)
        val df = hit match {
          case Some(e) => spark.read.schema(e.schema).format(format).load(path)
          case None =>
            val inferred = spark.read.format(format).load(path)
            schemas.synchronized(schemas.put(key, InferredSchema(f, confs, inferred.schema)))
            inferred
        }
        (df, fp)
    }
  }

  /** [[readFingerprinted]] without the fingerprint. */
  def read(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    readFingerprinted(spark, path, format)._1

  private def metaPath(dir: String): Path = new Path(s"$dir/_graft_meta.json")

  /** Stamp an artifact dir with the live-data fingerprint — its commit
    * point, written LAST by every build and refresh. `fields` follow
    * the fingerprint in order: strings print quoted and unescaped,
    * doubles with one decimal, everything else as-is. The layout is
    * byte-stable, so artifacts already on disk keep loading. */
  private def writeMeta(
      spark: SparkSession, indexPath: String, dir: String, fields: (String, Any)*): Unit = {
    val json = (("fingerprint" -> dataFingerprint(spark, indexPath)) +: fields)
      .map { case (k, v) =>
        val value = v match {
          case s: String => "\"" + s + "\""
          case d: Double => String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
          case other => other.toString
        }
        s""""$k":$value"""
      }.mkString("{", ",", "}")
    val path = metaPath(dir)
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** The parsed meta JSON of an artifact dir, or None when absent. */
  private def readMeta(spark: SparkSession, dir: String): Option[JValue] = {
    val path = metaPath(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val in = fs.open(path)
    try Some(org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString))
    finally in.close()
  }

  private def metaStr(meta: JValue, field: String): Option[String] =
    meta \ field match { case JString(s) => Some(s); case _ => None }

  private def metaInt(meta: JValue, field: String): Option[Int] =
    meta \ field match { case JInt(i) => Some(i.toInt); case _ => None }

  /** The meta of a FRESH artifact: present, its fingerprint equal to
    * the live data's (`knownFp` when the caller already computed it —
    * callers consulting several artifacts in one request skip re-
    * walking the index dir), and built on `expectIdCol` when given.
    * The artifact ids are the WRITER's graft.mapping.id values — a
    * reader joining them against a different id column would get
    * silently wrong rows, so a mismatch reads as absent. None means
    * missing or stale: callers fall back to the on-the-fly path. */
  private def freshMeta(
      spark: SparkSession, indexPath: String, dir: String,
      expectIdCol: Option[String] = None,
      knownFp: => Option[String] = None): Option[JValue] =
    readMeta(spark, dir).filter { meta =>
      (metaStr(meta, "fingerprint"), metaStr(meta, "id_col")) match {
        case (Some(fp), Some(idc)) =>
          fp == knownFp.getOrElse(dataFingerprint(spark, indexPath)) &&
            expectIdCol.forall(_ == idc)
        case _ => false
      }
    }

  /** Data rows whose id is absent from an artifact's stored `id`
    * column — the increment a refresh adds. The stored ids rename
    * before the join: an index whose own id column is literally "id"
    * would otherwise make the condition ambiguous. */
  private def unindexed(data: DataFrame, idCol: String, stored: DataFrame): DataFrame =
    data.join(stored.select(col("id").as("__known_id")),
      col(idCol) === col("__known_id"), "left_anti")

  /** The append audit every incremental refresh runs before appending
    * `fresh`: the anti-join SILENTLY drops an appended row whose id
    * collides with a stored one (absent from the artifact behind a
    * fresh meta stamp) and KEEPS null-id rows (null never equals). The
    * batch must be non-null, internally distinct (unless `distinct` is
    * false — the analysis artifact records duplicates in its ids_clean
    * flag instead), and account for every data row not already stored
    * (`data.count() == stored + n`). One aggregation, with `extra`
    * columns riding along; the counts run only once the batch checks
    * pass. Some(row of n, n_nonnull, n_distinct, extra...) when the
    * append is safe, None when the caller must rebuild. */
  private def auditAppend(
      fresh: DataFrame, id: Column, data: DataFrame, stored: => Long,
      distinct: Boolean = true, extra: Seq[Column] = Nil): Option[Row] = {
    val audit = fresh.agg(count(lit(1)), count(id) +: countDistinct(id) +: extra: _*).head()
    val n = audit.getLong(0)
    if (n == audit.getLong(1) && (!distinct || n == audit.getLong(2)) &&
        data.count() == stored + n) Some(audit)
    else None
  }

  /** The index's rows with a non-null vector — what every vector
    * artifact packs and every exact rescore reads. */
  def liveVectors(
      spark: SparkSession, indexPath: String, vecCol: String, fmt: String): DataFrame =
    spark.read.format(fmt).load(indexPath).where(col(vecCol).isNotNull)

  // ---- analysis (BM25 postings) ------------------------------------

  val AnalysisDirName = "_graft_analysis"

  def analysisDir(indexPath: String, textCol: String): String =
    s"$indexPath/$AnalysisDirName/$textCol"

  /** Build (or rebuild) the analysis artifacts for one text column.
    * One corpus tokenize; postings land range-partitioned + sorted by
    * term for query-time row-group pruning, and the meta is written
    * last as the commit point. A rebuild starts from an empty dir,
    * deleting the meta first: a crash mid-delete leaves no commit
    * point, and no table an earlier layout wrote survives. */
  def buildAnalysis(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      textCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = analysisDir(indexPath, textCol)
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaPath(dir), false)
    fs.delete(new Path(dir), true)
    val docs = spark.read.format(fmt).load(indexPath)
    // pinned for the build: postings, doclen and the audit are three
    // actions over the tokenized frame — unpinned, each would re-scan
    // and re-tokenize the corpus (at cluster scale prefer
    // checkpointing the projected frame if it outgrows storage)
    val toks = docs.select(
      col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      postingsOf(toks).write.mode("overwrite").parquet(s"$dir/postings")
      // per-doc lengths, every doc: the known-id set an incremental
      // append anti-joins against
      toks.select(col("id"), col("dl"))
        .write.mode("overwrite").parquet(s"$dir/doclen")
      // the meta's corpus stats match what bm25ComponentsFromToks
      // computes on the fly: n_docs counts EVERY doc (null text incl),
      // avgdl = dl_sum / n_dl is avg(dl). The id-cleanliness audit
      // rides along: the filter-context postings SEMI-JOIN rewrite is
      // row-set-equal to the predicate path only when ids are unique
      // and non-null (a null id never joins; a duplicated id
      // over-matches its sibling rows) — score paths tolerate both
      val audit = toks.agg(
        count(lit(1)).as("n"),
        count(col("id")).as("n_nonnull"),
        countDistinct(col("id")).as("n_distinct"),
        count(col("dl")).as("n_dl"),
        sum(col("dl")).as("dl_sum")).head()
      val idsClean = !audit.isNullAt(0) &&
        audit.getLong(0) == audit.getLong(1) &&
        audit.getLong(0) == audit.getLong(2)
      writeAnalysisMeta(spark, indexPath, dir, idCol, textCol, idsClean,
        audit.getLong(0), audit.getLong(3),
        if (audit.isNullAt(4)) 0.0 else audit.getDouble(4))
    } finally toks.unpersist(false)
  }

  /** (term, id, dl, tf) postings of a tokenized (id, toks, dl) frame,
    * one row per (term, id, dl) group, range-partitioned and sorted by
    * term: every segment, base build or append, keeps the row-group
    * pruning a `term IN (...)` read relies on (the Lucene segment
    * analogy). */
  private def postingsOf(toks: DataFrame): DataFrame =
    toks
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))

  /** dl values are integer token counts, so the double sums here are
    * EXACT below 2^53 total tokens — the merged avgdl an append
    * produces is bit-equal to a full rebuild's avg(). */
  private def writeAnalysisMeta(
      spark: SparkSession, indexPath: String, dir: String,
      idCol: String, textCol: String, idsClean: Boolean,
      nDocs: Long, nDl: Long, dlSum: Double): Unit =
    writeMeta(spark, indexPath, dir, "id_col" -> idCol, "text_col" -> textCol,
      "ids_clean" -> idsClean, "n_docs" -> nDocs, "n_dl" -> nDl, "dl_sum" -> dlSum)

  /** Incremental analysis append — the daily-ingest shape for the BM25
    * artifact (an ES index analyzes only the new documents; a full
    * rebuild per append would pay the whole-corpus tokenize ES never
    * pays). Trust contract: index mutations flow through
    * Connector.save (the same contract an ES index has with its API) —
    * an out-of-band file replacement that preserves ids and row count
    * is indistinguishable from "nothing changed" here; any mutation
    * that changes counts or ids is caught by the append audit and
    * rebuilt. Only docs absent from the stored doclen table tokenize;
    * their postings/doclen rows append and the meta's corpus scalars
    * merge EXACTLY (integer-valued doubles). Falls back to a full
    * `buildAnalysis` when the increment cannot be proven safe: an
    * appended id that already exists would leave its new row invisible
    * to the postings (silently wrong scores), null ids cannot be
    * anti-joined away on the next refresh, and a meta without the
    * merge scalars has nothing to merge into. */
  def refreshAnalysis(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      textCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = analysisDir(indexPath, textCol)
    val merge = readMeta(spark, dir).flatMap { m =>
      (m \ "id_col", analysisScalars(m)) match {
        case (JString(idc), Some(s)) if idc == idCol => Some(s)
        case _ => None
      }
    }
    if (merge.isEmpty) return buildAnalysis(spark, indexPath, idCol, textCol, fmt)
    val AnalysisScalars(oldClean, oldNDocs, oldNDl, oldDlSum) = merge.get

    val data = spark.read.format(fmt).load(indexPath)
    val toks = unindexed(data, idCol, spark.read.parquet(s"$dir/doclen")).select(
      col(idCol).as("id"), Analyzer.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // coverage counts against the stored n_docs; duplicate fresh ids
      // only clear ids_clean below
      val audit = auditAppend(toks, col("id"), data, oldNDocs, distinct = false,
        extra = Seq(count(col("dl")), sum(col("dl")))) match {
        case Some(a) => a
        case None =>
          toks.unpersist(false)
          return buildAnalysis(spark, indexPath, idCol, textCol, fmt)
      }
      val nFresh = audit.getLong(0)
      if (nFresh > 0) {
        postingsOf(toks).write.mode("append").parquet(s"$dir/postings")
        // doclen appends LAST: `toks` anti-joins doclen, so the write
        // re-caches it by path, and nothing reads `toks` afterwards
        toks.select(col("id"), col("dl")).write.mode("append").parquet(s"$dir/doclen")
      }
      // merged cleanliness: no cross overlap (audited), fresh batch
      // internally distinct, old batch was clean
      writeAnalysisMeta(spark, indexPath, dir, idCol, textCol,
        oldClean && nFresh == audit.getLong(2),
        oldNDocs + nFresh, oldNDl + audit.getLong(3),
        oldDlSum + (if (audit.isNullAt(4)) 0.0 else audit.getDouble(4)))
    } finally toks.unpersist(false)
  }

  /** The analysis meta's ids_clean flag and corpus scalars (n_docs,
    * n_dl, dl_sum); None when the meta lacks any of them. */
  private final case class AnalysisScalars(
      idsClean: Boolean, nDocs: Long, nDl: Long, dlSum: Double)

  private def analysisScalars(meta: JValue): Option[AnalysisScalars] =
    (meta \ "ids_clean", meta \ "n_docs", meta \ "n_dl", meta \ "dl_sum") match {
      case (JBool(clean), JInt(nd), JInt(ndl), JDouble(ds)) =>
        Some(AnalysisScalars(clean, nd.toLong, ndl.toLong, ds))
      case _ => None
    }

  /** A fresh analysis artifact: the postings table, the corpus
    * statistics BM25 reads (n_docs, and avgdl = dl_sum / n_dl, bit-
    * equal to avg(dl) over the docs), and whether the build audited
    * the ids unique and non-null — the filter-context semi-join
    * rewrite needs that, scoring does not. */
  final case class Analysis(postings: DataFrame, nDocs: Double, avgdl: Double, idsClean: Boolean)

  /** Load the analysis artifact if present AND fresh; None means
    * missing, stale, or a meta without the corpus scalars — callers
    * fall back to on-the-fly analysis, which scores bit-equal. */
  def loadAnalysis(
      spark: SparkSession,
      indexPath: String,
      textCol: String,
      expectIdCol: Option[String] = None,
      knownFp: => Option[String] = None): Option[Analysis] = {
    val dir = analysisDir(indexPath, textCol)
    freshMeta(spark, indexPath, dir, expectIdCol, knownFp).flatMap(analysisScalars).map { s =>
      Analysis(read(spark, s"$dir/postings"), s.nDocs.toDouble,
        s.dlSum / s.nDl.toDouble, s.idsClean)
    }
  }

  // ---- persisted near-dup dedup artifact (MinHash/LSH) -------------

  val MinhashDirName = "_graft_minhash"

  def minhashDir(indexPath: String, textCol: String): String =
    s"$indexPath/$MinhashDirName/$textCol"

  /** Build the dedup-once artifact: per-doc shingle sets and LSH band
    * keys persisted beside the index, so deduping every future crawl
    * against this corpus never re-tokenizes or re-minhashes it
    * (Dedup.minhashLshCrossIndexed). The shingle table is the exact
    * verify's price — corpus-token-scale on disk, the same trade a
    * Lucene index makes storing positions; the band table is 8 short
    * strings per doc. Both land sorted for locality; the meta records
    * (numHashes, bands) because band keys from a DIFFERENT banding
    * would join garbage — loads param-check before trusting them. */
  def buildMinhash(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      fmt: String = "parquet"): Unit = {
    val dir = minhashDir(indexPath, textCol)
    val docs = spark.read.format(fmt).load(indexPath)
    val (sh, banded) =
      graft.dedup.Dedup.minhashArtifactFrames(docs, idCol, textCol, numHashes, bands)
    try {
      sh.write.mode("overwrite").parquet(s"$dir/shingles")
      banded.repartitionByRange(col("band")).sortWithinPartitions(col("band"))
        .write.mode("overwrite").parquet(s"$dir/bands")
    } finally sh.unpersist(false)
    writeMinhashMeta(spark, indexPath, dir, idCol, textCol, numHashes, bands)
  }

  /** Incremental add (the daily-ingest shape): shingle+band ONLY the
    * docs absent from the stored artifact, append, re-stamp. Banding
    * params come from the stored meta — an append can't change them.
    * The append audit guards minhashLshCrossIndexed's "answer-equal
    * to the on-the-fly screen by construction" contract. Old
    * EMPTY-SHINGLE docs are never stored (both build paths filter
    * size(sh)>0), so they legitimately reappear in the increment each
    * refresh and are filtered again — the coverage identity counts
    * them on the fresh side, consistently. */
  def refreshMinhash(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      textCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = minhashDir(indexPath, textCol)
    val (numHashes, bands) = readMeta(spark, dir)
      .flatMap(m => for {
        idc <- metaStr(m, "id_col"); nh <- metaInt(m, "num_hashes"); nb <- metaInt(m, "bands")
      } yield {
        require(idc == idCol,
          s"minhash artifact was built on id '$idc', refresh asked for '$idCol'")
        (nh, nb)
      })
      .getOrElse(sys.error(s"refreshMinhash: no artifact meta under $dir"))
    val known = spark.read.parquet(s"$dir/shingles")
    val data = spark.read.format(fmt).load(indexPath)
    val fresh = unindexed(data, idCol, known)
    auditAppend(fresh, col(idCol), data, known.count()) match {
      case None => buildMinhash(spark, indexPath, idCol, textCol, numHashes, bands, fmt)
      case Some(audit) =>
        if (audit.getLong(0) > 0) {
          // the Cut variant checkpoints: this method writes into the
          // very path the anti-join reads, and a lineage-carrying frame
          // would be recomputed (empty) by recacheByPath after the
          // first write
          val (sh, banded) =
            graft.dedup.Dedup.minhashArtifactFramesCut(fresh, idCol, textCol, numHashes, bands)
          try {
            sh.write.mode("append").parquet(s"$dir/shingles")
            banded.write.mode("append").parquet(s"$dir/bands")
          } finally sh.unpersist(false)
        }
        writeMinhashMeta(spark, indexPath, dir, idCol, textCol, numHashes, bands)
    }
  }

  private def writeMinhashMeta(
      spark: SparkSession, indexPath: String, dir: String, idCol: String, textCol: String,
      numHashes: Int, bands: Int): Unit =
    writeMeta(spark, indexPath, dir, "id_col" -> idCol, "text_col" -> textCol,
      "num_hashes" -> numHashes, "bands" -> bands)

  /** Fresh (shingles, bands) frames, or None when missing, stale, or
    * built under different (idCol, numHashes, bands). */
  def loadMinhash(
      spark: SparkSession,
      indexPath: String,
      textCol: String,
      expectIdCol: Option[String] = None,
      numHashes: Int = 32,
      bands: Int = 8): Option[(DataFrame, DataFrame)] = {
    val dir = minhashDir(indexPath, textCol)
    freshMeta(spark, indexPath, dir, expectIdCol)
      .filter(m => metaInt(m, "num_hashes").contains(numHashes) &&
        metaInt(m, "bands").contains(bands))
      .map(_ => (read(spark, s"$dir/shingles"), read(spark, s"$dir/bands")))
  }

  // ---- persisted vector index (IVF) --------------------------------

  val VectorsDirName = "_graft_vectors"

  def vectorsDir(indexPath: String, vecCol: String): String =
    s"$indexPath/$VectorsDirName/$vecCol"

  /** Build the IVF vector-index artifact: persist the coarse
    * quantizer's centroids and the per-doc inverted-list assignments.
    * `cents` is any (cent_id, cv) frame — Ann.seedCentroids for the
    * deterministic default, Ann.kmeansCentroids for the fitted
    * quantizer. The assignment pass (the corpus-sized cost) runs ONCE
    * here; queries pay only probe+rank (Ann.ivfTopKIndexed). */
  def buildIvf(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      fmt: String = "parquet"): Unit = {
    val dir = vectorsDir(indexPath, vecCol)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    val stored = spark.read.parquet(s"$dir/centroids")
    val corpus = spark.read.format(fmt).load(indexPath)
    graft.sim.Ann.assignToCentroids(corpus, idCol, vecCol, stored)
      // cluster the lists on disk: a probe of one list reads
      // contiguous files instead of scattering over the corpus order
      .repartitionByRange(col("cent_id"))
      .sortWithinPartitions(col("cent_id"))
      .write.mode("overwrite").parquet(s"$dir/assignments")
    writeVectorsMeta(spark, indexPath, vecCol, idCol)
  }

  /** IVF list-balance report over the persisted assignments: one row
    * per centroid list with its population, plus min/max/avg and the
    * imbalance factor (max/avg) in every row for one-glance reads.
    * The number that matters at scale: probe cost is proportional to
    * the PROBED lists' sizes, so a skewed quantizer (imbalance >> 1,
    * the seed-centroid trade-off kmeansCentroids exists to fix) makes
    * hot queries pay far over nprobe/nCentroids of the corpus.
    * Returns None when no fresh IVF artifact exists. */
  def ivfListStats(
      spark: SparkSession,
      indexPath: String,
      vecCol: String): Option[DataFrame] =
    loadIvf(spark, indexPath, vecCol).map { case (cents, assignments) =>
      val n = cents.count()
      val counts = assignments.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("list_size"))
      // empty lists (a centroid no vector chose) must appear as 0
      val full = cents.select(col("cent_id"))
        .join(counts, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("list_size"), lit(0L)).as("list_size"))
      val agg = full.agg(
        min(col("list_size")).as("mn"), max(col("list_size")).as("mx"),
        avg(col("list_size")).as("av")).head()
      full.withColumn("n_lists", lit(n))
        .withColumn("min_size", lit(agg.getLong(0)))
        .withColumn("max_size", lit(agg.getLong(1)))
        .withColumn("imbalance",
          lit(graft.util.Num.roundDouble(
            if (agg.getDouble(2) == 0.0) 0.0 else agg.getLong(1) / agg.getDouble(2), 4)))
        .orderBy(col("cent_id"))
    }

  /** Incremental add — the daily-ingest shape: route ONLY documents
    * absent from the stored assignments to the EXISTING centroid
    * lists, append, and re-stamp the fingerprint. The quantizer never
    * refits, so ingest cost is proportional to the new documents, not
    * the corpus. */
  def refreshIvf(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = vectorsDir(indexPath, vecCol)
    val cents = spark.read.parquet(s"$dir/centroids")
    val known = spark.read.parquet(s"$dir/assignments")
    val data = spark.read.format(fmt).load(indexPath)
    val fresh = unindexed(data, idCol, known)
    auditAppend(fresh, col(idCol), data, known.count()) match {
      case None =>
        // checkpoint the centroid frame first: buildIvf OVERWRITES the
        // very path this frame's lineage reads
        buildIvf(spark, indexPath, idCol, vecCol, graft.util.Stages.truncate(cents), fmt)
      case Some(audit) =>
        if (audit.getLong(0) > 0)
          graft.sim.Ann.assignToCentroids(fresh, idCol, vecCol, cents)
            .write.mode("append").parquet(s"$dir/assignments")
        writeVectorsMeta(spark, indexPath, vecCol, idCol)
    }
  }

  /** Stamp a vector-artifact dir (IVF lists, HNSW graphs) with the
    * live-data fingerprint — the artifact's commit point. */
  def writeVectorsMeta(
      spark: SparkSession, indexPath: String, vecKey: String, idCol: String): Unit =
    writeMeta(spark, indexPath, vectorsDir(indexPath, vecKey),
      "id_col" -> idCol, "vec_col" -> vecKey)

  /** Freshness check alone (for artifacts whose payload loads inside
    * tasks rather than as frames, e.g. the HNSW graph table). */
  def vectorsMetaFresh(
      spark: SparkSession, indexPath: String, vecKey: String,
      expectIdCol: Option[String] = None): Boolean =
    freshMeta(spark, indexPath, vectorsDir(indexPath, vecKey), expectIdCol).isDefined

  /** Fresh (centroids, assignments) or None. */
  def loadIvf(
      spark: SparkSession,
      indexPath: String,
      vecCol: String,
      expectIdCol: Option[String] = None): Option[(DataFrame, DataFrame)] = {
    val dir = vectorsDir(indexPath, vecCol)
    freshMeta(spark, indexPath, dir, expectIdCol).map(_ => (
      read(spark, s"$dir/centroids"), read(spark, s"$dir/assignments")))
  }

  // ---- persisted packed vectors (PackedCodec: int4, int8, BBQ) -----

  def packedDir(codec: PackedCodec, indexPath: String, vecCol: String): String =
    s"$indexPath/${codec.dirName}/$vecCol"

  /** Pack-once artifact for a codec's quantized scan: one (id,
    * packed...) table beside the index, the storage ES builds at
    * segment-write time. Queries read ONLY this table for the coarse
    * pass (Ann.packedTopKIndexed); the oversampled exact rescore
    * touches the float vectors for O(k·oversample) rows via a
    * broadcast semi-join. */
  def buildPacked(
      spark: SparkSession,
      codec: PackedCodec,
      indexPath: String,
      idCol: String,
      vecCol: String,
      fmt: String = "parquet"): Unit = {
    val corpus = spark.read.format(fmt).load(indexPath)
    // the dimension probe (BBQ only) skips empty arrays: an empty
    // vector must not define the packed layout
    codec.pack(corpus, idCol, vecCol, corpus.select(size(col(vecCol)).as("d"))
        .where(col("d") > 0).limit(1).head().getInt(0))
      .write.mode("overwrite").parquet(s"${packedDir(codec, indexPath, vecCol)}/packed")
    writePackedMeta(spark, codec, indexPath, idCol, vecCol)
  }

  /** Incremental add: pack ONLY the docs absent from the stored table,
    * after the shared append audit over the packable (non-null-vector)
    * subset — pack drops null-vector rows, so counting them would fail
    * the coverage identity on every legitimate append and silently
    * degrade refresh to full rebuilds. A dimension-bound codec also
    * rebuilds when the appended dimension differs from the built one
    * (or either side has no probe-able dimension): a drift would
    * append bit layouts inconsistent with the stored rows. */
  def refreshPacked(
      spark: SparkSession,
      codec: PackedCodec,
      indexPath: String,
      idCol: String,
      vecCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = packedDir(codec, indexPath, vecCol)
    val known = spark.read.parquet(s"$dir/packed")
    val data = liveVectors(spark, indexPath, vecCol, fmt)
    val fresh = unindexed(data, idCol, known)
    def rebuild(): Unit = buildPacked(spark, codec, indexPath, idCol, vecCol, fmt)
    auditAppend(fresh, col(idCol), data, known.count()) match {
      case None => rebuild()
      case Some(audit) =>
        if (audit.getLong(0) > 0) {
          def dims(df: DataFrame): DataFrame =
            df.select(size(col(vecCol)).as("d")).where(col("d") > 0)
          lazy val builtDim = dims(data.join(known.select(col("id").as("__known_id")),
            col(idCol) === col("__known_id"), "semi"))
            .limit(1).collect().headOption.map(_.getInt(0))
          if (codec.dimBound) {
            val freshDims = dims(fresh).distinct().limit(2).collect().map(_.getInt(0))
            if (freshDims.length != 1 || !builtDim.contains(freshDims.head)) return rebuild()
          }
          codec.pack(fresh, idCol, vecCol, builtDim.get)
            .write.mode("append").parquet(s"$dir/packed")
        }
        writePackedMeta(spark, codec, indexPath, idCol, vecCol)
    }
  }

  private def writePackedMeta(
      spark: SparkSession, codec: PackedCodec, indexPath: String,
      idCol: String, vecCol: String): Unit =
    writeMeta(spark, indexPath, packedDir(codec, indexPath, vecCol),
      "id_col" -> idCol, "vec_col" -> vecCol)

  /** Fresh packed frame (the codec's `pack` schema) or None. */
  def loadPacked(
      spark: SparkSession,
      codec: PackedCodec,
      indexPath: String,
      vecCol: String,
      expectIdCol: Option[String] = None): Option[DataFrame] = {
    val dir = packedDir(codec, indexPath, vecCol)
    freshMeta(spark, indexPath, dir, expectIdCol).map(_ => read(spark, s"$dir/packed"))
  }

  // ---- persisted product-quantization codes (PQ) -------------------

  val PqDirName = "_graft_pq"

  def pqDir(indexPath: String, vecCol: String): String =
    s"$indexPath/$PqDirName/$vecCol"

  /** Pack-once PQ artifact: m code bytes per doc (the 128x storage
    * point) plus the FROZEN codebook — exactly an ES segment's
    * quantizer: trained/sampled at write time, appended rows encode
    * under it unchanged. The coarse ADC pass reads only the codes
    * table; the per-query LUT derives from the stored codebook. */
  def buildPq(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      fmt: String = "parquet",
      fit: String = "sample",
      fitSampleN: Int = 65536,
      fitIters: Int = 5): Unit = {
    val dir = pqDir(indexPath, vecCol)
    val corpus = spark.read.format(fmt).load(indexPath)
    // `sample` = the deterministic first-k-by-id codebook — the same
    // rule the on-the-fly pqTopK uses, so artifact and per-query
    // paths are answer-equal while the first-k id set is unchanged
    // (and the DuckDB oracle can rebuild it). `lloyd` = k-means-
    // refined codebooks over the id-ordered sample (pqFitCodebooks) —
    // the production recall point; queries are unchanged (the LUT
    // derives from whatever codebook is STORED), only answer-equality
    // with the on-the-fly sample form is traded away.
    // `lloyd-dist` = the distributed unbiased fit (hash-ordered random
    // sample, one Spark job per iteration — pqFitCodebooksDist): the
    // production path at corpus scale, where the driver-side sample
    // both caps and biases the codebook.
    val cb = fit match {
      case "sample" => graft.sim.Ann.pqSampleCodebooks(corpus, idCol, vecCol, m, k)
      case "lloyd" => graft.sim.Ann.pqFitCodebooks(corpus, idCol, vecCol, m, k)
      case "lloyd-dist" => graft.sim.Ann.pqFitCodebooksDist(
        corpus, idCol, vecCol, m, k, iters = fitIters, sampleN = fitSampleN)
      case other => throw new IllegalArgumentException(
        s"unknown graft.index.pq.fit: $other (sample | lloyd | lloyd-dist)")
    }
    import spark.implicits._
    Seq(cb.toSeq).toDF("cb").write.mode("overwrite").parquet(s"$dir/codebook")
    graft.sim.Ann.pqEncodeFrame(corpus, idCol, vecCol, cb, m, k)
      .write.mode("overwrite").parquet(s"$dir/codes")
    writeMeta(spark, indexPath, dir, "id_col" -> idCol, "vec_col" -> vecCol,
      "m" -> m, "k" -> k, "fit" -> fit, "fit_sample_n" -> fitSampleN, "fit_iters" -> fitIters)
  }

  /** Incremental add under the FROZEN codebook, with the shared append
    * audit on the packable (non-null-vector) subset. A rebuild re-fits
    * the SAME way the artifact was built, with the recorded fit
    * hyperparams — a lloyd artifact silently rebuilt as sample would
    * degrade recall behind a fresh meta stamp. */
  def refreshPq(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      vecCol: String,
      fmt: String = "parquet"): Unit = {
    val dir = pqDir(indexPath, vecCol)
    val (meta, (m, k), cb) = readMeta(spark, dir)
      .flatMap(meta => pqCodebook(spark, dir, meta).map { case (mk, cb) => (meta, mk, cb) })
      .getOrElse(sys.error(s"refreshPq without a built artifact at $dir"))
    val fit = metaStr(meta, "fit").getOrElse("sample")
    val fitSampleN = metaInt(meta, "fit_sample_n").getOrElse(65536)
    val fitIters = metaInt(meta, "fit_iters").getOrElse(5)
    val known = spark.read.parquet(s"$dir/codes")
    val data = liveVectors(spark, indexPath, vecCol, fmt)
    val fresh = unindexed(data, idCol, known)
    auditAppend(fresh, col(idCol), data, known.count()) match {
      case None =>
        buildPq(spark, indexPath, idCol, vecCol, m, k, fmt, fit, fitSampleN, fitIters)
      case Some(audit) =>
        if (audit.getLong(0) > 0)
          graft.sim.Ann.pqEncodeFrame(fresh, idCol, vecCol, cb, m, k)
            .write.mode("append").parquet(s"$dir/codes")
        writeMeta(spark, indexPath, dir, "id_col" -> idCol, "vec_col" -> vecCol,
          "m" -> m, "k" -> k, "fit" -> fit, "fit_sample_n" -> fitSampleN,
          "fit_iters" -> fitIters)
    }
  }

  /** ((m, k), flat codebook) of a PQ artifact whose meta is `meta`. */
  private def pqCodebook(
      spark: SparkSession, dir: String, meta: JValue): Option[((Int, Int), Array[Double])] =
    for (m <- metaInt(meta, "m"); k <- metaInt(meta, "k")) yield
      ((m, k), read(spark, s"$dir/codebook").head().getSeq[Double](0).toArray)

  /** Fresh ((m, k), codebook, codes frame) or None. */
  def loadPq(
      spark: SparkSession,
      indexPath: String,
      vecCol: String,
      expectIdCol: Option[String] = None): Option[((Int, Int), Array[Double], DataFrame)] = {
    val dir = pqDir(indexPath, vecCol)
    freshMeta(spark, indexPath, dir, expectIdCol)
      .flatMap(meta => pqCodebook(spark, dir, meta))
      .map { case (mk, cb) => (mk, cb, read(spark, s"$dir/codes")) }
  }
}

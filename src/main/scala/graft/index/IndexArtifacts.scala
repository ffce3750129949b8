package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.{JInt, JString, JValue}

/** Persisted index artifacts — the Spark-native analog of what an ES
  * server amortizes across queries by maintaining a Lucene index
  * (elasticsearch-hadoop delegates all of this to the server; graft
  * re-expresses it as columnar side tables beside the index
  * directory). `ArtifactKind.all` lists the kinds; every kind takes the
  * one lifecycle in `maintain`, and `load` reads a fresh artifact back.
  *
  * Layout (inside the index directory — every name is underscore-
  * prefixed, so Spark's hidden-path filter keeps artifact files out of
  * ordinary reads of the index, and the `_graft_` infix keeps the dir
  * out of pattern/cat listings like all machinery paths), e.g. BM25:
  *
  * {{{
  * <index>/_graft_analysis/<textCol>/postings/   (term, id, dl, tf) — inverted index
  * <index>/_graft_analysis/<textCol>/doclen/     (id, dl)           — every doc; an append's known ids
  * <index>/_graft_analysis/<textCol>/_graft_meta.json  fingerprint, n_docs, n_dl, dl_sum — commit point
  * }}}
  *
  * BM25 needs nothing else: a term's df is the count of its postings
  * rows (one per (term, doc)), which the query's own `term IN (...)`
  * slice holds, and n_docs / avgdl = dl_sum / n_dl come from the meta.
  *
  * Scale shape: the build pays ONE corpus tokenize + one (term,id)
  * exchange — the same work every single BM25 query pays on the fly —
  * and every subsequent query reads only the postings of ITS OWN terms:
  * postings are range-partitioned and sorted by term, so a
  * `term IN (...)` predicate prunes whole files and row groups via
  * parquet min/max stats. Query-time cost becomes proportional to the
  * matched postings, not the corpus.
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

  /** Build-once artifact directory keyed by the fingerprint of the
    * source at `srcPath`, safe against CONCURRENT builders and stale
    * generations: `loaded(finalDir)` probes for a fresh artifact; when
    * absent, `build(stagingDir)` runs into a process-unique sibling
    * path and the result is ATOMICALLY renamed into place — two
    * concurrent harness runs over the same testdata can never observe a
    * partially-written artifact at the final path, and the rename
    * loser just deletes its staging copy and reads the winner's.
    * Sibling dirs of EARLIER generations of the same source (same
    * kind, user and source, other fingerprint) are best-effort swept,
    * so the root stops accumulating one artifact tree per
    * regeneration, while artifacts of other sources (another scale's
    * testdata) stay. */
  def ensureArtifact(kind: String, srcPath: String)
      (loaded: String => Boolean)(build: String => Unit): String = {
    val prefix = artifactPrefix(kind, srcPath)
    val srcFp = dataFingerprint(SparkSession.active, srcPath).take(12)
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
      // sweep stale generations (same kind, user and source; other
      // fingerprint)
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

  /** `graft_<kind>_<user>_<short hash of the qualified source path>_`:
    * the name prefix every generation of one source's artifact shares. */
  private[graft] def artifactPrefix(kind: String, srcPath: String): String = {
    val src = new Path(srcPath)
    val qualified = src.getFileSystem(hadoopConf).makeQualified(src).toString
    s"graft_${kind}_${System.getProperty("user.name")}_${md5Hex(qualified).take(8)}_"
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---- artifact freshness: the data fingerprint ----

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
    md5Hex(lines.sorted.mkString("\n"))
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
    * point, written LAST by every build and append. The id column, the
    * source column and the kind's `fields` follow the fingerprint in
    * order: strings print quoted and unescaped, doubles with one
    * decimal, everything else as-is. The layout is byte-stable, so
    * artifacts already on disk keep loading. */
  private def commit(
      spark: SparkSession, kind: ArtifactKind, indexPath: String, dir: String,
      idCol: String, c: String, fields: Seq[(String, Any)]): Unit = {
    val json = (Seq("fingerprint" -> dataFingerprint(spark, indexPath),
        "id_col" -> idCol, kind.colField -> c) ++ fields)
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

  /** The parsed meta JSON of an artifact dir, or None when absent or
    * unreadable (a write cut short). */
  private def readMeta(spark: SparkSession, dir: String): Option[JValue] = {
    val path = metaPath(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val in = fs.open(path)
    try Some(org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString))
    catch { case scala.util.control.NonFatal(_) => None }
    finally in.close()
  }

  private[index] def metaStr(meta: JValue, field: String): Option[String] =
    meta \ field match { case JString(s) => Some(s); case _ => None }

  private[index] def metaInt(meta: JValue, field: String): Option[Int] =
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
      expectIdCol: Option[String],
      knownFp: => Option[String]): Option[JValue] =
    readMeta(spark, dir).filter { meta =>
      (metaStr(meta, "fingerprint"), metaStr(meta, "id_col")) match {
        case (Some(fp), Some(idc)) =>
          fp == knownFp.getOrElse(dataFingerprint(spark, indexPath)) &&
            expectIdCol.forall(_ == idc)
        case _ => false
      }
    }

  // ---- the artifact lifecycle: one build and append path per kind ----

  /** Bring `kind`'s artifact on column `c` in step with the index
    * data: the one write path of every artifact kind (`Connector.save`
    * calls it after the data landed or swapped, so the recorded
    * fingerprint describes the live files queries read).
    *
    * APPEND: when `append`, the kind `appends`, and the meta parses for
    * the kind and was built on `idCol`, only the docs absent from the
    * kind's `known` table encode, under the state the build froze (the
    * ES segment shape: an index analyzes only the new documents). The one
    * `auditAppend` must pass and the increment must be encodable; then
    * the meta goes, the tables append, and the merged meta is written
    * last — no table changes under a meta, so a crash mid-append leaves
    * no commit point and the next write rebuilds.
    *
    * REBUILD, every other case (not an append; a kind that does not
    * append, the HNSW graph; no meta or one that does not parse; another
    * id column; a refused audit; a drifted packed dimension): delete
    * the meta, then the dir, so a crash mid-delete leaves no commit
    * point and no table an earlier layout wrote survives; freeze the state over the whole corpus — under the
    * parameters a parsed meta recorded, else the options — encode it,
    * and write the meta last.
    *
    * Trust contract: index mutations flow through Connector.save. An
    * out-of-band file swap that keeps ids and row count reads as
    * "nothing changed"; one that changes either fails the audit. */
  def maintain(
      spark: SparkSession,
      kind: ArtifactKind,
      indexPath: String,
      idCol: String,
      c: String,
      append: Boolean,
      opts: Map[String, String] = Map.empty,
      fmt: String = "parquet"): Unit = {
    val dir = kind.dir(indexPath, c)
    val data = kind.rows(spark.read.format(fmt).load(indexPath), c)
    lazy val known = spark.read.parquet(s"$dir/${kind.known}")
    val meta = (if (append && kind.appends) readMeta(spark, dir) else None)
      .filter(metaStr(_, "id_col").contains(idCol))
    val frozen = meta.flatMap(kind.thaw(spark, dir, _, covered(kind, data, known, idCol, c)))
    val appended = frozen.exists { f =>
      val docs = kind.prepare(unindexed(data, idCol, known), idCol, c)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try auditAppend(docs, kind, data, known.count()) match {
        case Some(t) if t.getLong(0) == 0 || f.accepts(docs) =>
          deleteMeta(spark, dir)
          if (t.getLong(0) > 0)
            f.tables(docs).foreach(tb => tb.rows.write.mode("append").parquet(s"$dir/${tb.name}"))
          commit(spark, kind, indexPath, dir, idCol, c, f.fields(t))
          true
        case _ => false
      } finally docs.unpersist(false)
    }
    if (!appended)
      rebuild(spark, kind, indexPath, dir, idCol, c, data, opts, meta.filter(_ => frozen.isDefined))
  }

  private def rebuild(
      spark: SparkSession, kind: ArtifactKind, indexPath: String, dir: String,
      idCol: String, c: String, data: DataFrame,
      opts: Map[String, String], recorded: Option[JValue]): Unit = {
    deleteMeta(spark, dir).delete(new Path(dir), true)
    // pinned for the build: the fit, every table and the tally read it,
    // and each would otherwise re-scan and re-encode the corpus
    val docs = kind.prepare(kind.whole(data), idCol, c)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val f = kind.freeze(spark, dir, docs, opts, recorded)
      f.tables(docs).foreach(tb => tb.built(tb.rows).write.mode("overwrite").parquet(s"$dir/${tb.name}"))
      commit(spark, kind, indexPath, dir, idCol, c,
        f.fields(if (kind.stats.isEmpty) Row.empty else tally(docs, kind)))
    } finally docs.unpersist(false)
  }

  /** Deletes the meta; returns its filesystem. */
  private def deleteMeta(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem = {
    val fs = metaPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaPath(dir), false)
    fs
  }

  /** The prepared data rows whose id an artifact's stored `id` column
    * lists — the docs it covers. */
  private def covered(
      kind: ArtifactKind, data: DataFrame, stored: DataFrame, idCol: String, c: String): DataFrame =
    kind.prepare(data.join(stored.select(col("id").as("__known_id")),
      col(idCol) === col("__known_id"), "semi"), idCol, c)

  /** Data rows whose id is absent from an artifact's stored `id`
    * column — the increment an append encodes. The stored ids rename
    * before the join: an index whose own id column is literally "id"
    * would otherwise make the condition ambiguous. */
  private def unindexed(data: DataFrame, idCol: String, stored: DataFrame): DataFrame =
    data.join(stored.select(col("id").as("__known_id")),
      col(idCol) === col("__known_id"), "left_anti")

  /** (n, n_nonnull, n_distinct, the kind's stats...) over prepared docs. */
  private def tally(docs: DataFrame, kind: ArtifactKind): Row =
    docs.agg(count(lit(1)), count(col("id")) +: countDistinct(col("id")) +: kind.stats: _*).head()

  /** The append audit over the prepared increment `docs`: the anti-join
    * SILENTLY drops an appended row whose id collides with a stored one
    * (absent from the artifact behind a fresh meta stamp) and KEEPS
    * null-id rows (null never equals). The increment must be non-null,
    * internally distinct (unless the kind records repeated ids in its
    * meta instead), and account for every covered data row not already
    * stored (`data.count() == stored + n`). The counts run only once
    * the increment checks pass. Some(tally) when the append is safe,
    * None when the artifact must rebuild. */
  private def auditAppend(
      docs: DataFrame, kind: ArtifactKind, data: DataFrame, stored: => Long): Option[Row] = {
    val t = tally(docs, kind)
    val n = t.getLong(0)
    if (n == t.getLong(1) && (!kind.distinctIds || n == t.getLong(2)) &&
        data.count() == stored + n) Some(t)
    else None
  }

  /** The index's rows with a non-null vector — what every packed
    * artifact covers and every exact rescore reads. */
  def liveVectors(
      spark: SparkSession, indexPath: String, vecCol: String, fmt: String): DataFrame =
    read(spark, indexPath, fmt).where(col(vecCol).isNotNull)

  // ---- the artifact read path: one load per kind ----

  def analysisDir(indexPath: String, textCol: String): String =
    ArtifactKind.Analysis.dir(indexPath, textCol)

  def minhashDir(indexPath: String, textCol: String): String =
    ArtifactKind.Minhash.dir(indexPath, textCol)

  /** A fresh artifact: the state its build froze, and its tables, each
    * opened once through [[read]] on first use, so a reader that
    * consults the artifact several times in one request shares one
    * frame per table and reads no table it does not use. */
  final class Artifact[F <: FrozenArtifact] private[IndexArtifacts] (
      spark: SparkSession, dir: String, val state: F) {
    private val opened = scala.collection.mutable.Map.empty[String, DataFrame]
    def table(name: String): DataFrame =
      opened.synchronized(opened.getOrElseUpdate(name, read(spark, s"$dir/$name")))
  }

  /** `kind`'s artifact on column `c` when present and FRESH (one
    * `freshMeta` check, see there), with the state from the same
    * `thaw` an append encodes under: the analysis corpus scalars, the
    * MinHash banding, the IVF centroids, the packed dimension (probed
    * from the covered rows of the `fmt` index only when asked for), the
    * PQ fit and codebook. None means missing, stale, built on another
    * id column, or a meta that does not parse for the kind: callers
    * fall back to their on-the-fly path.
    *
    * Every artifact read goes through here, so a read-side filter that
    * applies to all kinds (tombstoned ids, say) lands once. */
  def load(
      spark: SparkSession,
      kind: ArtifactKind,
      indexPath: String,
      c: String,
      expectIdCol: Option[String] = None,
      knownFp: => Option[String] = None,
      fmt: String = "parquet"): Option[Artifact[kind.Frozen]] = {
    val dir = kind.dir(indexPath, c)
    for {
      meta <- freshMeta(spark, indexPath, dir, expectIdCol, knownFp)
      idCol <- metaStr(meta, "id_col")
      state <- kind.thaw(spark, dir, meta, covered(kind,
        kind.rows(read(spark, indexPath, fmt), c), read(spark, s"$dir/${kind.known}"), idCol, c))
    } yield new Artifact[kind.Frozen](spark, dir, state)
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
    load(spark, ArtifactKind.Ivf, indexPath, vecCol).map { a =>
      val cents = a.state.cents
      val n = cents.count()
      val counts = a.table("assignments").groupBy(col("cent_id"))
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
}

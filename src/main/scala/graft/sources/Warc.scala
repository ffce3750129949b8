package graft.sources

import java.io.{BufferedInputStream, DataOutputStream, EOFException, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC (ISO 28500 / Common Crawl) source — the canonical 100 TB
  * training-data ingestion format. A crawl ships as ~90k independent
  * ~1 GB `.warc.gz` files; the published processing unit is ONE FILE
  * PER TASK (each record is its own gzip member, so a file is not
  * block-splittable without an index), which is exactly how this
  * reader parallelizes: `binaryFiles` hands each task a STREAMING
  * handle — records parse incrementally off the stream, the file is
  * never materialized, and at 90k files the cluster saturates without
  * any splitting. The parser is the published byte format: a version
  * line, CRLF header lines to a blank line, `Content-Length` octets of
  * block, CRLF CRLF; `response` records carry an HTTP/1.1 message
  * whose status line, headers and body are parsed out.
  *
  * Writing (`saveWarc`) emits one `.warc.gz` per partition through the
  * Hadoop FileSystem API (record-per-gzip-member, the Common Crawl
  * layout), so round trips and hand-offs to non-Spark WARC consumers
  * are real bytes, not a simulation.
  */
object Warc {

  /** One parsed record. `httpStatus`/`mime`/`body` are the parsed
    * HTTP message for `response` records; other record types carry
    * status 0 and the raw block as body. */
  final case class WarcRecord(
      warc_type: String,
      record_id: String,
      target_uri: String,
      warc_date: String,
      http_status: Int,
      mime: String,
      body: Array[Byte])

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Read one CRLF-terminated line as ISO-8859-1 (WARC headers are
    * ASCII; 8859-1 keeps stray bytes lossless). Returns null at EOF
    * BEFORE any byte was read. */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    if (b < 0) throw new EOFException("WARC truncated inside a header line")
    val s = buf.toString("ISO-8859-1")
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var at = 0
    while (at < n) {
      val got = in.read(out, at, n - at)
      if (got < 0) throw new EOFException(s"WARC truncated at $at/$n block bytes")
      at += got
    }
    out
  }

  /** Parse every record off a stream. Strict: a malformed version
    * line, missing Content-Length or truncated block raises — a
    * silently skipped record would under-count a crawl. */
  def records(in: InputStream): Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var nextRec: WarcRecord = null
    private var done = false

    private def advance(): Unit = {
      if (done || nextRec != null) return
      var version = readLine(in)
      // tolerate blank separators beyond the mandated two CRLF
      while (version != null && version.isEmpty) version = readLine(in)
      if (version == null) { done = true; return }
      require(version.startsWith("WARC/"),
        s"expected a WARC version line, got '${version.take(40)}'")
      val headers = scala.collection.mutable.Map.empty[String, String]
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        require(i > 0, s"malformed WARC header line '${line.take(60)}'")
        headers(line.substring(0, i).trim.toLowerCase) = line.substring(i + 1).trim
        line = readLine(in)
      }
      require(line != null, "WARC truncated before the header/block blank line")
      val len = headers.getOrElse("content-length",
        sys.error("WARC record without Content-Length")).toInt
      val block = readFully(in, len)
      val warcType = headers.getOrElse("warc-type", "")
      val (status, mime, body) =
        if (warcType == "response" &&
            headers.getOrElse("content-type", "").startsWith("application/http"))
          parseHttp(block)
        else (0, headers.getOrElse("content-type", ""), block)
      nextRec = WarcRecord(
        warcType,
        headers.getOrElse("warc-record-id", ""),
        headers.getOrElse("warc-target-uri", ""),
        headers.getOrElse("warc-date", ""),
        status, mime, body)
    }

    override def hasNext: Boolean = { advance(); nextRec != null }
    override def next(): WarcRecord = {
      advance()
      if (nextRec == null) throw new NoSuchElementException("past last WARC record")
      val r = nextRec; nextRec = null; r
    }
  }

  /** Split an HTTP/1.1 response block into (status, content-type,
    * body): status line, headers to the first blank line, rest. */
  private[sources] def parseHttp(block: Array[Byte]): (Int, String, Array[Byte]) = {
    // find the first \r\n\r\n — header section end
    var i = 0
    var hdrEnd = -1
    while (hdrEnd < 0 && i + 3 < block.length) {
      if (block(i) == '\r' && block(i + 1) == '\n' &&
          block(i + 2) == '\r' && block(i + 3) == '\n') hdrEnd = i
      i += 1
    }
    require(hdrEnd >= 0, "HTTP message without a header/body separator")
    val head = new String(block, 0, hdrEnd, "ISO-8859-1").split("\r\n")
    val statusParts = head.head.split(" ")
    require(statusParts.length >= 2 && statusParts.head.startsWith("HTTP/"),
      s"malformed HTTP status line '${head.head.take(60)}'")
    val status = statusParts(1).toInt
    val mime = head.tail.collectFirst {
      case h if h.toLowerCase.startsWith("content-type:") =>
        h.substring(h.indexOf(':') + 1).trim
    }.getOrElse("")
    (status, mime, java.util.Arrays.copyOfRange(block, hdrEnd + 4, block.length))
  }

  /** Serialize one response record (the write side of the round
    * trip). `date` is caller-supplied — a wall-clock default would
    * break build determinism. */
  def responseRecord(
      uri: String, recordId: String, date: String,
      mime: String, body: Array[Byte]): Array[Byte] = {
    val http = new java.io.ByteArrayOutputStream(body.length + 128)
    http.write(s"HTTP/1.1 200 OK\r\nContent-Type: $mime\r\nContent-Length: ${body.length}\r\n\r\n"
      .getBytes("US-ASCII"))
    http.write(body)
    val block = http.toByteArray
    val out = new java.io.ByteArrayOutputStream(block.length + 256)
    out.write((s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: $recordId\r\n" +
      s"WARC-Date: $date\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(block)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** Serialize one `conversion` record — the WET (extracted-text)
    * sibling of `responseRecord`. Carries the published WET header
    * set: Target-URI, Refers-To (the source response record), and a
    * `text/plain` block holding the extracted text. */
  def conversionRecord(
      uri: String, recordId: String, refersTo: String, date: String,
      text: String): Array[Byte] = {
    val block = text.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(block.length + 256)
    out.write((s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: $recordId\r\n" +
      s"WARC-Date: $date\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Refers-To: $refersTo\r\n" +
      s"Content-Type: text/plain\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(block)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** The file-head `warcinfo` record every WET file leads with:
    * `application/warc-fields` block describing the conversion. */
  def warcinfoRecord(recordId: String, date: String, filename: String): Array[Byte] = {
    val fields =
      ("software: graft\r\nformat: WARC File Format 1.0\r\n" +
        "conformsTo: ISO 28500\r\n").getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(fields.length + 256)
    out.write((s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: $recordId\r\n" +
      s"WARC-Date: $date\r\nWARC-Filename: $filename\r\n" +
      s"Content-Type: application/warc-fields\r\n" +
      s"Content-Length: ${fields.length}\r\n\r\n").getBytes("US-ASCII"))
    out.write(fields)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** Streaming distributed read: one task per file (`.warc` plain or
    * `.warc.gz`; JDK GZIPInputStream natively walks the concatenated
    * per-record members Common Crawl writes). */
  def warcDF(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(dir)
      .flatMap { case (path, pds) =>
        val raw = pds.open()
        // a zero-length file (tolerated, though saveWarc no longer writes
        // them) has no gzip header: the GZIPInputStream constructor would
        // throw EOFException, so yield no records instead
        val first = raw.read()
        if (first < 0) { raw.close(); Iterator.empty }
        else {
          val pushed = new java.io.PushbackInputStream(raw)
          pushed.unread(first)
          val in = new BufferedInputStream(
            if (path.endsWith(".gz")) new GZIPInputStream(pushed) else pushed, 1 << 16)
          // limit-style queries stop mid-drain: close on task completion
          // regardless, so long-lived executors never leak the handle
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => in.close()))
          val inner = records(in)
          // close the stream the moment the file's records are drained —
          // tasks chaining many files must not hold every handle open
          new Iterator[WarcRecord] {
            override def hasNext: Boolean = {
              val h = inner.hasNext
              if (!h) in.close()
              h
            }
            override def next(): WarcRecord = inner.next()
          }
        }
      }
      .toDS()
      .toDF()
  }

  /** STREAMING ingestion (r16): `readStream` over a LANDING directory
    * — the continuous half of the crawl story (a real crawl lands
    * segment files over days; the batch reader assumes the corpus is
    * already complete). The binaryFile file source tracks arrivals
    * exactly-once per micro-batch; each landed `.warc[.gz]` file
    * parses as one record batch inside its task — the same
    * one-file-per-task contract as `warcDF`, driven by the file
    * source's maxFilesPerTrigger pacing instead of binaryFiles
    * partitioning. Caveat vs the batch reader (documented trade):
    * the binaryFile source materializes each file as a row, so the
    * landing contract is segment-sized files (Common Crawl's ~1 GB),
    * which the per-executor memory budget at that scale already
    * covers. Compose with `crawlExtract` and sink via GraftSink. */
  def warcStreamDF(spark: SparkSession, landingDir: String): DataFrame = {
    import spark.implicits._
    val binSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .schema(binSchema)
      .load(landingDir)
      .select(org.apache.spark.sql.functions.col("path"),
        org.apache.spark.sql.functions.col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // zero-length landings yield no records, like warcDF
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val base = new java.io.ByteArrayInputStream(bytes)
          val in = new BufferedInputStream(
            if (path.endsWith(".gz")) new GZIPInputStream(base) else base, 1 << 16)
          records(in)
        }
      }
      .toDF()
  }

  /** The composed crawl stages (parse -> strip -> gate -> exact
    * dedup) as ONE transform that runs identically over the batch
    * reader (`warcDF`) and the streaming source (`warcStreamDF`):
    * every stage is narrow except the dedup exchange, which streaming
    * runs as `dropDuplicates` — a per-fingerprint state store where
    * the FIRST ARRIVAL survives, the streaming-native form of the
    * batch pipeline's keepFirstByKey. The html strip is the Column
    * pipeline (Analyzer.htmlStrip + SQL trim), so batch, streaming
    * and the WET executor twin all extract identical text.
    *
    * State-growth trade, stated plainly: EXACT streaming dedup means
    * one state-store entry per distinct fingerprint, forever — there
    * is no watermark because a duplicate page can land months after
    * the original, and evicting its fingerprint would re-admit it.
    * At ~48 bytes/entry that is ~48 GB of (RocksDB-spillable) state
    * per billion distinct pages, which is the honest cost of the
    * guarantee. A days-long continuous crawl that prefers bounded
    * state over exactness should run `crawlExtractBounded` (the
    * watermark-TTL'd form, r17) and accept re-admitted late
    * duplicates, or periodically restart the query against the batch
    * dedup (keepFirstByKey over the indexed sink), which re-bases the
    * state at zero. */
  def crawlExtract(records: DataFrame, minChars: Int = 100): DataFrame = {
    import org.apache.spark.sql.functions._
    records
      .where(col("http_status") === 200 && col("mime").like("text/html%"))
      .select(col("target_uri"),
        trim(graft.analysis.Analyzer.htmlStrip(decode(col("body"), "UTF-8"))).as("text"))
      .where(length(col("text")) >= minChars)
      .withColumn("fp", md5(col("text")))
      .dropDuplicates("fp")
  }

  /** BOUNDED-STATE streaming crawl dedup (r17, opt-in) — the
    * watermark-TTL alternative `crawlExtract` documents: the same
    * parse -> strip -> gate stages, but the dedup state is
    * `dropDuplicatesWithinWatermark` keyed on the fingerprint with
    * event time = the record's WARC-Date, so a fingerprint's state
    * entry is EVICTED once the watermark passes `ttl` beyond it —
    * state holds ~one entry per distinct page crawled per TTL window
    * (bounded by crawl rate x ttl, NOT by corpus lifetime), which is
    * what lets a continuous 100 TB crawl run forever.
    *
    * The trade, stated plainly: a duplicate landing more than `ttl`
    * after the original is RE-ADMITTED (its fingerprint was evicted);
    * within the window the guarantee is exact. Choose `ttl` as the
    * re-crawl horizon — politeness-scheduled crawlers revisit a page
    * no sooner than their revisit interval, so a ttl at that interval
    * catches the mass of real duplicates while the long tail falls
    * through to the batch dedup downstream.
    *
    * Records whose WARC-Date fails to parse (real crawl segments
    * contain these) cannot participate in time-bounded state: they
    * BYPASS the dedup and pass through un-deduplicated — admitted,
    * exactly like `crawlExtract` admits them, minus the dedup
    * guarantee. Routing them into the watermark operator instead
    * would silently DROP them (a null event time never clears the
    * late-row predicate), and any sentinel time either vanishes
    * below the watermark or catapults it. */
  def crawlExtractBounded(
      records: DataFrame, minChars: Int = 100, ttl: String = "24 hours"): DataFrame = {
    import org.apache.spark.sql.functions._
    val staged = records
      .where(col("http_status") === 200 && col("mime").like("text/html%"))
      .select(col("target_uri"),
        to_timestamp(col("warc_date")).as("crawl_ts"),
        trim(graft.analysis.Analyzer.htmlStrip(decode(col("body"), "UTF-8"))).as("text"))
      .where(length(col("text")) >= minChars)
      .withColumn("fp", md5(col("text")))
    val dated = staged.where(col("crawl_ts").isNotNull)
      .withWatermark("crawl_ts", ttl)
      .dropDuplicatesWithinWatermark("fp")
    dated.unionByName(staged.where(col("crawl_ts").isNull))
  }

  /** Write `records` as `dir/fileName` — one gzip member per record
    * (the Common Crawl layout: downstream readers can sync on member
    * boundaries) through the Hadoop FS API. Shared by the WARC and
    * WET sinks so the member framing and handle lifecycle live once.
    * finish() completes a member WITHOUT closing the shared file
    * stream; each deflater is released explicitly (close() would take
    * the file with it). */
  private def writeMemberFile(
      conf: org.apache.spark.util.SerializableConfiguration,
      dir: String, fileName: String,
      records: Iterator[Array[Byte]]): Long = {
    val fs = new Path(dir).getFileSystem(conf.value)
    fs.mkdirs(new Path(dir))
    val out = new DataOutputStream(fs.create(new Path(dir, fileName), true))
    try {
      var n = 0L
      records.foreach { rec =>
        val gz = new GZIPOutputStream(out) {
          def finishMember(): Unit = { finish(); `def`.end() }
        }
        gz.write(rec); gz.finishMember()
        n += 1
      }
      n
    } finally out.close()
  }

  /** Write `df` — (uri: String, mime: String, body: Array[Byte]) — as
    * one `.warc.gz` per NON-EMPTY partition (empty partitions are
    * routine after filters/repartition, and a 0-byte .gz has no gzip
    * header — it would poison every later read of the directory).
    * Record ids derive from the uri, dates are the caller's fixed
    * stamp: byte-deterministic output. */
  def saveWarc(df: DataFrame, dir: String, date: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select("uri", "mime", "body").rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.single(0L)
      else Iterator.single(writeMemberFile(conf, dir, f"part-$pid%05d.warc.gz",
        rows.map { r =>
          val uri = r.getString(0)
          responseRecord(
            uri,
            s"<urn:graft:${java.util.UUID.nameUUIDFromBytes(uri.getBytes("UTF-8"))}>",
            date, r.getString(1), r.getAs[Array[Byte]](2))
        }))
    }.count(): Unit
  }

  /** Write `df` — (uri: String, refers_to: String, text: String) — as
    * the published WET layout: one `.warc.wet.gz` per non-empty
    * partition, a `warcinfo` record at file head, then one
    * `conversion` record per row (each record its own gzip member, so
    * WET output syncs on member boundaries exactly like the WARC
    * write side). Record ids derive from the uri, dates are the
    * caller's fixed stamp: byte-deterministic output. */
  /** Executor-side twin of `Analyzer.htmlStrip`, consuming the SAME
    * entity table (one edit point — a divergence would make paired
    * extraction differ from the Column-based pipeline silently). */
  private[graft] def stripHtml(s: String): String = {
    var t = s.replaceAll("<[^>]*>", " ")
    graft.analysis.Analyzer.HtmlEntities.foreach { case (e, r) => t = t.replace(e, r) }
    // SPACE-ONLY trim, matching Spark/DuckDB SQL `trim` (' ' alone):
    // Java String.trim also strips \n/\t (any char <= U+0020), which
    // would silently diverge this executor-side twin from the Column
    // pipeline on pages with leading/trailing newlines
    var from = 0
    var to = t.length
    while (from < to && t.charAt(from) == ' ') from += 1
    while (to > from && t.charAt(to - 1) == ' ') to -= 1
    t.substring(from, to)
  }

  /** PAIRED WARC -> WET extraction, the published Common Crawl
    * naming: each source `<name>.warc[.gz]` produces exactly ONE
    * `<name>.warc.wet.gz` in `wetDir` (warcinfo head + one
    * `conversion` record per extracted 200 text/html response) — one
    * task per file on both sides, nothing shuffles, and the 1:1 name
    * pairing lets a consumer join crawl and extraction by filename
    * exactly as with CC's own segments. Files with no extractable
    * responses still produce their paired file (warcinfo only):
    * pairing is the contract. Returns total conversion records. */
  def extractToWet(
      spark: SparkSession, warcDir: String, wetDir: String, date: String): Long = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // the 1:1 pairing is the contract: two sources normalizing to the
    // same WET name (a.warc beside a.warc.gz) would have two tasks
    // writing one path concurrently — corrupt members locally, a
    // failed create on HDFS, lost records either way. Reject loudly.
    locally {
      val dir = new Path(warcDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      val dup = names.groupBy(n => n.stripSuffix(".gz").stripSuffix(".warc"))
        .collect { case (_, vs) if vs.length > 1 => vs.mkString(" + ") }
      require(dup.isEmpty,
        s"sources normalize to the same paired WET name: ${dup.mkString("; ")}")
    }
    spark.sparkContext.binaryFiles(warcDir).map { case (path, pds) =>
      val srcName = new Path(path).getName
      val wetName = srcName.stripSuffix(".gz").stripSuffix(".warc") + ".warc.wet.gz"
      val head = Iterator.single(warcinfoRecord(
        s"<urn:graft:wet:${java.util.UUID.nameUUIDFromBytes(wetName.getBytes("UTF-8"))}>",
        date, wetName))
      val raw = pds.open()
      val first = raw.read()
      if (first < 0) {
        raw.close()
        writeMemberFile(conf, wetDir, wetName, head)
        0L
      } else {
        val pushed = new java.io.PushbackInputStream(raw)
        pushed.unread(first)
        val in = new BufferedInputStream(
          if (path.endsWith(".gz")) new GZIPInputStream(pushed) else pushed, 1 << 16)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        val conv = records(in)
          .filter(r => r.warc_type == "response" && r.http_status == 200 &&
            r.mime.startsWith("text/html"))
          .map { r =>
            conversionRecord(r.target_uri,
              s"<urn:graft:wet:${java.util.UUID.nameUUIDFromBytes(r.target_uri.getBytes("UTF-8"))}>",
              r.record_id, date, stripHtml(new String(r.body, "UTF-8")))
          }
        val n = writeMemberFile(conf, wetDir, wetName, head ++ conv) - 1
        in.close()
        n
      }
    }.sum().toLong
  }

  def saveWet(df: DataFrame, dir: String, date: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select("uri", "refers_to", "text").rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.single(0L)
      else {
        val name = f"part-$pid%05d.warc.wet.gz"
        val head = Iterator.single(warcinfoRecord(
          s"<urn:graft:wet:${java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8"))}>",
          date, name))
        val body = rows.map { r =>
          val uri = r.getString(0)
          conversionRecord(
            uri,
            s"<urn:graft:wet:${java.util.UUID.nameUUIDFromBytes(uri.getBytes("UTF-8"))}>",
            r.getString(1), date, r.getString(2))
        }
        // minus the warcinfo member in the returned count
        Iterator.single(writeMemberFile(conf, dir, name, head ++ body) - 1)
      }
    }.count(): Unit
  }
}

package graft

import graft.sources.Warc
import org.apache.spark.sql.functions._

/** The WARC (ISO 28500 / Common Crawl) source: byte-level parser,
  * HTTP response splitting, the one-gzip-member-per-record write
  * layout, and the streaming distributed read. */
class WarcSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gw"

  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(specRoot, s"graft_warc_$tag").toString

  test("record round trip: responseRecord -> records recovers every field") {
    val body = "hello <b>warc</b> éü".getBytes("UTF-8")
    val rec = Warc.responseRecord("https://x.test/a?b=1", "<urn:graft:1>",
      "2026-01-01T00:00:00Z", "text/html; charset=UTF-8", body)
    val parsed = Warc.records(new java.io.ByteArrayInputStream(rec ++ rec)).toSeq
    assert(parsed.length == 2)
    parsed.foreach { r =>
      assert(r.warc_type == "response")
      assert(r.target_uri == "https://x.test/a?b=1")
      assert(r.record_id == "<urn:graft:1>")
      assert(r.warc_date == "2026-01-01T00:00:00Z")
      assert(r.http_status == 200)
      assert(r.mime == "text/html; charset=UTF-8")
      assert(r.body.toSeq == body.toSeq)
    }
  }

  test("bodies containing WARC version lines and CRLFCRLF parse intact") {
    // the reason files split per-record (gzip member), never by byte
    // scan: record content is allowed to contain anything
    val trap = "WARC/1.0\r\nWARC-Type: response\r\n\r\nHTTP/1.1 500 X\r\n\r\nfake"
      .getBytes("US-ASCII")
    val rec = Warc.responseRecord("https://x.test/trap", "<urn:graft:2>",
      "2026-01-01T00:00:00Z", "application/octet-stream", trap)
    val parsed = Warc.records(new java.io.ByteArrayInputStream(rec)).toSeq
    assert(parsed.length == 1)
    assert(parsed.head.http_status == 200)
    assert(parsed.head.body.toSeq == trap.toSeq)
  }

  test("non-response records pass through raw; malformed input raises") {
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:i>\r\n" +
      "Content-Type: application/warc-fields\r\nContent-Length: 9\r\n\r\nrobots: x\r\n\r\n")
      .getBytes("US-ASCII")
    val r = Warc.records(new java.io.ByteArrayInputStream(info)).toSeq.head
    assert(r.warc_type == "warcinfo" && r.http_status == 0)
    assert(new String(r.body, "US-ASCII") == "robots: x")
    // missing Content-Length
    val bad = "WARC/1.0\r\nWARC-Type: metadata\r\n\r\n".getBytes("US-ASCII")
    intercept[RuntimeException](
      Warc.records(new java.io.ByteArrayInputStream(bad)).toSeq)
    // truncated block
    val rec = Warc.responseRecord("u", "<i>", "d", "text/plain", "0123456789".getBytes)
    intercept[java.io.EOFException](
      Warc.records(new java.io.ByteArrayInputStream(rec.dropRight(20))).toSeq)
    // not a WARC at all
    intercept[IllegalArgumentException](
      Warc.records(new java.io.ByteArrayInputStream("HTTP/1.1 200\r\n".getBytes)).toSeq)
  }

  test("saveWarc -> warcDF distributed round trip over multi-member gzip") {
    val dir = tmpDir("rt")
    val docs = spark.range(0, 200).select(
      concat(lit("https://corpus.test/doc/"), col("id")).as("uri"),
      lit("text/plain; charset=UTF-8").as("mime"),
      encode(concat(lit("body of "), col("id")), "UTF-8").as("body"))
      .repartition(4)
    Warc.saveWarc(docs, dir, "2026-01-01T00:00:00Z")
    // the layout is the Common Crawl shape: one .warc.gz per partition
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 4)
    val back = Warc.warcDF(spark, dir)
    assert(back.count() == 200)
    val row = back.where(col("target_uri") === "https://corpus.test/doc/7")
      .select("http_status", "mime", "body").head()
    assert(row.getInt(0) == 200)
    assert(row.getString(1) == "text/plain; charset=UTF-8")
    assert(new String(row.getAs[Array[Byte]](2), "UTF-8") == "body of 7")
    // ids are uri-derived, not random: byte-deterministic output
    val ids = back.select("record_id").as[String].collect()
    assert(ids.distinct.length == 200)
    assert(ids.forall(_.startsWith("<urn:graft:")))
  }

  test("empty partitions write no file; zero-length and limit reads stay safe (r15)") {
    val dir = tmpDir("empty")
    // 10 rows spread over 8 partitions by a key only 3 partitions hold:
    // filters/repartition leave empty partitions ROUTINELY, and a
    // 0-byte .warc.gz (no gzip header) would poison every later read
    val docs = spark.range(0, 10).repartition(8, col("id") % 3)
      .select(
        concat(lit("https://e.test/"), col("id")).as("uri"),
        lit("text/plain").as("mime"),
        encode(col("id").cast("string"), "UTF-8").as("body"))
    Warc.saveWarc(docs, dir, "2026-01-01T00:00:00Z")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.nonEmpty && files.forall(_.length > 0), "empty partition wrote a 0-byte member")
    assert(Warc.warcDF(spark, dir).count() == 10)
    // a hand-planted zero-length file is tolerated (yields no records),
    // not an EOFException poisoning the whole directory
    new java.io.FileOutputStream(s"$dir/part-99999.warc.gz").close()
    assert(Warc.warcDF(spark, dir).count() == 10)
    // early-terminated reads (limit) leave no leaked handles behind:
    // the task-completion listener closes mid-drain streams
    assert(Warc.warcDF(spark, dir).limit(2).collect().length == 2)
  }

  test("WET sink: warcinfo leads every file, conversion headers carry the published contract (r15)") {
    // header contract on the raw bytes
    val rec = Warc.conversionRecord("https://x.test/a", "<urn:graft:wet:1>",
      "<urn:graft:src:9>", "2026-01-01T00:00:00Z", "extracted text é")
    val s = new String(rec, "UTF-8")
    assert(s.startsWith("WARC/1.0\r\n"))
    assert(s.contains("WARC-Type: conversion\r\n"))
    assert(s.contains("WARC-Refers-To: <urn:graft:src:9>\r\n"))
    assert(s.contains("Content-Type: text/plain\r\n"))
    assert(s.contains(s"Content-Length: ${"extracted text é".getBytes("UTF-8").length}\r\n"))
    // and it parses back through the generic record path
    val parsed = Warc.records(new java.io.ByteArrayInputStream(rec)).toSeq
    assert(parsed.length == 1 && parsed.head.warc_type == "conversion")
    assert(new String(parsed.head.body, "UTF-8") == "extracted text é")
    // distributed round trip: every file leads with ONE warcinfo
    val dir = tmpDir("wet")
    val docs = spark.range(0, 40).repartition(3).select(
      concat(lit("https://corpus.test/doc/"), col("id")).as("uri"),
      concat(lit("<urn:src:"), col("id"), lit(">")).as("refers_to"),
      concat(lit("text of "), col("id")).as("text"))
    Warc.saveWet(docs, dir, "2026-01-01T00:00:00Z")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.wet.gz"))
    assert(files.length == 3)
    files.foreach { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      val first = Warc.records(new java.io.BufferedInputStream(in)).next()
      in.close()
      assert(first.warc_type == "warcinfo", s"${f.getName} does not lead with warcinfo")
    }
    val back = Warc.warcDF(spark, dir)
    assert(back.where(col("warc_type") === "warcinfo").count() == 3)
    val conv = back.where(col("warc_type") === "conversion")
    assert(conv.count() == 40)
    assert(conv.where(col("target_uri") === "https://corpus.test/doc/7")
      .select("body").as[Array[Byte]].head().sameElements("text of 7".getBytes("UTF-8")))
  }

  test("extractToWet: 1:1 paired naming, extracted text matches the strip, empty sources still pair (r15)") {
    val warcDir = tmpDir("pairsrc")
    val wetDir = tmpDir("pairwet")
    // 3 partitions -> part-0000{0,1,2}.warc.gz; doc 0..29, html bodies
    val docs = spark.range(0, 30).repartition(3).select(
      concat(lit("https://p.test/"), col("id")).as("uri"),
      lit("text/html; charset=UTF-8").as("mime"),
      encode(concat(lit("<html><body><p>body &amp;amp; of "), col("id"),
        lit("</p></body></html>")), "UTF-8").as("body"))
    Warc.saveWarc(docs, warcDir, "2026-01-01T00:00:00Z")
    val n = Warc.extractToWet(spark, warcDir, wetDir, "2026-01-01T00:00:00Z")
    assert(n == 30)
    val srcNames = new java.io.File(warcDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).map(_.getName).sorted
    val wetNames = new java.io.File(wetDir).listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz")).map(_.getName).sorted
    assert(wetNames.toSeq ==
      srcNames.map(_.stripSuffix(".gz").stripSuffix(".warc") + ".warc.wet.gz").toSeq,
      s"pairing broke: $srcNames vs $wetNames")
    val back = Warc.warcDF(spark, wetDir)
    assert(back.where(col("warc_type") === "warcinfo").count() == srcNames.length)
    val row7 = back.where(col("warc_type") === "conversion" &&
      col("target_uri") === "https://p.test/7").select("body").as[Array[Byte]].head()
    // &amp;amp; -> &amp; (single unescape, &amp; LAST), tags -> spaces, trimmed
    assert(new String(row7, "UTF-8") == "body &amp; of 7")
    // a WARC with no extractable responses still writes its pair
    val emptyDir = tmpDir("pairempty")
    val wetEmpty = tmpDir("pairemptywet")
    Warc.saveWarc(spark.range(0, 2).coalesce(1).select(
      concat(lit("https://p.test/x"), col("id")).as("uri"),
      lit("application/pdf").as("mime"),
      encode(lit("x"), "UTF-8").as("body")), emptyDir, "2026-01-01T00:00:00Z")
    assert(Warc.extractToWet(spark, emptyDir, wetEmpty, "2026-01-01T00:00:00Z") == 0)
    val pairs = new java.io.File(wetEmpty).listFiles().filter(_.getName.endsWith(".warc.wet.gz"))
    assert(pairs.length == 1, "no-html source must still produce its paired WET file")
    assert(Warc.warcDF(spark, wetEmpty).count() == 1) // the warcinfo alone
    // colliding normalized names (a.warc beside a.warc.gz -> one WET
    // path, two writers) reject loudly before any task runs
    val clashDir = tmpDir("pairclash")
    val rec = Warc.responseRecord("https://c/1", "<urn:c:1>",
      "2026-01-01T00:00:00Z", "text/html", "<p>x</p>".getBytes("UTF-8"))
    val fo = new java.io.FileOutputStream(s"$clashDir/a.warc"); fo.write(rec); fo.close()
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$clashDir/a.warc.gz")); gz.write(rec); gz.close()
    val e2 = intercept[IllegalArgumentException](
      Warc.extractToWet(spark, clashDir, tmpDir("pairclashwet"), "2026-01-01T00:00:00Z"))
    assert(e2.getMessage.contains("same paired WET name"))
  }

  test("stripHtml trims spaces ONLY, like SQL trim — the Column-pipeline twin (r16)") {
    // '\n<p>x</p>\n' -> tags become spaces -> '\n x \n'; SQL trim
    // (space-only) keeps the newlines, and so must the executor twin —
    // Java String.trim would strip them and silently diverge WET
    // extraction from the Column-based pipeline
    assert(Warc.stripHtml("\n<p>x</p>\n") == "\n x \n")
    assert(Warc.stripHtml("  <p>x</p>  ") == "x")
    assert(Warc.stripHtml("\t<p>x</p>\t") == "\t x \t")
    // exact agreement with the Column pipeline on the same input
    val in = Seq("\n<p>a</p>\n", "  <b>b&amp;c</b>  ", "\tz\t").toDF("h")
    val viaColumn = in.select(
      trim(graft.analysis.Analyzer.htmlStrip(col("h"))).as("t")).as[String].collect()
    val viaExec = Seq("\n<p>a</p>\n", "  <b>b&amp;c</b>  ", "\tz\t").map(Warc.stripHtml)
    assert(viaExec == viaColumn.toSeq)
  }

  test("plain .warc files read too; a task never needs the whole file in memory") {
    val dir = tmpDir("plain")
    val out = new java.io.FileOutputStream(s"$dir/a.warc")
    (0 until 50).foreach { i =>
      out.write(Warc.responseRecord(s"https://t/$i", s"<urn:$i>",
        "2026-01-01T00:00:00Z", "text/plain", s"v$i".getBytes("UTF-8")))
    }
    out.close()
    val back = Warc.warcDF(spark, dir)
    assert(back.count() == 50)
    assert(back.agg(sum(when(col("http_status") === 200, 1).otherwise(0))).head().getLong(0) == 50)
  }
}

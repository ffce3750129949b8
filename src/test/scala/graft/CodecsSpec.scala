package graft

import graft.multimodal.{Gif, Multimodal, Png, Wav}
import org.apache.spark.sql.functions._

/** The pure-JDK media codecs (real zlib PNG, real RIFF PCM) and the
  * Spark pixel-decode path built on them. */
class CodecsSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gco"


  // test-side chunk writer: lets the spec craft PNGs the encoder never
  // emits (RGB, per-row filter types) so DECODE is exercised beyond
  // round-trip
  private def chunk(typeName: String, data: Array[Byte]): Array[Byte] = {
    val t = typeName.getBytes("US-ASCII")
    val c = new java.util.zip.CRC32(); c.update(t); c.update(data)
    java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(t).put(data).putInt(c.getValue.toInt).array()
  }
  private def pngOf(w: Int, h: Int, colorType: Int, raw: Array[Byte]): Array[Byte] = {
    val def1 = new java.util.zip.Deflater()
    def1.setInput(raw); def1.finish()
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!def1.finished()) out.write(tmp, 0, def1.deflate(tmp))
    def1.end()
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val f = new java.io.ByteArrayOutputStream()
    f.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    f.write(chunk("IHDR", ihdr)); f.write(chunk("IDAT", out.toByteArray))
    f.write(chunk("IEND", Array.emptyByteArray))
    f.toByteArray
  }

  test("property: PNG and WAV round trips recover arbitrary payloads") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val png = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 30)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px.map(_.toByte).toArray)
    val pngProp = Prop.forAll(png) { case (w, h, px) =>
      val img = Png.decode(Png.encodeGray(w, h, px))
      img.width == w && img.height == h && img.pixels.toSeq == px.toSeq
    }
    val wav = for {
      n <- Gen.choose(0, 500)
      s <- Gen.listOfN(n, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
      rate <- Gen.choose(1, 192000)
    } yield (s.map(_.toShort).toArray, rate)
    val wavProp = Prop.forAll(wav) { case (s, rate) =>
      val a = Wav.decodePcm16(Wav.encodePcm16(s, rate))
      a.sampleRate == rate && a.samples.toSeq == s.toSeq
    }
    Seq(pngProp, wavProp).foreach { p =>
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
      assert(res.passed, res.status.toString)
    }
  }

  test("PNG round trip: encodeGray -> decode recovers every pixel") {
    for ((w, h) <- Seq((1, 1), (7, 3), (64, 48))) {
      val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
      val img = Png.decode(Png.encodeGray(w, h, px))
      assert(img.width == w && img.height == h && img.channels == 1)
      assert(img.pixels.toSeq == px.toSeq)
    }
  }

  test("PNG decode unfilters all five filter types") {
    // 4x5 gray image; rows filtered with types 0..4 applied FORWARD,
    // decode must invert each
    val w = 4; val h = 5
    val px = Array.tabulate(h, w)((y, x) => ((x * 19 + y * 53) % 256))
    def p(y: Int, x: Int) = if (y < 0 || x < 0) 0 else px(y)(x)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val pr = a + b - c
      val pa = math.abs(pr - a); val pb = math.abs(pr - b); val pc = math.abs(pr - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val ft = y % 5
      raw.write(ft)
      for (x <- 0 until w) {
        val v = ft match {
          case 0 => p(y, x)
          case 1 => p(y, x) - p(y, x - 1)
          case 2 => p(y, x) - p(y - 1, x)
          case 3 => p(y, x) - (p(y, x - 1) + p(y - 1, x)) / 2
          case 4 => p(y, x) - paeth(p(y, x - 1), p(y - 1, x), p(y - 1, x - 1))
        }
        raw.write(v & 0xff)
      }
    }
    val img = Png.decode(pngOf(w, h, 0, raw.toByteArray))
    for (y <- 0 until h; x <- 0 until w)
      assert((img.pixels(y * w + x) & 0xff) == px(y)(x), s"pixel ($x,$y), filter ${y % 5}")
  }

  test("PNG RGB round trip: encodeRgb -> decode recovers interleaved channels") {
    for ((w, h) <- Seq((1, 1), (5, 4), (24, 16))) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 29 + 3) % 256).toByte)
      val img = Png.decode(Png.encodeRgb(w, h, rgb))
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.pixels.toSeq == rgb.toSeq)
    }
  }

  test("PNG decode reads RGB (color type 2) with interleaved channels") {
    val w = 3; val h = 2
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 41 + 5) % 256))
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) { raw.write(0); for (x <- 0 until w * 3) raw.write(rgb(y * w * 3 + x)) }
    val img = Png.decode(pngOf(w, h, 2, raw.toByteArray))
    assert(img.channels == 3)
    assert(img.pixels.map(_ & 0xff).toSeq == rgb.toSeq)
  }

  test("PNG decode rejects corrupted CRC and truncated streams") {
    val good = Png.encodeGray(8, 8, Array.fill(64)(7.toByte))
    val bad = good.clone(); bad(bad.length - 5) = (bad(bad.length - 5) ^ 0xff).toByte
    intercept[Exception](Png.decode(bad))
    intercept[Exception](Png.decode(good.take(good.length / 2)))
    intercept[Exception](Png.decode("not a png".getBytes))
  }

  test("WAV round trip + chunk walk skips foreign chunks and pads odd lengths") {
    val samples = Array.tabulate(37)(i => ((i * 211 - 900) % 3000).toShort)
    val a = Wav.decodePcm16(Wav.encodePcm16(samples, 8000))
    assert(a.sampleRate == 8000 && a.samples.toSeq == samples.toSeq)
    // splice an odd-length LIST chunk between fmt and data: the walker
    // must pad past it, not misalign
    val enc = Wav.encodePcm16(samples, 8000)
    val head = enc.take(36) // RIFF..fmt chunk end
    val tail = enc.drop(36) // data chunk
    val foreign = "LIST".getBytes("US-ASCII") ++
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(3).array() ++
      Array[Byte]('a', 'b', 'c', 0) // 3 bytes + pad
    val spliced = head ++ foreign ++ tail
    // patch the RIFF size (bytes 4..7) to cover the splice
    val bb = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    val b = Wav.decodePcm16(spliced)
    assert(b.samples.toSeq == samples.toSeq)
    intercept[Exception](Wav.decodePcm16("RIFFxxxxJUNK".getBytes))
  }

  test("resizeNearest picks integer source indices") {
    // 4x2 -> 2x1: out(x,0) = in(x*4/2, 0*2/1) = in(2x, 0)
    val img = Png.Image(4, 2, 1, Array[Byte](10, 20, 30, 40, 50, 60, 70, 80))
    val r = Png.resizeNearest(img, 2, 1)
    assert(r.pixels.toSeq == Seq[Byte](10, 30))
    // upscale 2x1 -> 4x1 repeats source pixels
    val up = Png.resizeNearest(Png.Image(2, 1, 1, Array[Byte](1, 2)), 4, 1)
    assert(up.pixels.toSeq == Seq[Byte](1, 1, 2, 2))
  }

  test("Spark pixel path: decoded stats equal the generator formula") {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 20)
    val stats = Multimodal.decodePixelStats(
      spark, Multimodal.pixelMediaTable(spark, docs)).collect()
    assert(stats.length == 20)
    stats.foreach { st =>
      val id = st.media_id
      if (id % 2 == 0) {
        val w = (id % 48 + 8).toInt; val h = (id % 32 + 8).toInt
        val vals = for (y <- 0 until h; x <- 0 until w)
          yield ((id * 31 + x * 7 + y * 13) % 256)
        assert(st.kind == "png" && st.width == w && st.height == h)
        assert(st.n_values == vals.length.toLong)
        assert(st.v_sum == vals.map(_.toLong).sum)
        assert(st.v_min == vals.min && st.v_max == vals.max)
      } else {
        val n = (id % 256 + 16).toInt
        val vals = (0 until n).map(i => (id * 17 + i * 29) % 4096 - 2048)
        assert(st.kind == "wav" && st.n_values == n.toLong)
        assert(st.v_sum == vals.map(_.toLong).sum)
        assert(st.v_min == vals.min && st.v_max == vals.max)
      }
    }
  }

  test("Spark resize path: re-encoded resample matches the index formula") {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 0 && col("doc_id") < 20)
    val stats = Multimodal.resizePixelStats(
      spark, Multimodal.pixelMediaTable(spark, docs), 8, 6).collect()
    stats.foreach { st =>
      val id = st.media_id
      val w = (id % 48 + 8).toInt; val h = (id % 32 + 8).toInt
      val vals = for (y <- 0 until 6; x <- 0 until 8)
        yield ((id * 31 + (x * w / 8) * 7 + (y * h / 6) * 13) % 256)
      assert(st.width == 8 && st.height == 6 && st.n_values == 48L)
      assert(st.v_sum == vals.map(_.toLong).sum)
      assert(st.v_min == vals.min && st.v_max == vals.max)
    }
  }
  test("GIF LZW round trip: arbitrary byte streams, incl. width growth") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      n <- Gen.choose(1, 3000)
      bs <- Gen.listOfN(n, Gen.choose(0, 255))
    } yield bs.map(_.toByte).toArray
    val prop = Prop.forAll(gen) { data =>
      Gif.lzwDecompress(Gif.lzwCompress(data), 8, data.length).toSeq == data.toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
    // low-entropy streams exercise deep dictionary chains + the
    // code==next ("KwKwK") case
    val runs = Array.tabulate(5000)(i => ((i / 97) % 7).toByte)
    assert(Gif.lzwDecompress(Gif.lzwCompress(runs), 8, runs.length).toSeq == runs.toSeq)
  }

  test("GIF LZW dictionary reset: a frame large enough to hit 4096 codes") {
    // random-ish bytes force ~1 new dict entry per input byte, so
    // >4096 px guarantees the mid-stream CLEAR + width reset path runs
    val big = Array.tabulate(12000)(i => ((i * 2654435761L) >>> 13).toByte)
    val lzw = Gif.lzwCompress(big)
    assert(Gif.lzwDecompress(lzw, 8, big.length).toSeq == big.toSeq)
  }

  test("GIF animated round trip: every frame recovered bit-exact") {
    val w = 37; val h = 23
    val frames = (0 until 4).map { f =>
      Array.tabulate(w * h)(i => ((f * 41 + i * 7) % 256).toByte)
    }
    val gif = Gif.encodeGrayAnimated(w, h, frames)
    // container sanity: header + trailer
    assert(new String(gif, 0, 6, "US-ASCII") == "GIF89a")
    assert((gif.last & 0xff) == 0x3b)
    val dec = Gif.decode(gif)
    assert(dec.length == 4)
    dec.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.index == i && fr.width == w && fr.height == h)
      assert(fr.pixels.toSeq == frames(i).toSeq)
    }
  }

  test("GIF decode: sub-block boundaries, foreign extensions, loud rejects") {
    // a frame big enough that its LZW stream spans many 255-byte
    // sub-blocks
    val w = 120; val h = 80
    val px = Array.tabulate(w * h)(i => ((i * 31 + 7) % 256).toByte)
    val gif = Gif.encodeGrayAnimated(w, h, Seq(px))
    assert(Gif.decode(gif).head.pixels.toSeq == px.toSeq)
    // splice a foreign application extension (NETSCAPE loop) after the
    // GCT: decode must skip it by its declared sub-block lengths
    val gctEnd = 13 + 256 * 3
    val ext = Array[Byte](0x21, 0xff.toByte, 11) ++
      "NETSCAPE2.0".getBytes("US-ASCII") ++ Array[Byte](3, 1, 0, 0, 0)
    val spliced = gif.take(gctEnd) ++ ext ++ gif.drop(gctEnd)
    assert(Gif.decode(spliced).head.pixels.toSeq == px.toSeq)
    // interlaced flag and truncation raise loudly
    val interlaced = gif.clone()
    interlaced(gctEnd + 9) = (interlaced(gctEnd + 9) | 0x40).toByte
    intercept[IllegalArgumentException](Gif.decode(interlaced))
    intercept[Exception](Gif.decode(gif.dropRight(40)))
    intercept[IllegalArgumentException](Gif.decode("nope".getBytes))
  }

  test("Spark GIF frame path: sampled per-frame stats equal the generator formula") {
    val docs = spark.range(0, 60).select(col("id").as("doc_id"))
    val media = Multimodal.gifMediaTable(spark, docs)
    val stats = Multimodal.gifFrameStats(spark, media, stride = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r)).toMap
    (0L until 60L).foreach { id =>
      val w = (id % 24 + 4).toInt; val h = (id % 16 + 4).toInt
      val n = (id % 5 + 2).toInt
      (0 until n).foreach { f =>
        if (f % 2 == 0) {
          val r = stats((id, f))
          val vals = for (y <- 0 until h; x <- 0 until w)
            yield Multimodal.pxFrame(id, f, x, y)
          assert(r.getInt(2) == w && r.getInt(3) == h)
          assert(r.getLong(4) == w * h.toLong)
          assert(r.getLong(5) == vals.map(_.toLong).sum)
          assert(r.getLong(6) == vals.min && r.getLong(7) == vals.max)
        } else assert(!stats.contains((id, f)))
      }
    }
    // every kept frame accounted for
    assert(stats.size == (0L until 60L).map(id => ((id % 5 + 2) + 1) / 2).sum)
  }

  // hand-built single-frame GIF the encoder never emits: optional
  // GCT, optional LCT (own palette), optional interlace flag — so
  // DECODE's palette/interlace paths are exercised beyond round-trip
  private def gifOf(
      w: Int, h: Int, px: Array[Byte],
      gct: Option[Array[(Int, Int, Int)]],
      lct: Option[Array[(Int, Int, Int)]],
      interlaced: Boolean): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def sizeBits(n: Int) = (math.log(n) / math.log(2)).round.toInt - 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16(w)); out.write(le16(h))
    out.write(gct.map(t => 0x80 | 0x70 | sizeBits(t.length)).getOrElse(0))
    out.write(0); out.write(0)
    gct.foreach(_.foreach { case (r, g, b) => out.write(r); out.write(g); out.write(b) })
    out.write(0x2c)
    out.write(le16(0)); out.write(le16(0))
    out.write(le16(w)); out.write(le16(h))
    out.write(lct.map(t => 0x80 | sizeBits(t.length)).getOrElse(0) |
      (if (interlaced) 0x40 else 0))
    lct.foreach(_.foreach { case (r, g, b) => out.write(r); out.write(g); out.write(b) })
    out.write(8)
    val stored =
      if (!interlaced) px
      else { // store rows in the 4-pass order the flag declares
        val s = new java.io.ByteArrayOutputStream()
        Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
          var row = start
          while (row < h) { s.write(px, row * w, w); row += step }
        }
        s.toByteArray
      }
    val lzw = graft.multimodal.Gif.lzwCompress(stored)
    var at = 0
    while (at < lzw.length) {
      val len = math.min(255, lzw.length - at)
      out.write(len); out.write(lzw, at, len); at += len
    }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  test("GIF local color tables: LCT overrides GCT, gray exact, color folds to BT.601 luma (r15)") {
    val w = 9; val h = 7
    val idx = Array.tabulate[Byte](w * h)(i => (i * 11 % 256).toByte)
    val grayGct = Array.tabulate(256)(i => (i, i, i))
    // LCT = inverted gray: decoded value must be 255 - index, proving
    // the LOCAL table was applied, not the global one
    val inverted = Array.tabulate(256)(i => (255 - i, 255 - i, 255 - i))
    val lctFrames = Gif.decode(gifOf(w, h, idx, Some(grayGct), Some(inverted), interlaced = false))
    assert(lctFrames.length == 1)
    assert(lctFrames.head.pixels.toSeq == idx.map(b => (255 - (b & 0xff)).toByte).toSeq)
    // pure-red palette: entry i = (i,0,0) -> BT.601 (i*299+500)/1000
    val red = Array.tabulate(256)(i => (i, 0, 0))
    val redFrames = Gif.decode(gifOf(w, h, idx, None, Some(red), interlaced = false))
    assert(redFrames.head.pixels.toSeq ==
      idx.map(b => (((b & 0xff) * 299 + 500) / 1000).toByte).toSeq)
    // no GCT and no LCT: loud reject, never a silent zero palette
    val e = intercept[IllegalArgumentException](
      Gif.decode(gifOf(w, h, idx, None, None, interlaced = false)))
    assert(e.getMessage.contains("color table"))
    // an index past the table end: loud reject (4-entry LCT, index 9)
    val tiny = Array.tabulate(4)(i => (i, i, i))
    val bad = Array.tabulate[Byte](w * h)(i => (i % 10).toByte)
    val e2 = intercept[IllegalArgumentException](
      Gif.decode(gifOf(w, h, bad, None, Some(tiny), interlaced = false)))
    assert(e2.getMessage.contains("outside"))
  }

  test("GIF interlace: 4-pass Adam row order undone exactly, incl. heights under one pass (r15)") {
    val grayGct = Array.tabulate(256)(i => (i, i, i))
    for (h <- Seq(1, 2, 3, 5, 8, 13, 17)) {
      val w = 6
      val px = Array.tabulate[Byte](w * h)(i => ((i * 7 + 3) % 256).toByte)
      val frames = Gif.decode(gifOf(w, h, px, Some(grayGct), None, interlaced = true))
      assert(frames.length == 1 && frames.head.width == w && frames.head.height == h)
      assert(frames.head.pixels.toSeq == px.toSeq, s"interlace undo failed at h=$h")
    }
  }

  test("JPEG: flat fields survive the lossy round trip near-exactly, odd dims exact (r15)") {
    import graft.multimodal.Jpeg
    // flat gray = DC-only blocks: decode must land within quantization
    // distance of the source everywhere (an IDCT/marker bug lands far)
    for (v <- Seq(0, 64, 128, 200, 255)) {
      val px = Array.fill[Byte](32 * 24)(v.toByte)
      val img = Jpeg.decodeGray(Jpeg.encodeGray(32, 24, px))
      assert(img.width == 32 && img.height == 24 && img.channels == 1)
      val vals = img.pixels.map(_ & 0xff)
      assert(vals.forall(p => math.abs(p - v) <= 3),
        s"flat $v decoded outside +-3: ${vals.distinct.toSeq.take(5)}")
    }
    // dims not multiples of 8: the MCU padding must not leak into dims
    val odd = Array.tabulate[Byte](13 * 11)(i => (i * 5 % 256).toByte)
    val img = Jpeg.decodeGray(Jpeg.encodeGray(13, 11, odd))
    assert(img.width == 13 && img.height == 11 && img.pixels.length == 13 * 11)
  }

  test("JPEG: decode is deterministic and the stats contract holds; loud rejects (r15)") {
    import graft.multimodal.Jpeg
    val px = Array.tabulate[Byte](40 * 30)(i => ((i * 7 + i / 40 * 5) % 256).toByte)
    val payload = Jpeg.encodeGray(40, 30, px)
    // generation-time stats == later re-decode stats, bit for bit —
    // the invariant the q_multimodal_jpeg oracle rides on
    val a = Jpeg.decodeGray(payload).pixels.toSeq
    val b = Jpeg.decodeGray(payload).pixels.toSeq
    assert(a == b, "JPEG decode is not deterministic on identical bytes")
    // container walk: SOF info agrees with the raster
    assert(Jpeg.sofInfo(payload)._1 == 0xc0)
    // PROGRESSIVE (SOF2) is IN scope since r16: the produced stream
    // really is multi-scan (SOF2 in its own container walk) and
    // decodes to the same dims, deterministically, raster-order
    val progPayload = Jpeg.encodeGray(40, 30, px, progressive = true)
    assert(Jpeg.sofInfo(progPayload)._1 == 0xc2, "progressive encode did not emit SOF2")
    val p1 = Jpeg.decodeGray(progPayload)
    assert(p1.width == 40 && p1.height == 30 && p1.pixels.length == 40 * 30)
    assert(p1.pixels.toSeq == Jpeg.decodeGray(progPayload).pixels.toSeq,
      "progressive decode is not deterministic on identical bytes")
    // lossless (SOF3) and arithmetic (SOF9) stay OUT of scope — loud
    // reject BEFORE any decode attempt
    for (sof <- Seq(0xc3, 0xc9)) {
      val bad = Array[Byte](0xff.toByte, 0xd8.toByte,
        0xff.toByte, sof.toByte, 0, 11, 8, 0, 30, 0, 40, 1, 0x11, 0, 0)
      val e = intercept[IllegalArgumentException](Jpeg.decodeGray(bad))
      assert(e.getMessage.contains("in scope"), s"SOF${sof - 0xc0}: ${e.getMessage}")
    }
    // 0xFF FILL bytes before a marker id (spec B.1.1.2) parse through
    // the walk instead of derailing it (r16 advice): splice a fill
    // run right after SOI and the SOF must still be found
    val filled = payload.take(2) ++ Array[Byte](0xff.toByte, 0xff.toByte) ++ payload.drop(2)
    assert(Jpeg.sofInfo(filled.toArray)._2 == 40 && Jpeg.sofInfo(filled.toArray)._3 == 30)
    // not a JPEG at all
    intercept[IllegalArgumentException](Jpeg.decodeGray("PNGish".getBytes))
  }

  test("JPEG color: flat fields near-exact per channel, BGR/RGB order correct, deterministic (r15)") {
    import graft.multimodal.Jpeg
    // flat saturated channels: after YCbCr round trip each channel
    // must come back close AND in the right slot (a BGR/RGB swap is
    // the classic bug this pins)
    for (((r, g, b), tag) <- Seq(((200, 30, 30), "red"), ((30, 200, 30), "green"),
        ((30, 30, 200), "blue"), ((120, 120, 120), "gray"))) {
      val rgb = new Array[Byte](24 * 16 * 3)
      (0 until 24 * 16).foreach { i =>
        rgb(3 * i) = r.toByte; rgb(3 * i + 1) = g.toByte; rgb(3 * i + 2) = b.toByte
      }
      val img = Jpeg.decodeRgb(Jpeg.encodeRgb(24, 16, rgb))
      assert(img.channels == 3 && img.width == 24 && img.height == 16)
      val (dr, dg, db) = (img.pixels(0) & 0xff, img.pixels(1) & 0xff, img.pixels(2) & 0xff)
      // chroma subsampling + quantization: a wider tolerance than
      // gray, but a channel swap would miss by ~170
      assert(math.abs(dr - r) <= 8 && math.abs(dg - g) <= 8 && math.abs(db - b) <= 8,
        s"$tag decoded ($dr,$dg,$db) far from ($r,$g,$b)")
    }
    // determinism + gray-input expansion through the color path
    val px = Array.tabulate[Byte](15 * 13 * 3)(i => (i * 7 % 256).toByte)
    val payload = Jpeg.encodeRgb(15, 13, px)
    assert(Jpeg.decodeRgb(payload).pixels.toSeq == Jpeg.decodeRgb(payload).pixels.toSeq)
    val grayIn = Jpeg.decodeRgb(Jpeg.encodeGray(8, 8, Array.fill[Byte](64)(100.toByte)))
    assert(grayIn.channels == 3)
    assert((0 until 64).forall { i =>
      val (a, b2, c) = (grayIn.pixels(3 * i) & 0xff,
        grayIn.pixels(3 * i + 1) & 0xff, grayIn.pixels(3 * i + 2) & 0xff)
      a == b2 && b2 == c
    }, "gray input must expand to equal channels")
  }

  test("Spark JPEG path: persisted generation-time stats equal the re-decode, distributed (r15)") {
    val docs = spark.range(0, 40).select(col("id").as("doc_id"))
    val tbl = Multimodal.jpegMediaTable(spark, docs)
    val out = s"$specRoot/jpeg"
    tbl.write.mode("overwrite").parquet(out)
    val stored = spark.read.parquet(out)
    val recomputed = Multimodal.jpegPixelStats(spark, stored)
    val joined = stored.select("media_id", "n_px", "px_sum", "px_min", "px_max")
      .join(recomputed.withColumnRenamed("n_px", "r_n")
        .withColumnRenamed("px_sum", "r_sum")
        .withColumnRenamed("px_min", "r_min")
        .withColumnRenamed("px_max", "r_max"), "media_id")
    assert(joined.count() == 40)
    assert(joined.where(col("n_px") =!= col("r_n") || col("px_sum") =!= col("r_sum") ||
      col("px_min") =!= col("r_min") || col("px_max") =!= col("r_max")).count() == 0,
      "re-decoded stats diverge from generation-time stats")
  }
}

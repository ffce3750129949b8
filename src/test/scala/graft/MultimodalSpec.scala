package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec with SpecTempRoot {
  override protected def tempRootPrefix = "gm"

  import spark.implicits._

  test("media table: opaque binary + typed metadata, mime partition-able") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    val mimes = media.select("mime").distinct().as[String].collect().toSet
    assert(mimes == Set("image/png", "audio/wav", "video/mp4"))
    assert(media.schema("payload").dataType.typeName == "binary")
  }

  test("metadata pass: byte length and content hash match the payload") {
    val docs = Tables.documents(spark, sfDir).limit(10)
    val meta = Multimodal.metadata(Multimodal.mediaTable(docs))
      .select("media_id", "n_bytes", "content_hash").as[(Long, Long, String)].collect()
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    meta.foreach { case (id, nBytes, hash) =>
      assert(nBytes == texts(id).getBytes("UTF-8").length.toLong)
      assert(hash.length == 32)
    }
  }

  test("decodeFeatures: typed mapPartitions decode path (stubbed codec)") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val feats = Multimodal.decodeFeatures(spark, Multimodal.mediaTable(docs)).collect()
    assert(feats.length == 50)
    // stub decode = md5(payload): must agree with the column-side hash
    val metaHash = Multimodal.metadata(Multimodal.mediaTable(docs))
      .select("media_id", "content_hash").as[(Long, String)].collect().toMap
    feats.foreach(f => assert(f.feat_hash == metaHash(f.media_id)))
    assert(feats.forall(f => f.width >= 32 && f.height >= 32))
  }

  test("frame sampling fans out n frames per asset, deterministic hashes") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir).limit(10))
    val frames = Multimodal.sampleFrames(spark, media, 4).collect()
    assert(frames.length == 40)
    assert(frames.map(f => (f.media_id, f.frame_idx)).distinct.length == 40)
    val again = Multimodal.sampleFrames(spark, media, 4).collect()
    assert(frames.map(_.frame_hash).sorted.toSeq == again.map(_.frame_hash).sorted.toSeq)
  }

  test("resize rewrites dims and changes the content hash deterministically") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir).limit(5))
    val r = Multimodal.resize(spark, media, 224, 224).collect()
    assert(r.forall(f => f.width == 224 && f.height == 224))
    val r2 = Multimodal.resize(spark, media, 64, 64).collect()
    assert(r.map(_.feat_hash).toSet.intersect(r2.map(_.feat_hash).toSet).isEmpty)
  }

  test("routing write partitions the index directory by the routing column") {
    import graft.sources.Connector.implicits._
    val dir = java.nio.file.Files.createTempDirectory(specRoot, "graft_route").toString + "/idx"
    Tables.documents(spark, sfDir).limit(50)
      .saveToGraft(dir, Map("graft.mapping.id" -> "doc_id", "graft.mapping.routing" -> "lang"))
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(parts.exists(_.startsWith("lang=")))
    // multi-index read: "idx1,idx2" unions two indices
    val dir2 = java.nio.file.Files.createTempDirectory(specRoot, "graft_route2").toString + "/idx"
    Tables.documents(spark, sfDir).where(col("doc_id") >= 50).limit(25)
      .saveToGraft(dir2, Map("graft.mapping.id" -> "doc_id", "graft.mapping.routing" -> "lang"))
    assert(spark.graftDF(s"$dir,$dir2").count() == 75)
  }

  test("WebP header metadata: VP8/VP8L/VP8X dims + ANIM flag; malformed stays opaque (r16)") {
    import graft.inference.CorpusFittedService.parseMedia
    def riff(chunk: String, data: Array[Byte]): Array[Byte] = {
      val size = 4 + 8 + data.length
      "RIFF".getBytes("US-ASCII") ++
        Array[Byte]((size & 255).toByte, ((size >> 8) & 255).toByte,
          ((size >> 16) & 255).toByte, ((size >> 24) & 255).toByte) ++
        ("WEBP" + chunk).getBytes("US-ASCII") ++
        Array[Byte]((data.length & 255).toByte, ((data.length >> 8) & 255).toByte,
          ((data.length >> 16) & 255).toByte, ((data.length >> 24) & 255).toByte) ++
        data
    }
    // VP8 lossy: 3 frame-tag bytes, sync 9D 01 2A, 14-bit LE dims
    val vp8 = riff("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a,
      (320 & 255).toByte, (320 >> 8).toByte, (240 & 255).toByte, (240 >> 8).toByte))
    assert(parseMedia(vp8) == "webp 320x240")
    // VP8L lossless: 0x2F signature, width-1 | height-1 << 14 packed LE32
    val bits = (99L) | (49L << 14)
    val vp8l = riff("VP8L", Array[Byte](0x2f,
      (bits & 255).toByte, ((bits >> 8) & 255).toByte,
      ((bits >> 16) & 255).toByte, ((bits >> 24) & 255).toByte))
    assert(parseMedia(vp8l) == "webp 100x50")
    // VP8X extended: ANIM flag + 24-bit canvas-1 dims
    val vp8x = riff("VP8X", Array[Byte](0x02, 0, 0, 0,
      (1279 & 255).toByte, ((1279 >> 8) & 255).toByte, 0,
      (719 & 255).toByte, ((719 >> 8) & 255).toByte, 0))
    assert(parseMedia(vp8x) == "webp 1280x720 anim")
    // no ANIM flag -> no frame marker
    val still = riff("VP8X", Array[Byte](0x00, 0, 0, 0,
      (15 & 255).toByte, 0, 0, (7 & 255).toByte, 0, 0))
    assert(parseMedia(still) == "webp 16x8")
    // truncated / unknown chunk: stays a sized webp, never garbage dims
    assert(parseMedia(riff("ALPH", Array[Byte](1, 2, 3))).startsWith("webp ") &&
      parseMedia(riff("ALPH", Array[Byte](1, 2, 3))).endsWith("B"))
    // bad VP8 sync code falls through to the opaque form
    val badSync = riff("VP8 ", Array[Byte](0, 0, 0, 1, 2, 3, 4, 5, 6, 7))
    assert(parseMedia(badSync).endsWith("B"))
    // pixel decode of webp is OUT of codec scope: loud reject at the
    // decoders' own format gates
    intercept[IllegalArgumentException](graft.multimodal.Png.decode(vp8l))
    intercept[IllegalArgumentException](graft.multimodal.Jpeg.decodeGray(vp8))
  }

  test("AV container metadata: MP4 box walk, MP3 frame header, FLAC STREAMINFO (r16)") {
    import graft.inference.CorpusFittedService.parseMedia
    def be16(v: Int) = Array[Byte](((v >> 8) & 255).toByte, (v & 255).toByte)
    def be32(v: Long) = Array[Byte](((v >> 24) & 255).toByte, ((v >> 16) & 255).toByte,
      ((v >> 8) & 255).toByte, (v & 255).toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def ascii(s: String) = s.getBytes("US-ASCII")
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8L + payload.length) ++ ascii(typ) ++ payload
    def mvhd0(ts: Long, dur: Long) =
      box("mvhd", new Array[Byte](12) ++ be32(ts) ++ be32(dur) ++
        Array[Byte](0, 1, 0, 0) ++ new Array[Byte](72) ++ be32(2))
    def tkhd0(w: Long, h: Long, dur: Long) =
      box("tkhd", be32(7) ++ new Array[Byte](8) ++ be32(1) ++ new Array[Byte](4) ++
        be32(dur) ++ new Array[Byte](52) ++ be32(w << 16) ++ be32(h << 16))
    val ftyp = box("ftyp", ascii("isom") ++ new Array[Byte](4))
    // v0 video: dims from tkhd, duration ms from mvhd at timescale 1000
    val mp4 = ftyp ++ box("moov", mvhd0(1000, 500) ++ box("trak", tkhd0(100, 50, 500)))
    assert(parseMedia(mp4) == "mp4 100x50 500ms")
    // audio-only M4A: mvhd but no video trak
    assert(parseMedia(ftyp ++ box("moov", mvhd0(600, 1200))) == "mp4 audio 2000ms")
    // 64-bit largesize moov (size == 1) walks identically
    val inner = mvhd0(1000, 250) ++ box("trak", tkhd0(8, 4, 250))
    val big = ftyp ++ be32(1) ++ ascii("moov") ++ be64(16L + inner.length) ++ inner
    assert(parseMedia(big) == "mp4 8x4 250ms")
    // mvhd v1: 64-bit times, timescale at +20, duration at +24
    val mvhd1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++
      be32(1000) ++ be64(750) ++ Array[Byte](0, 1, 0, 0) ++ new Array[Byte](76))
    assert(parseMedia(ftyp ++ box("moov", mvhd1)) == "mp4 audio 750ms")
    // torn box header: sized fallback, never garbage
    assert(parseMedia(ftyp ++ be32(9999) ++ ascii("moov")) == s"mp4 ${ftyp.length + 8}B")

    // MP3: ID3v2 skip (synchsafe size) then MPEG-1 Layer III header
    def mp3(ver: Int, brIdx: Int, srIdx: Int, id3Pad: Int, footer: Boolean = false) = {
      val flags: Byte = if (footer) 0x10 else 0
      val id3 = ascii("ID3") ++ Array[Byte](3, 0, flags) ++
        be32(id3Pad) ++ new Array[Byte](id3Pad + (if (footer) 10 else 0))
      id3 ++ Array[Byte](0xff.toByte, (0xe0 | (ver << 3) | (1 << 1)).toByte,
        ((brIdx << 4) | (srIdx << 2)).toByte, 0)
    }
    assert(parseMedia(mp3(3, 9, 0, 17)) == "mp3 44100Hz 128kbps")
    assert(parseMedia(mp3(3, 14, 2, 0)) == "mp3 32000Hz 320kbps")
    assert(parseMedia(mp3(2, 13, 1, 5)) == "mp3 24000Hz 144kbps") // MPEG-2 tables
    assert(parseMedia(mp3(3, 9, 0, 3, footer = true)) == "mp3 44100Hz 128kbps")
    // bare frame with no ID3 envelope parses too
    assert(parseMedia(Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0))
      == "mp3 44100Hz 128kbps")
    // free-format (idx 0) / bad samplerate: sized fallback
    assert(parseMedia(mp3(3, 0, 0, 0)).endsWith("B"))
    assert(parseMedia(mp3(3, 9, 3, 0)).endsWith("B"))

    // FLAC STREAMINFO: 20/3/5/36-bit unpack of the packed word
    def flac(sr: Long, ch: Long, total: Long) = {
      val packed = (sr << 44) | ((ch - 1) << 41) | (15L << 36) | total
      ascii("fLaC") ++ Array[Byte](0x80.toByte, 0, 0, 34) ++
        be16(4096) ++ be16(4096) ++ new Array[Byte](6) ++ be64(packed) ++
        new Array[Byte](16)
    }
    assert(parseMedia(flac(44100, 2, 12345)) == "flac 44100Hz 2ch 12345")
    assert(parseMedia(flac(8000, 1, (1L << 36) - 1)) ==
      s"flac 8000Hz 1ch ${(1L << 36) - 1}")

    // WAV: the metadata walk agrees with the full sample decoder
    val wav = graft.multimodal.Wav.encodePcm16(new Array[Short](300), 22050)
    assert(parseMedia(wav) == "wav 22050Hz 1ch 300")
    assert(parseMedia(wav.take(20)) == "wav 20B") // torn: sized fallback
  }

  test("HEIF/BMP/ICO/TIFF metadata: brand-routed ispe dims, endian IFD walk (r16)") {
    import graft.inference.CorpusFittedService.parseMedia
    def be32(v: Long) = Array[Byte](((v >> 24) & 255).toByte, ((v >> 16) & 255).toByte,
      ((v >> 8) & 255).toByte, (v & 255).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    // AVIF: ftyp brand routes to the meta > iprp > ipco > ispe chain
    def heif(brand: String, w: Long, h: Long) = {
      val ispe = be32(20) ++ ascii("ispe") ++ new Array[Byte](4) ++ be32(w) ++ be32(h)
      be32(16) ++ ascii("ftyp" + brand) ++ new Array[Byte](4) ++
        be32(48) ++ ascii("meta") ++ new Array[Byte](4) ++
        be32(36) ++ ascii("iprp") ++ be32(28) ++ ascii("ipco") ++ ispe
    }
    assert(parseMedia(heif("avif", 800, 600)) == "avif 800x600")
    assert(parseMedia(heif("heic", 4032, 3024)) == "heic 4032x3024")
    assert(parseMedia(heif("mif1", 10, 20)) == "heic 10x20")
    // missing ispe: sized fallback, and NOT misread as mp4
    val noIspe = be32(16) ++ ascii("ftypavif") ++ new Array[Byte](4) ++
      be32(12) ++ ascii("meta") ++ new Array[Byte](4)
    assert(parseMedia(noIspe) == s"avif ${noIspe.length}B")
    // BMP: DIB size gates the layout — 40+ reads signed LE32 dims
    // (negative height = legal top-down form), the OS/2 core header
    // (size 12) reads 16-bit dims, anything else stays opaque
    def bmp(w: Int, h: Int) = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).position(14)
      b.putInt(40).putInt(w).putInt(h); b.array()
    }
    assert(parseMedia(bmp(640, 480)) == "bmp 640x480")
    assert(parseMedia(bmp(640, -480)) == "bmp 640x480")
    val core = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    core.put('B'.toByte).put('M'.toByte).position(14)
    core.putInt(12).putShort(320.toShort).putShort(200.toShort)
    assert(parseMedia(core.array()) == "bmp 320x200")
    // unknown DIB size: opaque, never fused garbage dims
    val odd = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    odd.put('B'.toByte).put('M'.toByte).position(14); odd.putInt(16)
    assert(parseMedia(odd.array()) == "bmp 26B")
    // ICO: 0-valued 1-byte dims mean 256
    val ico = Array[Byte](0, 0, 1, 0, 2, 0, 0, 48)
    assert(parseMedia(ico) == "ico 256x48 2img")
    // TIFF: both byte orders, SHORT and LONG tag types
    def tiff(le: Boolean, w: Long, h: Long, shortType: Boolean) = {
      val b = java.nio.ByteBuffer.allocate(8 + 2 + 24 + 4)
        .order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
      b.put((if (le) "II" else "MM").getBytes("US-ASCII"))
      b.putShort(42).putInt(8) // IFD at offset 8
      b.putShort(2) // 2 entries
      def entry(tag: Int, v: Long): Unit = {
        b.putShort(tag.toShort)
        if (shortType) { b.putShort(3).putInt(1).putShort(v.toShort).putShort(0) }
        else { b.putShort(4).putInt(1).putInt(v.toInt) }
      }
      entry(256, w); entry(257, h)
      b.putInt(0) // next IFD
      b.array()
    }
    assert(parseMedia(tiff(le = true, 1024, 768, shortType = true)) == "tiff 1024x768")
    assert(parseMedia(tiff(le = false, 1024, 768, shortType = true)) == "tiff 1024x768")
    assert(parseMedia(tiff(le = true, 100000, 90000, shortType = false)) == "tiff 100000x90000")
    assert(parseMedia(tiff(le = false, 100000, 90000, shortType = false)) == "tiff 100000x90000")
  }

  test("paletted PNG + stereo WAV: round trips, expansion, de-interleave faults (r16)") {
    import graft.multimodal.{Png, Wav}
    // palette round trip: indices expand through PLTE to RGB
    val pal = Array.tabulate(12)(j => (j * 20 + 5).toByte) // 4 entries
    val idx = Array[Byte](0, 1, 2, 3, 3, 2, 1, 0)
    val img = Png.decode(Png.encodePalette(4, 2, pal, idx))
    assert(img.width == 4 && img.height == 2 && img.channels == 3)
    idx.zipWithIndex.foreach { case (i, at) =>
      (0 until 3).foreach { c =>
        assert(img.pixels(at * 3 + c) == pal(i * 3 + c), s"px $at ch $c")
      }
    }
    // out-of-palette index rejects at encode AND at decode
    intercept[IllegalArgumentException](
      Png.encodePalette(2, 1, pal, Array[Byte](0, 9)))
    // gray/RGB paths unaffected: no PLTE means no palette expansion
    val gray = Png.decode(Png.encodeGray(2, 2, Array[Byte](1, 2, 3, 4)))
    assert(gray.channels == 1)

    // stereo round trip: channels come back separated, not interleaved
    val l = Array.tabulate(50)(i => (i * 3).toShort)
    val r = Array.tabulate(50)(i => (-i * 5).toShort)
    val a = Wav.decodePcm16Stereo(Wav.encodePcm16Stereo(l, r, 48000))
    assert(a.sampleRate == 48000)
    assert(a.left.sameElements(l) && a.right.sameElements(r))
    // the mono decoder rejects stereo files loudly (and vice versa)
    intercept[IllegalArgumentException](
      Wav.decodePcm16(Wav.encodePcm16Stereo(l, r)))
    intercept[IllegalArgumentException](
      Wav.decodePcm16Stereo(Wav.encodePcm16(l)))
    // metadata walk reads the stereo layout
    import graft.inference.CorpusFittedService.parseMedia
    assert(parseMedia(Wav.encodePcm16Stereo(l, r, 48000)) == "wav 48000Hz 2ch 50")
  }

  test("media census: all walker families + torn assets, counted by recovered format (r16)") {
    val docs = spark.range(36).select(col("id").as("doc_id"),
      (col("id") * 7 + 3).as("n_chars"))
    val out = graft.multimodal.Multimodal.mediaCensus(spark,
      graft.multimodal.Multimodal.censusMediaTable(docs))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (0L until 36L).flatMap { id =>
      val img = if (id % 9 == 0) "bin"
        else if (id % 3 == 0) "png" else if (id % 3 == 1) "gif" else "webp"
      val av = if (id % 9 == 0 && id % 4 == 2) "mp3" // ID3 family survives the tear
        else if (id % 9 == 0) "bin"
        else if (id % 4 <= 1) "mp4" else if (id % 4 == 2) "mp3" else "flac"
      // r17 codecs leg: a torn 5-byte OggS page keeps its family;
      // a torn avc MP4 loses even its ftyp and lands in 'bin'
      val codec = if (id % 4 <= 1) "ogg"
        else if (id % 9 == 0) "bin" else "mp4"
      Seq(img, av, codec)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expected)
  }

  test("Dsp FFT: exact 8-point cases, dominant-bin recovery, silence, window gate (r16)") {
    import graft.multimodal.Dsp
    // impulse: flat spectrum, |X[k]| = 1 for every k
    val re = Array(1.0, 0, 0, 0, 0, 0, 0, 0); val im = new Array[Double](8)
    Dsp.fft(re, im)
    (0 until 8).foreach { k =>
      assert(math.abs(re(k) - 1.0) < 1e-12 && math.abs(im(k)) < 1e-12)
    }
    // pure cosine at bin 2 of N=8: energy only at bins 2 and 6 (N/2 each)
    val cr = Array.tabulate(8)(i => math.cos(2.0 * math.Pi * 2 * i / 8))
    val ci = new Array[Double](8)
    Dsp.fft(cr, ci)
    assert(math.abs(cr(2) - 4.0) < 1e-9 && math.abs(cr(6) - 4.0) < 1e-9)
    assert(math.abs(cr(1)) < 1e-9 && math.abs(cr(3)) < 1e-9)
    // quantized integer-bin sines recover their bin exactly
    def tone(bin: Int, amp: Double, n: Int = 256): Array[Short] =
      Array.tabulate(n)(i => math.round(amp * math.sin(2.0 * math.Pi * bin * i / n)).toShort)
    // (not 128: a SINE at Nyquist is identically zero — sin(pi*i) = 0)
    Seq(1, 7, 50, 100, 127).foreach { b =>
      assert(Dsp.dominantBin(tone(b, 1000.0), 256) == b, s"bin $b")
    }
    // two-tone: the stronger component wins
    val two = tone(10, 1000.0).zip(tone(40, 300.0)).map { case (a, b) => (a + b).toShort }
    assert(Dsp.dominantBin(two, 256) == 10)
    // silence reports 0, not an arbitrary tie-broken bin
    assert(Dsp.dominantBin(new Array[Short](256), 256) == 0)
    // windows must be powers of two, loudly
    intercept[IllegalArgumentException](Dsp.dominantBin(tone(3, 100.0), 200))
    // end-to-end: encode -> WAV decode -> FFT recovers the generation bin
    val media = graft.multimodal.Multimodal.toneMediaTable(spark,
      spark.range(12).withColumnRenamed("id", "doc_id"))
    val out = graft.multimodal.Multimodal.spectralFeatures(spark, media)
      .collect().sortBy(_.media_id)
    out.foreach { f =>
      assert(f.sample_rate == 25600 && f.n_samples == 256)
      assert(f.dominant_bin == (f.media_id % 100 + 1).toInt)
      assert(f.dominant_freq_hz == (f.media_id % 100 + 1) * 100)
    }
    // STFT over the two-segment chirp: frame 0 reads b, frame 1 b+40 —
    // the step a whole-signal FFT would average away
    val chirp = graft.multimodal.Multimodal.chirpMediaTable(spark,
      spark.range(8).withColumnRenamed("id", "doc_id"))
    val frames = graft.multimodal.Multimodal.stftFrames(spark, chirp)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(frames.length == 16)
    frames.foreach { f =>
      val b = (f.media_id % 60 + 1).toInt + (if (f.frame_idx == 1) 40 else 0)
      assert(f.dominant_bin == b && f.dominant_freq_hz == b * 100L)
    }
    // overlapping hop: 3 frames from 512 samples at hop 128 within the
    // first segment keep reading the segment bin
    val one = graft.multimodal.Multimodal.stftFrames(spark,
      graft.multimodal.Multimodal.toneMediaTable(spark,
        spark.range(1).withColumnRenamed("id", "doc_id")), window = 64, hop = 32)
      .collect()
    assert(one.length == (256 - 64) / 32 + 1)
    assert(one.forall(_.dominant_bin > 0))
  }

  test("entry + every registered query is runnable at sf0.001 (smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
    }
  }
}

package graft

import graft.operators.{Multimodal, Ppm}

/** F family laws: the REAL netpbm codec (planted hand-computed
  * images, unsigned-byte pixels, header comments, corruption modes)
  * plus the plumbing contracts (coverage, determinism, metadata).
  */
class MultimodalSpec extends SparkSpec {

  test("feature extract covers every document with deterministic decoded features") {
    val feats = Multimodal.mmFeatureExtract(tables).collect()
    assert(feats.length == tables.documents.count())
    val again = Multimodal.mmFeatureExtract(tables).collect()
    assert(feats.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "decode must be deterministic")
    feats.foreach { r =>
      assert(r.getString(1) == "P6")                  // every payload parses
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 8)    // width
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 8)    // height
      assert(r.getInt(4) == 3)                        // channels
      assert(r.getInt(5) == 255)                      // maxval
      // printable-ASCII pixel generator ⇒ means inside [32, 127)
      Seq(6, 7, 8).foreach(i =>
        assert(r.getDouble(i) >= 32.0 && r.getDouble(i) < 127.0))
      assert(r.getInt(9) == 11 + r.getInt(2) * r.getInt(3) * 3) // n_bytes
    }
  }

  test("P6 codec: planted 2x2 image decodes to exact hand-computed channel means") {
    val raster = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120).map(_.toByte)
    val img = Ppm.parse("P6\n2 2\n255\n".getBytes("US-ASCII") ++ raster)
      .getOrElse(fail("planted P6 must parse"))
    assert(img.format == "P6" && img.width == 2 && img.height == 2 &&
      img.maxval == 255 && img.channels == 3)
    assert(Ppm.channelMeans(img).toSeq == Seq(55.0, 65.0, 75.0))
  }

  test("BMP codec: bottom-up BGR rows with padding decode to the logical top-down RGB image") {
    import graft.operators.Bmp
    // hand-built 3x2 (stride 12: 9 pixel bytes + 3 padding), distinct
    // per-position values so BOTH the bottom-up row mapping and the BGR
    // channel order are pinned positionally (channel means alone are
    // row-order invariant and cannot catch a top-down misread)
    val w = 3; val h = 2; val stride = 12
    val b = new Array[Byte](54 + stride * h)
    def p16(off: Int, v: Int): Unit = { b(off) = v.toByte; b(off + 1) = (v >> 8).toByte }
    def p32(off: Int, v: Int): Unit = (0 until 4).foreach(i => b(off + i) = (v >> (8 * i)).toByte)
    b(0) = 'B'; b(1) = 'M'; p32(2, b.length); p32(10, 54); p32(14, 40)
    p32(18, w); p32(22, h); p16(26, 1); p16(28, 24); p32(30, 0); p32(34, stride * h)
    // logical pixel (x, y) gets R=10y+x, G=100+10y+x, B=200+10y+x
    for (y <- 0 until h; x <- 0 until w) {
      val base = 54 + (h - 1 - y) * stride + 3 * x
      b(base) = (200 + 10 * y + x).toByte; b(base + 1) = (100 + 10 * y + x).toByte
      b(base + 2) = (10 * y + x).toByte
    }
    val img = Bmp.parse(b).getOrElse(fail("planted BMP must parse"))
    assert(img.width == w && img.height == h && img.rowStride == stride)
    for (y <- 0 until h; x <- 0 until w)
      assert(Bmp.sample(img, x, y) == ((10 * y + x, 100 + 10 * y + x, 200 + 10 * y + x)),
        s"wrong pixel at ($x,$y): a top-down or RGB-order misread")
    // means skip the padding bytes: R mean = (0+1+2+10+11+12)/6 = 6
    assert(Bmp.channelMeans(img).toSeq == Seq(6.0, 106.0, 206.0))
  }

  test("BMP codec rejects out-of-envelope payloads; boundary quarantines them") {
    import graft.operators.Bmp
    val good = Multimodal.bmpBytes(7L)
    assert(Bmp.parse(good).isDefined, "generated BMP must parse")
    assert(Bmp.parse(good.dropRight(1)).isEmpty, "truncated raster must fail")
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(Bmp.parse(bpp8).isEmpty, "8-bit palette BMP is out of envelope")
    val rle = good.clone(); rle(30) = 1
    assert(Bmp.parse(rle).isEmpty, "compressed (RLE) BMP is out of envelope")
    // through the public boundary: corrupt BMP magic → quarantine row
    import spark.implicits._
    val payloads = Seq((1L, good), (2L, good.dropRight(1)))
      .toDF("doc_id", "payload")
    val out = Multimodal.mmDecodePayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "BMP24" && out(2L) == "corrupt")
  }

  test("WAV codec: chunk walk skips unknown chunks (with odd-size padding); stereo reads channel 0; features hand-match") {
    import graft.operators.Wav
    // hand-built WAV: RIFF + a 3-byte junk chunk BEFORE fmt (odd size →
    // pad byte, the RIFF rule naive parsers miss) + fmt + data, stereo,
    // frames ch0 = [1000, -1000, 500], ch1 = junk the features must skip
    val frames = Seq((1000, 7), (-1000, -7), (500, 9))
    val junkSz = 3
    val dataSz = frames.size * 4
    val total = 12 + (8 + junkSz + 1) + (8 + 16) + 8 + dataSz
    val b = new Array[Byte](total)
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, i) => b(off + i) = c }
    def p16(off: Int, v: Int): Unit = { b(off) = v.toByte; b(off + 1) = (v >> 8).toByte }
    def p32(off: Int, v: Int): Unit = (0 until 4).foreach(i => b(off + i) = (v >> (8 * i)).toByte)
    tag(0, "RIFF"); p32(4, total - 8); tag(8, "WAVE")
    var pos = 12
    tag(pos, "LIST"); p32(pos + 4, junkSz); pos += 8 + junkSz + 1 // odd → +1 pad
    tag(pos, "fmt "); p32(pos + 4, 16)
    p16(pos + 8, 1); p16(pos + 10, 2); p32(pos + 12, 16000); p32(pos + 16, 64000)
    p16(pos + 20, 4); p16(pos + 22, 16); pos += 24
    tag(pos, "data"); p32(pos + 4, dataSz); pos += 8
    frames.foreach { case (c0, c1) =>
      p16(pos, c0 & 0xffff); p16(pos + 2, c1 & 0xffff); pos += 4
    }
    val a = Wav.parse(b).getOrElse(fail("planted WAV must parse"))
    assert(a.sampleRate == 16000 && a.channels == 2 && a.nFrames == 3)
    assert((0 until 3).map(f => Wav.sample(a, f, 0)) == Seq(1000, -1000, 500))
    val (sa, sq, zc) = Wav.features(a)
    assert(sa == 2500L && sq == 1000000L + 1000000L + 250000L && zc == 2L,
      s"hand-computed features mismatch: ($sa, $sq, $zc)")
  }

  test("WAV codec rejects out-of-envelope payloads; boundary quarantines them") {
    import graft.operators.Wav
    val good = Multimodal.wavBytes(11L)
    assert(Wav.parse(good).isDefined, "generated WAV must parse")
    assert(Wav.parse(good.dropRight(1)).isEmpty, "truncated data chunk must fail")
    val float32 = good.clone(); float32(20) = 3 // IEEE-float audioFormat
    assert(Wav.parse(float32).isEmpty, "non-PCM format is out of envelope")
    val bps8 = good.clone(); bps8(34) = 8
    assert(Wav.parse(bps8).isEmpty, "8-bit samples are out of envelope")
    import spark.implicits._
    val payloads = Seq((1L, good), (2L, Array.fill[Byte](64)(0x2e))).toDF("doc_id", "payload")
    val out = Multimodal.mmDecodeWavPayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "PCM16" && out(2L) == "corrupt")
    // Int-overflow guard: a declared chunk size near Int.MaxValue wraps
    // `pos + 8 + sz` negative under Int arithmetic — the chunk walk
    // must reject it (r11 ADVICE), not read at a huge offset and throw
    val hugeChunk = good.clone()
    hugeChunk(16) = 0xf0.toByte; hugeChunk(17) = 0xff.toByte
    hugeChunk(18) = 0xff.toByte; hugeChunk(19) = 0x7f.toByte // fmt size ≈ MaxInt
    assert(Wav.parse(hugeChunk).isEmpty, "overflowing chunk size must fail the walk")
    val hugeData = good.clone()
    hugeData(40) = 0xf0.toByte; hugeData(41) = 0xff.toByte
    hugeData(42) = 0xff.toByte; hugeData(43) = 0x7f.toByte // data size ≈ MaxInt
    assert(Wav.parse(hugeData).isEmpty, "overflowing data size must fail the walk")
  }

  test("PNG codec: all five filters round-trip positionally; CRC/truncation/interlace quarantine; boundary dispatches on magic") {
    import graft.operators.Png
    // a 4x6 raster with every filter type exercised (y % 5 covers 0-4
    // plus a repeat) — positional pins catch a wrong predictor that
    // channel means would average away
    val (w, h) = (4, 6)
    val rgb = Array.tabulate(3 * w * h)(i => ((i * 37 + 11) % 256).toByte)
    val bytes = Png.encode(w, h, rgb, y => y % 5)
    val img = Png.parse(bytes).getOrElse(fail("planted PNG must parse"))
    assert(img.width == w && img.height == h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = 3 * (y * w + x)
      val expect = ((rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff))
      assert(Png.sample(img, x, y) == expect,
        s"pixel ($x,$y) under filter ${y % 5} mismatched")
    }
    // integrity failures must quarantine, never throw or fake
    assert(Png.parse(bytes.dropRight(15)).isEmpty, "truncated payload must fail")
    val rotted = bytes.clone()
    rotted(bytes.length - 20) = (rotted(bytes.length - 20) ^ 0x40).toByte
    assert(Png.parse(rotted).isEmpty, "a bit-rotted chunk must fail its CRC")
    val interlaced = bytes.clone()
    interlaced(8 + 8 + 12) = 1 // IHDR interlace byte (offset 8 sig + 8 len/tag + 12)
    assert(Png.parse(interlaced).isEmpty,
      "a hacked interlace byte rots the IHDR CRC (Adam7 itself is in-envelope since r15)")
    val one = Png.encode(1, 1, Array[Byte](1, 2, 3), _ => 0)
    val typeHacked = one.clone(); typeHacked(8 + 8 + 9) = 7 // invalid color type
    assert(Png.parse(typeHacked).isEmpty,
      "an unsupported color type is out of envelope (CRC also breaks)")
    // short IDAT: drop the last stored-block byte and fix lengths? —
    // simpler: declare one more row than the stream carries
    val tall = Png.encode(w, h, rgb, y => y % 5)
    // (IHDR height at sig+len/tag+4; bump → inflated stream comes up short)
    val tallHacked = tall.clone(); tallHacked(8 + 8 + 7) = (h + 1).toByte
    assert(Png.parse(tallHacked).isEmpty, "short inflated stream must fail (CRC also breaks)")
    // the decode boundary dispatches on the PNG magic and quarantines rot
    import spark.implicits._
    val payloads = Seq((1L, bytes), (2L, rotted)).toDF("doc_id", "payload")
    val out = Multimodal.mmDecodePayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "PNG8" && out(2L) == "corrupt")
  }

  test("Adam7 PNG: per-pass defilter + scatter round-trips positionally at odd dims; interlacing never changes the raster; boundary tags PNG8I") {
    import graft.operators.Png
    // odd dims exercise the empty-pass and ceil-division edges of the
    // pass grid (w<5 empties pass 2, h<5 empties pass 3, 1x1 leaves
    // only pass 1); positional pins catch a mis-scattered pixel that
    // channel means would average away
    for ((w, h) <- Seq((1, 1), (2, 1), (1, 2), (5, 3), (8, 8), (9, 5), (7, 10), (16, 24))) {
      val rgb = Array.tabulate(3 * w * h)(i => ((i * 37 + w * 5 + h * 3 + 11) % 256).toByte)
      val bytes = Png.encodeAdam7(w, h, rgb, y => y % 5)
      val img = Png.parse(bytes).getOrElse(fail(s"planted Adam7 ${w}x$h must parse"))
      assert(img.width == w && img.height == h && img.interlaced)
      for (y <- 0 until h; x <- 0 until w) {
        val p = 3 * (y * w + x)
        assert(Png.sample(img, x, y) ==
          ((rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff)),
          s"pixel ($x,$y) of ${w}x$h mis-scattered")
      }
      val straight = Png.parse(Png.encode(w, h, rgb, y => y % 5))
        .getOrElse(fail("straight encode must parse"))
      assert(java.util.Arrays.equals(img.raster, straight.raster),
        s"interlaced raster diverged from straight at ${w}x$h")
    }
    // the decode boundary reports the interlacing it actually walked
    import spark.implicits._
    val b = Png.encodeAdam7(8, 8, Array.tabulate(192)(i => i.toByte), _ => 0)
    val out = Multimodal.mmDecodePayloads(spark,
      Seq((1L, b)).toDF("doc_id", "payload")).collect()
    assert(out.head.getString(1) == "PNG8I")
    // interlace byte 2 is off the spec (and the flip rots the CRC)
    val hacked = b.clone(); hacked(8 + 8 + 12) = 2
    assert(Png.parse(hacked).isEmpty, "invalid interlace byte must quarantine")
  }

  test("PNG gray/palette: bpp=1 filters round-trip positionally; PLTE custody (missing, on-gray, after-IDAT, bad length, out-of-range index) quarantines; boundary reports the parsed layout") {
    import graft.operators.Png
    val (w, h) = (4, 6)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val len = data.length
      out.write((len >> 24) & 0xff); out.write((len >> 16) & 0xff)
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(tag.getBytes("US-ASCII")); out.write(data, 0, len)
      val c = Png.chunkCrc(tag, data)
      out.write((c >> 24) & 0xff); out.write((c >> 16) & 0xff)
      out.write((c >> 8) & 0xff); out.write(c & 0xff)
      out.toByteArray
    }
    val ihdrEnd = 8 + 12 + 13 // signature + (len/tag/crc) + IHDR data
    // grayscale: positional round-trip through all five bpp=1 filters
    val g = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val gb = Png.encodeGray(w, h, g, y => y % 5)
    val gi = Png.parse(gb).getOrElse(fail("planted gray PNG must parse"))
    assert(gi.colorType == 0 && gi.width == w && gi.height == h)
    for (y <- 0 until h; x <- 0 until w) {
      val v = g(y * w + x) & 0xff
      assert(Png.sample(gi, x, y) == ((v, v, v)),
        s"gray pixel ($x,$y) under filter ${y % 5} mismatched")
    }
    // palette: positional resolution through the PLTE
    val n = 5
    val plte = Array.tabulate(3 * n)(i => ((i * 29 + 3) % 256).toByte)
    val idx = Array.tabulate(w * h)(i => ((i * 7 + 2) % n).toByte)
    val pb = Png.encodePalette(w, h, plte, idx, y => y % 5)
    val pi = Png.parse(pb).getOrElse(fail("planted palette PNG must parse"))
    assert(pi.colorType == 3)
    for (y <- 0 until h; x <- 0 until w) {
      val ix = idx(y * w + x) & 0xff
      val e = ((plte(3 * ix) & 0xff, plte(3 * ix + 1) & 0xff,
        plte(3 * ix + 2) & 0xff))
      assert(Png.sample(pi, x, y) == e, s"palette pixel ($x,$y) mismatched")
    }
    // custody: each malformation quarantines, never throws or fakes
    val shortPlte = Array.tabulate(3 * 2)(i => ((i * 29 + 3) % 256).toByte)
    assert(Png.parse(Png.encodePalette(w, h, shortPlte, idx, _ => 0)).isEmpty,
      "an index past the PLTE must quarantine, not invent a color")
    val noPlte = Png.encodePalette(w, h, null, idx, _ => 0)
    assert(Png.parse(noPlte).isEmpty, "indexed without a PLTE must quarantine")
    val plteOnGray = gb.take(ihdrEnd) ++ chunk("PLTE", plte) ++ gb.drop(ihdrEnd)
    assert(Png.parse(plteOnGray).isEmpty, "PLTE on grayscale is forbidden")
    val iendStart = pb.length - 12
    val plteAfterIdat = pb.take(iendStart) ++ chunk("PLTE", plte) ++ pb.drop(iendStart)
    assert(Png.parse(plteAfterIdat).isEmpty, "PLTE after IDAT must quarantine")
    val badLen = pb.take(ihdrEnd) ++ chunk("PLTE", Array[Byte](1, 2, 3, 4)) ++ pb.drop(ihdrEnd)
    assert(Png.parse(badLen).isEmpty, "a PLTE not divisible into RGB entries must quarantine")
    // the decode boundary reports the PARSED layout per format tag
    import spark.implicits._
    val payloads = Seq((1L, gb), (2L, pb), (3L, noPlte)).toDF("doc_id", "payload")
    val out = Multimodal.mmDecodePayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "PNG8G" && out(2L) == "PNG8P" && out(3L) == "corrupt")
  }

  test("JPEG codec: DC-exact blocks round-trip positionally; truncation/progressive/DRI/16-bit-DQT quarantine; stuffing exercised") {
    import graft.operators.Jpeg
    val (w, h) = (24, 16)
    val nb = (w / 8) * (h / 8)
    val blocks = Array.tabulate(nb)(b => (b * 53 + 7) % 256)
    val bytes = Jpeg.encodeBlocks(w, h, blocks)
    val img = Jpeg.parse(bytes).getOrElse(fail("planted JPEG must parse"))
    assert(img.width == w && img.height == h)
    // positional: every pixel equals its block's constant (bit-exact
    // through Huffman decode, DC prediction, dequant and the IDCT)
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y / 8) * (w / 8) + (x / 8)
      assert(img.pixels(y * w + x) == blocks(b),
        s"pixel ($x,$y) != block $b constant ${blocks(b)}")
    }
    // byte stuffing: search the block-value space for a payload whose
    // entropy segment carries an 0xFF (stuffed to FF00) and pin that
    // it still decodes bit-exactly — the path a decoder that forgets
    // stuffing mangles
    def hasStuffing(p: Array[Byte]): Boolean = {
      // only inside the entropy segment: after SOS..before EOI
      val sos = (0 until p.length - 1).indexWhere(i =>
        (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == 0xda)
      (sos until p.length - 1).exists(i =>
        (p(i) & 0xff) == 0xff && p(i + 1) == 0x00)
    }
    val stuffedCase = (for {
      c1 <- 0 until 256
      c2 <- 0 until 256
      bs = Array(c1, c2, c1)
      p = Jpeg.encodeBlocks(24, 8, bs)
      if hasStuffing(p)
    } yield (bs, p)).headOption
    assert(stuffedCase.isDefined, "no block pattern produced 0xFF00 stuffing")
    val (sBlocks, sBytes) = stuffedCase.get
    val sImg = Jpeg.parse(sBytes).getOrElse(fail("stuffed payload must parse"))
    for (y <- 0 until 8; x <- 0 until 24) {
      assert(sImg.pixels(y * 24 + x) == sBlocks(x / 8),
        s"stuffed payload pixel ($x,$y) mismatched")
    }
    // trailing-stuffed-pad tolerance (r12 ADVICE): a scan whose final
    // entropy byte is 0xFF is emitted as the stuffed pair FF 00 before
    // EOI — when the decoder never needed those pad bits it must skip
    // the pair (and any FF fill bytes, T.81 B.1.1.2), not quarantine
    val eoiAt = bytes.length - 2
    val stuffedTail = bytes.take(eoiAt) ++
      Array(0xff.toByte, 0x00.toByte) ++ bytes.drop(eoiAt)
    val stImg = Jpeg.parse(stuffedTail)
      .getOrElse(fail("stuffed FF00 pad before EOI must parse"))
    assert(stImg.pixels.sameElements(img.pixels))
    val filledTail = bytes.take(eoiAt) ++
      Array(0xff.toByte, 0x00.toByte, 0xff.toByte) ++ bytes.drop(eoiAt)
    assert(Jpeg.parse(filledTail).isDefined,
      "FF fill bytes before the EOI marker must parse")
    // quarantine envelope
    assert(Jpeg.parse(bytes.dropRight(6)).isEmpty, "missing EOI must fail")
    assert(Jpeg.parse(bytes.dropRight(bytes.length / 3)).isEmpty,
      "truncated scan must fail")
    val prog = bytes.clone()
    // SOF0 marker byte (0xC0) -> SOF2 (progressive): locate FF C0
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Jpeg.parse(prog).isEmpty, "progressive is out of envelope")
    val dqt16 = bytes.clone()
    val dqtAt = (0 until dqt16.length - 1).find(i =>
      (dqt16(i) & 0xff) == 0xff && (dqt16(i + 1) & 0xff) == 0xdb).get
    dqt16(dqtAt + 4) = 0x10 // Pq=1: 16-bit table
    assert(Jpeg.parse(dqt16).isEmpty, "16-bit quant tables are out of envelope")
    // the decode boundary quarantines rot instead of failing the job
    import spark.implicits._
    val payloads = Seq((1L, bytes), (2L, Array.fill[Byte](32)(0x11)))
      .toDF("doc_id", "payload")
    val out = Multimodal.mmDecodeJpegPayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "JPEG8G" && out(2L) == "corrupt")
  }

  test("color JPEG codec: 4:2:0 DC-exact blocks round-trip positionally; missing chroma tables/truncation/bad sampling quarantine") {
    import graft.operators.Jpeg
    val (w, h) = (32, 16)
    val bw = w / 8
    val yB = Array.tabulate(bw * (h / 8))(b => (b * 53 + 7) % 256)
    val cw = w / 16
    val cbB = Array.tabulate(cw * (h / 16))(c => (c * 91 + 13) % 256)
    val crB = Array.tabulate(cw * (h / 16))(c => (c * 37 + 201) % 256)
    val bytes = Jpeg.encodeBlocksColor(w, h, yB, cbB, crB)
    val img = Jpeg.parseColor(bytes).getOrElse(fail("planted color JPEG must parse"))
    assert(img.width == w && img.height == h && img.channels == 3)
    // positional: every pixel equals the floor-affine of its luma
    // block's Y and its MCU's (Cb, Cr) — through per-component table
    // selection, MCU interleave, per-component DC prediction, IDCT,
    // replication upsampling and the JFIF conversion
    def clampF(x: Double) = math.max(0, math.min(255, math.floor(x + 0.5).toInt))
    for (y <- 0 until h; x <- 0 until w) {
      val yv = yB((y / 8) * bw + (x / 8))
      val mcu = (y / 16) * cw + (x / 16)
      val (cb, cr) = (cbB(mcu), crB(mcu))
      assert(img.r(y * w + x) == clampF(yv + 1.402 * (cr - 128)),
        s"R at ($x,$y)")
      assert(img.g(y * w + x) ==
        clampF(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), s"G at ($x,$y)")
      assert(img.b(y * w + x) == clampF(yv + 1.772 * (cb - 128)), s"B at ($x,$y)")
    }
    // grayscale payloads pass through the color boundary as r=g=b
    val gray = Jpeg.encodeBlocks(16, 8, Array(40, 200))
    val gImg = Jpeg.parseColor(gray).getOrElse(fail("grayscale must parse via parseColor"))
    assert(gImg.channels == 1 &&
      gImg.r.sameElements(gImg.g) && gImg.g.sameElements(gImg.b))
    assert(gImg.r.take(8).forall(_ == 40))
    // quarantine envelope
    assert(Jpeg.parseColor(bytes.dropRight(bytes.length / 3)).isEmpty,
      "truncated scan must fail")
    // strip the chroma AC table (the 4th DHT segment, id 0x11)
    def findSeg(p: Array[Byte], marker: Int, idByte: Int): Int =
      (0 until p.length - 4).find(i => (p(i) & 0xff) == 0xff &&
        (p(i + 1) & 0xff) == marker && (p(i + 4) & 0xff) == idByte).get
    val dhtAt = findSeg(bytes, 0xc4, 0x11)
    val segLen = ((bytes(dhtAt + 2) & 0xff) << 8) | (bytes(dhtAt + 3) & 0xff)
    val noChroma = bytes.take(dhtAt) ++ bytes.drop(dhtAt + 2 + segLen)
    assert(Jpeg.parseColor(noChroma).isEmpty,
      "a missing chroma Huffman table must quarantine, not decode garbage")
    // 4:1:1 sampling is out of envelope
    val sof = (0 until bytes.length - 1).find(i => (bytes(i) & 0xff) == 0xff &&
      (bytes(i + 1) & 0xff) == 0xc0).get
    val badSamp = bytes.clone()
    badSamp(sof + 4 + 7) = 0x41.toByte // Y component h=4, v=1
    assert(Jpeg.parseColor(badSamp).isEmpty, "4:1:1 is out of envelope")
    // the decode boundary quarantines rot instead of failing the job
    import spark.implicits._
    val payloads = Seq((1L, bytes), (2L, Array.fill[Byte](32)(0x11)))
      .toDF("doc_id", "payload")
    val out = Multimodal.mmDecodeJpegColorPayloads(spark, payloads).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "JPEG420" && out(2L) == "corrupt")
  }

  test("JPEG 4:2:2: horizontal-only chroma replication round-trips positionally; exotic samplings stay quarantined; boundary tags the parsed sampling") {
    import graft.operators.Jpeg
    val (w, h) = (32, 16)
    val bw0 = w / 8
    val cw = w / 16
    val yB = Array.tabulate(bw0 * (h / 8))(b => (b * 53 + 9) % 256)
    val cbB = Array.tabulate(cw * (h / 8))(c => (c * 37 + 40) % 256)
    val crB = Array.tabulate(cw * (h / 8))(c => (c * 29 + 90) % 256)
    val bytes = Jpeg.encodeBlocksColor422(w, h, yB, cbB, crB)
    val img = Jpeg.parseColor(bytes).getOrElse(fail("planted 4:2:2 must parse"))
    assert(img.channels == 3 && img.samp == 0x21)
    def clampF(x: Double) = {
      val v = math.floor(x + 0.5).toInt
      if (v < 0) 0 else if (v > 255) 255 else v
    }
    // positional: each pixel's chroma comes from its 16×8 MCU — a
    // decoder that also replicates vertically (the 4:2:0 habit) or
    // walks the luma interleave in 2×2 order fails these pins
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y / 8) * bw0 + (x / 8)
      val c = (y / 8) * cw + (x / 16)
      val (yv, cb, cr) = (yB(b), cbB(c), crB(c))
      val i = y * w + x
      assert(img.r(i) == clampF(yv + 1.402 * (cr - 128)), s"R($x,$y)")
      assert(img.g(i) == clampF(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), s"G($x,$y)")
      assert(img.b(i) == clampF(yv + 1.772 * (cb - 128)), s"B($x,$y)")
    }
    // the remaining exotic samplings stay quarantined (JPEG has no
    // CRC, so this is the pure envelope check on the SOF byte);
    // 0x12 left this list in r15 — 4:4:0 is in-envelope (F28)
    val sof = (0 until bytes.length - 1).find(i => (bytes(i) & 0xff) == 0xff &&
      (bytes(i + 1) & 0xff) == 0xc0).get
    for (samp <- Seq(0x41, 0x42, 0x31, 0x24)) {
      val hacked = bytes.clone()
      hacked(sof + 4 + 7) = samp.toByte
      assert(Jpeg.parseColor(hacked).isEmpty,
        f"sampling 0x$samp%02x must stay quarantined")
    }
    // the boundary tags the PARSED sampling
    import spark.implicits._
    val out = Multimodal.mmDecodeJpegColorPayloads(spark,
      Seq((1L, bytes)).toDF("doc_id", "payload")).collect()
    assert(out(0).getString(1) == "JPEG422")
  }

  test("JPEG 4:4:0: vertical-only chroma replication round-trips positionally; boundary tags JPEG440") {
    import graft.operators.Jpeg
    val (w, h) = (16, 32)
    val bw0 = w / 8
    val cw = w / 8
    val yB = Array.tabulate(bw0 * (h / 8))(b => (b * 53 + 9) % 256)
    val cbB = Array.tabulate(cw * (h / 16))(c => (c * 37 + 40) % 256)
    val crB = Array.tabulate(cw * (h / 16))(c => (c * 29 + 90) % 256)
    val bytes = Jpeg.encodeBlocksColor440(w, h, yB, cbB, crB)
    val img = Jpeg.parseColor(bytes).getOrElse(fail("planted 4:4:0 must parse"))
    assert(img.channels == 3 && img.samp == 0x12)
    def clampF(x: Double) = {
      val v = math.floor(x + 0.5).toInt
      if (v < 0) 0 else if (v > 255) 255 else v
    }
    // positional: each pixel's chroma comes from its 8×16 MCU — a
    // decoder that also replicates horizontally (the 4:2:0 habit) or
    // stacks the luma interleave in the 4:2:2 order fails these pins
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y / 8) * bw0 + (x / 8)
      val c = (y / 16) * cw + (x / 8)
      val (yv, cb, cr) = (yB(b), cbB(c), crB(c))
      val i = y * w + x
      assert(img.r(i) == clampF(yv + 1.402 * (cr - 128)), s"R($x,$y)")
      assert(img.g(i) == clampF(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), s"G($x,$y)")
      assert(img.b(i) == clampF(yv + 1.772 * (cb - 128)), s"B($x,$y)")
    }
    import spark.implicits._
    val out = Multimodal.mmDecodeJpegColorPayloads(spark,
      Seq((1L, bytes)).toDF("doc_id", "payload")).collect()
    assert(out(0).getString(1) == "JPEG440")
  }

  test("DRI restart intervals: RSTn resync + predictor resets decode DC-exactly; wrong sequence, missing marker, and markers without DRI all quarantine") {
    import graft.operators.Jpeg
    val (w, h) = (32, 32) // 2×2 = 4 MCUs at 4:2:0
    val bw = w / 8
    val yB = Array.tabulate(bw * (h / 8))(b => (b * 53 + 7) % 256)
    val cw = w / 16
    val cbB = Array.tabulate(cw * (h / 16))(c => (c * 91 + 13) % 256)
    val crB = Array.tabulate(cw * (h / 16))(c => (c * 37 + 201) % 256)
    val plain = Jpeg.parseColor(Jpeg.encodeBlocksColor(w, h, yB, cbB, crB))
      .getOrElse(fail("plain color reference must parse"))
    def sosAt(p: Array[Byte]) = (0 until p.length - 1).indexWhere(i =>
      (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == 0xda)
    def rstOffsets(p: Array[Byte]) = (sosAt(p) until p.length - 1).filter(i =>
      (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) >= 0xd0 && (p(i + 1) & 0xff) <= 0xd7)
    for (ri <- Seq(1, 2, 3)) {
      val bytes = Jpeg.encodeBlocksColor(w, h, yB, cbB, crB, restartInterval = ri)
      // the stream really carries the marker cadence (none after the
      // final interval): ⌈4/ri⌉ − 1 boundaries
      assert(rstOffsets(bytes).size == (4 + ri - 1) / ri - 1,
        s"ri=$ri: wrong marker count")
      val img = Jpeg.parseColor(bytes)
        .getOrElse(fail(s"ri=$ri: DRI payload must parse"))
      assert(img.r.sameElements(plain.r) && img.g.sameElements(plain.g) &&
        img.b.sameElements(plain.b),
        s"ri=$ri: DRI decode must equal the plain decode of the same blocks")
    }
    // grayscale path: same machinery, one block per MCU
    val gB = Array.tabulate(8)(b => (b * 37 + 11) % 256)
    val gPlain = Jpeg.parse(Jpeg.encodeBlocks(64, 8, gB))
      .getOrElse(fail("plain grayscale reference must parse"))
    val gBytes = Jpeg.encodeBlocks(64, 8, gB, restartInterval = 3)
    assert(rstOffsets(gBytes).size == 2)
    val gImg = Jpeg.parse(gBytes)
      .getOrElse(fail("grayscale DRI payload must parse"))
    assert(gImg.pixels.sameElements(gPlain.pixels))
    // quarantine pins, all on the ri=1 stream (3 markers)
    val dri1 = Jpeg.encodeBlocksColor(w, h, yB, cbB, crB, restartInterval = 1)
    val m0 = rstOffsets(dri1).head
    val badSeq = dri1.clone()
    badSeq(m0 + 1) = 0xd1.toByte // first marker must be RST0
    assert(Jpeg.parseColor(badSeq).isEmpty,
      "an out-of-sequence restart marker must quarantine")
    val missing = dri1.take(m0) ++ dri1.drop(m0 + 2) // marker spliced out
    assert(Jpeg.parseColor(missing).isEmpty,
      "a missing restart marker must quarantine, not mis-sync")
    // markers present but NO DRI segment: a mid-scan marker is corruption
    val driSeg = (0 until dri1.length - 1).indexWhere(i =>
      (dri1(i) & 0xff) == 0xff && (dri1(i + 1) & 0xff) == 0xdd)
    val noDri = dri1.take(driSeg) ++ dri1.drop(driSeg + 6)
    assert(rstOffsets(noDri).nonEmpty)
    assert(Jpeg.parseColor(noDri).isEmpty,
      "restart markers without a DRI declaration must quarantine")
    // the planted DRI corpus equals the F23b features doc-for-doc (the
    // oracle-identity the gate leans on)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Multimodal.mmFeatureExtractJpegDri(tables).orderBy("doc_id")) ==
      rows(Multimodal.mmFeatureExtractJpegColor(tables).orderBy("doc_id")),
      "DRI corpus features must equal the plain color corpus features")
  }

  test("progressive JPEG: four-stage scan script decodes DC-exactly and equals the baseline decode; bad succession and truncation quarantine") {
    import graft.operators.Jpeg
    val (w, h) = (32, 32)
    val bw = w / 8
    // odd block values make the DC-refinement parity bit LIVE: a
    // decoder that dropped the second scan would be off by 8 in Y
    val yB = Array.tabulate(bw * (h / 8))(b => (b * 53 + 7) % 256)
    val cw = w / 16
    val cbB = Array.tabulate(cw * (h / 16))(c => (c * 91 + 13) % 256)
    val crB = Array.tabulate(cw * (h / 16))(c => (c * 37 + 201) % 256)
    val base = Jpeg.parseColor(Jpeg.encodeBlocksColor(w, h, yB, cbB, crB))
      .getOrElse(fail("baseline reference must parse"))
    def countMarker(p: Array[Byte], m: Int) = (0 until p.length - 1).count(i =>
      (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == m)
    var progBytes: Array[Byte] = null
    for (ri <- Seq(0, 1, 2)) {
      val pb = Jpeg.encodeBlocksColorProgressive(w, h, yB, cbB, crB,
        restartInterval = ri)
      if (ri == 0) progBytes = pb
      // structurally progressive: one SOF2 frame, the 8-scan script
      assert(countMarker(pb, 0xc2) == 1 && countMarker(pb, 0xda) == 8,
        s"ri=$ri: expected the four-stage script")
      val img = Jpeg.parseColor(pb)
        .getOrElse(fail(s"ri=$ri: progressive payload must parse"))
      assert(img.r.sameElements(base.r) && img.g.sameElements(base.g) &&
        img.b.sameElements(base.b),
        s"ri=$ri: progressive decode must equal the baseline decode")
    }
    // successive-approximation custody: the DC refinement scan must
    // declare Ah = Al + 1 — patch scan 2's AhAl byte (0x43 → 0x42)
    val sos2 = {
      val first = (0 until progBytes.length - 1).find(i =>
        (progBytes(i) & 0xff) == 0xff && (progBytes(i + 1) & 0xff) == 0xda).get
      (first + 2 until progBytes.length - 1).find(i =>
        (progBytes(i) & 0xff) == 0xff && (progBytes(i + 1) & 0xff) == 0xda).get
    }
    val sosLen = ((progBytes(sos2 + 2) & 0xff) << 8) | (progBytes(sos2 + 3) & 0xff)
    assert((progBytes(sos2 + 1 + sosLen) & 0xff) == 0x43)
    val badSucc = progBytes.clone()
    badSucc(sos2 + 1 + sosLen) = 0x42.toByte
    assert(Jpeg.parseColor(badSucc).isEmpty,
      "a refinement scan with Ah != Al+1 must quarantine")
    // truncation mid-scan and missing EOI quarantine
    assert(Jpeg.parseColor(progBytes.dropRight(progBytes.length / 3)).isEmpty)
    assert(Jpeg.parseColor(progBytes.dropRight(2)).isEmpty,
      "a progressive stream without EOI must quarantine")
    // the planted F24 corpus equals the F23b features doc-for-doc
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(Multimodal.mmFeatureExtractJpegProg(tables).orderBy("doc_id")) ==
      rows(Multimodal.mmFeatureExtractJpegColor(tables).orderBy("doc_id")),
      "progressive corpus features must equal the plain color corpus features")
  }

  test("progressive coefficient machinery: split-band successive approximation over arbitrary coefficients == baseline decode") {
    import graft.operators.Jpeg
    // coefficient patterns chosen to hit EVERY Annex-G path with real
    // content: newly-significant ±1 insertions (incl. at band edges
    // 1/32/33/63 — the no-EOB exit), history values with correction
    // bits 0 AND 1 (even/odd magnitudes), >16 zero-history gaps (ZRL
    // in both initial and refinement), cross-band values, negatives,
    // all-zero blocks, and a dense pseudo-random tail
    val (w, h) = (32, 24) // 12 blocks
    val blocks = Array.tabulate(12) { bi =>
      val b = new Array[Int](64)
      b(0) = (bi * 37) % 300 - 150
      bi match {
        case 0 => () // all-zero band
        case 1 => b(1) = 1; b(63) = -1
        case 2 => b(5) = 7; b(6) = -8 // odd + even history magnitudes
        case 3 => b(2) = 1; b(40) = 2
        case 4 => b(20) = -1; b(60) = 3 // 18-zero gap → ZRL
        case 5 => b(32) = 1; b(33) = 1 // band-edge insertions
        case 6 => b(1) = 2; b(30) = 1 // 28 zero-history gap in refine
        case _ =>
          for (k <- 1 to 63 if k % 9 == 0)
            b(k) = ((bi * 31 + k * 17) % 23) - 11
      }
      b
    }
    val base = Jpeg.parseColor(Jpeg.encodeCoefBaseline(w, h, blocks))
      .getOrElse(fail("baseline coefficient stream must parse"))
    val prog = Jpeg.parseColor(Jpeg.encodeCoefProgressive(w, h, blocks))
      .getOrElse(fail("progressive coefficient stream must parse"))
    assert(prog.width == base.width && prog.height == base.height)
    assert(prog.r.sameElements(base.r) && prog.g.sameElements(base.g) &&
      prog.b.sameElements(base.b),
      "split-band successive-approximation decode must equal the baseline decode coefficient-for-coefficient")
  }

  test("joint dedup: coarsens both single-modality clusterings — co-clustered pairs in either stay together") {
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joint = toMap(Multimodal.mmJointDedup(tables))
    val text = toMap(graft.operators.Dedup.docDedupClusters(tables))
    val img = toMap(Multimodal.mmPhashClusters(tables))
    def violations(single: Map[Long, Long]) =
      single.groupBy(_._2).values.filter(_.size > 1).flatMap { grp =>
        val ids = grp.keys.toSeq
        if (ids.map(joint).distinct.size > 1) Some(ids.take(3)) else None
      }
    assert(violations(text).isEmpty, s"text co-cluster split in joint: ${violations(text).take(2)}")
    assert(violations(img).isEmpty, s"image co-cluster split in joint: ${violations(img).take(2)}")
    // and it genuinely merges: joint must have no MORE clusters than
    // either single modality (union of edges can only coarsen)
    assert(joint.values.toSet.size <= math.min(text.values.toSet.size, img.values.toSet.size))
  }

  test("P6 codec: pixel bytes are read unsigned (values > 127 intact)") {
    val raster = Array(200, 210, 220).map(_.toByte) // would be negative if sign-extended
    val img = Ppm.parse("P6\n1 1\n255\n".getBytes("US-ASCII") ++ raster)
      .getOrElse(fail("must parse"))
    assert(Ppm.channelMeans(img).toSeq == Seq(200.0, 210.0, 220.0))
  }

  test("P5 codec: grayscale parses with 1 channel; single mean") {
    val raster = Array(1, 2, 3, 4, 5, 6).map(_.toByte)
    val img = Ppm.parse("P5\n3 2\n255\n".getBytes("US-ASCII") ++ raster)
      .getOrElse(fail("planted P5 must parse"))
    assert(img.format == "P5" && img.width == 3 && img.height == 2 && img.channels == 1)
    assert(Ppm.channelMeans(img).toSeq == Seq(21.0 / 6))
  }

  test("codec header grammar: comments and arbitrary whitespace per pnm(5)") {
    val raster = Array(9, 8, 7).map(_.toByte)
    val withComments = "P6 # a comment\n# another\n 1\t\r\n1 # dims done\n255\n"
    val img = Ppm.parse(withComments.getBytes("US-ASCII") ++ raster)
      .getOrElse(fail("commented header must parse"))
    assert(img.width == 1 && img.height == 1)
    assert(Ppm.channelMeans(img).toSeq == Seq(9.0, 8.0, 7.0))
  }

  test("codec rejects corrupt payloads (bad magic, truncated/overlong raster, bad maxval)") {
    val ok = "P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(Ppm.parse(ok).isDefined)
    assert(Ppm.parse("P7\n1 1\n255\nabc".getBytes("US-ASCII")).isEmpty, "bad magic")
    assert(Ppm.parse(ok.dropRight(1)).isEmpty, "truncated raster")
    assert(Ppm.parse(ok :+ 0.toByte).isEmpty, "overlong raster")
    assert(Ppm.parse("P6\n1 1\n70000\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)).isEmpty,
      "2-byte-sample maxval out of scope")
    assert(Ppm.parse("P6\n0 1\n255\n".getBytes("US-ASCII")).isEmpty, "zero width")
    assert(Ppm.parse(Array[Byte]()).isEmpty, "empty payload")
  }

  test("corrupt payloads surface as explicit quarantine rows in the decode path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // forge payloads through the same typed decode boundary F2 uses:
    // one valid, one truncated — valid decodes, truncated quarantines
    val df = Seq((0L, "P6\n1 1\n255\nABC"), (1L, "P6\n9 9\n255\nshort"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val rows = Multimodal.mmDecodePayloads(spark, df).collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "P6" && rows(0).getInt(2) == 1)
    assert(rows(1).getString(1) == "corrupt" && rows(1).isNullAt(2),
      "truncated raster must quarantine, not decode or drop")
  }

  test("binary metadata byte length equals text length for ASCII corpus") {
    val rows = Multimodal.mmBinaryMeta(tables).collect()
    val nchars = tables.documents.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == nchars(r.getLong(0))))
  }

  test("phash: identical payloads collide; light edits stay near; pigeonhole finds hamming<=3") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = tables.documents.select("doc_id", "text").as[(Long, String)].collect()
    // identical-payload law: same bytes -> same signature (trivially
    // hamming 0), checked via the operator itself
    val ph = Multimodal.mmPhash(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byText = texts.groupBy(_._2).values.filter(_.length > 1)
    byText.foreach(g => assert(g.map(p => ph(p._1)).distinct.length == 1,
      "identical payloads must share a phash"))
    // light-edit law: flipping one byte moves at most 2 gradient bits
    // (the byte participates in one block; that block has 2 neighbors)
    val (id0, t0) = texts.head
    val edited = t0.updated(t0.length / 2, '~')
    val two = Seq((0L, t0), (1L, edited)).toDF("doc_id", "text")
    val hs = two.select(call_function("graft_dhash60", col("text").cast("binary")).as("h"))
      .collect().map(_.getLong(0))
    assert(java.lang.Long.bitCount(hs(0) ^ hs(1)) <= 2,
      s"one-byte edit moved ${java.lang.Long.bitCount(hs(0) ^ hs(1))} bits")
    // pigeonhole law: every pair at hamming <= 3 appears in the banded
    // pairs output (4 x 15-bit chunks cannot all differ)
    val close = for {
      (a, ha) <- ph.toSeq; (b, hb) <- ph.toSeq
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)
    val got = Multimodal.mmPhashPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    close.foreach(p => assert(got.contains(p), s"hamming<=3 pair $p missed by banding"))
  }

  test("asset dedup: copy counts conserve the corpus; keep_id is the group minimum") {
    val rows = Multimodal.mmExactDedup(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == tables.documents.count(), "copies must sum to the corpus")
    val byChecksum = tables.documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text").cast("binary")).as("c"))
      .collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { case (c, keep, n) =>
      assert(keep == byChecksum(c).min, s"checksum $c keep_id")
      assert(n == byChecksum(c).length, s"checksum $c copies")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.text.TextAnalysis

class TextAndMultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("token / distinct / punct counts") {
    val df = Seq("The quick  brown fox, the fox!", "", "one").toDF("t").select(
      TextAnalysis.tokenCount($"t").as("n"),
      TextAnalysis.distinctTokenCount($"t").as("d"),
      TextAnalysis.punctCount($"t").as("p"))
    val r = df.as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((6L, 5L, 2L), (0L, 0L, 0L), (1L, 1L, 0L)))
  }

  test("subword count: letter runs, digit runs, punct pieces") {
    val n = Seq("abc12 de-f!").toDF("t")
      .select(TextAnalysis.subwordCount($"t")).first().getLong(0)
    // abc | 12 | de | - | f | !  = 6
    assert(n == 6L)
  }

  test("quality score in [0,1], favors diverse mid-length docs") {
    val r = Seq(
      ("a " * 200).trim,                       // long but zero diversity
      (1 to 120).map(i => s"w$i").mkString(" ") // long and diverse
    ).toDF("t").select(TextAnalysis.qualityScore($"t")).as[Double].collect()
    assert(r.forall(q => q >= 0.0 && q <= 1.0))
    assert(r(1) > r(0))
  }

  test("langId picks stopword-dominant language, und on no hits") {
    val r = Seq(
      "the cat and the dog is of to the house",
      "der hund und die katze ist das",
      "le chat et la maison est les",
      "xyzzy qwerty").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(r == Seq("en", "de", "fr", "und"))
  }

  test("docFingerprint invariant to case and whitespace") {
    val r = Seq(("Hello  World", "hello world"), ("a b", "a c")).toDF("x", "y")
      .select((TextAnalysis.docFingerprint($"x") === TextAnalysis.docFingerprint($"y")).as("eq"))
      .as[Boolean].collect().toSeq
    assert(r == Seq(true, false))
  }

  test("magic-byte sniffing detects png/jpeg/html/bin") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
    val htm = "<html><body>x</body></html>".getBytes
    val bin = Array[Byte](0x00, 0x01, 0x02, 0x03)
    val r = Seq(png, jpg, htm, bin).toDF("b")
      .select(Multimodal.sniffFormat($"b")).as[String].collect().toSeq
    assert(r == Seq("png", "jpeg", "html", "bin"))
  }

  test("ImageHeader: real PNG/GIF/JPEG/BMP dimension decode; corrupt -> null") {
    import graft.multimodal.ImageHeader
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes ++ be32(640) ++ be32(481) ++ Array[Byte](8, 6, 0, 0, 0)
    assert(ImageHeader.parse(png) == ImageHeader.Meta("png", 640, 481))

    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ Array[Byte](0, 0, 0)
    assert(ImageHeader.parse(gif) == ImageHeader.Meta("gif", 320, 200))

    // JPEG: SOI, APP0 (skipped), then SOF0 with height 480 / width 640
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      Array[Byte](0xFF.toByte, 0xE0.toByte) ++ be16(6) ++ "JFIF".getBytes ++
      Array[Byte](0xFF.toByte, 0xC0.toByte) ++ be16(11) ++
      Array[Byte](8) ++ be16(480) ++ be16(640) ++ Array[Byte](3, 0, 0, 0)
    assert(ImageHeader.parse(jpeg) == ImageHeader.Meta("jpeg", 640, 480))

    val bmp = "BM".getBytes ++ Array.fill[Byte](16)(0) ++ le32(101) ++ le32(-55) ++
      Array.fill[Byte](4)(0)
    assert(ImageHeader.parse(bmp) == ImageHeader.Meta("bmp", 101, 55)) // top-down abs

    // corrupt inputs: never throw, always null
    assert(ImageHeader.parse(null) == null)
    assert(ImageHeader.parse(Array[Byte]()) == null)
    assert(ImageHeader.parse(png.take(17)) == null)                    // truncated IHDR
    assert(ImageHeader.parse(Array[Byte](0xFF.toByte, 0xD8.toByte, 0x00, 0x00)) == null)
    assert(ImageHeader.parse("plain text bytes".getBytes) == null)
  }

  test("BmpAHash goldens: real pixel decode -> 8x8 mean-threshold hash") {
    import graft.multimodal.{BmpSynth, PixelAHash}
    // the three analytic oracle patterns, pinned to their closed-form hashes
    // (mirrors the reference's synthesized-image goldens,
    // processing_tests.rs:93-119)
    BmpSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PixelAHash.ahash(b) == h)
    }
    // kernel is invariant to the BMP container encoding: 32-bpp, top-down
    // row order, and non-8 dimensions (padded strides, box-mean cells) all
    // hash identically to the canonical 24-bpp bottom-up 8x8
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    assert(PixelAHash.ahash(BmpSynth.bmp(8, 8, bpp = 32)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    assert(PixelAHash.ahash(BmpSynth.bmp(8, 8, topDown = true)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    val bigLeftRight = BmpSynth.bmp(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(PixelAHash.ahash(bigLeftRight) == 0x0F0F0F0F0F0F0F0FL) // odd stride: 100*3 pads to 304
    val tiny = BmpSynth.bmp(4, 4)((x, _) => if (x < 2) 0x000000 else 0xFFFFFF)
    assert(PixelAHash.ahash(tiny) == 0x0F0F0F0F0F0F0F0FL) // cells widen below 8px
    // a near-dup pair (one flipped cell) lands at Hamming 1 of each other
    val oneOff = BmpSynth.bmp(8, 8)((x, y) =>
      if (x == 7 && y == 7) 0x000000 else if (x < 4) 0x000000 else 0xFFFFFF)
    assert(java.lang.Long.bitCount(
      PixelAHash.ahash(oneOff) ^ 0x0F0F0F0F0F0F0F0FL) == 1)
    // corrupt-input contract: null, never throw
    val good = BmpSynth.OraclePatterns(0)
    assert(PixelAHash.ahash(null) == null)
    assert(PixelAHash.ahash(good.take(53)) == null)          // truncated header
    assert(PixelAHash.ahash(good.take(100)) == null)         // truncated pixels
    assert(PixelAHash.ahash("BM then garbage bytes here padded out to length".getBytes) == null)
    val rle = good.clone(); rle(30) = 1                    // BI_RLE8 compression
    assert(PixelAHash.ahash(rle) == null)
    val bpp16 = good.clone(); bpp16(28) = 16               // unsupported depth
    assert(PixelAHash.ahash(bpp16) == null)
  }

  test("PngAHash goldens: real inflate + unfilter decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, PixelAHash, PngSynth}
    // the three analytic patterns are pixel-identical to the BMP goldens →
    // identical closed-form hashes
    PngSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PixelAHash.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // kernel is container-invariant: gray, RGBA, and palette color types all
    // hash identically to the canonical RGB encoding
    for (ct <- Seq(0, 2, 3, 6))
      assert(PixelAHash.ahash(PngSynth.png(8, 8, colorType = ct)(leftRight)) ==
        0x0F0F0F0F0F0F0F0FL, s"colorType $ct")
    // ALL FIVE scanline filters (None/Sub/Up/Average/Paeth) round-trip: a
    // gradient encoded with each filter per row decodes to the same hash as
    // its filter-0 encoding
    val gradient: (Int, Int) => Int = (x, y) => {
      val v = (x * 13 + y * 29) % 256; (v << 16) | (v << 8) | v
    }
    val plain = PixelAHash.ahash(PngSynth.png(40, 40)(gradient))
    for (f <- 1 to 4)
      assert(PixelAHash.ahash(PngSynth.png(40, 40, filterFor = _ => f)(gradient)) ==
        plain, s"filter $f")
    assert(PixelAHash.ahash(PngSynth.png(40, 40, filterFor = y => y % 5)(gradient)) ==
      plain, "mixed filters")
    // non-8 dims: box-mean cells widen/aggregate exactly like the BMP path
    val bigLeftRight = PngSynth.png(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(PixelAHash.ahash(bigLeftRight) == 0x0F0F0F0F0F0F0F0FL)
    // corrupt-input contract: null, never throw
    val good = PngSynth.OraclePatterns(0)
    assert(PixelAHash.ahash(null) == null)
    assert(PixelAHash.ahash(good.take(20)) == null)           // truncated IHDR
    assert(PixelAHash.ahash(good.dropRight(20)) == null)      // truncated IDAT
    // Adam7 flag set on non-interlaced data: the seven-pass layout needs
    // more scanline bytes than the stream holds, so it is corrupt data
    val interlaced = good.clone(); interlaced(28) = 1
    assert(PixelAHash.ahash(interlaced) == null)
    val deep = good.clone(); deep(24) = 16                   // 16-bit: unsupported
    assert(PixelAHash.ahash(deep) == null)
    val garbageIdat = good.clone()
    val idatData = good.indexOfSlice("IDAT".getBytes) + 4
    garbageIdat(idatData) = 0x55                             // invalid zlib header
    assert(PixelAHash.ahash(garbageIdat) == null)
    assert(PixelAHash.ahash("not a png at all, just text bytes".getBytes) == null)
    // decompression-bomb bound: a legal PNG describing > MaxPixels is refused
    val bombIhdr = good.clone()
    bombIhdr(16) = 0x7F.toByte // width = huge
    assert(PixelAHash.ahash(bombIhdr) == null)
    // hostile FDICT stream: zlib header 0x78 0x20 (checksum-valid, FDICT bit
    // set) makes Inflater return 0 with needsDictionary() — PNG forbids
    // preset dictionaries, and an undecodable stream must return null in
    // bounded time, not spin the task at 100% CPU
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    val fdict = good.clone()
    fdict(idatData) = 0x78.toByte
    fdict(idatData + 1) = 0x20.toByte
    failAfter(10.seconds) { assert(PixelAHash.ahash(fdict) == null) }
  }

  test("TiffAHash goldens: IFD walk + uncompressed strip decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, PixelAHash, TiffSynth}
    // analytic patterns (LE RGB / BE RGB / gray) are pixel-identical to the
    // BMP goldens → identical closed-form hashes
    TiffSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PixelAHash.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // kernel is container-invariant across byte order, photometric mode,
    // and strip organization
    assert(PixelAHash.ahash(TiffSynth.tiff(8, 8, littleEndian = false)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL)
    assert(PixelAHash.ahash(TiffSynth.tiff(8, 8, gray = true)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL)
    assert(PixelAHash.ahash(TiffSynth.tiff(8, 8, rowsPerStrip = 3)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL) // 3 strips of 3/3/2 rows
    val big = TiffSynth.tiff(100, 60, rowsPerStrip = 7)((x, _) =>
      if (x < 50) 0x101010 else 0xF0F0F0)
    assert(PixelAHash.ahash(big) == 0x0F0F0F0F0F0F0F0FL)
    // photometric 0 (WhiteIsZero) inverts samples: flip the tag on a gray
    // encoding and the decode must equal the color-swapped image
    def valueAt(b: Array[Byte], w: Int, h: Int, spp: Int, entryIdx: Int): Int =
      8 + w * h * spp + 2 + 12 * entryIdx + 8
    val gray = TiffSynth.tiff(8, 8, gray = true)(leftRight)
    val inverted = gray.clone()
    inverted(valueAt(inverted, 8, 8, 1, 4)) = 0 // tag 262 LE SHORT: 1 -> 0
    val swapped = TiffSynth.tiff(8, 8, gray = true)((x, _) =>
      if (x < 4) 0xFFFFFF else 0x000000)
    assert(PixelAHash.ahash(inverted) == PixelAHash.ahash(swapped))
    // compressed strips (Deflate and PackBits, each strip independently
    // encoded) decode to the same raster — and multi-strip + compression
    // compose
    val gradient: (Int, Int) => Int = (x, y) => {
      val v = (x * 13 + y * 29) % 256; (v << 16) | (v << 8) | v
    }
    val plainHash = PixelAHash.ahash(TiffSynth.tiff(40, 40)(gradient))
    for (comp <- Seq(8, 32773); strip <- Seq(Int.MaxValue, 7))
      assert(PixelAHash.ahash(
        TiffSynth.tiff(40, 40, rowsPerStrip = strip, compression = comp)(gradient))
        == plainHash, s"compression $comp rowsPerStrip $strip")
    assert(PixelAHash.ahash(TiffSynth.tiff(8, 8, gray = true, littleEndian = false,
      compression = 8)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    // a corrupt Deflate strip nulls cleanly
    val badZ = TiffSynth.tiff(8, 8, compression = 8)(leftRight)
    val zStart = 8 // first strip begins right after the header
    badZ(zStart) = 0x55
    assert(PixelAHash.ahash(badZ) == null)
    // header decode vs pixel decode: flipping tag 259 to LZW keeps the
    // dimensions, but the uncompressed strip is not a valid LZW stream, so
    // the pixels are rejected as corrupt data
    import graft.multimodal.ImageHeader
    val lzw = TiffSynth.OraclePatterns(0).clone()
    lzw(valueAt(lzw, 8, 8, 3, 3)) = 5 // tag 259 LE SHORT: 1 -> 5
    assert(ImageHeader.parse(lzw) == ImageHeader.Meta("tiff", 8, 8))
    assert(PixelAHash.ahash(lzw) == null)
    // corrupt-input contract: null, never throw
    val good = TiffSynth.OraclePatterns(0)
    assert(PixelAHash.ahash(null) == null)
    assert(PixelAHash.ahash(good.take(6)) == null)           // truncated header
    assert(PixelAHash.ahash(good.dropRight(10)) == null)     // truncated IFD tail
    // 16-bit samples refused (gray encoding: tag 258 is inline, count 1)
    val deep = gray.clone(); deep(valueAt(deep, 8, 8, 1, 2)) = 16
    assert(PixelAHash.ahash(deep) == null)
    val bomb = TiffSynth.tiff(8, 8)(leftRight).clone()
    bomb(valueAt(bomb, 8, 8, 3, 0)) = 0xFF.toByte // width LONG LE low byte
    bomb(valueAt(bomb, 8, 8, 3, 0) + 2) = 0x7F.toByte // width ≈ 2^23: over cap
    assert(PixelAHash.ahash(bomb) == null)
    assert(PixelAHash.ahash("II* but not really a tiff file".getBytes) == null)
    // big-endian goldens decode identically through ImageHeader too
    assert(ImageHeader.parse(TiffSynth.OraclePatterns(1)) ==
      ImageHeader.Meta("tiff", 8, 8))
  }

  test("GifAHash goldens: real LZW decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, GifSynth, PixelAHash}
    GifSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PixelAHash.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // interlaced encoding decodes to the same raster (de-interlace map)
    val topBottom: (Int, Int) => Int = (_, y) => if (y < 20) 0x000000 else 0xFFFFFF
    assert(PixelAHash.ahash(GifSynth.gif(40, 40)(topBottom)) ==
      PixelAHash.ahash(GifSynth.gif(40, 40, interlacedFlag = true)(topBottom)))
    // >254-literal streams exercise the mid-stream CLEAR handling
    val big = GifSynth.gif(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(PixelAHash.ahash(big) == 0x0F0F0F0F0F0F0F0FL)
    // many-color image exercises dictionary growth across code widths
    val gradient = GifSynth.gif(64, 64)((x, y) => { val v = (x * 4 + y) % 256; (v << 16) | (v << 8) | v })
    assert(PixelAHash.ahash(gradient) != null)
    // corrupt-input contract
    val good = GifSynth.OraclePatterns(0)
    assert(PixelAHash.ahash(null) == null)
    assert(PixelAHash.ahash(good.take(10)) == null)           // truncated descriptor
    assert(PixelAHash.ahash(good.dropRight(10)) == null)      // truncated LZW data
    assert(PixelAHash.ahash("GIF89a but then garbage follows here".getBytes) == null)
  }

  test("JpegAHash goldens: block-uniform baseline JPEGs decode exactly") {
    import graft.multimodal.{BmpSynth, JpegSynth, PixelAHash}
    // block-uniform blocks are DC-only with a flat-8 quant table, so the
    // lossy format round-trips these patterns EXACTLY — same closed forms
    JpegSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PixelAHash.ahash(b) == h)
    }
    // a REAL ImageIO-encoded color JPEG of block-aligned solid halves:
    // every 8x8 block is uniform -> AC-free -> only bounded uniform DC
    // shifts survive quantization, which the mean threshold ignores
    val im = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64)
      im.setRGB(x, y, if (x < 32) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, "jpg", bos))
    assert(PixelAHash.ahash(bos.toByteArray) == 0x0F0F0F0F0F0F0F0FL)
    // corrupt-input contract: never throw; un-decodable -> null. A scan
    // truncated AFTER the header decodes LENIENTLY (ImageIO fills the
    // missing tail) — the right posture for crawl fingerprinting: hash
    // what decoded, rather than refusing an image that is 95% present.
    val good = JpegSynth.OraclePatterns(0)
    assert(PixelAHash.ahash(null) == null)
    assert(PixelAHash.ahash(good.take(20)) == null)          // truncated header
    assert(PixelAHash.ahash(good.dropRight(30)) != null)     // truncated scan: lenient
    assert(PixelAHash.ahash(
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)) == null)
  }

  test("colour-channel goldens: R, G and B land in their own bands in every container") {
    import graft.multimodal.{BmpSynth, GifSynth, PixelAHash, PngSynth, TiffSynth}
    // quadrants (TL, TR, BL, BR); pure-channel luma is R 76, G 149, B 29.
    // Every golden above is gray, so a swapped band would pass them: here
    // pattern 1 (mean 63.5) pins R and G above B, pattern 2 (mean 120.25)
    // pins G above R — together no channel permutation keeps both hashes
    def quads(tl: Int, tr: Int, bl: Int, br: Int): (Int, Int) => Int =
      (x, y) => if (y < 4) (if (x < 4) tl else tr) else (if (x < 4) bl else br)
    val cases = Seq(
      quads(0xFF0000, 0x00FF00, 0x0000FF, 0x000000) -> 0xFFFFFFFF00000000L,
      quads(0xFF0000, 0x00FF00, 0x808080, 0x808080) -> 0x0F0F0F0FFFFFFFFFL)
    for (((rgb, expected), i) <- cases.zipWithIndex) {
      val encodings = Seq(
        "bmp24" -> BmpSynth.bmp(8, 8)(rgb),
        "bmp32" -> BmpSynth.bmp(8, 8, bpp = 32)(rgb),
        "png2" -> PngSynth.png(8, 8, colorType = 2)(rgb),
        "png3" -> PngSynth.png(8, 8, colorType = 3)(rgb),
        "png6" -> PngSynth.png(8, 8, colorType = 6)(rgb),
        "tiff-le" -> TiffSynth.tiff(8, 8)(rgb),
        "tiff-be" -> TiffSynth.tiff(8, 8, littleEndian = false)(rgb),
        "gif" -> GifSynth.gif(8, 8)(rgb))
      for ((name, b) <- encodings)
        assert(PixelAHash.ahash(b) == expected, s"pattern $i $name")
    }
  }

  test("a TIFF declaring 120 samples per pixel is refused at the header") {
    import graft.multimodal.{ImageHeader, PixelAHash, TiffSynth}
    // well-formed: an 8x8 image with 120 8-bit samples per pixel (a 960x8
    // gray strip relabelled), which ImageIO itself would decode into a
    // 120-band raster. The band gate refuses it before any raster exists —
    // on a large header the same spp is a multi-GB allocation
    val w0 = 8 * 120
    val b = TiffSynth.tiff(w0, 8, gray = true)((x, _) => if (x < w0 / 2) 0 else 0xFFFFFF)
    def valueAt(entryIdx: Int): Int = 8 + w0 * 8 + 2 + 12 * entryIdx + 8
    b(valueAt(0)) = 8; b(valueAt(0) + 1) = 0 // tag 256 LE LONG: 960 -> 8
    b(valueAt(6)) = 120                       // tag 277 LE SHORT: 1 -> 120
    assert(ImageHeader.parse(b) == ImageHeader.Meta("tiff", 8, 8))
    assert(PixelAHash.ahash(b) == null)
  }

  test("PixelAHash dispatch: one expression, four container formats, same hash") {
    import graft.multimodal.{BmpSynth, GifSynth, JpegSynth, PixelAHash, PngSynth}
    for (i <- 0 until 3) {
      val expected = BmpSynth.OracleHashes(i)
      assert(PixelAHash.ahash(BmpSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(PngSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(GifSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(JpegSynth.OraclePatterns(i)) == expected)
    }
    assert(PixelAHash.ahash("no known magic bytes here".getBytes) == null)
    assert(PixelAHash.ahash(null) == null)
  }

  test("imageAHash Column expression: codegen path and null propagation") {
    import graft.multimodal.BmpSynth
    val rows = Seq(
      (0L, BmpSynth.OraclePatterns(0)),
      (1L, BmpSynth.OraclePatterns(1)),
      (2L, BmpSynth.OraclePatterns(2)),
      (3L, "not an image".getBytes))
    val out = rows.toDF("id", "blob")
      .select($"id", Multimodal.imageAHash($"blob").as("h"))
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, Some(0x0F0F0F0F0F0F0F0FL)),
      (1L, Some(0x00000000FFFFFFFFL)),
      (2L, Some(0L)),
      (3L, None)))
  }

  test("withMeta prefers real decoded dimensions over the stand-in") {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes ++ be32(777) ++ be32(333) ++ Array[Byte](8, 6, 0, 0, 0)
    val df = Seq((1L, png)).toDF("id", "blob")
    val row = Multimodal.withMeta(df, "id", "blob").first()
    assert(row.getString(2) == "png")
    val m = row.getStruct(3)
    assert(m.getLong(0) == 777L && m.getLong(1) == 333L)
  }

  test("extractor strategies: html drops chrome, plaintext only normalizes") {
    import graft.fingerprint.{Fingerprints => FP}
    val html = "<html><body><nav>menu</nav><p>Hello   world</p></body></html>"
      .getBytes("UTF-8")
    val plain = "Hello   world\n\tagain".getBytes("UTF-8")
    val df = Seq((html, plain)).toDF("h", "p").select(
      FP.extractorByName("html")($"h").as("eh"),
      FP.extractorByName("plaintext")($"p").as("ep"),
      FP.extractorByName("plaintext")($"h").as("eph"))
    val r = df.first()
    assert(r.getString(0) == "Hello world")          // nav chrome dropped
    assert(r.getString(1) == "Hello world again")    // ws collapsed only
    assert(r.getString(2).contains("<nav>"))         // plaintext keeps tags
    intercept[IllegalArgumentException](FP.extractorByName("exotic"))
  }

  test("fake decode meta + frame sampling plumbing") {
    val df = Seq((1L, ("x" * 600).getBytes)).toDF("id", "blob")
    val meta = Multimodal.withMeta(df, "id", "blob").first()
    assert(meta.getLong(1) == 600L)
    val m = meta.getStruct(3)
    assert(m.getLong(2) == 3L) // 600/250 + 1 frames
    val frames = Multimodal.sampleFrames(df, "id", "blob", everyNth = 2)
      .select("frame_idx").as[Long].collect().toSeq
    assert(frames == Seq(0L, 2L))
  }

  test("sampleFramesVia: a real external decode process drives the frame plan e2e") {
    // the production recipe behind the video stand-in: the container decode
    // runs in a per-partition sidecar (ExternalPipe), here a deterministic
    // awk filter that recomputes the stand-in's frame count from the
    // hex-encoded payload it receives — proving the seam carries a real
    // process end-to-end with the exact plan shape of the in-JVM stand-in
    val df = (1 to 300).map(i => (i.toLong, ("frame-bytes " * i).getBytes))
      .toDF("id", "blob").repartition(3)
    val awk = Seq("awk", "{ print int((length($0)/2)/250)+1 }")
    val viaSidecar = Multimodal.sampleFramesVia(df, "id", "blob", everyNth = 2, awk)
    val standIn = Multimodal.sampleFrames(df, "id", "blob", everyNth = 2)
    assert(viaSidecar.schema.fieldNames.toSeq == standIn.schema.fieldNames.toSeq)
    assert(viaSidecar.count() == standIn.count())
    assert(viaSidecar.except(standIn).count() == 0 &&
      standIn.except(viaSidecar).count() == 0)
  }

  test("quality score: empty and blank docs score exactly 0") {
    // pre-fix, a contentless doc inherited the 0.1 no-punctuation bonus
    // and outscored all-punctuation text
    val r = Seq("", "   ", "\n\t ").toDF("t")
      .select(TextAnalysis.qualityScore($"t")).as[Double].collect().toSeq
    assert(r.forall(_ == 0.0))
  }

  test("langId counts adjacent stopwords fully") {
    // "le le the": fr must win 2-1 — the pre-fix split count saw only one
    // "le" (adjacent occurrences shared their boundary space) and the
    // en-first tiebreak mislabeled the doc. Second doc pins the symmetric
    // case: "the the" is 2 hits, tying fr and resolving to en by priority.
    val r = Seq("le le the", "the the le la maison").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(r == Seq("fr", "en"))
  }

  test("sniffFormat: null blob stays null, not 'bin'") {
    val r = Seq(Tuple1(null: Array[Byte]), Tuple1(Array[Byte](0, 1, 2, 3)))
      .toDF("b").select(Multimodal.sniffFormat($"b")).collect()
      .map(row => if (row.isNullAt(0)) null else row.getString(0)).toSeq
    assert(r == Seq(null, "bin"))
  }

  test("PngSynth: incompressible pixels still encode (growable deflate sink)") {
    import graft.multimodal.{PixelAHash, PngSynth}
    // pseudo-random pixels deflate to MORE than scan.length once stored-
    // block overhead (5 bytes / 64 KB) exceeds the old fixed buffer's 64
    // spare bytes — the old drain loop then spun forever. 760×760 RGB is
    // ~1.7 MB of scanlines ≈ 141 overhead bytes.
    val noise: (Int, Int) => Int = (x, y) => {
      var h = x * 2654435761L + y * 40503L + 0x9E3779B9L
      h ^= h >>> 16; h *= 0x85EBCA6BL; h ^= h >>> 13
      (h & 0xFFFFFF).toInt
    }
    val png = PngSynth.png(760, 760)(noise)
    assert(PixelAHash.ahash(png) != null) // full decode round-trips
  }

  test("two image_ahash calls fuse into one codegen scope (fresh locals)") {
    import graft.multimodal.{BmpSynth, Multimodal}
    // coalesce(col, lit) is NON-nullable, so nullSafeCodeGen emits the
    // fragment unguarded (no block scope): a fixed local name would be
    // redeclared by the second call and Janino would reject the stage —
    // fallback=false turns that silent interpreter fallback into a failure
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val p = BmpSynth.OraclePatterns
      val r = Seq((p(0), p(1))).toDF("x", "y")
        .select(
          Multimodal.imageAHash(coalesce($"x", lit(p(0)))).as("hx"),
          Multimodal.imageAHash(coalesce($"y", lit(p(1)))).as("hy"))
        .as[(Long, Long)].head()
      assert(r == ((BmpSynth.OracleHashes(0), BmpSynth.OracleHashes(1))))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}

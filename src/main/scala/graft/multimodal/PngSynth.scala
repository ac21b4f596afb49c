package graft.multimodal

import java.util.zip.{CRC32, Deflater}

/** Deterministic PNG synthesis — fixture generator for the PNG aHash oracle
  * query and the filter round-trip goldens (mirrors [[BmpSynth]] /
  * reference `processing_tests.rs:93-119`). Encodes real zlib streams via
  * `java.util.zip.Deflater` with correct CRCs, so the output is a valid
  * PNG any decoder accepts.
  */
object PngSynth {

  private def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](12 + data.length)
    def be32(i: Int, v: Int): Unit = {
      out(i) = (v >>> 24).toByte; out(i + 1) = (v >>> 16).toByte
      out(i + 2) = (v >>> 8).toByte; out(i + 3) = v.toByte
    }
    be32(0, data.length)
    for (i <- 0 until 4) out(4 + i) = ctype.charAt(i).toByte
    System.arraycopy(data, 0, out, 8, data.length)
    val crc = new CRC32()
    crc.update(out, 4, 4 + data.length)
    be32(8 + data.length, crc.getValue.toInt)
    out
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** 8-bit non-interlaced PNG; `rgb(x, y)` returns 0xRRGGBB. `colorType`
    * ∈ {0 gray, 2 RGB, 3 palette, 6 RGBA}; `filterFor(y)` picks the
    * scanline filter (0–4) actually APPLIED during encode, so decoders
    * must reverse it.
    */
  def png(w: Int, h: Int, colorType: Int = 2,
          filterFor: Int => Int = _ => 0)(rgb: (Int, Int) => Int): Array[Byte] = {
    require(Set(0, 2, 3, 6).contains(colorType), "synth supports gray/RGB/palette/RGBA")
    val channels = colorType match { case 0 => 1; case 2 => 3; case 3 => 1; case 6 => 4 }
    val paletteColors: IndexedSeq[Int] =
      if (colorType == 3) {
        val cs = (for (y <- 0 until h; x <- 0 until w) yield rgb(x, y) & 0xFFFFFF)
          .distinct.sorted
        require(cs.length <= 256, "PNG palette overflow")
        cs
      } else IndexedSeq.empty
    val paletteIndex = paletteColors.zipWithIndex.toMap
    val rowBytes = w * channels
    val raw = new Array[Int](rowBytes)
    val prev = new Array[Int](rowBytes)
    val scan = new Array[Byte]((1 + rowBytes) * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c = rgb(x, y)
        val p = x * channels
        colorType match {
          case 0 =>
            raw(p) = (299 * ((c >> 16) & 0xFF) + 587 * ((c >> 8) & 0xFF) +
              114 * (c & 0xFF)) / 1000
          case 3 =>
            raw(p) = paletteIndex(c & 0xFFFFFF)
          case 2 | 6 =>
            raw(p) = (c >> 16) & 0xFF; raw(p + 1) = (c >> 8) & 0xFF; raw(p + 2) = c & 0xFF
            if (channels == 4) raw(p + 3) = 0xFF
        }
        x += 1
      }
      val ft = filterFor(y)
      val off = y * (1 + rowBytes)
      scan(off) = ft.toByte
      var i = 0
      while (i < rowBytes) {
        val a = if (i >= channels) raw(i - channels) else 0
        val up = if (y > 0) prev(i) else 0
        val cc = if (y > 0 && i >= channels) prev(i - channels) else 0
        val f = ft match {
          case 0 => raw(i)
          case 1 => raw(i) - a
          case 2 => raw(i) - up
          case 3 => raw(i) - ((a + up) >> 1)
          case 4 => raw(i) - paeth(a, up, cc)
        }
        scan(off + 1 + i) = (f & 0xFF).toByte
        i += 1
      }
      System.arraycopy(raw, 0, prev, 0, rowBytes)
      y += 1
    }
    val deflater = new Deflater()
    deflater.setInput(scan); deflater.finish()
    // drain into a growable sink (TiffSynth.deflate pattern): a fixed
    // scan.length + 64 buffer under-provisions for incompressible pixels
    // (stored-block overhead is ~5 bytes per 64 KB) and the drain loop
    // would spin on a full buffer
    val zOut = new java.io.ByteArrayOutputStream(scan.length / 2 + 64)
    val zBuf = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(zBuf, 0, zBuf.length)
      if (n > 0) zOut.write(zBuf, 0, n)
    }
    deflater.end()
    val ihdr = new Array[Byte](13)
    def be32(arr: Array[Byte], i: Int, v: Int): Unit = {
      arr(i) = (v >>> 24).toByte; arr(i + 1) = (v >>> 16).toByte
      arr(i + 2) = (v >>> 8).toByte; arr(i + 3) = v.toByte
    }
    be32(ihdr, 0, w); be32(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = colorType.toByte; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    val plte =
      if (colorType == 3) {
        val p = new Array[Byte](paletteColors.length * 3)
        for ((c, i) <- paletteColors.zipWithIndex) {
          p(i * 3) = ((c >> 16) & 0xFF).toByte
          p(i * 3 + 1) = ((c >> 8) & 0xFF).toByte
          p(i * 3 + 2) = (c & 0xFF).toByte
        }
        chunk("PLTE", p)
      } else new Array[Byte](0)
    ImageHeader.PngSignature ++ chunk("IHDR", ihdr) ++ plte ++
      chunk("IDAT", zOut.toByteArray) ++
      chunk("IEND", new Array[Byte](0))
  }

  /** The three analytically-hashable oracle patterns (pattern = doc_id % 3),
    * pixel-identical to [[BmpSynth.OraclePatterns]] so the expected hashes
    * are the same closed forms.
    */
  val OraclePatterns: IndexedSeq[Array[Byte]] = IndexedSeq(
    png(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF),
    png(8, 8)((_, y) => if (y < 4) 0x000000 else 0xFFFFFF),
    png(8, 8)((_, _) => 0x808080))
}

package graft.multimodal

/** Deterministic TIFF synthesizer for tests and closed-form oracles, in
  * [[BmpSynth]]'s style: baseline uncompressed, both byte orders, gray or
  * RGB, strip-organized.
  */
object TiffSynth {

  /** Per-strip Deflate encode (TIFF compression 8). */
  private def deflate(chunk: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(chunk); d.finish()
    val buf = new Array[Byte](chunk.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Per-strip PackBits encode (TIFF compression 32773): repeat runs ≥ 3
    * become repeats, everything else literal chunks of ≤ 128.
    */
  private def packBits(chunk: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < chunk.length) {
      var run = 1
      while (i + run < chunk.length && run < 128 && chunk(i + run) == chunk(i)) run += 1
      if (run >= 3) {
        out.write(1 - run); out.write(chunk(i)); i += run
      } else {
        var lit = i + run // extend literal until the next ≥3 repeat
        while (lit < chunk.length && lit - i < 128 &&
          !(lit + 2 < chunk.length && chunk(lit) == chunk(lit + 1) &&
            chunk(lit) == chunk(lit + 2))) lit += 1
        out.write(lit - i - 1); out.write(chunk, i, lit - i); i = lit
      }
    }
    out.toByteArray
  }

  /** `rgb(x, y)` returns 0xRRGGBB. `gray = true` writes one Rec.601 luma
    * sample per pixel (photometric 1); otherwise chunky RGB (photometric
    * 2). `rowsPerStrip` exercises the multi-strip path; `compression`
    * ∈ {1 none, 8 Deflate, 32773 PackBits} encodes each strip
    * independently, as the spec requires.
    */
  def tiff(w: Int, h: Int, gray: Boolean = false, littleEndian: Boolean = true,
           rowsPerStrip: Int = Int.MaxValue, compression: Int = 1)
          (rgb: (Int, Int) => Int): Array[Byte] = {
    require(Set(1, 8, 32773).contains(compression), "synth: none/deflate/packbits")
    val spp = if (gray) 1 else 3
    val rowBytes = w * spp
    val rps = math.min(rowsPerStrip, h)
    val nStrips = (h + rps - 1) / rps
    // raw raster, then per-strip encode
    val raw = new Array[Byte](rowBytes * h)
    for (y <- 0 until h; x <- 0 until w) {
      val c = rgb(x, y)
      val p = y * rowBytes + x * spp
      if (gray)
        raw(p) = ((299 * ((c >> 16) & 0xFF) + 587 * ((c >> 8) & 0xFF) +
          114 * (c & 0xFF)) / 1000).toByte
      else {
        raw(p) = ((c >> 16) & 0xFF).toByte
        raw(p + 1) = ((c >> 8) & 0xFF).toByte
        raw(p + 2) = (c & 0xFF).toByte
      }
    }
    val strips: IndexedSeq[Array[Byte]] = (0 until nStrips).map { s =>
      val chunk = java.util.Arrays.copyOfRange(raw, s * rps * rowBytes,
        math.min((s + 1) * rps, h) * rowBytes)
      compression match {
        case 1 => chunk
        case 8 => deflate(chunk)
        case 32773 => packBits(chunk)
      }
    }
    // layout: 8-byte header | encoded strips | IFD | out-of-line arrays
    val pixAt = 8
    val ifdAt = pixAt + strips.map(_.length).sum
    val tags = Seq(256, 257, 258, 259, 262, 273, 277, 278, 279)
    val nE = tags.length
    val ifdBytes = 2 + 12 * nE + 4
    var extraAt = ifdAt + ifdBytes // out-of-line array area
    val out = new java.io.ByteArrayOutputStream()
    val buf = new java.io.DataOutputStream(out)
    def w16(v: Int): Unit =
      if (littleEndian) { buf.write(v & 0xFF); buf.write((v >> 8) & 0xFF) }
      else { buf.write((v >> 8) & 0xFF); buf.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (littleEndian) { buf.write((v & 0xFF).toInt); buf.write(((v >> 8) & 0xFF).toInt)
        buf.write(((v >> 16) & 0xFF).toInt); buf.write(((v >> 24) & 0xFF).toInt) }
      else { buf.write(((v >> 24) & 0xFF).toInt); buf.write(((v >> 16) & 0xFF).toInt)
        buf.write(((v >> 8) & 0xFF).toInt); buf.write((v & 0xFF).toInt) }

    // header
    buf.write(if (littleEndian) 'I' else 'M'); buf.write(if (littleEndian) 'I' else 'M')
    if (littleEndian) { buf.write(42); buf.write(0) } else { buf.write(0); buf.write(42) }
    w32(ifdAt)
    strips.foreach(buf.write)
    // IFD entries, ascending tag order as the spec requires
    val stripOffs = strips.scanLeft(pixAt.toLong)(_ + _.length).dropRight(1)
    val stripCnts = strips.map(_.length.toLong)
    val extras = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long])]
    def entry(tag: Int, tpe: Int, vals: Seq[Long]): Unit = {
      w16(tag); w16(tpe); w32(vals.length)
      val unit = if (tpe == 3) 2 else 4
      val sz = unit * vals.length
      if (sz <= 4) { // inline, padded
        if (tpe == 3) { w16(vals.head.toInt); if (vals.length > 1) w16(vals(1).toInt) else w16(0) }
        else w32(vals.head)
      } else { w32(extraAt); extras += ((tpe, vals)); extraAt += unit * vals.length }
    }
    w16(nE)
    entry(256, 4, Seq(w.toLong))
    entry(257, 4, Seq(h.toLong))
    entry(258, 3, Seq.fill(spp)(8L))
    entry(259, 3, Seq(compression.toLong))
    entry(262, 3, Seq(if (gray) 1L else 2L))
    entry(273, 4, stripOffs)
    entry(277, 3, Seq(spp.toLong))
    entry(278, 4, Seq(rps.toLong))
    entry(279, 4, stripCnts)
    w32(0) // next-IFD terminator
    // out-of-line arrays, in claim order, at their promised offsets
    extras.foreach { case (tpe, vals) =>
      vals.foreach(v => if (tpe == 3) w16(v.toInt) else w32(v))
    }
    buf.flush()
    out.toByteArray
  }

  /** The three analytic 8×8 patterns shared with [[BmpSynth]] (identical
    * pixels → identical closed-form hashes; only the container differs).
    * Encodings rotate through little-endian RGB uncompressed, big-endian
    * RGB Deflate-compressed, and grayscale PackBits so both byte orders,
    * both photometric modes, and all three compression schemes sit on the
    * oracle path.
    */
  val OraclePatterns: IndexedSeq[Array[Byte]] = IndexedSeq(
    tiff(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF),
    tiff(8, 8, littleEndian = false, compression = 8)(
      (_, y) => if (y < 4) 0x000000 else 0xFFFFFF),
    tiff(8, 8, gray = true, compression = 32773)((_, _) => 0x808080))
}

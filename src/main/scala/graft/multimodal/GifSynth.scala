package graft.multimodal

/** Deterministic GIF synthesis for goldens/oracles (mirrors [[BmpSynth]]).
  * Emits the classic "uncompressed LZW" encoding — every pixel as a
  * literal code with a CLEAR before the dictionary could grow past the
  * initial width — which every conformant decoder accepts.
  */
object GifSynth {

  /** GIF89a with a global color table holding the image's distinct colors
    * (≤ 256); `rgb(x, y)` returns 0xRRGGBB.
    */
  def gif(w: Int, h: Int, interlacedFlag: Boolean = false)
         (rgb: (Int, Int) => Int): Array[Byte] = {
    val pixels = Array.tabulate(h, w)((y, x) => rgb(x, y) & 0xFFFFFF)
    val colors = pixels.flatten.distinct.sorted
    require(colors.length <= 256, "GIF palette overflow")
    val index = colors.zipWithIndex.toMap
    // palBits is the descriptor field: table size = 2^(palBits+1)
    var palBits = 1
    while ((2 << palBits) < colors.length && palBits < 7) palBits += 1
    val palSize = 2 << palBits
    val out = collection.mutable.ArrayBuffer[Byte]()
    out ++= "GIF89a".getBytes("US-ASCII")
    out += (w & 0xFF).toByte; out += ((w >> 8) & 0xFF).toByte
    out += (h & 0xFF).toByte; out += ((h >> 8) & 0xFF).toByte
    out += (0x80 | palBits).toByte; out += 0; out += 0
    for (i <- 0 until palSize) {
      val c = if (i < colors.length) colors(i) else 0
      out += ((c >> 16) & 0xFF).toByte
      out += ((c >> 8) & 0xFF).toByte
      out += (c & 0xFF).toByte
    }
    // image descriptor (no local table); interlaced output emits rows in
    // the four-pass order so the decoder's de-interlace map is exercised
    out += 0x2C.toByte
    out += 0; out += 0; out += 0; out += 0
    out += (w & 0xFF).toByte; out += ((w >> 8) & 0xFF).toByte
    out += (h & 0xFF).toByte; out += ((h >> 8) & 0xFF).toByte
    out += (if (interlacedFlag) 0x40 else 0x00).toByte
    // LZW, uncompressed style: 8-bit min code, CLEAR every 254 literals
    val minCode = 8
    val clear = 1 << minCode; val eoi = clear + 1; val width = minCode + 1
    out += minCode.toByte
    val bits = collection.mutable.ArrayBuffer[Byte]()
    var acc = 0L; var nAcc = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += width
      while (nAcc >= 8) { bits += (acc & 0xFF).toByte; acc >>= 8; nAcc -= 8 }
    }
    emit(clear)
    var sinceClear = 0
    val rowOrder: Seq[Int] =
      if (!interlacedFlag) 0 until h
      else (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
    for (y <- rowOrder; p <- pixels(y)) {
      if (sinceClear == 254) { emit(clear); sinceClear = 0 }
      emit(index(p)); sinceClear += 1
    }
    emit(eoi)
    if (nAcc > 0) bits += (acc & 0xFF).toByte
    var i = 0
    while (i < bits.length) {
      val n = math.min(255, bits.length - i)
      out += n.toByte
      out ++= bits.slice(i, i + n)
      i += n
    }
    out += 0 // block terminator
    out += 0x3B.toByte
    out.toArray
  }

  /** The three analytic oracle patterns, pixel-identical to
    * [[BmpSynth.OraclePatterns]] → same closed-form hashes.
    */
  val OraclePatterns: IndexedSeq[Array[Byte]] = IndexedSeq(
    gif(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF),
    gif(8, 8)((_, y) => if (y < 4) 0x000000 else 0xFFFFFF),
    gif(8, 8)((_, _) => 0x808080))
}

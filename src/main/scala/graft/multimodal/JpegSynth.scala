package graft.multimodal

/** Deterministic JPEG synthesis for the closed-form oracle: a minimal
  * BASELINE GRAYSCALE encoder (SOI/DQT/SOF0/DHT/SOS/EOI with the ITU
  * T.81 Annex K typical Huffman tables) that only encodes images whose
  * every 8×8 block is UNIFORM — such blocks are DC-only, and with a
  * flat quant table of 8 the DC round-trips EXACTLY ((v−128)·8 / 8), so
  * any conforming decoder reproduces the pixels bit-for-bit and the
  * analytic expected hashes hold despite JPEG being lossy in general.
  */
object JpegSynth {

  // ITU T.81 Annex K "typical" luminance Huffman tables (public spec
  // constants): (BITS counts per code length 1..16, HUFFVAL symbols)
  private val DcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val AcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** (code, length) per symbol from a (BITS, HUFFVAL) table — the spec's
    * canonical code assignment.
    */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var vi = 0
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len)) {
        out += vals(vi) -> (code, len)
        code += 1; vi += 1
      }
      code <<= 1
    }
    out.result()
  }

  /** Baseline grayscale JPEG of a block-uniform image; `gray(bx, by)` is
    * the 0-255 gray value of the (uniform) 8×8 block at block coords.
    * w and h must be multiples of 8.
    */
  def jpegGray(w: Int, h: Int)(gray: (Int, Int) => Int): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0, "block-uniform synth needs 8-aligned dims")
    val dc = huffCodes(DcBits, DcVals)
    val ac = huffCodes(AcBits, AcVals)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int, payload: Array[Int]): Unit = {
      out.write(0xFF); out.write(m)
      val len = payload.length + 2
      out.write(len >> 8); out.write(len & 0xFF)
      payload.foreach(out.write)
    }
    out.write(0xFF); out.write(0xD8) // SOI
    marker(0xDB, Array(0x00) ++ Array.fill(64)(8)) // DQT: table 0, flat 8
    marker(0xC0, Array(8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, 1, 1, 0x11, 0)) // SOF0
    marker(0xC4, Array(0x00) ++ DcBits.drop(1) ++ DcVals) // DHT DC 0
    marker(0xC4, Array(0x10) ++ AcBits.drop(1) ++ AcVals) // DHT AC 0
    marker(0xDA, Array(1, 1, 0x00, 0, 63, 0)) // SOS
    // entropy-coded segment: per block, DC-diff + EOB; FF byte-stuffed
    var acc = 0L; var nAcc = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); nAcc += 1
        if (nAcc == 8) {
          val byte = (acc & 0xFF).toInt
          out.write(byte)
          if (byte == 0xFF) out.write(0x00)
          acc = 0; nAcc = 0
        }
        i -= 1
      }
    }
    var pred = 0
    for (by <- 0 until h / 8; bx <- 0 until w / 8) {
      val v = gray(bx, by)
      // flat quant 8: coded DC = ((v-128)*8)/8 = v-128, exact round-trip
      val coef = v - 128
      val diff = coef - pred
      pred = coef
      val mag = math.abs(diff)
      val cat = 32 - Integer.numberOfLeadingZeros(mag) // bit length; 0 for 0
      val (c, l) = dc(cat)
      putBits(c, l)
      if (cat > 0) putBits(if (diff >= 0) diff else diff - 1, cat)
      val (ec, el) = ac(0x00) // EOB: all 63 AC coefficients are zero
      putBits(ec, el)
    }
    if (nAcc > 0) { // pad final byte with 1s
      val byte = ((acc << (8 - nAcc)) | ((1 << (8 - nAcc)) - 1)).toInt & 0xFF
      out.write(byte)
      if (byte == 0xFF) out.write(0x00)
    }
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  /** The three analytic oracle patterns at 64×64 (8×8 blocks of 8×8 px, so
    * every kernel cell is exactly one uniform block): same closed-form
    * hashes as [[BmpSynth.OraclePatterns]].
    */
  val OraclePatterns: IndexedSeq[Array[Byte]] = IndexedSeq(
    jpegGray(64, 64)((bx, _) => if (bx < 4) 0 else 255),
    jpegGray(64, 64)((_, by) => if (by < 4) 0 else 255),
    jpegGray(64, 64)((_, _) => 128))
}

package graft.multimodal

/** Deterministic BMP synthesis — fixture generator for the aHash oracle
  * query and the golden tests (the analog of the reference's synthesized
  * test images, `processing_tests.rs:93-119`). Lives in main because
  * `SparkEntry.q_image_ahash` builds its oracle-checkable blobs with it.
  */
object BmpSynth {

  /** Uncompressed BI_RGB BMP with the given geometry; `rgb(x, y)` returns
    * 0xRRGGBB for the pixel at image coordinates (x left→right, y
    * top→bottom). Negative `height` convention: pass `topDown = true`.
    */
  def bmp(w: Int, h: Int, bpp: Int = 24, topDown: Boolean = false)
         (rgb: (Int, Int) => Int): Array[Byte] = {
    require(bpp == 24 || bpp == 32, "BI_RGB 24/32-bpp only")
    val bytesPerPx = bpp / 8
    val stride = ((bytesPerPx * w + 3) / 4) * 4
    val dataOffset = 54
    val size = dataOffset + stride * h
    val b = new Array[Byte](size)
    def le16(i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
    def le32(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
      b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    le32(2, size); le32(10, dataOffset)
    le32(14, 40) // BITMAPINFOHEADER
    le32(18, w); le32(22, if (topDown) -h else h)
    le16(26, 1); le16(28, bpp)
    le32(30, 0) // BI_RGB
    var y = 0
    while (y < h) {
      val fileRow = if (topDown) y else h - 1 - y
      var x = 0
      while (x < w) {
        val c = rgb(x, y)
        val p = dataOffset + fileRow * stride + x * bytesPerPx
        b(p) = (c & 0xFF).toByte            // B
        b(p + 1) = ((c >> 8) & 0xFF).toByte // G
        b(p + 2) = ((c >> 16) & 0xFF).toByte // R
        if (bytesPerPx == 4) b(p + 3) = 0xFF.toByte
        x += 1
      }
      y += 1
    }
    b
  }

  /** The three analytically-hashable oracle patterns (pattern = doc_id % 3):
    * 0 = left half black / right half white  → aHash 0x0F0F0F0F0F0F0F0F
    * 1 = top half black / bottom half white  → aHash 0x00000000FFFFFFFF
    * 2 = solid gray                          → aHash 0 (strict threshold)
    */
  val OraclePatterns: IndexedSeq[Array[Byte]] = IndexedSeq(
    bmp(8, 8)((x, _) => if (x < 4) 0x000000 else 0xFFFFFF),
    bmp(8, 8)((_, y) => if (y < 4) 0x000000 else 0xFFFFFF),
    bmp(8, 8)((_, _) => 0x808080))

  val OracleHashes: IndexedSeq[Long] =
    IndexedSeq(0x0F0F0F0F0F0F0F0FL, 0x00000000FFFFFFFFL, 0L)
}

package graft.multimodal

import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, IndexColorModel}
import javax.imageio.{ImageIO, ImageReader}
import javax.imageio.spi.ImageReaderSpi
import javax.imageio.stream.MemoryCacheImageInputStream

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** REAL pixel-level decode → 8×8 mean-threshold average hash, the
  * reference's perceptual-hash kernel (image-deduper
  * `src/processing/core.rs:37-104`). One decode path for BMP, PNG, GIF,
  * TIFF and JPEG: the JDK's own `javax.imageio` plugins (java.desktop
  * module — ships with every JRE, works headless, no external codec), just
  * as the reference's per-format decoders are thin codec wrappers
  * (`src/formats/{jpeg,png,tiff}.rs`). The decoded raster feeds the pinned
  * [[AHashKernel]], so identical pixels hash identically in every
  * container.
  *
  * Work is ordered so hostile input costs a header read at most:
  *  1. sniff the magic bytes ([[ImageHeader.sniff]]) and pick the reader
  *     by that format name — never by ImageIO's own probing, which would
  *     let e.g. the WBMP reader claim arbitrary bytes;
  *  2. gate on the header before any raster exists: `w·h` ≤ [[MaxPixels]],
  *     ≤ 4 bands, 8-bit samples unless palette-indexed (this refuses 16-bit
  *     PNG/TIFF, 16-bpp BMP and a TIFF declaring 120 samples per pixel),
  *     plus two container checks ImageIO itself is lenient about: PNG chunk
  *     framing and BMP's BI_RGB with a ≥ 40-byte DIB header;
  *  3. luma from raster samples — band 0 for gray, the palette for indexed
  *     color, bands 0–2 for sRGB. Only another color space (e.g. an
  *     ICC-tagged JPEG) goes through `getRGB`: for gray it would be WRONG,
  *     mapping through the linear-gray color model into sRGB and bending
  *     every mid-tone (128 → ~186).
  *
  * Corrupt-input contract (S9 recovery): malformed, truncated, oversized or
  * unsupported bytes return null, never throw. A JPEG scan truncated after
  * its header decodes leniently (ImageIO fills the missing tail) — hash
  * what decoded rather than refuse an image that is 95% present.
  */
object PixelAHash {
  import ImageHeader.{be32, le32}

  /** Tiered-cost bound (X12), one for every format: compressed containers
    * let a tiny blob declare a huge raster (decompression bomb). 16.7M px
    * ≈ 4096², raw RGBA raster ≤ 67 MB — anything larger is hostile input
    * for a fingerprinting pass and returns null like any undecodable blob.
    */
  val MaxPixels: Long = 1L << 24

  /** The JDK's reader plugin per sniffed format, looked up once (a
    * registry lookup per blob would cost more than decoding a small BMP).
    */
  private lazy val readers: Map[String, ImageReaderSpi] = {
    // executor-safe one-time setup: never look for a display
    System.setProperty("java.awt.headless", "true")
    Seq("png", "gif", "jpeg", "bmp", "tiff").map { fmt =>
      fmt -> ImageIO.getImageReadersByFormatName(fmt).next().getOriginatingProvider
    }.toMap
  }

  /** null (boxed) when not a decodable image; otherwise the pinned kernel. */
  def ahash(b: Array[Byte]): java.lang.Long = {
    val img = decodeLuma(b)
    if (img == null) null
    else java.lang.Long.valueOf(AHashKernel.ahash(img._1, img._2, img._3))
  }

  /** Decode to (width, height, row-major luma); null when not a decodable,
    * size-capped image.
    */
  private def decodeLuma(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (b == null || b.length < 8) return null
    val fmt = ImageHeader.sniff(b)
    if (fmt == null || !containerOk(fmt, b)) return null
    withReader[(Int, Int, Array[Byte])](b, fmt) { r =>
      val w = r.getWidth(0)
      val h = r.getHeight(0)
      if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels || !rawTypeOk(r)) null
      else luma(r.read(0), w, h)
    }
  }

  /** Header-only (width, height) through the same reader; null when the
    * header does not parse.
    */
  private[multimodal] def dimensions(b: Array[Byte], fmt: String): (Int, Int) =
    withReader[(Int, Int)](b, fmt)(r => (r.getWidth(0), r.getHeight(0)))

  private def withReader[T >: Null](b: Array[Byte], fmt: String)(f: ImageReader => T): T = {
    val reader = readers(fmt).createReaderInstance()
    val stream = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(b))
    try {
      reader.setInput(stream, true, true)
      f(reader)
    } catch {
      case _: Exception => null
      // ImageIO wraps some corrupt inputs in Errors — but genuine JVM
      // failures (OutOfMemoryError, StackOverflowError) must fail the task,
      // not masquerade as "undecodable image" (silent data loss on a
      // possibly-corrupt JVM)
      case e: java.lang.VirtualMachineError => throw e
      case _: java.lang.Error => null
    } finally {
      reader.dispose()
      try stream.close() catch { case _: java.io.IOException => () }
    }
  }

  private def containerOk(fmt: String, b: Array[Byte]): Boolean = fmt match {
    case "png" => pngFramed(b)
    // BITMAPINFOHEADER or later, compression 0: BI_RGB only
    case "bmp" => b.length >= 54 && le32(b, 14) >= 40 && le32(b, 30) == 0
    case _ => true
  }

  /** Every chunk up to IEND lies inside the blob: ImageIO would otherwise
    * decode a PNG whose tail is cut off.
    */
  private def pngFramed(b: Array[Byte]): Boolean = {
    var off = 8
    while (off + 8 <= b.length) {
      val len = be32(b, off)
      if (len < 0 || off + 12L + len > b.length) return false
      if (b(off + 4) == 'I' && b(off + 5) == 'E' && b(off + 6) == 'N' && b(off + 7) == 'D')
        return true
      off += 12 + len
    }
    false
  }

  private def rawTypeOk(r: ImageReader): Boolean = {
    val t = r.getRawImageType(0)
    t != null && t.getNumBands <= 4 &&
      (t.getColorModel.isInstanceOf[IndexColorModel] ||
        (0 until t.getNumBands).forall(t.getBitsPerBand(_) == 8))
  }

  /** Integer Rec.601 luma of 0xRRGGBB. */
  private def rec601(c: Int): Int =
    (299 * ((c >> 16) & 0xFF) + 587 * ((c >> 8) & 0xFF) + 114 * (c & 0xFF)) / 1000

  private def luma(img: BufferedImage, w: Int, h: Int): (Int, Int, Array[Byte]) = {
    val raster = img.getRaster
    val cm = img.getColorModel
    val palette = cm match {
      case icm: IndexColorModel => Array.tabulate(icm.getMapSize)(i => rec601(icm.getRGB(i)))
      case _ => null
    }
    val gray = cm.getColorSpace.getType == ColorSpace.TYPE_GRAY
    val viaRgb = palette == null && !gray && !cm.getColorSpace.isCS_sRGB
    val nb = if (viaRgb) 1 else raster.getNumBands
    val row = new Array[Int](w * nb)
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      if (viaRgb) img.getRGB(0, y, w, 1, row, 0, w) else raster.getPixels(0, y, w, 1, row)
      var x = 0
      while (x < w) {
        val p = x * nb
        val l =
          if (palette != null) palette(row(p))
          else if (gray) row(p)
          else if (viaRgb) rec601(row(p))
          else (299 * row(p) + 587 * row(p + 1) + 114 * row(p + 2)) / 1000
        out(y * w + x) = l.toByte
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }
}

/** The pinned 8×8 mean-threshold kernel over a decoded row-major luma
  * raster. Definition (pinned — goldens and the SQL oracles depend on it):
  *  - grayscale: integer Rec.601 luma  (299·R + 587·G + 114·B) / 1000,
  *    computed upstream by the decoder
  *  - resize: 8×8 box mean; cell (cx,cy) covers x ∈ [cx·w/8,(cx+1)·w/8)
  *    (floor arithmetic; degenerate cells widen to ≥1 pixel so w,h < 8
  *    still decode)
  *  - threshold: bit (63 − (cy·8 + cx)) is set iff cellMean > globalMean
  *    (strict: a solid image hashes to 0), compared in exact integer
  *    arithmetic: cellSum·totalN > total·cellN (Long accumulators cannot
  *    overflow: ≤ 2^24 px × 255 luma, times ≤ 2^24 px, < 2^63)
  */
private[multimodal] object AHashKernel {

  def ahash(w: Int, h: Int, luma: Array[Byte]): Long = {
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8
      val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
      var y = y0
      while (y < y1) {
        var cx = 0
        while (cx < 8) {
          val x0 = cx * w / 8
          val x1 = math.max(x0 + 1, (cx + 1) * w / 8)
          var s = 0L
          var x = x0
          while (x < x1) { s += luma(y * w + x) & 0xFF; x += 1 }
          val cell = cy * 8 + cx
          sums(cell) += s
          counts(cell) += (x1 - x0)
          cx += 1
        }
        y += 1
      }
      cy += 1
    }
    var total = 0L; var totalN = 0L; var i = 0
    while (i < 64) { total += sums(i); totalN += counts(i); i += 1 }
    var hash = 0L
    i = 0
    while (i < 64) {
      if (sums(i) * totalN > total * counts(i)) hash |= 1L << (63 - i)
      i += 1
    }
    hash
  }
}

/** Catalyst wrapper: binary → 64-bit aHash (LongType), null for anything
  * but a decodable BMP, PNG, GIF, TIFF or JPEG ([[PixelAHash]] routes by
  * magic bytes). Scalar with codegen — rides inside project stages,
  * composes with `bit_count(a ^ b)` Hamming directly.
  */
case class ImageAHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"image_ahash expects binary, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    PixelAHash.ahash(input.asInstanceOf[Array[Byte]]) // null ⇒ SQL null

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PixelAHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    // freshName, not a fixed local: with a non-nullable child the fragment
    // lands UNGUARDED in the generated function, and two image_ahash calls
    // fused into one whole-stage-codegen scope would redeclare `ah` and
    // kick the whole stage back to interpreted execution
    val ah = ctx.freshName("ah")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long $ah = $cls.ahash($c);
      ${ev.isNull} = $ah == null;
      ${ev.value} = ${ev.isNull} ? -1L : $ah.longValue();""")
  }

  override protected def withNewChildInternal(newChild: Expression): ImageAHash =
    copy(child = newChild)

  override def prettyName: String = "image_ahash"
}

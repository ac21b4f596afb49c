package graft.multimodal

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Image header parsing — the REAL decode step for the multimodal metadata
  * path (no codec dependency: dimensions live in the container header
  * bytes, read here in pure JVM code; only TIFF's IFD walk is the JDK's
  * ImageIO header read, shared with [[PixelAHash]]). Web-text analog of
  * the reference's per-format decoders + sniffing (image-deduper
  * src/formats/{jpeg,png,tiff,raw,heic}.rs, `src/fixsuffix.rs:19-62`).
  *
  * Corrupt-input contract mirrors `ExtractText`: malformed or truncated
  * bytes never throw — they return null and the caller degrades (to the
  * byte-derived stand-in metadata, or quarantine).
  */
object ImageHeader {

  final case class Meta(format: String, width: Int, height: Int)

  private def bytes(v: Int*): Array[Byte] = v.map(_.toByte).toArray

  val PngSignature: Array[Byte] = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  private val Magics: Seq[(String, Array[Byte])] = Seq(
    "png" -> PngSignature,
    "gif" -> "GIF87a".getBytes("US-ASCII"), "gif" -> "GIF89a".getBytes("US-ASCII"),
    "jpeg" -> bytes(0xFF, 0xD8),
    "bmp" -> bytes('B', 'M'),
    "tiff" -> bytes('I', 'I', 42, 0), "tiff" -> bytes('M', 'M', 0, 42))

  /** Container format from the magic bytes alone — "png" | "gif" | "jpeg"
    * | "bmp" | "tiff", or null. The one sniff behind both this header parse
    * and [[PixelAHash]]'s reader choice; each parser below still checks its
    * own minimum length. ([[Multimodal.sniffFormat]] is the SQL-column
    * version.)
    */
  def sniff(b: Array[Byte]): String =
    if (b == null) null
    else Magics.collectFirst {
      case (fmt, m) if b.length >= m.length && m.indices.forall(i => b(i) == m(i)) => fmt
    }.orNull

  def parse(b: Array[Byte]): Meta = {
    try sniff(b) match {
      case "png" => parsePng(b)
      case "gif" => parseGif(b)
      case "jpeg" => parseJpeg(b)
      case "bmp" => parseBmp(b)
      case "tiff" => parseTiff(b)
      case _ => null
    } catch { case _: Exception => null }
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private[multimodal] def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private[multimodal] def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** PNG: first chunk must be IHDR; width/height are BE32 at its start. */
  private def parsePng(b: Array[Byte]): Meta = {
    if (b.length < 24) return null
    if (!(u8(b, 12) == 'I' && u8(b, 13) == 'H' && u8(b, 14) == 'D' && u8(b, 15) == 'R'))
      return null
    val w = be32(b, 16); val h = be32(b, 20)
    if (w <= 0 || h <= 0) null else Meta("png", w, h)
  }

  /** GIF87a/89a: logical-screen width/height, LE16 at offsets 6/8. */
  private def parseGif(b: Array[Byte]): Meta = {
    if (b.length < 10) return null
    val w = le16(b, 6); val h = le16(b, 8)
    if (w <= 0 || h <= 0) null else Meta("gif", w, h)
  }

  /** JPEG: walk the marker segments to the first frame header (SOF0..SOF15,
    * excluding DHT/JPG/DAC); height BE16 then width BE16 follow the
    * 1-byte precision inside it.
    */
  private def parseJpeg(b: Array[Byte]): Meta = {
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return null // lost sync: corrupt stream
      var m = u8(b, i + 1)
      var j = i + 1
      while (m == 0xFF && j + 1 < b.length) { j += 1; m = u8(b, j) } // fill bytes
      i = j + 1
      if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) {
        // standalone markers: no length field
      } else if (m == 0xD9 || m == 0xDA) {
        return null // EOI / start-of-scan before any SOF: no dimensions
      } else {
        if (i + 1 >= b.length) return null
        val len = be16(b, i)
        if (len < 2 || i + len > b.length) return null
        val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
        if (isSof) {
          if (len < 7) return null
          val h = be16(b, i + 3); val w = be16(b, i + 5)
          return if (w <= 0 || h <= 0) null else Meta("jpeg", w, h)
        }
        i += len
      }
    }
    null
  }

  /** BMP (BITMAPINFOHEADER): width LE32 at 18, height LE32 (signed;
    * negative = top-down) at 22.
    */
  private def parseBmp(b: Array[Byte]): Meta = {
    if (b.length < 26) return null
    val w = le32(b, 18); val h = math.abs(le32(b, 22))
    if (w <= 0 || h <= 0) null else Meta("bmp", w, h)
  }

  /** TIFF: tags 256/257 from IFD0 (either byte order), read by the same
    * ImageIO header read [[PixelAHash]] decodes with — valid for any
    * compression scheme, since dimensions never touch pixel data
    * (reference formats/tiff.rs:9-24).
    */
  private def parseTiff(b: Array[Byte]): Meta = {
    if (b.length < 8) return null
    val dims = PixelAHash.dimensions(b, "tiff")
    if (dims == null || dims._1 <= 0 || dims._2 <= 0) null
    else Meta("tiff", dims._1, dims._2)
  }
}

/** Catalyst wrapper: binary → struct(format, width, height), null for
  * unrecognized/corrupt bytes. Scalar expression with codegen, so it rides
  * inside project stages with pruning intact (same pattern as
  * [[graft.fingerprint.ExtractText]]).
  */
case class ImageMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"image_meta expects binary, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val m = ImageHeader.parse(input.asInstanceOf[Array[Byte]])
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m.format), m.width, m.height))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imageMetaExpr", this, classOf[ImageMeta].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)

  override def prettyName: String = "image_meta"
}

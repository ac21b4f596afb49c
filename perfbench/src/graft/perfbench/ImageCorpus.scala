package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fingerprint.HashKernels
import graft.multimodal.{BmpSynth, GifSynth, JpegSynth, PngSynth, TiffSynth}

/** Planted image corpus for the image_dedup workload. Every base image is
  * a block-uniform two-level gray pattern on the aHash's own 8×8 grid, so
  * its aHash is the planted 64-bit pattern whatever the container format.
  * Per base: the original BMP, a byte-identical copy, PNG / GIF / TIFF /
  * JPEG re-encodes (same aHash, different bytes), a two-block edit
  * (aHash Hamming distance 2) and an unrelated image. Every
  * `CorruptEvery`-th base also gets a truncated BMP, which must hash to
  * null and stay a singleton.
  */
object ImageCorpus {
  val Side = 64
  val CorruptEvery = 25
  val DupKinds: Seq[String] = Seq("copy", "png", "gif", "tiff", "jpeg", "edit")
  val Kinds: Seq[String] = ("original" +: DupKinds) :+ "unrelated"

  final case class Image(id: String, base: Long, kind: String, blob: Array[Byte])

  def id(base: Long, kind: String): String = f"img-$base%07d-$kind"

  /** A 64-bit pattern with 16..48 set bits (no near-solid image). */
  private def pattern(seed: Long, base: Long, salt: Long): Long = {
    var p = HashKernels.avalanche(seed * 0x9E3779B97F4A7C15L + base * 31L + salt)
    while (java.lang.Long.bitCount(p) < 16 || java.lang.Long.bitCount(p) > 48)
      p = HashKernels.avalanche(p)
    p
  }

  /** Gray level of pixel (x, y): high where the pattern bit of its aHash
    * cell is set (bit 63 - (cy*8 + cx), the kernel's bit order).
    */
  private def level(p: Long, lo: Int, hi: Int)(x: Int, y: Int): Int = {
    val cell = (y * 8 / Side) * 8 + (x * 8 / Side)
    if (((p >>> (63 - cell)) & 1L) == 1L) hi else lo
  }

  private def rgb(g: Int): Int = (g << 16) | (g << 8) | g

  def images(seed: Long, base: Long): Seq[Image] = {
    val p = pattern(seed, base, 1L)
    val lo = 30 + (java.lang.Long.remainderUnsigned(p, 40)).toInt
    val hi = 180 + (java.lang.Long.remainderUnsigned(p >>> 8, 50)).toInt
    val g = level(p, lo, hi) _
    val bmp = BmpSynth.bmp(Side, Side)((x, y) => rgb(g(x, y)))
    val flips = pattern(seed, base, 2L)
    val bitA = (flips & 63L).toInt
    val bitB = (bitA + 1 + ((flips >>> 6) & 31L).toInt) % 64
    val edited = p ^ (1L << bitA) ^ (1L << bitB)
    val u = pattern(seed, base, 3L)
    val cell = Side / 8
    val planted = Seq(
      "original" -> bmp,
      "copy" -> bmp.clone(),
      "png" -> PngSynth.png(Side, Side, colorType = 0)((x, y) => rgb(g(x, y))),
      "gif" -> GifSynth.gif(Side, Side)((x, y) => rgb(g(x, y))),
      "tiff" -> TiffSynth.tiff(Side, Side, gray = true)((x, y) => rgb(g(x, y))),
      "jpeg" -> JpegSynth.jpegGray(Side, Side)((bx, by) => g(bx * cell, by * cell)),
      "edit" -> BmpSynth.bmp(Side, Side)((x, y) => rgb(level(edited, lo, hi)(x, y))),
      "unrelated" -> BmpSynth.bmp(Side, Side)((x, y) => rgb(level(u, lo, hi)(x, y))))
    val corrupt =
      if (base % CorruptEvery == 0) {
        val q = BmpSynth.bmp(Side, Side)((x, y) => rgb(level(pattern(seed, base, 4L), lo, hi)(x, y)))
        Seq("corrupt" -> java.util.Arrays.copyOf(q, q.length / 2))
      } else Nil
    (planted ++ corrupt).map { case (k, b) => Image(id(base, k), base, k, b) }
  }

  /** Generate `numBase` planted groups as (id, base, kind, blob), executor
    * side, and write them to parquet at `dir`.
    */
  def write(spark: SparkSession, numBase: Long, seed: Long, dir: String): Long = {
    import spark.implicits._
    val ds = spark.range(numBase).flatMap(b => images(seed, b))
    ds.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).count()
  }

  /** Planted pairs (id_a, id_b, expect_dup): every dup kind with its
    * original, and the unrelated image with its original.
    */
  def truth(spark: SparkSession, numBase: Long): DataFrame = {
    import spark.implicits._
    spark.range(numBase).flatMap { b =>
      (DupKinds.map(k => (id(b, "original"), id(b, k), true)) :+
        ((id(b, "original"), id(b, "unrelated"), false)))
    }.toDF("id_a", "id_b", "expect_dup")
  }
}

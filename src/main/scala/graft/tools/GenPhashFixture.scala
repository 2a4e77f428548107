package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.multimodal.Binary

/** One-shot generator for the committed perceptual-hash fixture
  * (`fixtures/media_phash.parquet`): real PNG payloads — 12 distinct base
  * patterns plus a perturbed near-duplicate of each of the first 6 — with
  * `exp_ahash` round-tripped through [[graft.multimodal.Binary.aHash]] at
  * generation time, so the DuckDB oracle can compute the banded-hamming
  * pair set from recorded truth while the engine re-derives it from pixels.
  *
  * Deterministic by construction: cell brightness is pure arithmetic on
  * (base id, cell index), PNG is lossless, no clock, no RNG. The generator
  * ASSERTS the fixture's contract before writing: every (base, dup) pair
  * within hamming ≤ 3, every distinct base pair above 3 — so the committed
  * bytes provably exercise both sides of the threshold.
  */
object GenPhashFixture {

  val OutPath = "/root/repo/fixtures/media_phash.parquet"

  private val Cell = 8 // px per grid cell; image is 64x64

  /** 64×64 grayscale pattern: constant brightness per 8×8 cell, derived
    * arithmetically from (base, cell).
    */
  private def baseImage(base: Int): BufferedImage = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val c = cy * 8 + cx
      val v = math.abs((base * 2654435761L + c * 40503L) % 256).toInt
      val rgb = (v << 16) | (v << 8) | v
      for (y <- cy * Cell until (cy + 1) * Cell; x <- cx * Cell until (cx + 1) * Cell)
        img.setRGB(x, y, rgb)
    }
    img
  }

  /** Near-duplicate: push one below-mean cell far up (flips ~1 bit, may
    * nudge 1-2 borderline cells with it) — a mild edit, not a new image.
    */
  private def perturb(img: BufferedImage): BufferedImage = {
    val out = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    val rgb = (230 << 16) | (230 << 8) | 230
    for (y <- 0 until Cell; x <- 0 until Cell) out.setRGB(x, y, rgb)
    out
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val bases = (0 until 12).map(b => (b.toLong, png(baseImage(b))))
    val dups = (0 until 6).map(b => (100L + b, png(perturb(baseImage(b)))))
    val rows = (bases ++ dups).map { case (id, bytes) =>
      (id, bytes, Binary.aHash(bytes))
    }

    // contract asserts: dup pairs within the banded threshold, distinct
    // bases well outside it
    val byId = rows.map(r => r._1 -> r._3).toMap
    for (b <- 0 until 6) {
      val ham = java.lang.Long.bitCount(byId(b.toLong) ^ byId(100L + b))
      require(ham <= 3, s"dup pair $b hamming $ham > 3")
    }
    for (i <- 0 until 12; j <- (i + 1) until 12) {
      val ham = java.lang.Long.bitCount(byId(i.toLong) ^ byId(j.toLong))
      require(ham > 3, s"bases $i,$j hamming $ham <= 3 (fixture would alias)")
    }

    rows.toDF("doc_id", "payload", "exp_ahash")
      .coalesce(1).write.mode("overwrite").parquet(OutPath)
    println(s"[gen-phash] wrote ${rows.length} rows -> $OutPath")
    spark.stop()
  }
}

package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.multimodal.Binary

/** One-shot generator for the committed multimodal fixture
  * (`fixtures/media_images.parquet`): 64 tiny REAL images (png/jpg/bmp,
  * all JDK-builtin writers) with fully deterministic pixel content.
  *
  * The `exp_*` expectation columns are computed by ROUND-TRIPPING the
  * encoded bytes through `Binary.decodeImage` — the exact decoder the
  * `multimodal_binary` query runs — so the DuckDB oracle can assert the
  * decode without being able to decode images itself. JPEG is lossy, which
  * is precisely why expectations come from the round-trip and not from the
  * pre-encode pixels.
  *
  * Deterministic by construction (no clock, no RNG): re-running it
  * reproduces byte-identical payloads on the same JDK.
  *
  * JDK PIN (jpeg only): the committed `exp_pixsum` for jpeg rows is the
  * output of THIS JDK's lossy jpeg decoder; a different JDK/ImageIO version
  * may decode slightly different RGB samples. The cross-engine oracle
  * therefore masks pix_sum on jpeg rows in both engines (see the
  * `multimodal_binary` query), and jpeg exp_pixsum is only asserted by the
  * same-JVM round-trip in BinarySpec. png/bmp are lossless and their
  * pixel sums are portable.
  */
object GenMediaFixture {

  def main(args: Array[String]): Unit = {
    System.setProperty("java.awt.headless", "true")
    val out = if (args.nonEmpty) args(0) else Binary.MediaFixturePath

    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val rows = (0L until 64L).map { id =>
      val w = 8 + (id * 7 % 57).toInt
      val h = 8 + (id * 13 % 57).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = (x * 31 + y * 17 + id * 97) & 0xff
          val g = (x * 13 + y * 7 + id * 5) & 0xff
          val b = (x + y + id) & 0xff
          img.setRGB(x, y, (r.toInt << 16) | (g.toInt << 8) | b.toInt)
          x += 1
        }
        y += 1
      }
      val writerFmt = (id % 3) match {
        case 0 => "png"
        case 1 => "jpg"
        case _ => "bmp"
      }
      val bos = new ByteArrayOutputStream()
      require(ImageIO.write(img, writerFmt, bos), s"no ImageIO writer for $writerFmt")
      val bytes = bos.toByteArray
      val (dw, dh, fmt, pix) = Binary.decodeImage(bytes)
      require(dw == w && dh == h, s"round-trip dims mismatch for id=$id")
      (id, bytes, dw.toLong, dh.toLong, fmt, pix)
    }

    rows
      .toDF("doc_id", "payload", "exp_width", "exp_height", "exp_format", "exp_pixsum")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    println(s"[gen-media] wrote ${rows.size} images to $out")
    spark.stop()
  }
}

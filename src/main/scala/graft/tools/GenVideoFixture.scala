package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}

import graft.multimodal.Binary

/** One-shot generator for the committed multi-frame fixture
  * (`fixtures/media_frames.parquet`): 24 tiny REAL animated GIFs written
  * frame-by-frame with the JDK's GIF `ImageWriter` sequence API
  * (`prepareWriteSequence`/`writeToSequence`) — the one multi-frame
  * container the JDK can both write and read, standing in for video in the
  * decode→frame-sample path. Fully deterministic (integer pixel formula,
  * no clock, no RNG).
  *
  * Frames are `TYPE_BYTE_INDEXED` (GIF is palette-based; the indexed
  * default palette round-trips losslessly through LZW), so unlike jpeg
  * every committed exp_* value is portable across JDKs.
  *
  * The `exp_*` expectation columns (frame count, dims, sampled frame
  * indices and their full-pixel checksums at `Binary.FrameStride`) are
  * computed by ROUND-TRIPPING the encoded bytes through
  * `Binary.decodeFrames` — the exact decoder `multimodal_frames` runs — so
  * the DuckDB oracle asserts the decode without a GIF parser.
  */
object GenVideoFixture {

  def main(args: Array[String]): Unit = {
    System.setProperty("java.awt.headless", "true")
    val out = if (args.nonEmpty) args(0) else Binary.VideoFixturePath

    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val rows = (0L until 24L).map { id =>
      val w = 8 + (id * 7 % 25).toInt
      val h = 8 + (id * 11 % 25).toInt
      val nFrames = 2 + (id * 5 % 19).toInt // 2..20 frames
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // deterministic per-frame pseudo-content; raster indices map
              // through the indexed default palette, which GIF preserves
              img.getRaster.setSample(
                x, y, 0, (x * 31 + y * 17 + f * 53 + id * 97) & 0xff)
              x += 1
            }
            y += 1
          }
          val meta = writer.getDefaultImageMetadata(
            ImageTypeSpecifier.createFromRenderedImage(img),
            writer.getDefaultWriteParam)
          writer.writeToSequence(new IIOImage(img, null, meta), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      val bytes = bos.toByteArray
      val (n, frames) = Binary.decodeFrames(bytes, Binary.FrameStride)
      require(n == nFrames, s"round-trip frame count mismatch for id=$id: $n != $nFrames")
      require(frames.forall { case (_, fw, fh, _) => fw == w && fh == h },
        s"round-trip dims mismatch for id=$id")
      (id, bytes, n.toLong, w.toLong, h.toLong,
        frames.map(_._1.toLong).toArray, frames.map(_._4).toArray)
    }

    rows
      .toDF("doc_id", "payload", "exp_n_frames", "exp_width", "exp_height",
        "exp_frame_idx", "exp_pix_sum")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    println(s"[gen-video] wrote ${rows.size} animated gifs to $out")
    spark.stop()
  }
}

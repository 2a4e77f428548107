package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.multimodal.Binary

/** One-shot generator for the committed corrupt-decode-audit fixture
  * (`fixtures/media_decode_audit.parquet`): real PNG payloads interleaved
  * with UNDECODABLE blobs (garbage magic, truncated PNG header, empty
  * payload) — the corpus-scale reality the `multimodal_decode_audit` key
  * gates end-to-end (VERDICT r12 item 6: corrupt rows must survive FLAGGED,
  * never thrown, never aborting a partition). `exp_ahash` / `exp_decode_ok`
  * are round-tripped through [[graft.multimodal.Binary.aHashOpt]] at
  * generation time so the DuckDB oracle replays recorded truth while the
  * engine re-derives it from the payload bytes.
  *
  * Deterministic by construction: cell brightness is pure arithmetic on
  * (base id, cell index), PNG is lossless, no clock, no RNG. The generator
  * ASSERTS the contract before writing: every good payload decodes to its
  * recorded hash, every corrupt payload yields None.
  */
object GenDecodeAuditFixture {

  val OutPath = "/root/repo/fixtures/media_decode_audit.parquet"

  private val Cell = 8 // px per grid cell; image is 64x64

  /** Same arithmetic pattern family as GenPhashFixture. */
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

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val good = (0 until 6).map(b => (b.toLong, png(baseImage(b))))
    val corrupt = Seq(
      (100L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)), // magic no reader knows
      (101L, png(baseImage(0)).take(10)),          // truncated PNG header
      (102L, Array.empty[Byte]))                   // zero-byte download
    val rows = (good ++ corrupt).map { case (id, bytes) =>
      val h = Binary.aHashOpt(bytes)
      (id, bytes, h, h.isDefined)
    }

    // contract asserts before committing bytes
    rows.foreach { case (id, _, h, ok) =>
      if (id < 100L) require(ok, s"good payload $id failed to decode")
      else require(!ok && h.isEmpty, s"corrupt payload $id unexpectedly decoded")
    }

    rows.toDF("doc_id", "payload", "exp_ahash", "exp_decode_ok")
      .coalesce(1).write.mode("overwrite").parquet(OutPath)
    println(s"[gen-decode-audit] wrote ${rows.length} rows -> $OutPath")
    spark.stop()
  }
}

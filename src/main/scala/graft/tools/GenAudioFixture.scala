package graft.tools

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.multimodal.Binary

/** One-shot generator for the committed audio fixture
  * (`fixtures/media_audio.parquet`): 48 tiny REAL RIFF/WAVE payloads
  * written by JDK-builtin `javax.sound.sampled` across the PCM matrix the
  * format defines — rates {8000, 16000, 22050, 44100} × {mono, stereo} ×
  * {16-bit signed LE, 8-bit unsigned} — with fully deterministic sample
  * content (integer formula, no clock, no RNG).
  *
  * The `exp_*` expectation columns (sample rate, channels, bit depth, frame
  * count, µs duration, full-stream PCM checksum, per-window Σ|sample|
  * energies) are computed by ROUND-TRIPPING the encoded bytes through
  * `Binary.decodeAudio` — the exact decoder the `multimodal_audio` queries
  * run — so the DuckDB oracle can assert the decode without a WAV parser.
  * PCM is lossless, so unlike the jpeg rows of the image fixture every
  * column is portable across JDKs.
  */
object GenAudioFixture {

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else Binary.AudioFixturePath

    val spark = graft.GraftSession.local(2)
    import spark.implicits._

    val rates = Seq(8000, 16000, 22050, 44100)
    val rows = (0L until 48L).map { id =>
      val rate = rates((id % 4).toInt)
      val channels = 1 + ((id / 4) % 2).toInt
      val bits = if ((id / 8) % 2 == 0) 16 else 8
      val nFrames = 800 + (id * 137 % 3000).toInt
      val frameSize = channels * bits / 8
      val pcm = new Array[Byte](nFrames * frameSize)
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          // deterministic pseudo-waveform; exercises the full sample range
          val v = (f * 31 + c * 17 + id * 97) * 7919
          if (bits == 16) {
            val s = ((v % 65536) - 32768).toInt
            val i = f * frameSize + c * 2
            pcm(i) = (s & 0xff).toByte
            pcm(i + 1) = ((s >> 8) & 0xff).toByte
          } else {
            pcm(f * frameSize + c) = (v % 256).toByte
          }
          c += 1
        }
        f += 1
      }
      val fmt = new AudioFormat(
        if (bits == 16) AudioFormat.Encoding.PCM_SIGNED
        else AudioFormat.Encoding.PCM_UNSIGNED,
        rate.toFloat, bits, channels, frameSize, rate.toFloat, false)
      val bos = new ByteArrayOutputStream()
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      val bytes = bos.toByteArray
      val (meta, win) = Binary.decodeAudio(bytes)
      require(meta.n_frames == nFrames && meta.sample_rate == rate &&
        meta.channels == channels && meta.bits == bits,
        s"round-trip mismatch for id=$id: $meta")
      (id, bytes, meta.sample_rate, meta.channels, meta.bits, meta.n_frames,
        meta.duration_us, meta.pcm_sum, win)
    }

    rows
      .toDF("doc_id", "payload", "exp_rate", "exp_channels", "exp_bits",
        "exp_n_frames", "exp_duration_us", "exp_pcm_sum", "exp_win_energy")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    println(s"[gen-audio] wrote ${rows.size} wavs to $out")
    spark.stop()
  }
}

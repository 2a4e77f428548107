package graft

import org.apache.spark.sql.functions._

/** Round-11 widening pins: robust outliers (anomaly_mad), reciprocal-rank
  * fusion (rank_fusion), and the Zipf-law fit (text_zipf_fit) — each
  * re-derived brute-force in Scala from the same fixture rows and compared
  * against the declared query, so the semantics are pinned independently of
  * the DuckDB oracle.
  */
class Round11bSpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)

  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  test("anomaly_mad flags exactly the rows a brute-force modified z-score flags") {
    val rows = Tables.events(spark, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byType = rows.groupBy(_._2)
    val expected = byType.flatMap { case (_, es) =>
      val cents = es.map { case (_, _, v) => math.floor(v * 100 + 0.5) }
      val med = medianOf(cents)
      val mad = medianOf(cents.map(c => math.abs(c - med)))
      if (mad <= 0) Seq.empty[Long]
      else es.zip(cents).collect {
        case ((id, _, _), c) if math.abs(0.6745 * (c - med) / mad) > 3.5 => id
      }.toSeq
    }.toSet
    val got = SparkEntry.queries("anomaly_mad")(spark, d)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("anomaly_mad flags an injected outlier and nothing else on a tight cluster") {
    // the shared fixture's values may be too uniform to cross 3.5, so the
    // flag path gets its own dir: 60 events tightly clustered at ~100.00
    // plus one wild spike per type
    val dd = SparkSpec.tempDir("graft-mad")
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2026-01-01 00:00:${i % 60}"),
        i.toLong % 7, if (i % 2 == 0) "a" else "b", 100.0 + (i % 5) * 0.01, "{}")
    } :+ ((999L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), 1L, "a", 5000.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dd/events.parquet")
    val flagged = SparkEntry.queries("anomaly_mad")(spark, dd)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(999L))
  }

  test("rank_fusion reproduces the brute-force RRF over truncated top-500 lists") {
    val docs = Tables.t(spark, d, "documents")
      .select(col("doc_id"),
        size(split(Tables.normText(col("text")), " ")).cast("long").as("n_tok"),
        col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def ranks(key: ((Long, Long, Long)) => Long): Map[Long, Int] =
      docs.sortBy(t => (-key(t), t._1)).take(500).zipWithIndex
        .map { case (t, i) => t._1 -> (i + 1) }.toMap
    val ra = ranks(_._2)
    val rb = ranks(_._3)
    val fused = (ra.keySet ++ rb.keySet).toSeq.map { id =>
      val contribs = ra.get(id).toSeq ++ rb.get(id).toSeq
      val rrf = contribs.map(r => 1.0 / (60 + r)).sum
      (id, math.floor(rrf * 1e6 + 0.5) / 1e6, contribs.size.toLong)
    }.sortBy { case (id, rrf, _) => (-rrf, id) }.take(50)
    val got = SparkEntry.queries("rank_fusion")(spark, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === fused)
    assert(got.size === math.min(50, (ra.keySet ++ rb.keySet).size))
  }

  test("multimodal_phash_dedup: engine hashes equal recorded truth; exactly the engineered pairs surface") {
    val fixture = spark.read.parquet(graft.multimodal.Binary.PhashFixturePath)
    val got = graft.multimodal.Binary.imageHashes(spark, fixture)
      .collect().map(h => h.doc_id -> h.ahash).toMap
    val exp = fixture.select("doc_id", "exp_ahash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exp, "aHash from pixels must reproduce the recorded round-trip hashes")
    val pairs = SparkEntry.queries("multimodal_phash_dedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0 until 6).map(b => (b.toLong, 100L + b)).toSet,
      "exactly the 6 engineered near-dup pairs, no base-base aliases")
  }

  test("aHash is invariant under uniform brightness shift and integer upscaling") {
    // the properties that make the average-hash PERCEPTUAL: re-exposure
    // (all pixels +c, no clipping) shifts every cell and the mean equally,
    // and integer upscaling maps whole pixels onto the same 8x8 cells —
    // neither changes any bit. A pattern change must.
    def img(f: (Int, Int) => Int, size: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(size, size,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until size; x <- 0 until size) {
        val v = f(x, y) & 0xff
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def pngBytes(im: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def pattern(x: Int, y: Int) = 40 + ((x / 8) * 13 + (y / 8) * 29) % 150
    val h0 = graft.multimodal.Binary.aHash(pngBytes(img(pattern, 64)))
    val hBright = graft.multimodal.Binary.aHash(
      pngBytes(img((x, y) => pattern(x, y) + 40, 64)))
    val hUp = graft.multimodal.Binary.aHash(
      pngBytes(img((x, y) => pattern(x / 2, y / 2), 128)))
    val hOther = graft.multimodal.Binary.aHash(
      pngBytes(img((x, y) => pattern(63 - x, y), 64)))
    assert(hBright === h0, "uniform brightness shift must not change the hash")
    assert(hUp === h0, "2x nearest upscale must not change the hash")
    assert(java.lang.Long.bitCount(h0 ^ hOther) > 3, "a mirrored pattern must differ")
  }

  test("text_zipf_fit matches a closed-form least-squares over the bigram ranks") {
    val bigrams = Tables.t(spark, d, "documents")
      .select(split(Tables.normText(col("text")), " ").as("tk"))
      .collect()
      .map(_.getSeq[String](0))
      .filter(_.length >= 2)
      .flatMap(tk => tk.sliding(2).map(_.mkString(" ")))
    val top = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (g, f) => (-f, g) }.take(1000)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (math.log(i + 1.0), math.log(f.toDouble))
    }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    val r = SparkEntry.queries("text_zipf_fit")(spark, d).collect().head
    assert(r.getLong(0) === pts.length.toLong)
    assert(math.abs(r.getDouble(1) - slope) < 2e-3,
      s"slope ${r.getDouble(1)} vs brute $slope")
    assert(math.abs(r.getDouble(2) - icept) < 2e-3,
      s"intercept ${r.getDouble(2)} vs brute $icept")
    assert(r.getDouble(1) < 0, "frequency must decrease with rank")
  }
}

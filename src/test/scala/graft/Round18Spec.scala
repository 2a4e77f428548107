package graft

import org.apache.spark.sql.functions._

/** Round 18 gates for the advisory fixes:
  *
  *  1. `sample_importance`'s hex coin at FOURTEEN digits (ADVICE r17 high):
  *     the w = 1.0 threshold 2⁵² is '10000000000000' — 14 hex digits — and
  *     the old `lpad(…, 13, '0')` TRUNCATED it to 2⁴⁸, so docs the policy
  *     says to keep with probability 1.0 survived with probability ~1/16,
  *     on BOTH engines (the oracle carried the identical truncation, so the
  *     parity gate stayed green while both were wrong). The gate here is
  *     the property the policy states: every doc with n_tok ≥ 100 is KEPT.
  *     With 64 such docs, the old code passes with probability ~0.0625⁶⁴.
  *
  *  2. `AnnIvfPq.topKAdaptive`'s two-level DISPATCH executed always-on
  *     (ADVICE r17 low): the l1 × k2 split wiring only ran under
  *     /tmp/emb4m//tmp/emb16m assume-gates before; a forced tiny clamp
  *     sends the sf-unit corpus down the exact branch the 16M rung takes.
  */
class Round18Spec extends SparkSpec {

  import graft.operators.{AnnIvf, AnnIvfPq}

  test("sample_importance keeps EVERY doc with n_tok >= 100, at w = 1.0 (the 14-hex-digit coin)") {
    import spark.implicits._
    val d = SparkSpec.tempDir("graft-imp")
    // 64 substantial docs (n_tok 100..163 — all at the w=1.0 ramp top) with
    // varied doc_ids so the md5 coins spread over [0, 16^13); plus short
    // docs that must get the fractional ramp, not certainty
    val docs =
      (0 until 64).map { i =>
        (i.toLong * 37 + 1, Seq.fill(100 + i)("tok").mkString(" "), "en", "srcA", 400L)
      } ++ Seq(
        (9001L, "a b c", "en", "srcB", 5L),     // n_tok = 3 → w = 0.03
        (9002L, "one two three four", "en", "srcB", 18L)) // n_tok = 4
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")

    val out = SparkEntry.queries("sample_importance")(spark, d).collect()
    val kept = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    (0 until 64).foreach { i =>
      val id = i.toLong * 37 + 1
      assert(kept.contains(id), s"doc $id (n_tok=${100 + i}) must ALWAYS be kept at w=1.0")
      assert(kept(id) === 1.0, s"doc $id weight must be 1.0, got ${kept(id)}")
    }
    // short docs: if kept at all, their recorded weight is the ramp value
    kept.get(9001L).foreach(w => assert(w === 0.03))
    kept.get(9002L).foreach(w => assert(w === 0.04))
  }

  test("the 14-digit threshold hex for w = 1.0 is representable (the exact truncation the old width hit)") {
    val threshold = 4503599627370496L // 2^52 = least(100,100) * 2^52 div 100
    val hex = java.lang.Long.toHexString(threshold)
    assert(hex.length === 14, s"w=1.0 threshold needs 14 hex digits, got '$hex'")
    assert(hex === "10000000000000")
    // at width 13 the old lpad TRUNCATED it to 2^48 — the advisory bug
    assert(java.lang.Long.parseLong(hex.take(13), 16) === (1L << 48))
    // every 13-hex md5 coin, left-padded to 14, sorts strictly below it
    assert("0fffffffffffff" < hex)
  }

  test("sample_quality_weighted: kept set is the score-thresholded coin subset of text_quality_logreg") {
    val d = TestTables.dir(spark)
    val scores = SparkEntry.queries("text_quality_logreg")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val out = SparkEntry.queries("sample_quality_weighted")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // kept docs carry EXACTLY the logreg 4-dp score as their weight
    out.foreach { case (id, s) =>
      assert(scores.contains(id) && math.abs(scores(id) - s) < 1e-12,
        s"doc $id: weight $s != logreg score ${scores.get(id)}")
    }
    // and membership is the deterministic coin: recompute it independently
    val md = java.security.MessageDigest.getInstance("MD5")
    scores.foreach { case (id, s) =>
      val k = math.floor(s * 1e4 + 0.5).toLong // s IS k/10000, recovery exact
      val hex = md.digest(s"qimp|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val u = java.lang.Long.parseLong(hex, 16)
      val keepExpected = u < k * 281474976710656L / 10000L
      assert(out.contains(id) === keepExpected,
        s"doc $id: score $s coin=$u threshold=${k * 281474976710656L / 10000L}")
    }
    // determinism
    val again = SparkEntry.queries("sample_quality_weighted")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === out)
  }

  // ---- ANN index persistence (VERDICT r17 item 3) ----

  private def embQ(sf: String) = {
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    (emb, q)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map { r =>
      // raw double bits — "identical" must mean BIT-identical
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|${java.lang.Double.doubleToRawLongBits(r.getDouble(3))}"
    }.sorted.toSeq

  test("reloaded ANN index serves BIT-IDENTICAL rows to the fresh fit at sf0.01") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val sf = "/root/testdata/sf0.01"
    val (emb, q) = embQ(sf)
    val dir = SparkSpec.tempDir("graft-ann-idx")
    operators.AnnIndex.buildAdaptive(emb, dir)
    val served = rowsOf(operators.AnnIndex.serve(spark, dir, emb, q, 5))
    val fresh = rowsOf(operators.AnnIvfPq.topKAdaptive(emb, q, 5))
    assert(served.nonEmpty && served === fresh)
    // serve is deterministic across calls (no refit anywhere)
    assert(rowsOf(operators.AnnIndex.serve(spark, dir, emb, q, 5)) === served)
  }

  test("the persisted index round-trips the TWO-LEVEL path too (forced clamp)") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val sf = "/root/testdata/sf0.01"
    val (emb, q) = embQ(sf)
    val lists = operators.AnnIvf.listsFor(emb.count())
    val clamp = math.max(1, lists / 4)
    val dir = SparkSpec.tempDir("graft-ann-idx2l")
    operators.AnnIndex.buildAdaptive(emb, dir, maxLists = clamp)
    val served = rowsOf(operators.AnnIndex.serve(spark, dir, emb, q, 5))
    val fresh = rowsOf(operators.AnnIvfPq.topKAdaptive(emb, q, 5, clamp))
    assert(served.nonEmpty && served === fresh)
  }

  test("reloaded ANN index serves BIT-IDENTICAL rows to the fresh fit at the 4.2M rung") {
    assume(new java.io.File("/tmp/emb4m/embeddings.parquet").exists)
    val (emb, q) = embQ("/tmp/emb4m")
    val dir = "/tmp/graft-ann-index-emb4m"
    operators.AnnIndex.buildAdaptive(emb, dir)
    val served = rowsOf(operators.AnnIndex.serve(spark, dir, emb, q, 5))
    val fresh = rowsOf(operators.AnnIvfPq.topKAdaptive(emb, q, 5))
    assert(served.nonEmpty && served === fresh)
  }

  test("sim_ann_index_serve declared key: cached build, serve parity with sim_ann_ivfpq") {
    val d = TestTables.dir(spark)
    val viaIndex = SparkEntry.queries("sim_ann_index_serve")(spark, d).collect().map(_.toString).sorted
    val fresh = SparkEntry.queries("sim_ann_ivfpq")(spark, d).collect().map(_.toString).sorted
    assert(viaIndex.nonEmpty && (viaIndex.toSeq === fresh.toSeq))
    // second call is the serve-only path (cache hit) and must be identical
    val again = SparkEntry.queries("sim_ann_index_serve")(spark, d).collect().map(_.toString).sorted
    assert(again.toSeq === viaIndex.toSeq)
  }

  test("AnnIndex on an EMPTY corpus: build writes, serve returns the empty contract frame") {
    val d = TestTables.dirEmpty(spark)
    val emb = Tables.t(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val q = emb.select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val dir = SparkSpec.tempDir("graft-ann-idx-empty")
    operators.AnnIndex.buildAdaptive(emb, dir)
    assert(operators.AnnIndex.serve(spark, dir, emb, q, 5).count() === 0L)
  }

  test("anomaly_mad histogram form is ROW-IDENTICAL to the buffered-median twin") {
    // the round-18 HistogramMedian rewrite must be the same query: exact
    // median/MAD off the value-count histogram, interpolation bit-identical
    // to percentile(x, 0.5) — pinned on the unit fixture AND sf0.01
    for (d <- Seq(TestTables.dir(spark), "/root/testdata/sf0.01")
         if new java.io.File(d).isDirectory) {
      val a = SparkEntry.queries("anomaly_mad")(spark, d).collect().map(_.toString)
      val b = ReferenceForms.anomalyMadBufferedMedian(spark, d).collect().map(_.toString)
      assert(a.toSeq === b.toSeq, s"anomaly_mad twin diverges at $d")
    }
  }

  test("HistogramMedian.medianOfCounts matches percentile(x, 0.5) on adversarial group shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // odd/even counts, single-element groups, duplicated values, negatives
    val rows = Seq(
      ("a", 1L), ("a", 2L), ("a", 2L), ("a", 9L),             // even, dup middle
      ("b", 5L),                                               // single
      ("c", -3L), ("c", 0L), ("c", 7L),                        // odd
      ("d", 4L), ("d", 4L), ("d", 4L), ("d", 4L),              // all equal
      ("e", 1L), ("e", 2L))                                    // even, midpoint .5
    val df = rows.toDF("g", "v")
    val h = df.groupBy("g", "v").agg(count(lit(1)).as("n"))
    val got = operators.HistogramMedian.medianOfCounts(h, Seq("g"), "v", "n", "m")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("g").agg(expr("percentile(v, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  test("rank_bm25 twins (recompute, builtin-split slimckpt) are ROW-IDENTICAL to the declared form") {
    // round 18 shipped the single-tokenize slim-checkpoint form (measured
    // 1.17× at sf10); both A/B twins must be the same query, not merely the
    // same row count — pinned on the unit fixture AND sf0.01
    for (d <- Seq(TestTables.dir(spark), "/root/testdata/sf0.01")
         if new java.io.File(d).isDirectory) {
      val a = SparkEntry.queries("rank_bm25")(spark, d).collect().map(_.toString)
      val b = ReferenceForms.rankBm25Recompute(spark, d).collect().map(_.toString)
      val c = ReferenceForms.rankBm25SlimCheckpoint(spark, d).collect().map(_.toString)
      assert(a.toSeq === b.toSeq, s"bm25 recompute twin diverges at $d")
      assert(a.toSeq === c.toSeq, s"bm25 slimckpt twin diverges at $d")
    }
  }

  test("text_unigram_lm native SumMapVals fold is ROW-IDENTICAL to the literal-map composition") {
    for (d <- Seq(TestTables.dir(spark), "/root/testdata/sf0.01")
         if new java.io.File(d).isDirectory) {
      val a = SparkEntry.queries("text_unigram_lm")(spark, d).collect().map(_.toString)
      val b = ReferenceForms.textUnigramLmLitmapFold(spark, d).collect().map(_.toString)
      assert(a.nonEmpty && a.toSeq === b.toSeq, s"unigram_lm kernel diverges at $d")
    }
  }

  test("topKAdaptive's two-level dispatch runs always-on: forced clamp, recall@5 >= 0.8 vs exact") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val sf = "/root/testdata/sf0.01"
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val n = emb.count()
    val lists = AnnIvf.listsFor(n)
    val forcedClamp = math.max(1, lists / 4) // strictly below listsFor(n) → two-level branch
    assert(lists > forcedClamp, s"forced clamp must trigger the two-level branch (lists=$lists)")
    val out = AnnIvfPq.topKAdaptive(emb, q, 5, forcedClamp).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (qid, a) => (qid, a.map(_._2).toSet) }
    val exact = SparkEntry.queries("sim_knn_cosine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (qid, a) => (qid, a.map(_._2).toSet) }
    val rs = exact.map { case (qid, ex) =>
      out.getOrElse(qid, Set.empty[Long]).intersect(ex).size / ex.size.toDouble
    }
    val recall = rs.sum / rs.size
    assert(recall >= 0.8, f"two-level adaptive dispatch recall@5 = $recall%.3f")
  }
}

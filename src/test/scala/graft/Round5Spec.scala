package graft

/** Round-5 hardening + widening tests (VERDICT r4 task list). */
class Round5Spec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  // ---- CosinePairs fail-fast guard ----

  test("CosinePairs.allPairs throws fast when the build side exceeds maxBuildRows") {
    import spark.implicits._
    val big = spark.range(0, 50)
      .selectExpr("id", "array(cast(id as double), 1.0d) as vec")
    val e = intercept[IllegalArgumentException] {
      graft.operators.CosinePairs.allPairs(spark, big, threshold = 0.0, maxBuildRows = 10)
    }
    assert(e.getMessage.contains("maxBuildRows"))
  }

  // ---- dynamic partition pruning ----

  test("scan_partitioned_dpp injects a runtime partition filter and reads only germanic langs") {
    val df = q("scan_partitioned_dpp")
    val p = df.queryExecution.executedPlan.toString
    assert(
      p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${p.take(2000)}")
    val langs = df.collect().map(_.getString(0)).toSet
    assert(langs === Set("de", "en"))
  }

  // ---- native MinHash signature kernel ----

  test("native minhash_sig is bit-identical to the expression form, incl. empty/null edges") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 200)
      .selectExpr("id",
        // varied shingle sets, plus an empty array and a null-bearing one
        """case
           |  when id = 0 then array()
           |  when id = 1 then array(cast(null as string), 'x y z')
           |  else transform(sequence(0, cast(id % 7 as int)),
           |                 j -> concat('tok', cast((id * 13 + j) % 97 as string)))
           |end as sh""".stripMargin)
    val both = docs.select(
      col("id"),
      graft.operators.MinHashLsh.signature(col("sh"), 27).as("native"),
      ReferenceForms.minhashSignatureExpr(col("sh"), 27).as("expr"))
    val rows = both.collect()
    assert(rows.length === 200)
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"signature mismatch for id=${r.getLong(0)}")
    }
  }

  // ---- true streaming vs batch twin ----

  // VERDICT r3/r4 "missing" item 5: the streaming jobs were only ever
  // verified on synthetic MemoryStream rows; this gate runs a REAL
  // incremental Structured Streaming job (4 landed files, 1 per
  // micro-batch) over the driver's sf0.01 events and compares the final
  // state to the declared batch twin query on the same data.
  //
  // The landing zone is IN EVENT-TIME ORDER (4 time-quartile files with
  // increasing mtimes) — the pattern StreamingJobs' scaladoc describes.
  // A shuffled landing was tried first and the 10-minute watermark
  // correctly dropped ~half the rows as late; in-order arrival is the
  // regime where stream must equal batch exactly.
  test("incremental streaming run over sf0.01 events equals the batch twins") {
    assume(new java.io.File("/root/testdata/sf0.01/events.parquet").exists)
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("r5_stream_events")
    // Tables.events adapts to either on-disk ts schema (ns BIGINT or µs
    // timestamp) and always exposes BIGINT ts_us — quantile/filter on that
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    // quartile split points; double precision (~256 ns at this epoch) is
    // irrelevant — any consistent thresholds partition time correctly
    val cuts = ev.stat.approxQuantile("ts_us", Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    for (i <- 0 until 4) {
      val scratch = SparkSpec.tempDir(s"r5_quart_$i")
      ev.filter(col("ts_us") >= bounds(i) && col("ts_us") < bounds(i + 1)).drop("ts_us")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val landed = new java.io.File(dir, f"batch-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, landed.toPath)
      landed.setLastModified(1000000L + i * 60000L) // strictly increasing mtimes
    }
    val stream = graft.streaming.StreamingJobs
      .eventsFileStream(spark, dir, maxFilesPerTrigger = 1)

    // tumbling 1h windows — complete mode so the final table is the fixpoint
    val q1 = graft.streaming.StreamingJobs.tumbling(stream)
      .writeStream.format("memory").queryName("r5_stream_tumbling")
      .outputMode("complete").start()
    q1.processAllAvailable()
    assert(q1.recentProgress.length >= 4, "expected one micro-batch per landed file")
    q1.stop()
    val got = spark.table("r5_stream_tumbling")
      .select(col("ws"), col("event_type"), col("n"),
        round(col("sum_v"), 4).as("sum_v"))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val want = SparkEntry.queries("stream_tumbling")(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 === w._1); assert(g._2 === w._2); assert(g._3 === w._3)
      // both sides round(·,4); allow one rounding ulp for stream-order sums
      assert(math.abs(g._4 - w._4) <= 1e-4, s"sum_v mismatch at ${g._1}/${g._2}")
    }

    // session windows — same gate for the merging-window aggregation
    val q2 = graft.streaming.StreamingJobs.sessions(
      graft.streaming.StreamingJobs.eventsFileStream(spark, dir, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("r5_stream_sessions")
      .outputMode("complete").start()
    q2.processAllAvailable(); q2.stop()
    val gotS = spark.table("r5_stream_sessions")
      .select(col("user_id"), unix_micros(col("session_start")).as("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val wantS = SparkEntry.queries("stream_session_window")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(gotS === wantS)
  }

  // ---- ANN recall harness ----

  // recall@5 vs the exact brute-force baseline over the full 10-query set
  // at sf0.01 (the driver's correctness scale). Mean across queries ≥ 0.8 —
  // the declared quality bar for both approximate scale paths.
  private def recallAt5(ann: String): Double = {
    val sf = "/root/testdata/sf0.01"
    def top5(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, a) => (q, a.map(_._2).toSet) }
    val exact = top5("sim_knn_cosine")
    val approx = top5(ann)
    val recalls = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty[Long]).intersect(ex).size / ex.size.toDouble
    }
    recalls.sum / recalls.size
  }

  test("sim_ann_lsh recall@5 >= 0.8 vs brute force over all 10 queries at sf0.01") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val r = recallAt5("sim_ann_lsh")
    assert(r >= 0.8, f"LSH mean recall@5 = $r%.3f")
  }

  test("sim_ann_ivf recall@5 >= 0.8 vs brute force over all 10 queries at sf0.01") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val r = recallAt5("sim_ann_ivf")
    assert(r >= 0.8, f"IVF mean recall@5 = $r%.3f")
  }

  // ---- native runtime bloom filter ----

  test("join_bloom_native injects Spark's runtime bloom and matches the UDF variant row-for-row") {
    val native = q("join_bloom_native")
    val p = native.queryExecution.optimizedPlan.toString
    assert(
      p.contains("bloom_filter_agg") || p.contains("might_contain"),
      s"runtime bloom filter was not injected:\n$p")
    val a = native.collect().map(_.toString).toSeq
    val b = q("join_bloom").collect().map(_.toString).toSeq
    assert(a === b)
  }

  // ---- multi-file gzip ingest ----

  test("ppdb_parse_multi scans one task per .gz part (parallelism = file count)") {
    // tiny parts would normally bin-pack into one split; raising the open
    // cost forces per-file bins, modeling real release-sized parts where
    // each unsplittable .gz necessarily fills its own task
    val old = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    try {
      spark.conf.set("spark.sql.files.openCostInBytes", s"${128L * 1024 * 1024}")
      val scanned = spark.read.text(graft.ppdb.Ppdb.MultiFixtureDir)
      assert(scanned.rdd.getNumPartitions === 4)
    } finally spark.conf.set("spark.sql.files.openCostInBytes", old)
    // and the parse over the pack is row-identical to the single-file parse
    val multi = q("ppdb_parse_multi").collect().map(_.toString).sorted.toSeq
    val single = q("ppdb_parse_gz").collect().map(_.toString).sorted.toSeq
    assert(multi === single)
  }

  // ---- skew-salted as-of join ----

  test("AsOfSkew is row-identical to AsOfJoinNative on a hot-key input and salts the shuffle") {
    import org.apache.spark.sql.functions._
    // one pathological user (0) holding 90% of rows across many hour buckets,
    // plus cross-bucket-only matches for users 1..9
    val probes = spark.range(0, 500)
      .selectExpr("id as p_id", "if(id < 450, 0L, id % 10) as user_id",
        "id * 600000000L + 1L as p_ts") // every 10 min → ~83 buckets
    val quotes = spark.range(0, 300)
      .selectExpr("id + 10000 as v_id", "if(id < 270, 0L, id % 10) as v_user",
        "id * 990000000L as v_ts")
    val salted = graft.operators.AsOfSkew.join(
      probes, quotes, keys = Seq("user_id" -> "v_user"),
      leftTime = "p_ts", rightTime = "v_ts",
      tiebreak = "v_id", bucketWidth = 3600L * 1000000L)
    val plain = graft.plans.AsOfJoinNative.join(
      probes, quotes, keys = Seq("user_id" -> "v_user"),
      leftTime = "p_ts", rightTime = "v_ts", tiebreak = Seq("v_id"))
    val s1 = salted.select("p_id", "v_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val s2 = plain.select("p_id", "v_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s1.nonEmpty && s1.toSeq === s2.toSeq)
    // pass 1 must shuffle on the COMPOSITE (key, bucket) — the salt that
    // splits the hot key into independent bucket-pair merges
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ")) // AsOfJoinExec prints its nodeName as "AsOfJoin"
    assert(
      p.contains("hashpartitioning(user_id") && p.contains("__lb"),
      "pass-1 distribution must include the bucket salt")
  }

  // ---- real javax.imageio decode ----

  test("Binary.decodeImage recovers exact dims, format, and pixel sum from a hand-built PNG") {
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, (x << 16) | (y << 8) | 7)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val (w, h, fmt, pix) = graft.multimodal.Binary.decodeImage(bos.toByteArray)
    assert((w, h, fmt) === ((5, 3, "png")))
    // sum of r+g+b over the 15 pixels: r sums to 3*(0+1+2+3+4)=30,
    // g sums to 5*(0+1+2)=15, b is 7 everywhere = 105
    assert(pix === 30L + 15L + 105L)
  }

  test("Binary.decodeImage rejects a non-image payload loudly") {
    val e = intercept[IllegalArgumentException] {
      graft.multimodal.Binary.decodeImage("not an image".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("ImageIO"))
  }

  test("CosinePairs.allPairs under the cap still finds the duplicate pair") {
    val df = spark.range(0, 3)
      .selectExpr("id", "array(1.0d, 2.0d, 3.0d) as vec")
    val pairs = graft.operators.CosinePairs
      .allPairs(spark, df, threshold = 0.99, maxBuildRows = 10)
      .collect()
    // 3 identical vectors → 3 pairs, all cosine 1.0
    assert(pairs.length === 3)
    assert(pairs.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-12))
  }
}

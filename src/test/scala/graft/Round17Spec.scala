package graft

import org.apache.spark.sql.functions._

/** Round 17 gates: the native ADC codegen kernel (VERDICT r16 item 1 — the
  * closure UDF it replaces was the one interpreted per-row hot path left),
  * the two-level coarse quantizer composed into IVF-PQ past the one-task
  * clamp (item 2), and the 16M-vector rung ladder (item 7).
  */
class Round17Spec extends SparkSpec {

  import graft.operators.{AnnIvf, AnnIvfPq, AnnPq}

  private lazy val d = TestTables.dir(spark)

  private def embQ(sf: String) = {
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    (emb, q)
  }

  private def top5(name: String, sf: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (qid, a) => (qid, a.map(_._2).toSet) }

  private def recallVs(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double = {
    val rs = exact.map { case (qid, ex) =>
      approx.getOrElse(qid, Set.empty[Long]).intersect(ex).size / ex.size.toDouble
    }
    rs.sum / rs.size
  }

  // ---- item 1: the native ADC kernel ----

  test("AdcScore native kernel is bit-identical to the closure-UDF twin on every (qid, vec_id)") {
    val (emb, q) = embQ(d)
    val books = AnnPq.fitCodebooks(emb, m = 8, kSub = 32, iters = 5, sampleCap = 4096)
    val coded = emb.select(col("vec_id"), AnnPq.encoder(books)(col("vec")).as("codes"))
      .crossJoin(broadcast(q.select(col("qid"))))
      .localCheckpoint() // one encode pass feeds both scorers
    val native = coded.select(col("qid"), col("vec_id"),
      AnnPq.adcScorer(q, books)(col("codes"), col("qid")).as("s")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val viaUdf = coded.select(col("qid"), col("vec_id"),
      ReferenceForms.adcScorerUdf(q, books)(col("codes"), col("qid")).as("s")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(native.nonEmpty && native.size === viaUdf.size)
    for ((k, s) <- native)
      assert(java.lang.Double.doubleToRawLongBits(s) ===
        java.lang.Double.doubleToRawLongBits(viaUdf(k)), s"score mismatch at $k")
  }

  test("sim_ann_pq end-to-end rows are unchanged by the kernel swap (top-rerank candidates identical)") {
    // the UDF-scored pipeline, rebuilt with the retired twin, must elect
    // the same candidates and therefore the same exact-reranked rows
    val (emb, q) = embQ(d)
    val books = AnnPq.fitCodebooks(emb, m = 8, kSub = 32, iters = 5, sampleCap = 4096)
    val coded = emb.select(col("vec_id"), AnnPq.encoder(books)(col("vec")).as("codes"))
    def pipeline(scorer: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
      val scored = coded
        .crossJoin(broadcast(q.select(col("qid"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), scorer(col("codes"), col("qid")).as("score"))
      AnnPq.topRerank(scored, rerank = 64).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val nat = pipeline(AnnPq.adcScorer(q, books))
    val old = pipeline((c, qid) => ReferenceForms.adcScorerUdf(q, books)(c, qid))
    assert(nat.nonEmpty && nat === old)
  }

  test("the ADC scoring stage stays inside whole-stage codegen (the UDF form blocked it)") {
    val (emb, q) = embQ(d)
    val books = AnnPq.fitCodebooks(emb, m = 8, kSub = 32, iters = 5, sampleCap = 4096)
    val scored = emb.select(col("vec_id"), AnnPq.encoder(books)(col("vec")).as("codes"))
      .crossJoin(broadcast(q.select(col("qid"))))
      .select(AnnPq.adcScorer(q, books)(col("codes"), col("qid")).as("score"))
    scored.collect() // finalize THIS queryExecution's adaptive plan (count() builds its own)
    val plan = scored.queryExecution.executedPlan.toString
    // WholeStageCodegen members carry the "*(n)" prefix; the project that
    // evaluates adc_score must be one of them
    assert(plan.linesIterator.exists(l => l.contains("adc_score") && l.contains("*(")),
      s"adc_score evaluated outside codegen:\n$plan")
  }

  test("AdcScore fails loudly on an unknown qid and an out-of-range code") {
    val luts = Seq(7L -> Seq.fill(2 * 4)(0.5))
    def score(codes: Seq[Int], qid: Long): Unit = {
      val df = spark.range(1).select(
        typedLit(codes).cast("array<int>").as("codes"), lit(qid).as("qid"))
      df.select(org.apache.spark.sql.GraftSqlShim.column(graft.plans.AdcScore(
        org.apache.spark.sql.GraftSqlShim.expression(col("codes")),
        org.apache.spark.sql.GraftSqlShim.expression(col("qid")),
        luts, 4))).collect()
    }
    score(Seq(0, 3), 7L) // in range, known qid: fine
    def msg(t: Throwable): String = {
      var x = t; val sb = new StringBuilder
      while (x != null) { sb.append(x.getMessage).append('\n'); x = x.getCause }
      sb.toString
    }
    val e1 = intercept[Throwable](score(Seq(0, 3), 8L))
    assert(msg(e1).contains("unknown qid"), msg(e1).take(300))
    val e2 = intercept[Throwable](score(Seq(0, 4), 7L))
    assert(msg(e2).contains("out of range"), msg(e2).take(300))
  }

  // ---- item 2: the two-level coarse quantizer composed into IVF-PQ ----

  test("sim_ann_ivfpq below the clamp is byte-unchanged: adaptive == the explicit flat call") {
    val (emb, q) = embQ(d)
    val n = emb.count()
    val lists = AnnIvf.listsFor(n)
    assert(lists <= AnnIvf.MaxLists, s"sf0.01 must sit below the clamp (lists=$lists)")
    val rerank = math.max(128L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val adaptive = AnnIvfPq.topKAdaptive(emb, q, k = 5).collect().map(_.toString).sorted
    val flat = AnnIvfPq.topK(emb, q, k = 5, nLists = lists,
      nProbe = math.max(1, lists / 2), m = 8, kSub = 32, rerank = rerank)
      .collect().map(_.toString).sorted
    assert(adaptive.nonEmpty && (adaptive.toSeq === flat.toSeq))
  }

  test("two-level IVF-PQ path is correct at small scale (recall@5 >= 0.8 through topK2Level directly)") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val sf = "/root/testdata/sf0.01" // the Round13Spec two-level scale
    val (emb, q) = embQ(sf)
    val exact = top5("sim_knn_cosine", sf)
    val out = AnnIvfPq.topK2Level(emb, q, k = 5, l1 = 8, k2 = 4,
      m = 8, kSub = 32, rerank = 128).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (qid, a) => (qid, a.map(_._2).toSet) }
    val r = recallVs(exact, out)
    assert(r >= 0.8, f"two-level IVF-PQ recall@5 = $r%.3f")
  }

  test("probed fraction stays ~1/2 through the adaptive split at every rung past the clamp") {
    // the assertion VERDICT r16 item 2 asks for: the candidate cut must not
    // pin at the 1/2 floor the flat clamp imposed — the two-level split
    // keeps the PROBED FRACTION at the family constant while cell count
    // tracks sqrt(n)
    for (n <- Seq(4200000L, 16000000L, 100000000L, 4300000000L)) {
      val lists = AnnIvf.listsFor(n)
      assert(lists > AnnIvf.MaxLists, s"n=$n should dispatch two-level (lists=$lists)")
      val l1 = 1 << math.ceil(math.log(math.sqrt(lists.toDouble)) / math.log(2.0)).toInt
      val k2 = lists / l1
      assert(l1 <= AnnIvf.MaxLists && k2 <= AnnIvf.MaxLists,
        s"n=$n: both fit factors must stay inside the one-task bound ($l1 x $k2)")
      val l1Probe = math.max(1, math.ceil(l1 * math.sqrt(0.5)).toInt)
      val subProbe = math.max(1, math.ceil(k2 * math.sqrt(0.5)).toInt)
      val frac = l1Probe.toDouble * subProbe / lists
      assert(frac >= 0.4 && frac <= 0.6,
        f"n=$n: probed fraction $frac%.3f out of the family band (l1=$l1 k2=$k2)")
    }
  }

  test("sim_ann_ivfpq at the 4.2M rung now dispatches two-level (cell count past the clamp)") {
    assume(new java.io.File("/tmp/emb4m/embeddings.parquet").exists)
    // the dispatch predicate itself (the recall bar lives in AnnPqSpec and
    // re-runs through the new path): listsFor(4.2M) = 2048 > MaxLists
    assert(AnnIvf.listsFor(4200000L) > AnnIvf.MaxLists)
  }

  // ---- item 3: the direct-coded flat IVF-PQ at the family recall bar ----

  private def recallOfDf(df: org.apache.spark.sql.DataFrame,
                         exact: Map[Long, Set[Long]]): Double =
    recallVs(exact,
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (qid, a) => (qid, a.map(_._2).toSet) })

  test("IVF-PQ direct coding: recall@5 >= 0.8 at sf0.01 through the flat topK") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val sf = "/root/testdata/sf0.01"
    val (emb, q) = embQ(sf)
    val n = emb.count()
    val lists = math.min(AnnIvf.listsFor(n), AnnIvf.MaxLists)
    val rerank = math.max(128L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val direct = recallOfDf(AnnIvfPq.topK(emb, q, 5, lists,
      math.max(1, lists / 2), 8, 32, rerank), top5("sim_knn_cosine", sf))
    assert(direct >= 0.8, f"direct flavor under the family bar: $direct%.3f")
  }

  // ---- item 7: the 16M-vector rung (next break point past 4.2M) ----

  test("sim_ann_ivf recall@5 >= 0.8 at the 16M-vector rung") {
    assume(new java.io.File("/tmp/emb16m/embeddings.parquet").exists)
    val r = recallVs(Emb4mExact.top5(spark, "/tmp/emb16m"), top5("sim_ann_ivf", "/tmp/emb16m"))
    info(f"sim_ann_ivf mean recall@5 at 16M vectors = $r%.3f")
    assert(r >= 0.8, f"IVF mean recall@5 at 16M = $r%.3f")
  }

  test("sim_ann_pq recall@5 >= 0.8 at the 16M-vector rung") {
    assume(new java.io.File("/tmp/emb16m/embeddings.parquet").exists)
    val r = recallVs(Emb4mExact.top5(spark, "/tmp/emb16m"), top5("sim_ann_pq", "/tmp/emb16m"))
    info(f"sim_ann_pq mean recall@5 at 16M vectors = $r%.3f")
    assert(r >= 0.8, f"PQ mean recall@5 at 16M = $r%.3f")
  }

  test("sim_ann_ivfpq recall@5 >= 0.8 at the 16M-vector rung (two-level path)") {
    assume(new java.io.File("/tmp/emb16m/embeddings.parquet").exists)
    val r = recallVs(Emb4mExact.top5(spark, "/tmp/emb16m"), top5("sim_ann_ivfpq", "/tmp/emb16m"))
    info(f"sim_ann_ivfpq mean recall@5 at 16M vectors = $r%.3f")
    assert(r >= 0.8, f"IVF-PQ mean recall@5 at 16M = $r%.3f")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-10 items: the copurchase basket cap (VERDICT r9 item 5). */
class Round10Spec extends SparkSpec {

  /** A synthetic corpus with two identical 500-part mega-basket orders (so
    * every surviving pair has support 2) — C(500, 2) = 124 750 raw pairs per
    * order without the cap, C(64, 2) = 2 016 with it.
    */
  private lazy val megaBasketDir: String = {
    import spark.implicits._
    val d = SparkSpec.tempDir("r10-megabasket")
    (for (ok <- 1L to 2L; pk <- 1L to 500L) yield (ok, pk))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("copurchaseEdges caps each basket at MaxBasket items") {
    val e = graft.queries.Graphs.copurchaseEdges(spark, megaBasketDir)
    val n = graft.queries.Graphs.MaxBasket.toLong
    assert(e.count() === n * (n - 1) / 2) // pairs only among the 64 smallest keys
    // and the kept pairs are exactly the smallest part keys, deterministically
    assert(e.agg(max(col("b_id"))).head.getLong(0) === n)
  }

  test("post-filter A/B twin is row-identical to the capped edge build") {
    val a = graft.queries.Graphs.copurchaseEdges(spark, megaBasketDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = ReferenceForms.copurchaseEdgesPostFilter(spark, megaBasketDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("incremental coreset FPS is row-identical to the recompute twin") {
    val d = TestTables.dir(spark)
    val a = graft.queries.Corpus.coresetFpsIncremental(spark, d)
      .collect().map(_.toSeq).toSeq
    val b = ReferenceForms.coresetFpsRecompute(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
    // the declared certificate-batched form elects the same rows
    assert(graft.queries.Corpus.coresetFpsBatched(spark, d).collect().map(_.toSeq).toSeq === b)
  }

  test("incremental coreset FPS yields zero rows on a zero-row corpus") {
    assert(graft.queries.Corpus.coresetFpsIncremental(spark, TestTables.dirEmpty(spark)).count() === 0)
    assert(graft.queries.Corpus.coresetFpsBatched(spark, TestTables.dirEmpty(spark)).count() === 0)
  }

  test("certificate-batched coreset survives forced resyncs (cand < K)") {
    // cand=2 makes the candidate pool smaller than K=8, so every second
    // pick fails the certificate and exercises the resync + re-fetch
    // path (plus fresh-fetch equality picks); output must still be
    // bit-identical to the recompute twin
    val d = TestTables.dir(spark)
    val a = graft.queries.Corpus.coresetFpsBatched(spark, d, cand = 2)
      .collect().map(_.toSeq).toSeq
    val b = ReferenceForms.coresetFpsRecompute(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("cap is inert on TPC-H-shaped baskets (fixture max basket ≤ 7)") {
    val d = TestTables.dir(spark)
    val a = graft.queries.Graphs.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = ReferenceForms.copurchaseEdgesPostFilter(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }
}

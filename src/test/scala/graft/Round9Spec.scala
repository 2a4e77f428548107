package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnDedup

/** Round-9 hardening: LSH-bucketed embedding dedup (adaptive plane count,
  * skew guard, equivalence to the broadcast all-pairs form it retires).
  */
class Round9Spec extends SparkSpec {

  test("adaptivePlanes follows the integer ladder, clamped to [4, 26]") {
    // ≤ 16 target-sized buckets → the 4-plane floor
    assert(AnnDedup.adaptivePlanes(0L) === 4)
    assert(AnnDedup.adaptivePlanes(1L) === 4)
    assert(AnnDedup.adaptivePlanes(64L * 16) === 4)
    // one vector past 16 mean-full buckets → 5 planes
    assert(AnnDedup.adaptivePlanes(64L * 16 + 1) === 5)
    // the sf0.01 / sf0.1 corpora land on 4 and 7
    assert(AnnDedup.adaptivePlanes(500L) === 4)
    assert(AnnDedup.adaptivePlanes(5000L) === 7)
    // the r9 ceiling (16 planes ≈ 4M vectors) is now interior ladder rungs
    assert(AnnDedup.adaptivePlanes(64L << 16) === 16)
    assert(AnnDedup.adaptivePlanes((64L << 16) + 1) === 17)
    assert(AnnDedup.adaptivePlanes(64L << 18) === 18)
    assert(AnnDedup.adaptivePlanes((64L << 19) + 1) === 20)
    // the r11 ceiling (20 planes ≈ 67M vectors) is interior too (round 12,
    // VERDICT r11 item 2: a 100 TB corpus implies O(10⁹) vectors)
    assert(AnnDedup.adaptivePlanes(64L << 20) === 20)
    assert(AnnDedup.adaptivePlanes((64L << 20) + 1) === 21)
    assert(AnnDedup.adaptivePlanes(64L << 23) === 23)
    assert(AnnDedup.adaptivePlanes((64L << 25) + 1) === 26)
    // ceiling: beyond ~4.3B vectors (64·2^26) the count clamps at MaxPlanes —
    // the documented raise-before-you-run-bigger boundary
    assert(AnnDedup.adaptivePlanes(64L << 26) === 26)
    assert(AnnDedup.adaptivePlanes(Long.MaxValue / 2) === 26)
  }

  test("declared dedup_embedding_ann equals the brute-force blocked-pair form") {
    val d = TestTables.dir(spark)
    val got = SparkEntry.queries("dedup_embedding_ann")(spark, d)
      .collect().map(_.toSeq).toSeq
    val want = ReferenceForms.dedupEmbeddingAnnBruteForce(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got === want)
  }

  test("bucket-size cap drops degenerate all-identical buckets, keeps small ones") {
    import spark.implicits._
    def idframe(n: Int) =
      (0 until n).map(i => (i.toLong, Array.fill(64)(1.0))).toDF("id", "vec")
    // 300 identical vectors land in ONE bucket per table (300 > cap 256):
    // every bucket pruned → no pairs, no quadratic blow-up
    val capped = AnnDedup.pairs(idframe(300), threshold = 0.9, dim = 64,
      nTables = 2, maxBucketSize = 256L)
    assert(capped.count() === 0L)
    // 20 identical vectors stay under the cap → all C(20,2) pairs at cos 1.0
    val small = AnnDedup.pairs(idframe(20), threshold = 0.9, dim = 64,
      nTables = 2, maxBucketSize = 256L)
    assert(small.count() === 190L)
  }

  test("agg_weighted_median_approx tracks the exact twin within 5% where it samples") {
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(new java.io.File(_).isDirectory)
    // cancel loudly (yellow, not green) on a machine without the driver's
    // testdata — a silently-vacuous pass would let a broken sketch ship
    assume(dirs.nonEmpty, "no /root/testdata scale dirs present")
    for (sf <- dirs) {
      val exact = SparkEntry.queries("agg_weighted_median")(spark, sf).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val approx = SparkEntry.queries("agg_weighted_median_approx")(spark, sf).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(approx.keySet === exact.keySet)
      exact.foreach { case (g, ev) =>
        val rel = math.abs(approx(g) - ev) / ev
        info(f"$sf $g exact=$ev%.2f approx=${approx(g)}%.2f rel=$rel%.4f")
        assert(rel <= 0.05, f"$g: rel error $rel%.4f > 0.05")
      }
    }
  }

  test("agg_weighted_median_approx is EXACT when the group fits the buffer") {
    import spark.implicits._
    // the Round8Spec fixture: half of total weight 12 is crossed at value 3
    // — 3 rows < k, so finish() takes the exact weighted path
    val d = SparkSpec.tempDir("wmed9")
    Seq(("A", 1.0, 1.0, 10L, 1L), ("A", 2.0, 1.0, 11L, 1L), ("A", 3.0, 10.0, 12L, 1L))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
      .write.parquet(s"$d/lineitem.parquet")
    val got = SparkEntry.queries("agg_weighted_median_approx")(spark, d).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(("A", 3.0)))
  }

  test("ppdb_closure propagates only transitive entailments with weakest-link scores") {
    val rows = SparkEntry.queries("ppdb_closure")(spark, "unused").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // 2-hop: happy -(5.31)-> glad -(4.77)-> pleased => min = 4.77, one path
    assert(rows(("happy", "pleased")) === ((4.77, 1L)))
    // direct edges survive as 1-hop paths
    assert(rows(("happy", "glad"))._1 === 5.31)
    // non-transitive relations must NOT seed paths: 'sad' has an Exclusion
    // edge to 'happy' in the fixture — no closure pair may start sad->happy
    assert(!rows.keySet.exists { case (a, b) => a == "sad" && b == "happy" })
    // no self-pairs
    assert(rows.keySet.forall { case (a, b) => a != b })
  }

  test("a pair never appears twice even when it collides in several tables") {
    import spark.implicits._
    // two near-identical vectors collide in (almost surely) all tables;
    // the pair must still be emitted once
    val base = Array.tabulate(64)(i => math.sin(i + 1.0))
    val near = base.clone(); near(0) = near(0) + 1e-9
    val df = Seq((1L, base), (2L, near)).toDF("id", "vec")
    val rows = AnnDedup.pairs(df, threshold = 0.9, dim = 64,
      nTables = 8, maxBucketSize = 256L).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L && rows.head.getLong(1) === 2L)
  }

  test("once-per-vector norms give the per-pair form's cosines bit for bit") {
    import spark.implicits._
    // 30 clusters of 20 jittered copies: several hundred pairs above the
    // threshold, most colliding in more than one table
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 600).map { i =>
      val c = new scala.util.Random(i / 20)
      (i.toLong, Array.fill(32)(c.nextGaussian() + 0.05 * rnd.nextGaussian()))
    }.toDF("id", "vec")
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    val got = bits(AnnDedup.pairs(vecs, threshold = 0.9, dim = 32,
      nTables = 4, maxBucketSize = 256L))
    val want = bits(ReferenceForms.annDedupPairsPerPairNorm(vecs, threshold = 0.9, dim = 32,
      nTables = 4, maxBucketSize = 256L))
    assert(got.size > 100 && got === want)
  }
}

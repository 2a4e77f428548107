package graft

import org.apache.spark.sql.functions._

/** §2.13 scale-operator queries: strategy-rewrite equivalence (salted /
  * range join), sketch accuracy, pipeline composition.
  */
class ScaleOpsSpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("join_salted output is row-identical to the plain join aggregate") {
    val salted = q("join_salted").collect().toSeq
    val plain = spark.read.parquet(s"$d/lineitem.parquet")
      .join(spark.read.parquet(s"$d/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    assert(salted === plain)
  }

  test("join_range_sessions reproduces sessionization counts exactly") {
    val viaRange = q("join_range_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSessions = q("stream_session").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaRange === viaSessions)
  }

  test("agg_kmv_distinct estimates within sketch error of the exact count") {
    val est = q("agg_kmv_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(s"$d/lineitem.parquet")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      // k=256 → exact below 256 distinct; tiny test corpus must be exact
      assert(est(k) === n, s"flag $k")
    }
  }

  test("ConnectedComponents matches a local union-find on seeded random graphs") {
    import spark.implicits._
    // vertices 0 until 60. Random edges join ids in 0 until 40 and the
    // out-of-set ids 60 until 70, with self-loops, duplicates and reversed
    // copies; a path over 40..52 in shuffled order and direction has
    // diameter 12; 53..59 are singletons
    val n = 60
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      def end(): Long = { val x = rnd.nextInt(50); if (x < 40) x else x + 20 }
      val random = Seq.fill(30)((end(), end()))
      val loops = Seq.fill(3) { val v = end(); (v, v) }
      val path = rnd.shuffle((40L to 52L).toList).sliding(2).map {
        case Seq(a, b) => if (rnd.nextBoolean()) (a, b) else (b, a)
      }.toSeq
      val edges = random ++ loops ++ random.take(5) ++ random.takeRight(5).map(_.swap) ++ path
      // local union-find ground truth (min-label per component) over the
      // edges whose endpoints are both vertices
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.filter { case (a, b) => a < n && b < n }.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      assert(expected(52) === 40L && expected(59) === 59L)
      val got = graft.operators.ConnectedComponents
        .labels((0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("AnnIvf returns empty on an empty corpus instead of crashing the fit") {
    import spark.implicits._
    val emb = Seq.empty[(Long, Array[Double])].toDF("vec_id", "vec")
    val q = Seq.empty[(Long, Array[Double])].toDF("qid", "qvec")
    assert(graft.operators.AnnIvf.topK(emb, q).count() === 0)
  }

  test("ConnectedComponents returns empty on empty input") {
    import spark.implicits._
    val out = graft.operators.ConnectedComponents
      .labels(Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(out.count() === 0)
  }

  test("ConnectedComponents labels a path graph, separate component, and singleton") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3 → needs >1 round), pair {10,11}, singleton 20
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    val labels = graft.operators.ConnectedComponents.labels(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("cte_recursive month spine is dense: one row per month, zeros for empty months") {
    val rows = q("cte_recursive").collect()
    assert(rows.length === 80) // 1995-01 .. 2001-08 inclusive
    assert(rows.map(_.getLong(1)).sum ===
      spark.read.parquet(s"$d/orders.parquet").count())
  }

  test("pipeline_corpus_clean drops short, noisy, exact-dup and shingle-set-dup docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "THE  quick Brown fox jumps over the lazy dog"), // exact dup of 1 after norm
      (3L, "too short"), // fails min tokens
      (4L, "!!! ??? *** ### $$$ %%% ^^^ &&& !!!"), // fails punct ratio
      (5L, "an unrelated document with plenty of distinct tokens here"),
      (6L, "the quick brown fox jumps over the lazy dog extra")) // superset shingles → kept
      .toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("clean")
    docs.write.parquet(s"$tmp/documents.parquet")
    val kept = SparkEntry.queries("pipeline_corpus_clean")(spark, tmp)
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L, 5L, 6L))
  }
}

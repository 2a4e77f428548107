package graft

import org.apache.spark.sql.functions._

/** Round-11 pins: the native ngrams kernel (plans.NGrams) that replaced the
  * interpreted zip_with shingle/bigram cascades, and the stream_dedup
  * partial-aggregation rewrite (VERDICT r10 item 1 — the true-sf1 variety
  * tail).
  */
class Round11Spec extends SparkSpec {

  // varied token arrays + every edge: empty, shorter-than-n, null tokens,
  // duplicate-bearing, and a NULL array
  private def tokenFixture = spark.range(0, 300)
    .selectExpr("id",
      """case
         |  when id = 0 then array()
         |  when id = 1 then array('a')
         |  when id = 2 then array('a', 'b')
         |  when id = 3 then array(cast(null as string), 'x', 'y', 'z')
         |  when id = 4 then array('r', 'r', 'r', 'r', 'r')
         |  when id = 5 then cast(null as array<string>)
         |  else transform(sequence(0, cast(id % 11 as int) + 1),
         |                 j -> concat('t', cast((id * 7 + j) % 13 as string)))
         |end as tk""".stripMargin)

  test("native ngrams(distinct) is bit-identical to the zip_with shingle form") {
    val both = tokenFixture.select(
      col("id"),
      graft.operators.MinHashLsh.shingles(col("tk"), 3).as("native"),
      ReferenceForms.minhashShinglesExpr(col("tk"), 3).as("expr"))
    val rows = both.collect()
    assert(rows.length === 300)
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"shingle mismatch for id=${r.get(0)}")
    }
  }

  test("native ngrams(non-distinct) matches the zip_with bigram form and keeps duplicates") {
    import org.apache.spark.sql.GraftSqlShim
    val withBoth = tokenFixture
      .filter(size(col("tk")) >= 2) // the old form is only defined there
      .select(
        col("id"),
        GraftSqlShim.column(graft.plans.NGrams(GraftSqlShim.expression(col("tk")), 2, distinct = false)).as("native"),
        zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (x, y) => concat(x, lit(" "), y)).as("expr"))
    val rows = withBoth.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"bigram mismatch for id=${r.get(0)}")
    }
    // duplicates preserved: the all-'r' doc has 4 identical bigrams
    val rr = withBoth.filter(col("id") === 4).head().getSeq[Any](1)
    assert(rr === Seq("r r", "r r", "r r", "r r"))
  }

  test("native ngrams edge semantics: short, empty and NULL arrays yield empty") {
    import org.apache.spark.sql.GraftSqlShim
    def ng(n: Int) = GraftSqlShim.column(
      graft.plans.NGrams(GraftSqlShim.expression(col("tk")), n, distinct = true))
    val rows = tokenFixture.filter(col("id") <= 5)
      .select(col("id"), ng(3).as("g3")).collect()
      .map(r => r.get(0).toString.toLong -> r.getSeq[Any](1)).toMap
    assert(rows(0L) === Seq()) // empty array
    assert(rows(1L) === Seq()) // 1 token < n
    assert(rows(2L) === Seq()) // 2 tokens < n
    assert(rows(5L) === Seq()) // NULL array
    assert(rows(3L) === Seq(null, "x y z")) // null token nulls its gram; distinct keeps one
    assert(rows(4L) === Seq("r r r")) // duplicates collapse, first occurrence
  }

  test("stream_dedup min(struct) rewrite is row-identical to the window form") {
    val d = TestTables.dir(spark)
    val rewritten = SparkEntry.queries("stream_dedup")(spark, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    val windowForm = Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("user_id", "event_type")
    assert(rewritten.schema.fieldNames.toSeq === windowForm.schema.fieldNames.toSeq)
    val a = rewritten.collect().map(_.toSeq)
    val b = windowForm.collect().map(_.toSeq)
    assert(a.nonEmpty)
    assert(a.toSeq === b.toSeq)
  }

  // ---- ANN recall at the TRUE sf1 (VERDICT r10 item 2) ----

  // Round5Spec pins recall@5 ≥ 0.8 at sf0.01, Round8Spec at sf0.1; this is
  // the 10×-larger independently-drawn vector set (50k vectors) — the last
  // rung of the ladder available locally. Gated on the generated /tmp/sf1real
  // (tools/gen_sf1.py) so the suite stays green on a fresh checkout.
  private def recallAt5(ann: String, sf: String): Double = {
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

  test("sim_ann_lsh recall@5 >= 0.8 vs brute force at the TRUE sf1") {
    assume(new java.io.File("/tmp/sf1real/embeddings.parquet").exists)
    val r = recallAt5("sim_ann_lsh", "/tmp/sf1real")
    info(f"LSH mean recall@5 at sf1 = $r%.3f")
    assert(r >= 0.8, f"LSH mean recall@5 at sf1 = $r%.3f")
  }

  test("sim_ann_ivf recall@5 >= 0.8 vs brute force at the TRUE sf1") {
    assume(new java.io.File("/tmp/sf1real/embeddings.parquet").exists)
    val r = recallAt5("sim_ann_ivf", "/tmp/sf1real")
    info(f"IVF mean recall@5 at sf1 = $r%.3f")
    assert(r >= 0.8, f"IVF mean recall@5 at sf1 = $r%.3f")
  }

  test("stream_dedup plan partially aggregates (no sort before the exchange)") {
    val d = TestTables.dir(spark)
    val plan = SparkEntry.queries("stream_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    // a PARTIAL min on the map side (SortAggregate — struct buffers aren't
    // hash-aggregable) so the exchange carries one row per key; the old
    // window form shuffled every row first
    assert(plan.contains("partial_min"), s"expected map-side partial aggregation:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"window operator survived the rewrite:\n${plan.take(1500)}")
  }

  test("native token_entropy matches the explode-aggregate form (incl. edge arrays)") {
    import org.apache.spark.sql.GraftSqlShim
    val fx = tokenFixture
    val native = fx.select(col("id"),
        round(GraftSqlShim.column(graft.plans.TokenEntropy(
          GraftSqlShim.expression(col("tk")))), 4).as("entropy"))
      .filter(col("entropy").isNotNull)
    val agg = fx
      .select(col("id"), size(col("tk")).as("len"), explode(col("tk")).as("token"))
      .groupBy("id", "token", "len")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("p", col("cnt").cast("double") / col("len"))
      .groupBy(col("id"), col("len"))
      .agg(round(-sum(col("p") * log(col("p"))), 4).as("entropy"))
      .select(col("id"), col("entropy"))
    val n = native.orderBy("id").collect().toSeq
    val a = agg.orderBy("id").collect().toSeq
    assert(n == a)
    // empty (id 0) and NULL (id 5) arrays vanish, as in the aggregate form;
    // single-token and all-duplicate docs (ids 1, 4) score exactly 0
    assert(n.size == 298)
    val byId = n.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!byId.contains(0L) && !byId.contains(5L))
    assert(byId(1L) == 0.0 && byId(4L) == 0.0)
  }

  test("text_entropy plan has no shuffle before the final sort (row-local kernel)") {
    val d = TestTables.dir(spark)
    val plan = SparkEntry.queries("text_entropy")(spark, d)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("token_entropy"), s"kernel missing from plan:\n${plan.take(1200)}")
    // the only exchange allowed is the final total-order sort's range
    // partitioning; the per-doc computation itself must be shuffle-free
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus-sized hash shuffle survived the rewrite:\n${plan.take(1500)}")
  }
}

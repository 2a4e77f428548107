package graft

import org.apache.spark.sql.DataFrame

/** Round-13 hardening tests (VERDICT r12 items). */
class Round13Spec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // ---- skyline oracle reformulation (VERDICT r12 item 4) ----
  // The official oracleSql is now the O(n log n) per-price-max + running
  // strict-prefix-max form (it verified sf3 in 3 s where the quadratic
  // NOT EXISTS needed 3.6e11 pair tests). These tests pin the two
  // formulations equivalent on adversarial frames, so the fast oracle
  // inherits the quadratic one's authority. Spark runs both SQLs here;
  // DuckDB runs the fast one in the driver gate — same ANSI text modulo
  // the null-safe join spelling.

  private val quadraticSql =
    """SELECT p.p_partkey, p.p_retailprice, p.p_size FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  private val fastSql =
    """WITH g AS (SELECT p_retailprice, max(p_size) AS mx
      |           FROM part GROUP BY p_retailprice),
      |r AS (SELECT p_retailprice, mx,
      |             max(mx) OVER (ORDER BY p_retailprice
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strictm
      |      FROM g)
      |SELECT p.p_partkey, p.p_retailprice, p.p_size
      |FROM part p JOIN r ON p.p_retailprice <=> r.p_retailprice
      |WHERE (r.strictm IS NULL OR r.strictm < p.p_size) AND r.mx = p.p_size
      |ORDER BY p_partkey""".stripMargin

  private def abOracle(data: Seq[(Long, Double, Int)]): Unit = {
    spark.createDataFrame(data).toDF("p_partkey", "p_retailprice", "p_size")
      .createOrReplaceTempView("part")
    try {
      val quad = rows(spark.sql(quadraticSql))
      val fast = rows(spark.sql(fastSql))
      assert(quad.nonEmpty && quad === fast)
    } finally spark.catalog.dropTempView("part")
  }

  test("skyline fast oracle == quadratic NOT EXISTS on the edge-case frame") {
    // duplicate point, same-size cheaper row, same-price bigger row — every
    // dominance edge case (the Round7/8 frame)
    abOracle(Seq(
      (1L, 10.0, 5), (2L, 10.0, 5), (3L, 10.0, 7), (4L, 9.0, 5),
      (5L, 12.0, 9), (6L, 12.0, 8), (7L, 8.0, 2), (8L, 15.0, 9)))
  }

  test("skyline fast oracle == quadratic on an all-equal-price frame") {
    abOracle(Seq((1L, 5.0, 3), (2L, 5.0, 9), (3L, 5.0, 9), (4L, 5.0, 1)))
  }

  test("skyline fast oracle == quadratic on 200 mixed points") {
    abOracle((0 until 200).map { i =>
      ((i + 1).toLong, (i * 7 % 97) * 1.5 + 900.0, i * 13 % 50)
    })
  }

  test("skyline fast oracle == engine result on the test part table") {
    val d = TestTables.dir(spark)
    val got = rows(SparkEntry.queries("skyline_pareto")(spark, d))
    Tables.t(spark, d, "part").createOrReplaceTempView("part")
    try assert(got.nonEmpty && got === rows(spark.sql(fastSql)))
    finally spark.catalog.dropTempView("part")
  }

  // ---- bounded scratch accumulation (ADVICE r12) ----
  test("write-path scratch dirs are bounded: generation N-2 is deleted") {
    val root = SparkSpec.tempDir("scratchspec")
    val dirs = (1 to 4).map { i =>
      val d = new java.io.File(root, s"gen_$i")
      d.mkdirs()
      java.nio.file.Files.write(d.toPath.resolve("x"), Array[Byte](1))
      d
    }
    dirs.zipWithIndex.foreach { case (d, _) =>
      graft.util.ScratchDirs.register("spec_key", d.getAbsolutePath)
    }
    assert(!dirs(0).exists && !dirs(1).exists, "old generations must be pruned")
    assert(dirs(2).exists && dirs(3).exists, "the newest two must survive")
  }

  test("compact_files keeps at most two generations of scratch on repeated invocation") {
    val d = TestTables.dir(spark)
    def run(): (String, String) = {
      SparkEntry.queries("compact_files")(spark, d).collect()
      graft.sources.FileSources.lastCompactDirs.get()
    }
    val g1 = run(); val g2 = run(); val g3 = run()
    assert(!new java.io.File(g1._1).exists && !new java.io.File(g1._2).exists,
      "generation 1 scratch must be deleted by generation 3's construction")
    assert(new java.io.File(g2._1).exists && new java.io.File(g3._1).exists)
  }

  // ---- count_in_set codegen path (ADVICE r12) ----
  // char_ngrams pins its WholeStageCodegen span; count_in_set never did, so
  // a Janino-unfriendly cast could silently fall back to interpreted eval.
  // Same probe: over a parquet-backed scan (a literal frame collapses to
  // LocalTableScan with no codegen stage), the plan must show the starred
  // Project containing the kernel.
  test("count_in_set runs inside WholeStageCodegen over a parquet scan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftSqlShim.{column => gcol, expression => gexpr}
    val docs = Tables.t(spark, TestTables.dir(spark), "documents")
    val df = docs.select(gcol(graft.plans.CountInSet(
      gexpr(split(col("text"), " ")), Seq("a", "b"))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Project [count_in_set") &&
      plan.contains("*(1) Project [count_in_set"), plan)
    // and the kernel still computes through the generated path
    assert(df.agg(sum(col("n"))).collect().head.getLong(0) > 0L)
  }

  // ---- two-level IVF quantizer (VERDICT r12 item 2) ----
  // Past MaxLists=1024 (~2.1M vectors under the √n rule) the coarse fit
  // goes hierarchical: l1 cells one-task-fit as before, then one bounded
  // PARALLEL Lloyd per cell. These pin (a) recall vs brute force at a small
  // scale where the flat path is the reference, (b) determinism, (c) the
  // empty-cell fallback. The >2.1M-vector rung gate lives below,
  // assume-gated on /tmp/emb4m (tools/gen_embeddings.py, seed 42).

  import org.apache.spark.sql.functions._

  private def embAt(sf: String) = {
    Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
  }
  private def queriesOf(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))

  private def top5Map(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (q, a) => (q, a.map(_._2).toSet) }

  private def recallOf(approx: DataFrame, sf: String): Double = {
    // the 4.2M rung's brute-force pass is shared with AnnPqSpec's gate
    val exact =
      if (sf == "/tmp/emb4m") Emb4mExact.top5(spark)
      else top5Map(SparkEntry.queries("sim_knn_cosine")(spark, sf)
        .select(col("qid"), col("rnk"), col("nid")))
    val ap = top5Map(approx.select(col("qid"), col("rnk"), col("nid")))
    val rs = exact.map { case (q, ex) =>
      ap.getOrElse(q, Set.empty[Long]).intersect(ex).size / ex.size.toDouble
    }
    rs.sum / rs.size
  }

  test("two-level IVF recall@5 >= 0.8 vs brute force at sf0.01 (32 lists as 8x4)") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val emb = embAt("/root/testdata/sf0.01")
    val got = graft.operators.AnnIvf.topK2Level(emb, queriesOf(emb), k = 5, l1 = 8, k2 = 4)
    val r = recallOf(got, "/root/testdata/sf0.01")
    info(f"two-level IVF mean recall@5 at sf0.01 = $r%.3f")
    assert(r >= 0.8, f"two-level IVF mean recall@5 = $r%.3f")
  }

  test("two-level IVF is deterministic run to run") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val emb = embAt("/root/testdata/sf0.01")
    def run() = graft.operators.AnnIvf
      .topK2Level(emb, queriesOf(emb), k = 5, l1 = 8, k2 = 4)
      .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    assert(run() === run())
  }

  test("two-level IVF survives cells the sample never hit (L1-centroid fallback)") {
    // 30 vectors under an 8x4=32-list quantizer: most cells are empty and
    // the sample cannot populate every sub-fit — the fallback must keep
    // assignment total and still return k neighbors per query
    val emb = spark.createDataFrame(
      (0 until 30).map(i => (i.toLong, Seq.tabulate(64)(j => ((i * 31 + j * 7) % 13 - 6) / 6.0)))
    ).toDF("vec_id", "vec")
    val got = graft.operators.AnnIvf
      .topK2Level(emb, queriesOf(emb), k = 5, l1 = 8, k2 = 4).collect()
    assert(got.length > 0)
    val perQ = got.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQ.values.forall(_ <= 5))
  }

  test("topKAdaptive routes >MaxLists corpora to the two-level quantizer; recall holds at 4.2M vectors") {
    assume(new java.io.File("/tmp/emb4m/embeddings.parquet").exists)
    // 4.2M vectors → listsFor = 2048 > MaxLists=1024: the flat one-task fit
    // would clamp here; the adaptive path must go hierarchical instead
    assert(graft.operators.AnnIvf.listsFor(4200000L) === 2048)
    val r = recallOf(
      SparkEntry.queries("sim_ann_ivf")(spark, "/tmp/emb4m")
        .select(col("qid"), col("rnk"), col("nid")),
      "/tmp/emb4m")
    info(f"sim_ann_ivf mean recall@5 at 4.2M vectors (two-level) = $r%.3f")
    assert(r >= 0.8, f"two-level IVF mean recall@5 at 4.2M = $r%.3f")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-7 hardening tests (ADVICE r6 items). */
class Round7Spec extends SparkSpec {

  // ---- ConnectedComponents: out-of-set edges ignored (ADVICE r6) ----

  test("ConnectedComponents ignores edges whose endpoints are not vertices") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L).toDF("id")
    // 1-2 is in-set; 3-99 and 99-4 reference the non-vertex 99 — under the
    // restored contract they must be ignored, NOT allowed to merge 3 and 4
    // through the phantom id (and 99 must not appear in the output); 2-50
    // hangs an out-of-set id off an in-set component
    val edges = Seq((1L, 2L), (3L, 99L), (99L, 4L), (2L, 50L)).toDF("src", "dst")
    val got = graft.operators.ConnectedComponents.labels(vertices, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)))
  }

  // ---- AsOfSkew: opt-in id-based leftover probe (ADVICE r6) ----

  test("AsOfSkew leftIdCol probe is row-identical to the all-column probe") {
    val probes = spark.range(0, 40)
      .selectExpr("id as p_id", "id % 3 as user_id", "id * 600000000L + 1L as p_ts")
    val quotes = spark.range(0, 20)
      .selectExpr("id + 10000 as v_id", "id % 3 as v_user", "id * 990000000L as v_ts")
    def run(idCol: Option[String]) = graft.operators.AsOfSkew.join(
      probes, quotes, keys = Seq("user_id" -> "v_user"),
      leftTime = "p_ts", rightTime = "v_ts",
      tiebreak = "v_id", bucketWidth = 3600L * 1000000L, leftIdCol = idCol)
      .select("p_id", "v_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val slim = run(Some("p_id"))
    assert(slim.nonEmpty && slim.toSeq === run(None).toSeq)
  }

  test("AsOfSkew leftIdCol lets a map-typed left column through the probe") {
    // the default all-column probe cannot key a MapType with <=>; the
    // id-keyed probe must not care what the other columns are
    val probes = spark.range(0, 30)
      .selectExpr("id as p_id", "id % 3 as user_id", "id * 600000000L + 1L as p_ts",
        "map('k', cast(id as string)) as props")
    val quotes = spark.range(0, 15)
      .selectExpr("id + 10000 as v_id", "id % 3 as v_user", "id * 990000000L as v_ts")
    val salted = graft.operators.AsOfSkew.join(
      probes, quotes, keys = Seq("user_id" -> "v_user"),
      leftTime = "p_ts", rightTime = "v_ts",
      tiebreak = "v_id", bucketWidth = 3600L * 1000000L, leftIdCol = Some("p_id"))
    val plain = graft.plans.AsOfJoinNative.join(
      probes.drop("props"), quotes, keys = Seq("user_id" -> "v_user"),
      leftTime = "p_ts", rightTime = "v_ts", tiebreak = Seq("v_id"))
    val s1 = salted.select("p_id", "v_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val s2 = plain.select("p_id", "v_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s1.nonEmpty && s1.toSeq === s2.toSeq)
  }

  test("AsOfSkew rejects a leftIdCol that is not a left column") {
    val l = spark.range(0, 5).selectExpr("id as p_id", "id as user_id", "id as p_ts")
    val r = spark.range(0, 5).selectExpr("id as v_id", "id as v_user", "id as v_ts")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfSkew.join(
        l, r, keys = Seq("user_id" -> "v_user"),
        leftTime = "p_ts", rightTime = "v_ts", tiebreak = "v_id",
        bucketWidth = 10L, leftIdCol = Some("nope"))
    }
    assert(e.getMessage.contains("leftIdCol"))
  }

  // ---- §2.16 round-7 operators over the tiny literal tables ----

  private lazy val d = TestTables.dir(spark)
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("interval_merge merges user 7's overlapping 30-min intervals into 2 sessions") {
    // events at 0/10/50/55 min → intervals [0,40] and [50,85] minutes
    val rows = q("interval_merge").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val min = 60L * 1000000L
    assert(rows === Seq((7L, 2L, (40L + 35L) * min), (8L, 1L, 30L * min)))
  }

  test("scd2_history builds the alternating state chain for user 7") {
    val rows = q("scd2_history").collect()
      .filter(_.getLong(0) == 7L)
      .map(r => (r.getString(1), r.getBoolean(4))).toSeq
    assert(rows === Seq(("view", false), ("purchase", false), ("view", false),
      ("purchase", true)))
  }

  test("stream_late_drop: single tiny batch has no watermark and drops nothing") {
    val rows = q("stream_late_drop").collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(1) === 5L && rows.head.getLong(2) === 0L)
    assert(rows.head.getLong(3) === -1L) // no prior batch → no watermark
  }

  test("skyline_pareto window form matches the quadratic NOT EXISTS on a literal frame") {
    // craft a frame with a duplicate point, a same-size cheaper row and a
    // same-price bigger row — every dominance edge case
    val parts = spark.createDataFrame(Seq(
      (1L, 10.0, 5), (2L, 10.0, 5), (3L, 10.0, 7), (4L, 9.0, 5),
      (5L, 12.0, 9), (6L, 12.0, 8), (7L, 8.0, 2), (8L, 15.0, 9)))
      .toDF("p_partkey", "p_retailprice", "p_size")
    val tmp = SparkSpec.tempDir("skyline")
    parts.write.mode("overwrite").parquet(s"$tmp/part.parquet")
    val got = SparkEntry.queries("skyline_pareto")(spark, tmp)
      .collect().map(_.getLong(0)).toSeq
    parts.createOrReplaceTempView("sk_part")
    val want = spark.sql(
      """SELECT p.p_partkey FROM sk_part p WHERE NOT EXISTS (
        |  SELECT 1 FROM sk_part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(got === want)
    assert(got === Seq(3L, 4L, 5L, 7L)) // dup 1/2 dominated by cheaper 4
  }

  test("dedup_token_sort groups bag-of-words-identical docs") {
    val rows = q("dedup_token_sort").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("text_ngram_containment emits both directions of the identical-shingle pair") {
    val rows = q("text_ngram_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows === Seq((0L, 1L, 1.0), (1L, 0L, 1.0)))
  }

  test("graph queries on a hand-computable co-purchase graph") {
    import spark.implicits._
    // parts (1,2), (2,3), (1,3) each co-purchased in 2 orders → triangle
    // 1-2-3 with support 2 on every edge; all degrees 2
    val rows = for {
      (a, b, o) <- Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 30L))
      rep <- 0 to 1
      pk <- Seq(a, b)
    } yield (o + rep, pk)
    val d = SparkSpec.tempDir("graph7")
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$d/lineitem.parquet")
    val tri = SparkEntry.queries("graph_triangles")(spark, d).collect().head
    assert((tri.getLong(0), tri.getLong(1), tri.getLong(2), tri.getLong(3)) ===
      ((3L, 3L, 3L, 1L)))
    assert(tri.getDouble(4) === 1.0) // 3·tri/wedges — a perfect triangle
    // symmetric 3-cycle: uniform rank is the exact fixed point. In 10⁻¹²
    // fixed-point, prf converges to 333333333332 (one truncation unit under
    // 10¹²/3), so the micro-unit scaled rank is 999999 — exactly, for every
    // node, with no tolerance
    val pr = SparkEntry.queries("graph_pagerank")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pr === Seq((1L, 999999L), (2L, 999999L), (3L, 999999L)))
  }

  test("degree-oriented triangle count equals the declared id-oriented census") {
    import spark.implicits._
    // same doubled 3-cycle as above plus a pendant edge (4-5) that can
    // never close a triangle — both orientations must count exactly 1
    val rows = for {
      (a, b, o) <- Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 30L), (4L, 5L, 40L))
      rep <- 0 to 1
      pk <- Seq(a, b)
    } yield (o + rep, pk)
    val d = SparkSpec.tempDir("graph7b")
    rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$d/lineitem.parquet")
    val declared = SparkEntry.queries("graph_triangles")(spark, d)
      .collect().head.getLong(3)
    val degree = ReferenceForms.graphTrianglesDegree(spark, d)
      .collect().head.getLong(0)
    assert(declared === 1L && degree === 1L)
  }

  test("graph queries survive an empty support-thresholded edge set") {
    // the tiny lineitem has no part pair co-purchased twice
    val tri = q("graph_triangles").collect()
    assert(tri.length === 1 && tri.head.getLong(3) === 0L)
    assert(q("graph_pagerank").collect().isEmpty)
  }

  test("window_cume_dist ratios are exact rational doubles") {
    val rows = q("window_cume_dist").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  // ---- join_pit_state: non-vacuous PIT fixture (TestTables' 55-min
  // event span means every probe there predates its user's 1h-lagged
  // state, so the declared query is empty on it by construction) ----

  test("join_pit_state picks the state in effect one hour before each purchase") {
    import spark.implicits._
    val base = 1704067200L * 1000000000L // ns epoch, like TestTables
    def ns(min: Long): Long = base + min * 60L * 1000000000L
    // user 1: signup@0 → view@30 → purchase@100 (1h before = minute 40 →
    // state 'view' from minute 30) → purchase@65 (minute 5 → 'signup')
    // user 2: only a purchase@10 — no state an hour back → dropped
    val d = SparkSpec.tempDir("pit7")
    Seq(
      (1L, ns(0), 1L, "signup", 1.0, "{}"),
      (2L, ns(30), 1L, "view", 1.0, "{}"),
      (3L, ns(65), 1L, "purchase", 1.0, "{}"),
      (4L, ns(100), 1L, "purchase", 1.0, "{}"),
      (5L, ns(10), 2L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = SparkEntry.queries("join_pit_state")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq
    val min = 60L * 1000000L
    assert(got === Seq(
      (3L, "signup", 0L * min + base / 1000),
      (4L, "view", 30L * min + base / 1000)))
  }

  // ---- CorpusClean: unsatisfiable threshold rejected (ADVICE r6) ----

  test("CorpusClean rejects a near-dup threshold above 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.CorpusClean.clean(
        docs, graft.pipeline.CorpusClean.Config(nearDupJaccard = 1.1))
    }
    assert(e.getMessage.contains("nearDupJaccard"))
  }
}

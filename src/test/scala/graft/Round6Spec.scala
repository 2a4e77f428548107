package graft

import org.apache.spark.sql.functions._

/** Round-6 hardening tests (ADVICE r5 items). */
class Round6Spec extends SparkSpec {

  // ---- MinHashSig NULL-array parity (ADVICE r5: TextExprs.scala) ----

  test("native minhash_sig matches the expression form on a NULL shingle array") {
    val docs = spark.range(0, 4).selectExpr(
      "id",
      "if(id = 0, cast(null as array<string>), array(concat('t', cast(id as string)))) as sh")
    val both = docs.select(
      col("id"),
      graft.operators.MinHashLsh.signature(col("sh"), 9).as("native"),
      ReferenceForms.minhashSignatureExpr(col("sh"), 9).as("expr"))
    both.collect().foreach { r =>
      assert(!r.isNullAt(1), s"native sig must not be SQL NULL (id=${r.getLong(0)})")
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"mismatch for id=${r.getLong(0)}")
    }
    // the null-array row specifically: k nulls, not SQL NULL
    val nullRow = both.filter(col("id") === 0).collect().head
    assert(nullRow.getSeq[Any](1) === Seq.fill(9)(null))
  }

  // ---- AnnLsh null-vector guard (ADVICE r5: AnnLsh.scala) ----

  test("AnnLsh.topK fails loudly on a NULL vector instead of dropping it") {
    val emb = spark.range(0, 20).selectExpr(
      "id as vec_id",
      """if(id = 7, cast(null as array<double>),
        |   transform(sequence(1, 4), j -> cast(id * j as double))) as vec""".stripMargin)
    val q = spark.range(0, 2).selectExpr(
      "id + 100 as qid", "transform(sequence(1, 4), j -> cast(j as double)) as qvec")
    val e = intercept[Exception] {
      graft.operators.AnnLsh.topK(emb, q, k = 3, nPlanes = 4, dim = 4, nTables = 2).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("AnnLsh")), s"unexpected error: $e")
  }

  // ---- AsOfSkew: duplicate ids + reserved salt columns (ADVICE r5) ----

  test("AsOfSkew handles duplicate left rows (no id-uniqueness assumption)") {
    // p_id 5 appears TWICE, identical in EVERY column (user_id and p_ts
    // both derive from the mapped id) — exactly the case the all-column
    // anti-join's "all copies stay or all go" contract covers; the old
    // anti-join on p_id alone would have dropped a legitimate pass-2 row
    val probes = spark.range(0, 40)
      .selectExpr("if(id = 39, 5L, id) as p_id", "if(id = 39, 5L, id) % 3 as user_id",
        "if(id = 39, 5L, id) * 600000000L + 1L as p_ts")
    val quotes = spark.range(0, 20)
      .selectExpr("id + 10000 as v_id", "id % 3 as v_user", "id * 990000000L as v_ts")
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
    assert(s1.count(_._1 == 5L) === 2, "both duplicate p_id=5 rows must survive")
  }

  test("AsOfSkew refuses inputs that already carry the reserved salt columns") {
    val l = spark.range(0, 5).selectExpr("id as p_id", "id as user_id", "id as p_ts", "id as __lb")
    val r = spark.range(0, 5).selectExpr("id as v_id", "id as v_user", "id as v_ts")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfSkew.join(
        l, r, keys = Seq("user_id" -> "v_user"),
        leftTime = "p_ts", rightTime = "v_ts", tiebreak = "v_id", bucketWidth = 10L)
    }
    assert(e.getMessage.contains("reserved"))
  }
}

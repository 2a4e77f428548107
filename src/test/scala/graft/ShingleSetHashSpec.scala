package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, size, split}
import org.scalacheck.Gen

import graft.operators.MinHashLsh

/** Bit-parity gate for the round-15 fused [[graft.plans.ShingleSetHash]]
  * kernel against the composed split → ngrams(distinct) → 2×set_hash_sum
  * cascade it replaces in `pipeline_corpus_clean`'s Jaccard-1.0 fast path.
  * The fingerprints group documents for dedup, so the kernel must equal the
  * composed form on EVERY input (same sums where shingles exist, NULL
  * exactly where the composed shingle array is empty) or the keep-set — and
  * with it the DuckDB-checked pipeline output — drifts.
  */
class ShingleSetHashSpec extends SparkSpec {

  private def fused(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.ShingleSetHash(
        org.apache.spark.sql.GraftSqlShim.expression(c), n, 42L, 7L))

  private def composedSum(sh: Column, seed: Long): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.SetHashSum(
        org.apache.spark.sql.GraftSqlShim.expression(sh), seed))

  /** fused(n) must be NULL exactly where the composed shingle array is
    * empty, and reproduce both seed sums elsewhere.
    */
  private def assertParity(inputs: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val df = spark
      .createDataset(inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
    val sh = MinHashLsh.shingles(split(col("text"), " "), shingleSize = n)
    val rows = df
      .select(
        col("id"),
        fused(col("text"), n).as("f"),
        size(sh).as("nsh"),
        composedSum(sh, 42L).as("s1"),
        composedSum(sh, 7L).as("s2"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val in = inputs(id.toInt)
      if (r.getInt(2) == 0) {
        assert(r.isNullAt(1),
          s"n=$n input='$in': composed shingles empty but fused is ${r.get(1)}")
      } else {
        assert(!r.isNullAt(1), s"n=$n input='$in': fused NULL but composed has shingles")
        val f = r.getStruct(1)
        assert(f.getLong(0) == r.getLong(3) && f.getLong(1) == r.getLong(4),
          s"n=$n input='$in': fused (${f.getLong(0)},${f.getLong(1)}) vs " +
            s"composed (${r.getLong(3)},${r.getLong(4)})")
      }
    }
  }

  private val adversarial = Seq(
    "", " ", "  ", "a", "a b", "a b c", "a b c d",
    " a b c", "a b c ", " a b c ", // leading/trailing space -> empty edge tokens
    "a  b c d", // double space -> empty middle token (split keeps it)
    "a b c a b c a b c", // repeated shingles -> distinct-set dedup matters
    "x x x x x x", // one distinct shingle
    "a\tb c d", // tab is NOT the separator; stays inside a token
    "中文 分词 测试 中文 分词", // multi-byte tokens; 0x20 scan must not split them
    "émoji 🎉 tokens 🎊 here",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z")

  test("adversarial parity at the pipeline's n=3") {
    assertParity(adversarial, n = 3)
  }

  test("adversarial parity at n=1 and n=2") {
    assertParity(adversarial, n = 1)
    assertParity(adversarial, n = 2)
  }

  test("property: fused equals composed on random space-separated strings") {
    val token = Gen.frequency(
      5 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.oneOf("a", "b", "ab", "ba"), // force cross-row + in-row repeats
      1 -> Gen.const(""), // empty tokens (doubled/edge spaces)
      1 -> Gen.oneOf("中文", "ß", "🎉", "a\tb"))
    val str = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, token)).map(_.mkString(" "))
    val batch = Gen.listOfN(300, str)
    val inputs = (1 to 4).flatMap { i =>
      batch(Gen.Parameters.default, org.scalacheck.rng.Seed(1500L + i)).getOrElse(Nil)
    }
    assert(inputs.size >= 1000, "generator must actually produce the batches")
    assertParity(inputs, n = 3)
  }

  test("null text is NULL through the kernel (composed: empty shingles)") {
    import spark.implicits._
    val df = spark
      .createDataset(Seq((1L, "a b c d"), (2L, null.asInstanceOf[String])))
      .toDF("id", "text")
    val rows = df.select(col("id"), fused(col("text"), 3).as("f")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rows(1L), "real doc must fingerprint")
    assert(rows(2L), "null doc must be NULL (always-kept shingleless branch)")
  }

  test("shingle_set_hash stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions.concat_ws
    // non-foldable input (range scan), else constant folding erases the plan
    val df = spark.range(3)
      .select(fused(concat_ws(" ", org.apache.spark.sql.functions.lit("a b c"),
        col("id").cast("string")), 3).as("f"))
    // assert the PROPERTIES, not the exact formatted prefix (advisor r15
    // #4: "*(1) Project [shingle_set_hash(" is brittle to Spark's plan
    // formatting / stage numbering): (a) the expression appears inside a
    // WholeStageCodegen subtree, and (b) no codegen-fallback wrapper around
    // it anywhere in the plan
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val exec = df.queryExecution.executedPlan
    val inCodegen = exec.collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains("shingle_set_hash("))
    assert(inCodegen,
      s"shingle_set_hash must run INSIDE a WholeStageCodegen subtree:\n$exec")
    val planStr = exec.toString
    assert(!planStr.contains("CodegenFallback"),
      s"shingle_set_hash must not trip a codegen fallback:\n$planStr")
    val fps = df.collect().map(_.getStruct(0).getLong(0))
    assert(fps.distinct.length == 3, "distinct docs must fingerprint distinctly")
  }

  test("pipeline parity: fused and composed corpus_clean keep the same docs") {
    val d = TestTables.dir(spark)
    val fusedOut = SparkEntry.queries("pipeline_corpus_clean")(spark, d)
      .collect().map(_.toSeq).toSeq
    val composedOut = ReferenceForms.corpusCleanComposedFingerprint(spark, d)
      .collect().map(_.toSeq).toSeq
    assert(fusedOut == composedOut, "fused fast path must keep the identical doc set")
  }
}

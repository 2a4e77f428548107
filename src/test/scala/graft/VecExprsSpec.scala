package graft

import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.plans.VecRewrite

/** Native vector expressions (graft.plans.VecExprs): bit-equality across
  * all three implementation tiers, type checking, dimension guard, codegen.
  */
class VecExprsSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 50)
      .map(i => (i.toLong,
        Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "a", "b")
  }

  test("native dot/l2 are bit-identical to lambda and unrolled tiers") {
    // The session carries VecRewrite, which would turn the lambda reference
    // columns into the lenient native kernels and compare a kernel with
    // itself. Exclude it, and keep the local input from being folded at
    // planning time, so the lambdas themselves run.
    withConf("spark.sql.optimizer.excludedRules" ->
      Seq(SparkSpec.ConvertToLocalRelation, VecRewrite.ruleName).mkString(",")) {
      val df = vecs.select(
        Vec.dotNative("a", "b").as("dn"),
        Vec.dot("a", "b").as("dl"),
        Vec.dotUnrolled("a", "b", 64).as("du"),
        Vec.l2Native("a").as("ln"),
        Vec.l2("a").as("ll"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("zip_with") && opt.contains("transform"),
        s"lambda reference columns must reach the plan:\n$opt")
      assert(!opt.contains("_lenient"), s"lambda reference columns were rewritten:\n$opt")
      df.collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)), "native vs lambda dot")
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(2)), "native vs unrolled dot")
        assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(4)), "native vs lambda l2")
      }
    }
  }

  // non-literal input: a LocalRelation of literals would be constant-folded
  // into evaluated rows before the rewrite could be observed
  private def rangeVecs = spark.range(32).selectExpr(
    "array(CAST(id AS DOUBLE), CAST(id AS DOUBLE) + 1.0, 2.5) AS a",
    "array(CAST(id AS DOUBLE) * 0.5, 3.0, CAST(id AS DOUBLE) - 7.0) AS b")

  test("VecRewrite auto-vectorizes lambda dot products and l2 norms") {
    val df = rangeVecs.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d",
      "sqrt(aggregate(transform(a, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS n")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("dot_product"), s"dot lambda should rewrite:\n$opt")
    assert(opt.contains("l2_norm"), s"l2 lambda should rewrite:\n$opt")
    // rewritten results are bit-identical to the native calls
    val direct = rangeVecs.select(Vec.dotNative("a", "b"), Vec.l2Native("a")).collect()
    df.collect().zip(direct).foreach { case (r, e) =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(e.getDouble(0)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(e.getDouble(1)))
    }
  }

  test("VecRewrite is observationally transparent on ragged pairs (NULL, not an error)") {
    // ragged arrays: the lambda form null-pads to NULL; the rewritten plan
    // must produce the identical NULL, never the strict kernel's exception
    val df = spark.range(4).selectExpr(
      "array(CAST(id AS DOUBLE), 1.0) AS a",
      "array(CAST(id AS DOUBLE)) AS b")
    val out = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d")
    assert(out.queryExecution.optimizedPlan.toString.contains("dot_product_lenient"))
    assert(out.collect().forall(_.isNullAt(0)))
  }

  test("VecRewrite leaves non-matching folds alone") {
    // max-fold, not a sum — must NOT become a dot product
    val df = rangeVecs.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> greatest(acc, v)) AS m")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("dot_product"), s"max fold must not rewrite:\n$opt")
    assert(df.collect().nonEmpty)
  }

  test("dot_product rejects non-double-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("i", "s")
    val e = intercept[Exception] {
      df.select(call_function("dot_product", col("s"), col("s"))).collect()
    }
    assert(e.getMessage.contains("array<double>") || e.getMessage.contains("DATATYPE"))
  }

  test("dot_product throws on dimension mismatch instead of null-padding") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(Vec.dotNative("a", "b")).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("dimension mismatch"))
  }

  test("null input yields null, and the expression stays inside codegen") {
    import spark.implicits._
    val df = Seq((Some(Array(3.0, 4.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val out = df.select(
      Vec.l2Native("a").as("la"),
      Vec.dotNative("a", "b").as("d")).collect()(0)
    assert(out.getDouble(0) === 5.0)
    assert(out.isNullAt(1))
    // LocalTableScan evaluates literals without codegen — use a range scan
    // to prove the expression joins a WholeStageCodegen stage
    val plan = spark.range(4)
      .select(array(col("id").cast("double"), lit(1.0)).as("a"))
      .select(Vec.dotNative("a", "a"))
      .queryExecution.executedPlan.toString
    // "*(1)" marks operators fused into whole-stage-codegen stage 1
    assert(plan.contains("*(1) Project [dot_product"),
      s"dot_product must fuse into the codegen stage:\n$plan")
  }
}

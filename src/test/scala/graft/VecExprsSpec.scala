package graft

import org.apache.spark.sql.functions._

import graft.functions.Vec

/** Native vector expressions (graft.plans.VecExprs): bit-equality with the
  * lambda and unrolled reference forms, type checking, dimension guard,
  * codegen.
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
    // keep the local input from being folded at planning time, so the
    // lambdas themselves run
    withConf("spark.sql.optimizer.excludedRules" -> SparkSpec.ConvertToLocalRelation) {
      val df = vecs.select(
        Vec.dotNative("a", "b").as("dn"),
        ReferenceForms.vecDotLambda("a", "b").as("dl"),
        ReferenceForms.vecDotUnrolled("a", "b", 64).as("du"),
        Vec.l2Native("a").as("ln"),
        ReferenceForms.vecL2Lambda("a").as("ll"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("zip_with") && opt.contains("transform"),
        s"lambda reference columns must reach the plan:\n$opt")
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

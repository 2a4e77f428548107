package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Generated classes compiled for one pass of the engine's repeated work stay
  * in Spark's class cache for the next pass (GraftSession.CodegenCacheEntries)
  * and are found again when a pipeline's codegen stage id changes.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Classes Janino compiled while `body` ran. */
  private def compiledBy(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private val sf = "/root/testdata/sf0.01"

  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("a second pass over the relational_analytics keys at sf0.01 compiles no class") {
    assume(new java.io.File(sf).isDirectory)
    val keys = Seq("join_salted", "join_asof_skew", "join_range_sessions",
      "agg_weighted_median", "window_streak", "sink_partitioned")
    def pass(): Unit = keys.foreach(k => drain(SparkEntry.queries(k)(spark, sf)))
    val first = compiledBy(pass())
    val second = compiledBy(pass())
    assert(second === 0L, s"first pass compiled $first classes, the second $second")
  }

  test("join_bloom_native's second call at sf0.01 compiles no class") {
    // the query runs in a session of its own (isolated thresholds); a new
    // session per call would bring a new class loader and compile again
    assume(new java.io.File(sf).isDirectory)
    def call(): Unit = drain(SparkEntry.queries("join_bloom_native")(spark, sf))
    val first = compiledBy(call())
    val second = compiledBy(call())
    assert(second === 0L, s"first call compiled $first classes, the second $second")
  }

  test("a pipeline planned under a new codegen stage id reuses its compiled class") {
    // alone the pipeline is stage 1; under a union (not whole-stage
    // codegen) each side is a stage of its own, so the second copy is stage 2
    def pipeline = spark.range(0, 1000, 1, 2).selectExpr("id * 7919 + 13 AS v")
    drain(pipeline)
    val compiled = compiledBy(drain(pipeline.union(pipeline)))
    assert(compiled === 0L)
  }
}

package graft

import org.apache.spark.sql.functions.{array, col}

import graft.functions.Vec
import graft.plans.AsOfJoinStrategy

/** The session factory installs the graft extension once, and running the
  * operators that need it leaves the session as the factory built it.
  */
class GraftSessionSpec extends SparkSpec {

  test("ANN kernels and an as-of join leave one AsOfJoinStrategy and no experimental extras") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.range(4).select(array(col("id").cast("double")).as("a"))
      .select(Vec.dotNative("a", "a"), Vec.l2Native("a")).collect()
    assert(SparkEntry.queries("join_asof_skew")(spark, sf).count() > 0)
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.count(_ == AsOfJoinStrategy) === 1, strategies.mkString(", "))
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** What one `ConnectedComponents.labels` call costs and what `maxIter`
  * returns; ScaleOpsSpec and Round7Spec pin the labels themselves.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** ScaleOpsSpec's path-graph fixture: path 1-2-3-4, pair {10, 11},
    * singleton 20.
    */
  private def pathGraph: (DataFrame, DataFrame) = {
    import spark.implicits._
    (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id"),
      Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst"))
  }
  private val PathLabels =
    Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L)

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labels evaluates the edge frame once") {
    val (vertices, edges) = pathGraph
    val rows = spark.sparkContext.longAccumulator("cc-edge-rows")
    val tick = udf((x: Long) => { rows.add(1); x }).asNondeterministic()
    // keep the projection a task-side operator: with ConvertToLocalRelation
    // the optimizer would fold it into the local relation on the driver
    withConf("spark.sql.optimizer.excludedRules" -> SparkSpec.ConvertToLocalRelation) {
      val counted = edges.select(tick(col("src")).as("src"), col("dst"))
      assert(labelMap(ConnectedComponents.labels(vertices, counted)) === PathLabels)
    }
    assert(rows.value === 4L, "each of the 4 edge rows must be read exactly once")
  }

  test("maxIter = k labels each vertex with the least id within k hops") {
    import spark.implicits._
    // path 0-1-...-10 (diameter 10, some edges reversed), pair {20, 21},
    // singleton 30
    val vertices = ((0L to 10L) ++ Seq(20L, 21L, 30L)).toDF("id")
    val edges = ((0L until 10L).map(i => if (i % 3 == 0) (i + 1, i) else (i, i + 1)) :+
      ((21L, 20L))).toDF("src", "dst")
    for (k <- Seq(-1, 0, 1, 2, 3, 9, 10, 20)) {
      val want = (0L to 10L).map(v => v -> math.max(0L, v - math.max(k, 0))).toMap ++
        Map(20L -> 20L, 21L -> (if (k >= 1) 20L else 21L), 30L -> 30L)
      assert(labelMap(ConnectedComponents.labels(vertices, edges, maxIter = k)) === want,
        s"maxIter $k")
    }
  }

  test("one labels call on the path graph runs 16 Spark jobs") {
    // one action per round from round 2 on (round 4 moves no label and
    // stops the loop), each its eager checkpoint job; the rest are AQE's
    // broadcast and shuffle-map jobs, the edge list and round 1 among them,
    // and the final join. The form that unioned both edge directions,
    // joined the labels back each round and compared label sums ran 29.
    // Counted on the shared 2-core test session.
    val (vertices, edges) = pathGraph
    val sc = spark.sparkContext
    val group = "cc-job-count"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one ConnectedComponents.labels call")
    try assert(labelMap(ConnectedComponents.labels(vertices, edges)) === PathLabels)
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get === 16)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinNative

/** The native as-of physical operator (graft.plans.AsOfJoinExec — custom
  * LogicalPlan + Strategy + SparkPlan): semantics against literal inputs,
  * equivalence with a naive per-probe scan, and the plan shape (merge exec
  * + co-partitioned exchanges, no Window).
  */
class AsOfExecSpec extends SparkSpec {

  import spark.implicits._

  private lazy val d = TestTables.dir(spark)

  private def probes = Seq((1L, 100L, 10L), (1L, 200L, 20L), (2L, 150L, 30L))
    .toDF("k", "t", "pv")
  private def quotes = Seq(
    (1L, 50L, 500L), (1L, 100L, 501L), (1L, 150L, 502L),
    (2L, 160L, 503L), (3L, 10L, 504L))
    .toDF("qk", "qt", "qv")

  test("backward strict: greatest quote time strictly before each probe") {
    val out = AsOfJoinNative
      .join(probes, quotes, Seq("k" -> "qk"), "t", "qt")
      .select("k", "t", "qv").orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (1,100): qt 50 (100 excluded by strict); (1,200): qt 150; (2,150): no
    // earlier quote -> dropped (inner); k=3 quote never probed
    assert(out.toSeq === Seq((1L, 100L, 500L), (1L, 200L, 502L)))
  }

  test("equal candidate timestamps: greatest tiebreak wins deterministically") {
    val dupQuotes = Seq((1L, 50L, 7L), (1L, 50L, 9L), (1L, 50L, 8L)).toDF("qk", "qt", "qv")
    val out = AsOfJoinNative
      .join(probes.filter($"k" === 1L), dupQuotes, Seq("k" -> "qk"), "t", "qt",
        tiebreak = Seq("qv"))
      .select("qv").distinct().collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("null keys never match") {
    val nullProbe = Seq((Option.empty[Long], 100L, 1L)).toDF("k", "t", "pv")
    val nullQuote = Seq((Option.empty[Long], 50L, 2L)).toDF("qk", "qt", "qv")
    assert(AsOfJoinNative.join(nullProbe, nullQuote, Seq("k" -> "qk"), "t", "qt")
      .collect().isEmpty)
  }

  test("null timestamps never match (a NULL ts is not -infinity)") {
    // NULL right ts sorts NULLS FIRST and would otherwise pose as an
    // always-earlier candidate; DuckDB ASOF (l.ts > NULL) rejects it
    val q = Seq((1L, Option.empty[Long], 500L)).toDF("qk", "qt", "qv")
    assert(AsOfJoinNative.join(probes, q, Seq("k" -> "qk"), "t", "qt")
      .collect().isEmpty)
    val p = Seq((1L, Option.empty[Long], 1L)).toDF("k", "t", "pv")
    assert(AsOfJoinNative.join(p, quotes, Seq("k" -> "qk"), "t", "qt")
      .collect().isEmpty)
  }

  test("property: native ≡ composed on randomized inputs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val probes = Seq.tabulate(60)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, i.toLong))
        .toDF("k", "t", "pid")
      val quotes = Seq.tabulate(80)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, i.toLong))
        .toDF("qk", "qt", "qid")
      val native = AsOfJoinNative
        .join(probes, quotes, Seq("k" -> "qk"), "t", "qt", tiebreak = Seq("qid"))
        .select("pid", "qid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // the naive per-probe scan, over (id, key, time) triples
      val naive = AsOfJoinSpec.naiveBackward(
        probes.collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))),
        quotes.collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))))
      assert(native === naive, s"trial $trial diverged")
    }
  }

  test("plan: AsOfJoin merge exec with co-partitioned exchanges, no Window") {
    val plan = SparkEntry.queries("join_asof_exec")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("Window"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2)
  }
}

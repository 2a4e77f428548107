package graft

import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinNative

/** As-of semantics through the one as-of entry point, AsOfJoinNative:
  * the strict backward match, and forward and tolerance composed on top of
  * it the way the declared keys compose them.
  */
class AsOfJoinSpec extends SparkSpec {

  private def frames() = {
    import spark.implicits._
    val trades = Seq((1L, 7L, 100L), (2L, 7L, 200L), (3L, 8L, 150L))
      .toDF("trade_id", "acct", "t")
    val quotes = Seq((10L, 7L, 90L), (11L, 7L, 100L), (12L, 7L, 180L), (13L, 9L, 10L))
      .toDF("quote_id", "q_acct", "q_t")
    (trades, quotes)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("trade_id", "quote_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("backward strict picks the latest strictly-earlier row per key") {
    val (trades, quotes) = frames()
    val out = pairs(AsOfJoinNative.join(trades, quotes, Seq("acct" -> "q_acct"), "t", "q_t"))
    // trade1@100: quotes 90 (100 excluded by strict); trade2@200: quote 180; trade3: acct 8 has none
    assert(out === Set((1L, 10L), (2L, 12L)))
  }

  test("forward picks the earliest later row") {
    // backward-strict on the negated times is forward-strict on the times
    // (join_asof_forward's composition)
    val (trades, quotes) = frames()
    val out = pairs(AsOfJoinNative.join(
      trades.withColumn("t_neg", -col("t")), quotes.withColumn("q_neg", -col("q_t")),
      Seq("acct" -> "q_acct"), "t_neg", "q_neg"))
    assert(out === Set((1L, 12L))) // only trade1@100 has a later quote (180)
  }

  test("tolerance bounds the time gap") {
    // the closest earlier row, dropped when older than the tolerance
    // (join_asof_tolerance's residual filter)
    val (trades, quotes) = frames()
    val out = pairs(AsOfJoinNative.join(trades, quotes, Seq("acct" -> "q_acct"), "t", "q_t")
      .filter(col("t") - col("q_t") <= 15L))
    assert(out === Set((1L, 10L))) // trade2@200 vs quote@180 gap 20 > 15 → dropped
  }

  test("randomized equivalence with the naive formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    for (_ <- 1 to 3) {
      val trades = (1 to 60).map(i => (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
        .toDF("trade_id", "acct", "t")
      val quotes = (1 to 80).map(i => (1000L + i, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
        .toDF("quote_id", "q_acct", "q_t")
      val out = AsOfJoinNative.join(trades, quotes, Seq("acct" -> "q_acct"), "t", "q_t",
        tiebreak = Seq("quote_id"))
        .select("trade_id", "quote_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out === AsOfJoinSpec.naiveBackward(
        trades.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        quotes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))))
    }
  }
}

object AsOfJoinSpec {

  /** The naive per-probe scan: for each `(id, key, t)` probe, the id of the
    * `(id, key, t)` candidate with the same key, the greatest time strictly
    * before `t`, and the greatest id among those; probes without one drop.
    */
  def naiveBackward(
      probes: Seq[(Long, Long, Long)], cands: Seq[(Long, Long, Long)]): Map[Long, Long] =
    probes.flatMap { case (pid, key, t) =>
      val cs = cands.filter(c => c._2 == key && c._3 < t)
      if (cs.isEmpty) None else Some(pid -> cs.maxBy(c => (c._3, c._1))._1)
    }.toMap
}

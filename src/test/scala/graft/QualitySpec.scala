package graft

import org.apache.spark.sql.functions._

/** §2.13 quality signals + file sources + streaming batch twins. */
class QualitySpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)
  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("text_unigram_lm literal-map path is row-identical to the join path") {
    // the fixture vocab is far below VocabLitMax, so q("text_unigram_lm")
    // takes the literal fold; forceJoin pins the broadcast-join twin
    val a = graft.queries.Pipeline3.unigramLm(spark, d)
      .collect().map(_.toSeq).toSeq
    val b = graft.queries.Pipeline3.unigramLm(spark, d, forceJoin = true)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("text_repetition: all-identical trigrams score 1 - 1/n3") {
    import spark.implicits._
    val df = Seq((1L, "a a a a a"), (2L, "b c d e f"), (3L, "x y")).toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("rep")
    df.write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("text_repetition")(spark, tmp).collect()
    // doc 3 (2 tokens) dropped; doc 1: 3 identical trigrams -> 1 - 1/3
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(math.abs(out(0).getDouble(2) - (1.0 - 1.0 / 3.0)) < 1e-6)
    assert(out(1).getDouble(2) === 0.0)
  }

  test("text_entropy: uniform tokens have ln(n) entropy, constant docs 0") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "z z z z")).toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("ent")
    df.write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("text_entropy")(spark, tmp).collect()
    assert(math.abs(out(0).getDouble(2) - math.log(4)) < 1e-3)
    assert(out(1).getDouble(2) === 0.0)
  }

  test("text_tfidf: corpus-wide terms get zero weight, rare terms rank") {
    import spark.implicits._
    val df = Seq((1L, "common rare1"), (2L, "common x"), (3L, "common y"))
      .toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("tfidf")
    df.write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("text_tfidf")(spark, tmp).collect()
    val byToken = out.map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(byToken("common") === 0.0) // df == N -> ln(1) = 0
    assert(byToken("rare1") > 0.0)
    // rare terms sort above ubiquitous ones
    assert(out.head.getString(1) !== "common")
  }

  test("dedup_editdist symmetric blocking yields a<b pairs only") {
    val rows = q("dedup_editdist").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("func_higher_order computes fold/filter/exists consistently") {
    import spark.implicits._
    val df = Seq((1L, "data point alpha"), (2L, "tiny ab")).toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("hof")
    df.write.parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("func_higher_order")(spark, tmp).collect()
    assert(out(0).getLong(1) === 2L) // "point", "alpha"
    assert(out(0).getLong(2) === 14L) // 4+5+5
    assert(out(0).getBoolean(3))
    assert(!out(1).getBoolean(3))
  }

  test("scan_csv handles quoting, embedded commas, doubled quotes, null fields") {
    val rows = q("scan_csv").collect()
    assert(rows.length === 12)
    assert(rows(1).getString(1) === "beta, inc")
    assert(rows(4).getString(1) === "epsilon \"quoted\"")
    assert(rows(2).isNullAt(2) && rows(8).isNullAt(2))
  }

  test("scan_jsonl reads nested structs and absent fields as nulls") {
    val rows = q("scan_jsonl").collect()
    assert(rows.length === 10)
    assert(rows(0).getLong(3) === 10L)
    assert(rows(2).isNullAt(2)) // missing score
    assert(rows(4).isNullAt(3)) // missing meta
  }

  test("stream_dedup keeps exactly one row per (user, type), the earliest") {
    val rows = q("stream_dedup").collect()
    val keys = rows.map(r => (r.getLong(1), r.getString(2)))
    assert(keys.distinct.length === keys.length)
    val ev = graft.Tables.events(spark, d)
      .groupBy("user_id", "event_type").count().count()
    assert(rows.length === ev)
  }

  test("stream_join counts view->purchase pairs within one hour") {
    import spark.implicits._
    val out = q("stream_join").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = graft.Tables.events(spark, d)
    val v = ev.filter(col("event_type") === "view").select(col("user_id"), col("ts_us").as("v"))
    val p = ev.filter(col("event_type") === "purchase").select(col("user_id"), col("ts_us").as("p"))
    val expected = v.join(p, "user_id")
      .filter(col("p") >= col("v") && col("p") - col("v") <= 3600000000L)
      .groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(out === expected)
  }
}

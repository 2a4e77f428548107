package graft

import org.apache.spark.sql.functions.{col, size, split}
import org.scalacheck.Gen

import graft.Tables.spaceTokenCount

/** Identity gate for the round-19 [[graft.plans.SpaceTokenCount]] kernel
  * against `size(split(s, " "))`, which it replaces at every site that
  * tokenizes only to COUNT (corpus_report, data_mixture_weights,
  * sample_importance, doc_pack_sequences, doc_chunk, rank_fusion,
  * pipeline_corpus_clean). The identity is structural: a single-space split
  * yields exactly (#0x20 bytes) + 1 elements for ANY input — "" → [""] → 1,
  * runs/leading/trailing spaces keep their empty tokens — and 0x20 never
  * occurs inside a UTF-8 multibyte sequence. INT and NULL rule like size().
  */
class SpaceTokenCountSpec extends SparkSpec {

  private def assertParity(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val df = spark.createDataset(inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
    val rows = df
      .select(col("id"),
        spaceTokenCount(col("text")).as("k"),
        size(split(col("text"), " ")).as("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"kernel=${r.getInt(1)} builtin=${r.getInt(2)} input=${inputs(r.getLong(0).toInt)}")
    }
  }

  test("edge literals: empties, runs, leading/trailing, non-space whitespace") {
    assertParity(Seq(
      "", " ", "  ", "   ", "a", "a b", "a b c",
      " a", "a ", " a ", "a  b", "a   b  c ", "  a  ",
      "\ta b", "a\tb", "a\nb c", "ab",
      "word", "two words", "ends with space ", " starts with space"))
  }

  test("unicode: multibyte bytes never count as separators") {
    assertParity(Seq(
      "中文 tokens 混合", "Ångström unit", "emoji 🎉 party 🎊",
      "ß sharp s", "и кириллица тест", "　ideographic space is one token",
      "nbsp stays attached", "a 🎉🎊 b", "🎉 🎊", " 🎉 "))
  }

  test("null input yields null and typed output is INT, like size(split)") {
    import spark.implicits._
    val df = spark.createDataset(Seq((1L, Option.empty[String]), (2L, Some("a b"))))
      .toDF("id", "text")
    val out = df.select(col("id"), spaceTokenCount(col("text")).as("k")).orderBy("id")
    assert(out.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    val rows = out.collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).getInt(1) == 2)
  }

  test("NULL row follows size()'s legacySizeOfNull rule under both settings") {
    import spark.implicits._
    // ANSI off lets spark.sql.legacy.sizeOfNull decide: size(NULL) is -1
    // when it is on, NULL when it is off. Both sides are built inside the
    // setting, where Size and the kernel capture it.
    for (legacy <- Seq(true, false)) {
      val settings = Seq("spark.sql.ansi.enabled" -> "false",
        "spark.sql.legacy.sizeOfNull" -> legacy.toString)
      val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try forEachCodegenMode { mode =>
        val rows = spark.createDataset(Seq((1L, Option.empty[String]), (2L, Some("a b"))))
          .toDF("id", "text")
          .select(col("id"), spaceTokenCount(col("text")).as("k"),
            size(split(col("text"), " ")).as("b"))
          .orderBy("id").collect()
        rows.foreach(r => assert(r.get(1) == r.get(2),
          s"legacySizeOfNull=$legacy $mode: kernel=${r.get(1)} builtin=${r.get(2)}"))
        assert(rows(0).get(2) == (if (legacy) -1 else null), s"builtin NULL row, $mode")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("generated strings: parity on arbitrary space/char mixes") {
    val tokenChar = Gen.frequency(
      (8, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', ' ', ' ', '\t', 'é', '中', 'ß', '!', '.', 'я')))
    val gen = Gen.listOfN(40, tokenChar).map(_.mkString)
    val samples = Gen.listOfN(300, gen).sample.getOrElse(Nil)
    assert(samples.nonEmpty)
    assertParity(samples)
  }

  test("corpus parity at sf0.001: raw text AND normText output") {
    import graft.Tables.normText
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val bad = docs
      .select(
        (spaceTokenCount(col("text")) <=> size(split(col("text"), " "))).as("raw_ok"),
        (spaceTokenCount(normText(col("text"))) <=>
          size(split(normText(col("text")), " "))).as("norm_ok"))
      .filter(!col("raw_ok") || !col("norm_ok"))
      .count()
    assert(bad == 0L)
  }
}

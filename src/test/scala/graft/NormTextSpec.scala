package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import graft.ReferenceForms.normTextBuiltin
import graft.Tables.normText

/** Bit-parity gate for the round-13 [[graft.plans.NormText]] kernel against
  * the builtin composition `regexp_replace(trim(lower(s)), "\\s+", " ")` it
  * replaced at the head of every text query. The DuckDB oracle twin was
  * calibrated against the BUILTIN chain, so the kernel must equal it
  * byte-for-byte on every input — including the Unicode shapes where
  * `lower`/`trim`/Java-`\s` have sharp edges — or 100+ oracle keys drift.
  */
class NormTextSpec extends SparkSpec {

  private def assertParity(inputs: Seq[String]): Unit = {
    import spark.implicits._
    val df = spark.createDataset(inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
    val rows = df
      .select(col("id"), normText(col("text")).as("k"), normTextBuiltin(col("text")).as("b"))
      .collect()
    rows.foreach { r =>
      val k = r.getString(1); val b = r.getString(2)
      assert(k == b,
        s"kernel='$k' builtin='$b' input codepoints " +
          inputs(r.getLong(0).toInt).codePoints.toArray.mkString(","))
    }
  }

  test("ascii fast path: trim strips spaces only; \\s runs collapse; A-Z lower") {
    assertParity(Seq(
      "", " ", "   ", "a", " A ", "  Hello   WORLD  ",
      "\tleading tab", "trailing tab\t", " \t mixed \t ", // tabs survive trim -> edge spaces stay
      "a\t\tb", "a\r\nb", "ab", "a\fb", "line1\nline2\n",
      "ALL CAPS SENTENCE", "mIxEd CaSe 123 !@#", "no_change_needed",
      "double  space", "many     spaces   here ",
      "\n", "\t", " \t\n\r\f ", "x", "Z", "@[`{", // boundary chars around A-Z
      "punct,.;:!?", "digits 0123456789"))
  }

  test("unicode slow path delegates to the builtin calls exactly") {
    assertParity(Seq(
      "İstanbul SHOUTS", // Turkish dotted capital I -> 2-codepoint lowercase
      "STRASSE ß", // sharp s
      "ΣΟΦΟΣ", // Greek capital sigmas -> final-form handling
      "ﬁligature FI", // fi-ligature
      "Ångström Å", "É combining ACUTE", // combining marks
      "emoji 🎉 PARTY 🎊", // supplementary plane
      " nbsp ", // NBSP: NOT Java \s, NOT trimmed
      "　ideographic space　", // also not \s
      "aNEL b", "a  LS  PS", // not ASCII \s without UNICODE flag
      " MIXED ascii и кириллица  WITH   runs ",
      "Ⅷ ROMAN NUMERAL", // Nl category
      "ДВА\tСЛОВА",
      "中文 没有 大写",
      " Ä ascii-space-trimmed unicode ", // non-ASCII with trimmable 0x20 ends
      "\ud800 lone high surrogate", "tail surrogate \udc00"))
  }

  test("property: kernel equals builtin on random ascii+unicode strings") {
    val anyChar = Gen.frequency(
      6 -> Gen.choose(0x20.toChar, 0x7e.toChar),
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', 0x0b.toChar),
      1 -> Gen.oneOf('A', 'Z', 'a', 'z', '0'),
      2 -> Gen.oneOf(0xc0.toChar, 0x130.toChar, 0xdf.toChar, 0x3a3.toChar,
        0xa0.toChar, 0x3000.toChar, 0x4e2d.toChar,
        0xd83c.toChar), // incl. a lone high surrogate
      1 -> Gen.choose(0x85.toChar, 0xffff.toChar))
    val str = Gen.listOf(anyChar).map(_.mkString)
    val batch = Gen.listOfN(200, str)
    val inputs = (1 to 5).flatMap { i =>
      batch(Gen.Parameters.default, org.scalacheck.rng.Seed(42L + i)).getOrElse(Nil)
    }
    assert(inputs.size >= 900, "generator must actually produce the batches")
    assertParity(inputs)
  }

  test("null text propagates as null through the kernel") {
    import spark.implicits._
    val df = spark.createDataset(Seq((1L, "A b"), (2L, null.asInstanceOf[String])))
      .toDF("id", "text")
    val rows = df.select(col("id"), normText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(rows(1L) == "a b")
    assert(rows(2L) == null)
  }

  test("norm_text stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions.concat_ws
    // non-foldable input (range scan), else constant folding erases the plan
    val df = spark.range(3)
      .select(normText(concat_ws(" ", org.apache.spark.sql.functions.lit(" A\tB "),
        col("id").cast("string"))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the starred-operator prefix is how the simple plan string marks a
    // WholeStageCodegen member (same check as the char_ngrams pin)
    assert(plan.contains("*(1) Project [norm_text("),
      s"norm_text must run INSIDE the codegen'd Project, not fall back:\n$plan")
    assert(!plan.contains("LocalTableScan"), "input must be a real scan")
    val rows = df.collect().map(_.getString(0)).sorted
    assert(rows.head == "a b 0", s"codegen path result: ${rows.mkString("|")}")
  }
}

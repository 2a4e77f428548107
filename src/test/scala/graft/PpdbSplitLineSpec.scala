package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.plans.{PpdbScoreToken, PpdbSplitLine}
import graft.ppdb.Ppdb
import graft.sources.ppdb.PpdbDataSource

/** The PPDB parsers' two byte-level kernels against the builtin
  * expressions they replace, under both `CODEGEN_ONLY` and `NO_CODEGEN`:
  * `ppdb_split` against the regex `split(value, " \\|\\|\\| ")`, and the
  * score token against `element_at(str_to_map(f, " ", "="), "PPDB2.0Score")`;
  * and their skip scans against the byte-at-a-time forms in
  * [[ReferenceForms]].
  */
class PpdbSplitLineSpec extends SparkSpec {

  private val Regex = " \\|\\|\\| "

  private def splitRows(df: DataFrame, c: Column): Seq[Option[Seq[String]]] =
    df.select(c).collect().toSeq.map(r => Option(r.getSeq[String](0)))

  private val lines: Seq[String] = Seq(
    "[JJ] ||| happy ||| glad ||| PPDB2.0Score=5.31 ||| 0-0 ||| Equivalence",
    "a ||| b", // fewer fields
    "no delimiter at all",
    "x ||| ||| y", // empty field
    "a |||| b", // four pipes: no delimiter
    "a ||| ||| b", // the second ` ||| ` shares its space with the first
    " ||| leading",
    "trailing ||| ",
    " ||| ",
    "|||",
    "a||| b ||| c",
    "",
    "[JJ] ||| glücklich ||| 幸せ ||| PPDB2.0Score=1.0 ||| 0-0 ||| Équivalence",
    "😀 ||| 𝄞 ||| ∑ |||  ||| x")

  private def checkSplit(mode: String): Unit = {
    import spark.implicits._
    val df = lines.toDF("value")
    inCodegenMode(mode) {
      val native = splitRows(df, expr("ppdb_split(value)"))
      val regex = splitRows(df, split(col("value"), Regex))
      assert(native === regex, mode)
    }
  }

  test("ppdb_split matches regex split (codegen on)") {
    checkSplit("CODEGEN_ONLY")
  }

  test("ppdb_split matches regex split (interpreted)") {
    checkSplit("NO_CODEGEN")
  }

  test("null input yields null, not a crash") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a ||| b")).toDF("value")
    forEachCodegenMode { mode =>
      val r = df.selectExpr("ppdb_split(value) AS p").collect()
      assert(r(0).isNullAt(0), s"$mode: NULL line must give NULL")
      assert(r(1).getSeq[String](0) === Seq("a", "b"), mode)
    }
  }

  test("ppdb_split keeps invalid UTF-8 bytes; decoded fields match the regex split") {
    import spark.implicits._
    // 0xFF never occurs in UTF-8; C3, E2 82 and F0 9F are truncated sequences
    val hexLines = Seq(
      "61FF207C7C7C2062",                   // "a\xFF ||| b"
      "62C3207C7C7C20E282207C7C7C2063",     // "b\xC3 ||| \xE2\x82 ||| c"
      "F09F207C7C7C2078",                   // "\xF0\x9F ||| x"
      "207C7C7C20FF")                       // " ||| \xFF"
    val df = hexLines.toDF("h").select(unhex(col("h")).cast("string").as("value"))
    forEachCodegenMode { mode =>
      assert(splitRows(df, Ppdb.splitLine(col("value"))) ===
        splitRows(df, split(col("value"), Regex)), mode)
      // re-joining the fields gives back the exact input bytes
      val changed = df.filter(not(
        concat_ws(" ||| ", Ppdb.splitLine(col("value"))).cast("binary") ===
          col("value").cast("binary"))).count()
      assert(changed === 0L, mode)
    }
  }

  test("split fields and score tokens that outlive their row are copies") {
    // a text scan reuses one row buffer for every line, so a view that an
    // aggregate kept without copying would read a later line's bytes
    val ls = Seq(
      "[A] ||| first phrase ||| p1 ||| PPDB2.0Score=1.25 a=1 ||| 0-0 ||| Equivalence",
      "[B] ||| 2 ||| p2 ||| b=2 PPDB2.0Score=-3.5 ||| 1-1 ||| OtherRelated",
      "[CCCCCCCC] ||| a much longer third phrase ||| p3 ||| PPDB2.0Score=9e-1 ||| 0-0 2-2 ||| Independent",
      "short ||| line ||| x ||| a=1")
    val dir = SparkSpec.tempDir("ppdbsplit")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/lines.txt"),
      ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    forEachCodegenMode { mode =>
      val f = Ppdb.splitLine(col("value"))
      val row = spark.read.text(s"$dir/lines.txt")
        .agg(collect_list(f).as("fields"), collect_list(Ppdb.scoreToken(f.getItem(3))).as("scores"))
        .collect().head
      assert(row.getSeq[Seq[String]](0) === ls.map(_.split(Regex, -1).toSeq), mode)
      assert(row.getSeq[String](1) === Seq("1.25", "-3.5", "9e-1"), mode)
    }
  }

  private def mapScore(f: Column): Column =
    element_at(str_to_map(f, lit(" "), lit("=")), "PPDB2.0Score")

  /** Score token and its double cast against the map lookup, row by row. */
  private def assertScoreParity(df: DataFrame, mode: String, cast: Boolean): Unit = {
    val k = Ppdb.scoreToken(col("f"))
    val r = mapScore(col("f"))
    val bad = df.select(col("f"), k.as("k"), r.as("r"))
      .filter(not(col("k") <=> col("r"))).collect()
    assert(bad.isEmpty, s"$mode: token differs from the map value on ${bad.mkString("; ")}")
    if (cast) {
      val badD = df.select(col("f"), k.cast("double").as("k"), r.cast("double").as("r"))
        .filter(not(col("k") <=> col("r"))).collect()
      assert(badD.isEmpty, s"$mode: score differs from the map score on ${badD.mkString("; ")}")
    }
  }

  test("score token matches str_to_map on every fixture line") {
    val files = Seq(Ppdb.FixturePath, s"${Ppdb.MultiFixtureDir}/*.txt.gz",
      s"${Ppdb.ReleaseDir}/*.txt.gz")
    forEachCodegenMode { mode =>
      files.foreach { p =>
        val df = spark.read.text(PpdbDataSource.listFiles(p, spark.sessionState.newHadoopConf()): _*)
          .select(split(col("value"), Regex).getItem(3).as("f"))
        assert(df.filter(Ppdb.scoreToken(col("f")).isNotNull).count() > 0, s"$mode: $p")
        assertScoreParity(df, s"$mode $p", cast = true)
      }
    }
  }

  /** Hand-made features fields: the token casts to double. */
  private val numericFeatures = Seq(
    "PPDB2.0Score=3.5 p(e|f)=1.2 Abstract=0", // first
    "Abstract=0 PPDB2.0Score=-2.25 p(e|f)=1", // middle, negative
    "a=1 b=2 PPDB2.0Score=1.5e-3", // last, exponent
    "PPDB2.0Score=1E+2",
    "PPDB2.0Score=3.0",
    "PPDB2.0Score=NaN",
    "a=1 b=2", // absent
    "xPPDB2.0Score=7.0 a=1", // prefixed key only
    "a=xPPDB2.0Score=7.0", // key inside another token's value
    "a=1  PPDB2.0Score=4.0", // double space
    "PPDB2.0Score=2.0 ", // trailing space
    " PPDB2.0Score=-0.5", // leading space
    "é=1 PPDB2.0Score=0.5 ü=2", // multibyte neighbours
    "a=1\tPPDB2.0Score=2.0", // a tab is not a token boundary
    "PPDB2.0Score", // key without '='
    "")

  /** Hand-made features fields whose token is not a number. */
  private val textOnlyFeatures = Seq(
    "PPDB2.0Score=", // empty value
    "PPDB2.0Score=1=2", // '=' inside the value
    "PPDB2.0Score=abc")

  test("score token matches str_to_map on hand-made features") {
    import spark.implicits._
    val num = (numericFeatures.map(Option(_)) :+ None).toDF("f")
    val all = (numericFeatures ++ textOnlyFeatures).toDF("f")
    forEachCodegenMode { mode =>
      assertScoreParity(num, mode, cast = true)
      assertScoreParity(all, mode, cast = false)
    }
  }

  test("format(\"ppdb\")'s String score scan matches the byte kernel on hand-made features") {
    // the reader applies the same token rule to Strings; its score is the
    // token parsed with Double.valueOf, null where that fails
    import spark.implicits._
    val repeated = Seq(
      "PPDB2.0Score=9.0 p=1 PPDB2.0Score=1.5",
      "xPPDB2.0Score=7.0 PPDB2.0Score=2.0 a=PPDB2.0Score=8.0",
      "PPDB2.0Score=1.0 PPDB2.0Score=abc")
    val feats = numericFeatures ++ textOnlyFeatures ++ repeated
    val dir = SparkSpec.tempDir("ppdbscore")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.txt"),
      feats.zipWithIndex.map { case (f, i) => s"[X] ||| p$i ||| q ||| $f ||| 0-0 ||| Equivalence" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val read = spark.read.format("ppdb").load(s"$dir/f.txt").select("phrase", "ppdb2score")
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.toString)).toMap
    forEachCodegenMode { mode =>
      val tokens = feats.toDF("f").select(Ppdb.scoreToken(col("f"))).collect()
        .map(r => Option(r.getString(0)))
      tokens.zipWithIndex.foreach { case (t, i) =>
        val parsed = t.flatMap(v =>
          try Some(java.lang.Double.valueOf(v).toString)
          catch { case _: NumberFormatException => None })
        assert(read(s"p$i") === parsed, s"$mode: features '${feats(i)}'")
      }
    }
  }

  test("a repeated score key: parse and format(\"ppdb\") agree, the map still fails") {
    val dir = SparkSpec.tempDir("ppdbdup")
    val file = s"$dir/dup.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      ("[X] ||| a ||| b ||| PPDB2.0Score=9.0 p=1 PPDB2.0Score=1.5 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| c ||| d ||| PPDB2.0Score=5.0 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| e ||| f ||| xPPDB2.0Score=7.0 PPDB2.0Score=2.0 ||| 0-0 ||| Equivalence\n")
        .getBytes("UTF-8"))
    def scores(df: DataFrame): Map[String, Double] =
      df.select("phrase", "ppdb2score").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = Map("a" -> 1.5, "c" -> 5.0, "e" -> 2.0)
    forEachCodegenMode { mode =>
      assert(scores(Ppdb.parse(spark, file)) === expected, mode)
      assert(scores(spark.read.format("ppdb").load(file)) === expected, mode)
      val e = intercept[Exception] {
        Ppdb.withFeatureColumns(Ppdb.parse(spark, file), Seq("PPDB2.0Score")).collect()
      }
      def duplicateKey(e: Throwable): Boolean =
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("DUPLICATED_MAP_KEY"))
      assert(duplicateKey(e), s"$mode: expected DUPLICATED_MAP_KEY, got $e")
      // format("ppdb")'s features map follows the same map-key rule
      val v2 = intercept[Exception] {
        spark.read.format("ppdb").load(file).select("features").collect()
      }
      assert(duplicateKey(v2), s"$mode: format(\"ppdb\") features: expected DUPLICATED_MAP_KEY, got $v2")
      // under LAST_WIN both parsers keep the last value, the one ppdb2score holds
      withConf("spark.sql.mapKeyDedupPolicy" -> "LAST_WIN") {
        val feats = spark.read.format("ppdb").load(file).filter(col("phrase") === "a")
          .select(map_keys(col("features")), col("features")("PPDB2.0Score")).head()
        assert(feats.getSeq[String](0) === Seq("PPDB2.0Score", "p"), mode)
        assert(feats.getDouble(1) === 1.5, mode)
        val widened = Ppdb.withFeatureColumns(Ppdb.parse(spark, file), Seq("PPDB2.0Score"))
          .select("phrase", "PPDB2_0Score").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(widened === expected, mode)
      }
    }
  }

  /** Strings built from the pieces the skip scans branch on: delimiter and
    * key fragments, their bytes alone, digits, a multibyte char and an
    * invalid byte.
    */
  private val fragments: Gen[Array[Byte]] = Gen.oneOf(
    Seq(" ", "|", "||", " ||| ", "P", "PPDB2.0Score=", "PPDB2.0Score", "=",
      "0", "7", "3.5", "-1e2", "x", "é").map(_.getBytes("UTF-8")) :+ Array(0xff.toByte))

  test("skip-scan kernels equal their byte-at-a-time reference forms on random strings") {
    // the kernel reads a view into a larger buffer whose padding holds a
    // delimiter and a key, so a read past either end of the view shows
    val pad = " ||| PPDB2.0Score=9 ".getBytes("UTF-8")
    val gen = Gen.choose(0, 40).flatMap(Gen.listOfN(_, fragments))
    def bytes(u: UTF8String): Seq[Byte] = Option(u).map(_.getBytes.toSeq).orNull
    (0 until 20000).foreach { n =>
      val body = gen.pureApply(Gen.Parameters.default, Seed(n.toLong)).toArray.flatten
      val buf = pad ++ body ++ pad
      val line = UTF8String.fromBytes(buf, pad.length, body.length)
      val got = PpdbSplitLine.split(line).toArray[UTF8String](StringType)
      val want = ReferenceForms.ppdbSplitBytewise(line).toArray[UTF8String](StringType)
      val hex = body.map(b => f"$b%02x").mkString
      assert(got.toSeq.map(bytes) === want.toSeq.map(bytes), s"split of $hex")
      assert(bytes(PpdbScoreToken.token(line)) ===
        bytes(ReferenceForms.ppdbScoreTokenBytewise(line)), s"score token of $hex")
    }
  }

  test("parse runs both kernels inside whole-stage codegen, with no regex split or map") {
    val plan = Ppdb.parse(spark).queryExecution.executedPlan.toString
    val codegen = plan.linesIterator.filter(_.contains("*(")).mkString("\n")
    assert(codegen.contains("ppdb_split(") && codegen.contains("ppdb_score_token("),
      s"kernels outside codegen:\n$plan")
    assert(!plan.contains("str_to_map") && !plan.contains(" split("),
      s"builtin split or str_to_map still planned:\n$plan")
  }

  test("parse's generated stage splits each line once") {
    // the six fields and the score token read one split array: subexpression
    // elimination must share it, so the stage holds one split call
    val source = org.apache.spark.sql.execution.debug.codegenString(
      Ppdb.parse(spark).queryExecution.executedPlan)
    val calls = "graft\\.plans\\.PpdbSplitLine\\.split\\(".r.findAllIn(source).size
    assert(calls === 1, source)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ppdb.Ppdb

/** DataSourceV2 reader for the release format (`format("ppdb")`): the three
  * contracts the seam exists for — pruning inside the parser, one partition
  * per non-splittable member, and row parity with the projection-form parse.
  */
class PpdbV2Spec extends SparkSpec {

  test("short name resolves and the full typed schema comes back") {
    val df = spark.read.format("ppdb").load(Ppdb.FixturePath)
    assert(df.schema === graft.sources.ppdb.PpdbDataSource.Schema)
    assert(df.count() === 12)
  }

  test("column pruning reaches the reader: a phrase-only scan reads struct<phrase>") {
    val df = spark.read.format("ppdb").load(Ppdb.FixturePath).select("phrase")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    assert(scans.head.scan.readSchema() ===
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("phrase",
          org.apache.spark.sql.types.StringType))),
      "pruned single-column schema must reach the reader")
    assert(df.distinct().count() === 7)
  }

  test("one InputPartition per gz member of a multi-file release") {
    val df = spark.read.format("ppdb").load(Ppdb.MultiFixtureDir)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 12)
  }

  test("rows match the projection-form parse field for field") {
    val v2 = spark.read.format("ppdb").load(Ppdb.FixturePath)
      .select(col("lhs"), col("phrase"), col("paraphrase"),
        col("features"), col("alignment"), col("entailment"), col("ppdb2score"))
      .orderBy("phrase", "paraphrase")
      .collect()
    val proj = Ppdb.rules(spark)
      .toDF()
      .join(
        Ppdb.parse(spark).select(col("phrase").as("p2"), col("paraphrase").as("pp2"),
          col("ppdb2score")),
        col("phrase") === col("p2") && col("paraphrase") === col("pp2"))
      .select(col("lhs"), col("phrase"), col("paraphrase"),
        col("features"), col("alignment"), col("entailment"), col("ppdb2score"))
      .orderBy("phrase", "paraphrase")
      .collect()
    assert(v2.length === proj.length)
    v2.zip(proj).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getString(1) === b.getString(1))
      assert(a.getString(2) === b.getString(2))
      assert(a.getMap[String, Double](3) === b.getMap[String, Double](3))
      // alignment structs: compare as (src, tgt) pairs (field names differ
      // only if the schemas drifted — the values are the contract)
      assert(a.getSeq[org.apache.spark.sql.Row](4).map(r => (r.getInt(0), r.getInt(1))) ===
        b.getSeq[org.apache.spark.sql.Row](4).map(r => (r.getInt(0), r.getInt(1))))
      assert(a.getString(5) === b.getString(5))
      assert(a.getDouble(6) === b.getDouble(6))
    }
  }

  test("phrase equality pushes into the reader and returns exactly the lookup rows") {
    val df = spark.read.format("ppdb").load(Ppdb.FixturePath)
      .filter(col("phrase") === "happy")
      .select("paraphrase")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val pushed = scans.head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan].pushedForTest
    assert(pushed.contains(org.apache.spark.sql.sources.EqualTo("phrase", "happy")),
      s"phrase equality must reach the reader; pushed=${pushed.mkString(",")}")
    assert(df.collect().map(_.getString(0)).sorted === Array("cheerful", "content", "glad"))
  }

  test("score threshold pushes into the reader and prunes exactly (round 12)") {
    val df = spark.read.format("ppdb").load(Ppdb.FixturePath)
      .filter(col("ppdb2score") >= 4.0)
      .select("phrase", "paraphrase", "ppdb2score")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    val pushed = scans.head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan].pushedForTest
    assert(pushed.exists {
      case org.apache.spark.sql.sources.GreaterThanOrEqual("ppdb2score", _) => true
      case _ => false
    }, s"score threshold must reach the reader; pushed=${pushed.mkString(",")}")
    val rows = df.collect()
    assert(rows.length === 7)
    assert(rows.forall(_.getDouble(2) >= 4.0))
    // parity with the projection-form parse under the same predicate
    val twin = Ppdb.parse(spark).filter(col("ppdb2score") >= 4.0).count()
    assert(rows.length.toLong === twin)
  }

  test("a line with no PPDB2.0Score token fails a pushed threshold (SQL null semantics)") {
    val dir = SparkSpec.tempDir("ppdbv2ns")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/x.txt"),
      ("[X] ||| a ||| b ||| p(e|f)=1.0 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| c ||| d ||| PPDB2.0Score=4.5 p(e|f)=1.0 ||| 0-0 ||| Equivalence\n")
        .getBytes("UTF-8"))
    val rows = spark.read.format("ppdb").load(s"$dir/x.txt")
      .filter(col("ppdb2score") >= 0.0).select("phrase").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("c"))
  }

  test("glob paths plan one partition per matched member (Hadoop listing, round 12)") {
    val df = spark.read.format("ppdb").load(s"${Ppdb.MultiFixtureDir}/*.txt.gz")
    assert(df.rdd.getNumPartitions === 4)
    // full row parity with the projection-form glob parse
    val v2 = df.select("lhs", "phrase", "paraphrase", "entailment")
      .orderBy("phrase", "paraphrase").collect().toSeq
    val proj = Ppdb.parse(spark, s"${Ppdb.MultiFixtureDir}/*.txt.gz")
      .select("lhs", "phrase", "paraphrase", "entailment")
      .orderBy("phrase", "paraphrase").collect().toSeq
    assert(v2 === proj)
  }

  test("a nonexistent path fails at planning time with the path in the message") {
    val err = intercept[Exception] {
      spark.read.format("ppdb").load("/no/such/ppdb/dir").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("/no/such/ppdb/dir")),
      s"expected the offending path in the error; got: ${messages(err).mkString(" | ")}")
  }

  test("a glob matching nothing fails in both parsers with the reader's message") {
    val glob = s"${SparkSpec.tempDir("ppdbnomatch")}/*.txt.gz"
    val expected = s"ppdb source: path does not exist or matches no files: $glob"
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    Seq[(String, () => Any)](
      "format(\"ppdb\")" -> (() => spark.read.format("ppdb").load(glob).collect()),
      "Ppdb.parse" -> (() => Ppdb.parse(spark, glob).collect())).foreach { case (what, read) =>
      val err = intercept[Exception](read())
      assert(messages(err).contains(expected), s"$what: ${messages(err).mkString(" | ")}")
    }
  }

  private def batchScans(df: org.apache.spark.sql.DataFrame)
    : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = {
    // aggregates shuffle, so AQE wraps the plan in AdaptiveSparkPlanExec (a
    // leaf node collect() cannot see through) — unwrap via inputPlan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("count/min/max aggregates push into the reader (round 13)") {
    val df = SparkEntry.queries("ppdb_audit_v2")(spark, "")
    val scans = batchScans(df)
    assert(scans.nonEmpty, "expected a BatchScanExec")
    val scan = scans.head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan]
    val agg = scan.pushedAggForTest
    assert(agg.isDefined, "the audit aggregation must reach the reader")
    assert(agg.get.aggregateExpressions.length === 4,
      s"all four aggregates push: ${agg.get.aggregateExpressions.mkString(",")}")
    // the scan's output is the 4-column partial-aggregate row, not rules
    assert(scans.head.scan.readSchema().fields.length === 4)
    // parity with the unpushed projection-form parse
    val got = df.collect().head
    val proj = Ppdb.parse(spark, s"${Ppdb.MultiFixtureDir}/*.txt.gz")
      .agg(count(lit(1)), count(col("ppdb2score")),
        round(min(col("ppdb2score")), 2), round(max(col("ppdb2score")), 2))
      .collect().head
    assert(got.toSeq === proj.toSeq)
  }

  test("pushed filters compose with pushed aggregates (score-pruned audit)") {
    val df = spark.read.format("ppdb").load(s"${Ppdb.MultiFixtureDir}/*.txt.gz")
      .filter(col("ppdb2score") >= 4.0)
      .agg(count(lit(1)).as("n"), round(min(col("ppdb2score")), 2).as("mn"))
    val scan = batchScans(df).head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan]
    assert(scan.pushedForTest.nonEmpty, "the threshold must stay pushed")
    assert(scan.pushedAggForTest.isDefined, "the aggregation must also push")
    val got = df.collect().head
    val twin = Ppdb.parse(spark, s"${Ppdb.MultiFixtureDir}/*.txt.gz")
      .filter(col("ppdb2score") >= 4.0)
      .agg(count(lit(1)), round(min(col("ppdb2score")), 2))
      .collect().head
    assert(got.toSeq === twin.toSeq)
  }

  test("grouped or unsupported aggregates do NOT push and stay correct") {
    // group-by and avg are outside the pushable set — the source must
    // decline and the ordinary row path must take over
    val df = spark.read.format("ppdb").load(s"${Ppdb.MultiFixtureDir}/*.txt.gz")
      .groupBy("entailment").agg(avg(col("ppdb2score")).as("a"))
    val scan = batchScans(df).head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan]
    assert(scan.pushedAggForTest.isEmpty)
    assert(df.collect().nonEmpty)
  }

  test("scanScore takes the LAST duplicate score token, like the tokenizer (ADVICE r12)") {
    // a line carrying two PPDB2.0Score tokens: the materialized column is
    // last-wins, so a pushed threshold passing on the FIRST value would
    // surface rows violating the user's WHERE — the fixed scanScore must
    // agree with the full tokenizer on both filter and aggregate paths
    val dir = SparkSpec.tempDir("ppdbv2dup")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/dup.txt"),
      ("[X] ||| a ||| b ||| PPDB2.0Score=9.0 p=1 PPDB2.0Score=1.5 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| c ||| d ||| PPDB2.0Score=5.0 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| e ||| f ||| xPPDB2.0Score=7.0 PPDB2.0Score=2.0 ||| 0-0 ||| Equivalence\n")
        .getBytes("UTF-8"))
    val src = spark.read.format("ppdb").load(s"$dir/dup.txt")
    // materialized truth: a→1.5 (last wins), c→5.0, e→2.0 (boundary-aligned only)
    val mat = src.select("phrase", "ppdb2score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mat === Map("a" -> 1.5, "c" -> 5.0, "e" -> 2.0))
    // pushed threshold must agree with the materialized column
    val pushedRows = src.filter(col("ppdb2score") >= 3.0).select("phrase").collect()
      .map(_.getString(0)).toSeq
    assert(pushedRows === Seq("c"))
    // pushed aggregate must agree too
    val agg = src.agg(round(max(col("ppdb2score")), 2)).collect().head.getDouble(0)
    assert(agg === 5.0)
  }

  test("a NaN score passes pushed thresholds and aggregates as Spark orders it") {
    // Spark orders NaN above every double and counts it as a value, so the
    // pushed filter and the pushed count/min/max must give what the same
    // queries give over the unpushed parse
    val dir = SparkSpec.tempDir("ppdbv2nan")
    val path = s"$dir/nan.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("[X] ||| a ||| b ||| PPDB2.0Score=NaN ||| 0-0 ||| Equivalence\n" +
        "[X] ||| c ||| d ||| PPDB2.0Score=4.5 ||| 0-0 ||| Equivalence\n")
        .getBytes("UTF-8"))
    val v2 = spark.read.format("ppdb").load(path)
    val parsed = Ppdb.parse(spark, path)
    def phrases(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.filter(c).select("phrase").collect().map(_.getString(0)).sorted.toSeq
    for (c <- Seq(col("ppdb2score") >= 3.5, col("ppdb2score") > 4.5,
        col("ppdb2score") < 5.0, col("ppdb2score") <= 4.5))
      assert(phrases(v2, c) === phrases(parsed, c), c.toString)
    assert(phrases(v2, col("ppdb2score") >= 3.5) === Seq("a", "c"))
    def audit(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), count(col("ppdb2score")), min(col("ppdb2score")),
        max(col("ppdb2score"))).collect().head.toSeq.map(_.toString)
    val pushedAgg = v2.agg(count(lit(1)), count(col("ppdb2score")), min(col("ppdb2score")),
      max(col("ppdb2score")))
    assert(batchScans(pushedAgg).head.scan.asInstanceOf[graft.sources.ppdb.PpdbScan]
      .pushedAggForTest.isDefined, "the audit must push into the reader")
    assert(audit(v2) === audit(parsed))
    assert(audit(v2) === Seq("2", "2", "4.5", "NaN"))
  }

  test("the score column matches the features map, with or without the map") {
    // the score comes from the single token scan whether or not `features`
    // is read; it must parse as the map's tokenizer does: last token wins,
    // a literal NaN stays NaN, an unparseable value is null
    val dir = SparkSpec.tempDir("ppdbv2score")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/score.txt"),
      ("[X] ||| a ||| b ||| PPDB2.0Score=9.0 p=1 PPDB2.0Score=1.5 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| c ||| d ||| PPDB2.0Score=NaN ||| 0-0 ||| Equivalence\n" +
        "[X] ||| e ||| f ||| PPDB2.0Score=abc p=2 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| g ||| h ||| p=3 ||| 0-0 ||| Equivalence\n" +
        "[X] ||| i ||| j ||| p=4 PPDB2.0Score=-2e-1 ||| 0-0 ||| Equivalence\n")
        .getBytes("UTF-8"))
    def scores(cols: String*): Map[String, Option[Double]] =
      spark.read.format("ppdb").load(s"$dir/score.txt").select(cols.map(col): _*).collect()
        .map(r => r.getString(0) -> Option(r.get(cols.length - 1)).map(_.asInstanceOf[Double]))
        .toMap
    val pruned = scores("phrase", "ppdb2score")
    // line a repeats the score key: the map keeps its last value under
    // LAST_WIN (the default map-key policy fails on it, as str_to_map does)
    val full = withConf("spark.sql.mapKeyDedupPolicy" -> "LAST_WIN") {
      scores("phrase", "features", "ppdb2score")
    }
    assert(pruned("a") === Some(1.5) && pruned("e").isEmpty && pruned("g").isEmpty)
    assert(pruned("c").exists(_.isNaN) && full("c").exists(_.isNaN))
    assert(pruned.removed("c") === full.removed("c"))
    // and on the multi-file fixture, row for row
    val df = spark.read.format("ppdb").load(s"${Ppdb.MultiFixtureDir}/*.txt.gz")
    val a = df.select("phrase", "paraphrase", "ppdb2score").collect().toSeq
    val withMap = df.select("phrase", "paraphrase", "features", "ppdb2score").collect().toSeq
    val b = withMap.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(3)))
    assert(a.nonEmpty && a === b)
    withMap.foreach { r =>
      assert(Option(r.getMap[String, Any](2)).flatMap(_.get("PPDB2.0Score")) ===
        Option(r.get(3)), r)
    }
  }

  test("format(\"ppdb\") and parse return the same bytes in every text field") {
    // hex() of a string column is its UTF-8 bytes: an invalid byte must
    // pass through both parsers as-is, and both must end lines at LF, CR
    // and CRLF alike
    val dir = SparkSpec.tempDir("ppdbv2bytes")
    val invalid = s"$dir/invalid.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(invalid),
      "[X] ||| a".getBytes("UTF-8") ++ Array(0xff.toByte) ++
        (" b ||| c ||| PPDB2.0Score=1.5 ||| 0-0 ||| Equivalence\n" +
          "[X] ||| d ||| e ||| PPDB2.0Score=2.5 ||| 0-0 ||| Equivalence\n").getBytes("UTF-8"))
    val endings = s"$dir/endings.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(endings),
      ("[X] ||| c ||| d ||| PPDB2.0Score=2.0 ||| 0-0 ||| Equivalence\r\n" +
        "[Y] ||| e ||| f ||| p=1 ||| 0-0 ||| Independent\r" +
        "[Z] ||| g ||| h ||| PPDB2.0Score=3.0 ||| 1-1 ||| ReverseEntailment\n")
        .getBytes("UTF-8"))
    val text = Seq("lhs", "phrase", "paraphrase", "entailment")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(text.map(c => hex(col(c))) :+ col("ppdb2score"): _*)
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    Seq(invalid -> 2, endings -> 3).foreach { case (f, n) =>
      val got = rows(spark.read.format("ppdb").load(f))
      assert(got.length === n, f)
      assert(got === rows(Ppdb.parse(spark, f)), f)
    }
    assert(spark.read.format("ppdb").load(endings).select("phrase").collect()
      .map(_.getString(0)).toSeq === Seq("c", "e", "g"))
    assert(rows(spark.read.format("ppdb").load(invalid)).head.startsWith("5B585D|61FF2062|"))
  }

  test("reader rows that outlive their row are copies") {
    // the line reader refills one buffer for every line, so a field kept
    // without a copy would read a later line's bytes
    val glob = s"${Ppdb.MultiFixtureDir}/*.txt.gz"
    def lists(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val r = df.agg(sort_array(collect_list(col("phrase"))),
        sort_array(collect_list(col("entailment")))).collect().head
      Seq(r.getSeq[String](0), r.getSeq[String](1))
    }
    val expected = lists(Ppdb.parse(spark, glob))
    assert(expected.head.length === 12)
    assert(lists(spark.read.format("ppdb").load(glob)) === expected)
    // Spark copies each row before it asks for the next, so hold the
    // reader's own rows too, every one kept until the files are read
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val schema = StructType(Seq(StructField("phrase", StringType),
      StructField("entailment", StringType)))
    val files = new java.io.File(Ppdb.MultiFixtureDir).listFiles
      .map(_.getPath).filter(_.endsWith(".txt.gz")).toSeq
    val held = files.flatMap { f =>
      val r = new graft.sources.ppdb.PpdbPartitionReader(f, schema, Array.empty, conf)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get()).toList
      finally r.close()
    }
    assert(Seq(0, 1).map(i => held.map(_.getUTF8String(i).toString).sorted) === expected)
  }

  test("malformed lines null-fill missing fields instead of erroring") {
    val dir = SparkSpec.tempDir("ppdbv2")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.txt"),
      "[X] ||| lonely ||| alone\n".getBytes("UTF-8"))
    val r = spark.read.format("ppdb").load(s"$dir/bad.txt").collect().head
    assert(r.getString(1) === "lonely" && r.getString(2) === "alone")
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
  }
}

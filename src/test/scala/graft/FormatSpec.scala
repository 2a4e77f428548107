package graft

import org.apache.spark.sql.functions._

/** Format surface beyond parquet (SURVEY.md §2.1): ORC source/sink
  * roundtrip with pushdown, and CSV/JSON writers re-read by the engine's
  * own readers (spec-gated — DuckDB reads none of the intermediates, so
  * these carry no oracle keys).
  */
class FormatSpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)

  test("ORC roundtrip preserves rows and pushes filters at the scan") {
    val out = SparkSpec.tempDir("orc")
    val src = spark.read.parquet(s"$d/orders.parquet")
    src.write.orc(s"$out/orders_orc")
    val back = spark.read.orc(s"$out/orders_orc")
    assert(back.count() === src.count())
    val filtered = back.filter(col("o_totalprice") > 100000)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_totalprice"),
      s"ORC scan should push the predicate:\n$scan")
    assert(filtered.count() ===
      src.filter(col("o_totalprice") > 100000).count())
  }

  test("scan_orc fixture: ORC directory is row-identical to its parquet oracle twin") {
    // the DuckDB oracle reads the parquet TWIN (DuckDB has no ORC reader);
    // this identity closes the triangle: ORC ≡ twin (here, in Spark) and
    // twin ≡ oracle result (driver hash gate) ⇒ the ORC read path is pinned
    val orc = spark.read.orc(graft.sources.FileSources.OrcPath)
      .orderBy("id").collect().toSeq
    val twin = spark.read.parquet(graft.sources.FileSources.OrcTwinPath)
      .orderBy("id").collect().toSeq
    assert(orc == twin && orc.size == 100)
  }

  test("scan_xml fixture: XML directory is row-identical to its parquet oracle twin") {
    // same triangle as scan_orc: DuckDB has no XML reader, so the oracle
    // reads the parquet twin; XML ≡ twin here (in Spark) + twin ≡ oracle
    // (driver hash gate) pins the XML read path — including entity
    // UNescaping (fixture titles carry & and <)
    val xml = spark.read.schema(graft.sources.FileSources.xmlSchema)
      .option("rowTag", "doc").format("xml")
      .load(graft.sources.FileSources.XmlPath)
      .orderBy("id").collect().toSeq
    val twin = spark.read.parquet(graft.sources.FileSources.XmlTwinPath)
      .orderBy("id").collect().toSeq
    assert(xml == twin && xml.size == 100)
    assert(xml.head.getString(4) == "feed 0 <en> & more",
      "XML entity escaping must round-trip")
  }

  test("compact_files: fragment and compacted file counts match the declared splitters") {
    val df = SparkEntry.queries("compact_files")(spark, d)
    val r = df.collect().head
    val n = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") < 2000).count()
    assert(r.getLong(0) === (n + 15) / 16, "n_files_before = ceil(n/16)")
    assert(r.getLong(1) === (n + 199) / 200, "n_files_after = ceil(n/200)")
    assert(r.getLong(2) === n, "compacted copy must preserve every row")
  }

  test("compact_files writes multi-task bucketed layouts, not a coalesce(1) funnel (round 12)") {
    // synthetic 2000-doc corpus so the bucket-by-512 layout actually fans
    // out (TestTables' corpus is smaller than one bucket)
    import spark.implicits._
    val big = SparkSpec.tempDir("compact-big")
    (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de", 10L + i % 7))
      .toDF("doc_id", "lang", "n_chars")
      .write.parquet(s"$big/documents.parquet")
    // AQE rightly coalesces a KB-scale shuffle to one partition; disable
    // coalescing here so the assertion sees the at-scale task layout
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(coalesceKey, "true")
    val r = try {
      spark.conf.set(coalesceKey, "false")
      SparkEntry.queries("compact_files")(spark, big).collect().head
    } finally spark.conf.set(coalesceKey, old)
    assert(r.getLong(0) === 125, "n_files_before = ceil(2000/16)")
    assert(r.getLong(1) === 10, "n_files_after = ceil(2000/200)")
    assert(r.getLong(2) === 2000)
    val (frag, comp) = graft.sources.FileSources.lastCompactDirs.get()
    def bucketDirs(root: String): Seq[java.io.File] =
      new java.io.File(root).listFiles().filter(f => f.isDirectory && f.getName.startsWith("bkt=")).toSeq
    val fragDirs = bucketDirs(frag)
    assert(fragDirs.map(_.getName).sorted === Seq("bkt=0", "bkt=1", "bkt=2", "bkt=3"),
      "fragment stage must bucket by doc_id range (4 buckets of <=512)")
    // full buckets split into exactly 512/16 = 32 files; remainder ceil(464/16) = 29
    val perDir = fragDirs.map(dd => dd.getName -> dd.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(perDir("bkt=0") === 32 && perDir("bkt=1") === 32 && perDir("bkt=2") === 32
      && perDir("bkt=3") === 29, s"per-bucket fragment file counts: $perDir")
    // >1 distinct writer task across the layout = the write did NOT funnel
    // through one task (part file names carry the task's split index)
    val splits = fragDirs.flatMap(_.listFiles()).map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.split("-")(1)).distinct
    assert(splits.length > 1, s"expected multiple writer tasks, saw split ids: $splits")
    assert(bucketDirs(comp).map(_.getName).sorted === Seq("bkt=0", "bkt=1"),
      "compaction stage must bucket by doc_id range (2 buckets of <=1000)")
  }

  test("scan_binaryfile: pathGlobFilter selects a subset without listing-side surprises") {
    // the selection mechanism a 100 TB blob-store ingest leans on: the
    // glob prunes at FILE-LISTING time, before any content I/O
    val pngs = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(graft.sources.FileSources.RawFilesPath)
    assert(pngs.count() === 2)
    val all = SparkEntry.queries("scan_binaryfile")(spark, d).collect()
    assert(all.length === 4)
    assert(all.map(_.getString(0)).toSeq ===
      Seq("data.bin", "img_a.png", "img_b.png", "notes.txt"))
  }

  test("CSV writer roundtrips through the engine's CSV reader including nulls") {
    val out = SparkSpec.tempDir("csvw")
    val src = graft.sources.FileSources.readCsv(spark)
    src.write.option("header", "true").option("escape", "\"").csv(s"$out/w")
    val back = spark.read
      .schema(graft.sources.FileSources.csvSchema)
      .option("header", "true").option("escape", "\"")
      .csv(s"$out/w")
    assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
  }

  test("JSON writer roundtrips nested structs and null fields") {
    val out = SparkSpec.tempDir("jsonw")
    val src = graft.sources.FileSources.readJsonl(spark)
    src.write.json(s"$out/w")
    val back = spark.read.schema(graft.sources.FileSources.jsonlSchema).json(s"$out/w")
    assert(back.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
  }
}

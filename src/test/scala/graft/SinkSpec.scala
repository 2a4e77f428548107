package graft

import org.apache.spark.sql.functions._

/** Sink surface (SURVEY.md §2.1): partitioned parquet writes with partition
  * pruning on read-back, and bucketed tables whose co-bucketed join plans
  * without an Exchange — the two layout decisions that matter most at
  * 100 TB (prune what you don't read; don't shuffle what's pre-shuffled).
  */
class SinkSpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)

  test("partitionBy write + read-back prunes partitions at the scan") {
    val out = SparkSpec.tempDir("psink")
    spark.read.parquet(s"$d/documents.parquet")
      .write.partitionBy("lang").mode("overwrite").parquet(s"$out/docs")

    val back = spark.read.parquet(s"$out/docs").filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan should carry partition filters")
    assert(plan.contains("lang"), "lang must appear as a partition filter")
    // pruned scan still returns exactly the partition's rows
    val expected = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("lang") === "en").count()
    assert(back.count() === expected)
  }

  test("sink_partitioned writes one file per lang directory and round-trips the aggregate") {
    val got = SparkEntry.queries("sink_partitioned")(spark, d).collect().toSeq
    val want = spark.read.parquet(s"$d/documents.parquet")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang").collect().toSeq
    assert(got == want && got.nonEmpty)
    // the pre-write repartition(col(lang)) routes each partition to ONE
    // task → exactly one file under each lang=XX/ directory
    val outRoot = new java.io.File(graft.sources.FileSources.sinkDirFor(d))
    val langDirs = outRoot.listFiles().filter(f => f.isDirectory && f.getName.startsWith("lang="))
    assert(langDirs.nonEmpty)
    langDirs.foreach { dir =>
      val pq = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(pq.length == 1, s"${dir.getName}: expected 1 file, got ${pq.length}")
    }
  }

  test("repartitionByRange write produces key-disjoint files (min/max skipping layout)") {
    val out = SparkSpec.tempDir("rsink")
    spark.read.parquet(s"$d/orders.parquet")
      .repartitionByRange(4, col("o_orderkey"))
      .write.parquet(s"$out/orders_ranged")
    // each output file owns a disjoint o_orderkey range, so a point/range
    // predicate skips whole files via parquet min/max stats at 100 TB
    val files = new java.io.File(s"$out/orders_ranged").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping file ranges: ${ranges.toSeq}")
      case _ =>
    }
  }

  test("ANALYZE TABLE feeds row/size statistics to the cost-based optimizer") {
    spark.sql("DROP TABLE IF EXISTS stats_docs")
    spark.read.parquet(s"$d/documents.parquet").write.saveAsTable("stats_docs")
    try {
      spark.sql("ANALYZE TABLE stats_docs COMPUTE STATISTICS FOR ALL COLUMNS")
      val cat = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("stats_docs"))
      val stats = cat.stats.get
      assert(stats.rowCount.get.toLong ===
        spark.read.parquet(s"$d/documents.parquet").count())
      assert(stats.sizeInBytes > 0)
      // column-level stats (distinct counts, null counts) drive join
      // reordering and broadcast decisions at scale
      assert(stats.colStats.get("doc_id").exists(_.distinctCount.isDefined))
    } finally spark.sql("DROP TABLE IF EXISTS stats_docs")
  }

  test("co-bucketed tables join without an Exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_embs")
    spark.read.parquet(s"$d/documents.parquet")
      .write.bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    spark.read.parquet(s"$d/embeddings.parquet")
      .withColumnRenamed("vec_id", "doc_id")
      .write.bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("b_embs")
    // broadcast would win on a test-sized table (and disables bucketed
    // scans); turn it off to exercise the layout that matters at scale,
    // where neither side fits in an executor
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_docs").join(spark.table("b_embs"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
      assert(!plan.contains("Exchange"), s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_embs")
    }
  }
}

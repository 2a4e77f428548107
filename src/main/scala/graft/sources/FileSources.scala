package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Non-parquet file sources (SURVEY.md §2.1 widening, round 2): header CSV
  * with quoting/escapes and null fields, and newline-delimited JSON with a
  * nested struct and absent fields.
  *
  * Both readers take an EXPLICIT schema: at 100 TB schema inference is a
  * full extra pass over the data (Spark samples, but still opens every
  * file), and inferred types can drift between runs — a production pipeline
  * pins the schema. The fixture lives in the repo (FIXTURES.md) so the
  * driver's DuckDB oracle reads the identical bytes.
  */
object FileSources {

  val CsvPath = "/root/repo/fixtures/sample_orders.csv"
  val JsonlPath = "/root/repo/fixtures/sample_events.jsonl"
  val DocsPartPath = "/root/repo/fixtures/docs_part"
  val LangDimPath = "/root/repo/fixtures/lang_dim.parquet"
  val OrcPath = "/root/repo/fixtures/docs_orc"
  val OrcTwinPath = "/root/repo/fixtures/docs_orc_twin.parquet"
  val XmlPath = "/root/repo/fixtures/docs_xml"
  val XmlTwinPath = "/root/repo/fixtures/docs_xml_twin.parquet"
  val RawFilesPath = "/root/repo/fixtures/raw_files"

  val csvSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", DoubleType),
    StructField("d", DateType)))

  val jsonlSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("kind", StringType),
    StructField("score", DoubleType),
    StructField("meta", StructType(Seq(StructField("k", LongType))))))

  /** RFC-4180-style CSV: header, `"`-quoting, `""` escape, empty → null. */
  def readCsv(spark: SparkSession, path: String = CsvPath): DataFrame =
    spark.read
      .schema(csvSchema)
      .option("header", "true")
      .option("escape", "\"") // RFC 4180 doubled-quote escape (Spark defaults to backslash)
      .csv(path)

  /** JSON Lines with a nested struct; absent fields → null. */
  def readJsonl(spark: SparkSession, path: String = JsonlPath): DataFrame =
    spark.read.schema(jsonlSchema).json(path)

  val xmlSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("score", DoubleType),
    StructField("title", StringType)))

  type Q = (SparkSession, String) => DataFrame

  /** `sink_partitioned`'s output directory for `sfDir`, under
    * [[graft.util.ScratchDirs.root]].
    */
  private[graft] def sinkDirFor(sfDir: String): String =
    new java.io.File(graft.util.ScratchDirs.root,
      s"docs_by_lang_${graft.util.ScratchDirs.tag(sfDir)}").getAbsolutePath

  /** Scratch dirs of the most recent compact_files construction — test-only
    * visibility (FormatSpec inspects the physical layout the write left).
    */
  private[graft] val lastCompactDirs =
    new java.util.concurrent.atomic.AtomicReference[(String, String)](null)

  val queries: Map[String, Q] = Map(
    // d emitted as midnight timestamp: the comparator canonicalizes
    // timestamps across engines but not DATE objects
    "scan_csv" -> ((s, _) =>
      readCsv(s)
        .withColumn("d", col("d").cast("timestamp"))
        .orderBy("id")),
    "scan_jsonl" -> ((s, _) =>
      readJsonl(s)
        .select(col("id"), col("kind"), col("score"), col("meta.k").as("meta_k"))
        .orderBy("id")),

    // ORC — the second columnar format Spark ships a vectorized reader for
    // (a warehouse migrating from Hive arrives with ORC data; the engine
    // must read it in place, pushdown and pruning included — FormatSpec
    // asserts the ORC scan pushes its filter like the parquet scans do).
    // DuckDB has no ORC reader, so the oracle reads the committed parquet
    // TWIN written from the same frame (tools.GenOrcFixture); FormatSpec
    // pins ORC ≡ twin row-identity in Spark, closing the triangle.
    "scan_orc" -> ((s, _) =>
      s.read.orc(OrcPath)
        .filter(col("score") >= 0.25)
        .select(col("id"), col("lang"), col("n_chars"), col("score"), col("title"))
        .orderBy("id")),

    // XML — Spark 4's built-in XML data source (SPARK-44265): the format a
    // feed-ingest pipeline meets when an upstream exports <doc>…</doc>
    // records; the fixture's titles carry &/< so entity UNescaping is on
    // the tested path. Explicit schema (inference is an extra full pass —
    // same rationale as csv/jsonl above). DuckDB has no XML reader, so the
    // oracle reads the committed parquet TWIN written from the same frame
    // (tools.GenXmlFixture); FormatSpec pins XML ≡ twin row-identity in
    // Spark, closing the scan_orc triangle for a third format.
    "scan_xml" -> ((s, _) =>
      s.read.schema(xmlSchema).option("rowTag", "doc").format("xml").load(XmlPath)
        .filter(col("score") <= 0.7)
        .select(col("id"), col("lang"), col("n_chars"), col("score"), col("title"))
        .orderBy("id")),

    // Raw-blob ingest — spark.read.format("binaryFile"): where a
    // multimodal pipeline STARTS (media as files on object storage, not
    // yet in a table); each file becomes one row (path, modificationTime,
    // length, content), with pathGlobFilter/recursiveFileLookup for
    // selection at scale. The result is content-addressed (name, length,
    // md5 of the bytes) — modificationTime is checkout-dependent and never
    // enters. DuckDB reads the SAME committed directory via read_blob, so
    // the oracle gates the actual bytes ingested, not a twin.
    "scan_binaryfile" -> ((s, _) =>
      s.read.format("binaryFile").load(RawFilesPath)
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length").as("byte_len"),
          // full hex of the payload: an exact byte-for-byte witness both
          // engines spell identically (DuckDB 1.0's md5 is VARCHAR-only)
          hex(col("content")).as("content_hex"))
        .orderBy("file_name")),

    // Small-file COMPACTION — the lakehouse maintenance op every streaming
    // or per-partition-append pipeline eventually needs: a landing zone of
    // many tiny files (here ceil(n/16) files, written by this query so the
    // fragmentation is real and sf-proportional) is rewritten into
    // ceil(n/200) right-sized files, and the result reports both file
    // counts (from read-back `_metadata.file_path` — the scan_metadata
    // lineage mechanism, so the counts measure what is actually on disk)
    // plus content aggregates over the COMPACTED copy, gating the full
    // fragment→compact→read round trip.
    //
    // MULTI-TASK writes (round 12, retiring the coalesce(1) `weak`): each
    // stage buckets rows by a contiguous doc_id range (512 rows per
    // fragment bucket, 1000 per compaction bucket), shuffles ON the bucket
    // column so every hive directory is written by exactly one task, and
    // lets maxRecordsPerFile split inside each directory — the exact shape
    // a 100 TB compactor uses (bucket ≈ bytes/256 MB, same splitter). File
    // counts stay deterministic AND the ceil-formula oracle is UNCHANGED:
    // with bucket sizes divisible by the per-file caps (512 % 16 == 0,
    // 1000 % 200 == 0), sum-over-buckets(ceil(rows_b/k)) ≡ ceil(n/k) for
    // contiguous ids — full buckets contribute exactly B/k files and only
    // the remainder bucket rounds up. `file_path` (not file_name) is the
    // distinct key because dynamic-partition writers reuse part-file names
    // across directories. The doc_id < 2000 block is DECLARED semantics
    // (the dedup_jaccard pattern): it bounds the fragment-CREATION cost the
    // query pays to stage its own input; real deployments compact one
    // partition at a time, which is exactly a bounded slice.
    "compact_files" -> ((s, d) => {
      // per-invocation dirs, ≤ 2 kept per stage (ScratchDirs.fresh)
      val tag = graft.util.ScratchDirs.tag(d)
      val frag = graft.util.ScratchDirs.fresh(s"compact_frag_$tag")
      val comp = graft.util.ScratchDirs.fresh(s"compact_comp_$tag")
      lastCompactDirs.set((frag, comp))
      val src = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      src.withColumn("bkt", floor(col("doc_id") / 512))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .option("maxRecordsPerFile", 16).parquet(frag)
      val fragSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType), StructField("bkt", LongType)))
      val fragBack = s.read.schema(fragSchema).parquet(frag)
      fragBack
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("bkt", floor(col("doc_id") / 1000))
        .repartition(col("bkt"))
        .write.mode("overwrite").partitionBy("bkt")
        .option("maxRecordsPerFile", 200).parquet(comp)
      val nFrag = s.read.schema(fragSchema).parquet(frag)
        .select(col("_metadata.file_path").as("f"))
        .agg(count_distinct(col("f")).as("n"))
      val compBack = s.read.schema(fragSchema).parquet(comp)
      compBack
        .select(col("_metadata.file_path").as("f"), col("doc_id"), col("n_chars"))
        .agg(count_distinct(col("f")).as("n_files_after"),
          count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .join(nFrag.select(col("n").as("n_files_before")))
        .select(col("n_files_before"), col("n_files_after"), col("n_rows"),
          col("sum_chars"), col("min_id"), col("max_id"))
    }),

    // Partitioned SINK — the write half of the format surface: the corpus
    // is written as a lang=XX/ hive layout (the layout every downstream
    // `scan_partitioned` consumer prunes on) and the query's RESULT is the
    // read-back aggregate of the files just written, so the oracle (the
    // same aggregate computed from the SOURCE table) gates a full
    // write→read round trip, not just a write that didn't throw. Each call
    // rewrites (mode overwrite, under ScratchDirs.root) — the write is the
    // operator under test, so bench reps honestly pay it. At 100 TB:
    // partitionBy on a bounded-cardinality column (language), shuffled by
    // partition key first so each task writes one directory (one file per
    // partition here; maxRecordsPerFile splits further at real scale).
    "sink_partitioned" -> ((s, d) => {
      val out = sinkDirFor(d)
      val src = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      src.repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      // explicit schema: a zero-row corpus writes an empty directory, and
      // schema inference on it would throw rather than yield 0 rows
      val backSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("n_chars", LongType),
        StructField("lang", StringType)))
      s.read.schema(backSchema).parquet(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),

    // Hive-partitioned directory layout (lang=XX/…): the partition column
    // comes from the PATH, not the file, and a filter on it prunes whole
    // directories before any I/O (PartitionFilters — asserted in
    // FormatSpec). At 100 TB partition pruning is the first and cheapest
    // form of data skipping.
    "scan_partitioned" -> ((s, _) =>
      s.read
        .option("basePath", DocsPartPath)
        .parquet(DocsPartPath)
        .filter(col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "source")),

    // DYNAMIC partition pruning: the filter lives on the dim's NON-join
    // column (family), so no static predicate can reach the fact's `lang`
    // partitions — the optimizer must inject a runtime subquery filter
    // (`dynamicpruningexpression` in PartitionFilters, asserted in
    // Round5Spec), and only the partitions whose langs survive the dim
    // filter are ever listed or read. The second and cheapest form of data
    // skipping after static pruning at 100 TB: star-join fact scans read
    // only dim-selected partitions.
    "scan_partitioned_dpp" -> ((s, _) => {
      val dim = s.read.parquet(LangDimPath).filter(col("family") === "germanic")
      s.read
        .option("basePath", DocsPartPath)
        .parquet(DocsPartPath)
        .join(dim, Seq("lang"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "source")
    })
  )

  val oracle: Map[String, String] = Map(
    "scan_csv" ->
      s"""SELECT id, name, amount, CAST(d AS TIMESTAMP) AS d
         |FROM read_csv('$CsvPath', header=true,
         |  columns={'id':'BIGINT','name':'VARCHAR','amount':'DOUBLE','d':'DATE'})
         |ORDER BY id""".stripMargin,
    "scan_jsonl" ->
      s"""SELECT id, kind, score, meta.k AS meta_k
         |FROM read_json('$JsonlPath', format='newline_delimited',
         |  columns={'id':'BIGINT','kind':'VARCHAR','score':'DOUBLE','meta':'STRUCT(k BIGINT)'})
         |ORDER BY id""".stripMargin,
    "scan_orc" ->
      s"""SELECT id, lang, n_chars, score, title
         |FROM read_parquet('$OrcTwinPath/*.parquet')
         |WHERE score >= 0.25
         |ORDER BY id""".stripMargin,
    "scan_xml" ->
      s"""SELECT id, lang, n_chars, score, title
         |FROM read_parquet('$XmlTwinPath/*.parquet')
         |WHERE score <= 0.7
         |ORDER BY id""".stripMargin,
    "scan_binaryfile" ->
      s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
         |       CAST(size AS BIGINT) AS byte_len,
         |       hex(content) AS content_hex
         |FROM read_blob('$RawFilesPath/*')
         |ORDER BY file_name""".stripMargin,
    // file counts are deterministic functions of the row count (see the
    // query comment): frag = one task split every 16 records, compacted =
    // one task split every 200
    "compact_files" ->
      """SELECT CAST(ceil(count(*) / 16.0) AS BIGINT) AS n_files_before,
        |       CAST(ceil(count(*) / 200.0) AS BIGINT) AS n_files_after,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id < 2000""".stripMargin,
    "sink_partitioned" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "scan_partitioned" ->
      s"""SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM read_parquet('$DocsPartPath/*/*.parquet', hive_partitioning=true)
         |WHERE lang IN ('en', 'de')
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "scan_partitioned_dpp" ->
      s"""SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         |FROM read_parquet('$DocsPartPath/*/*.parquet', hive_partitioning=true) d
         |JOIN read_parquet('$LangDimPath') l ON d.lang = l.lang
         |WHERE l.family = 'germanic'
         |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin
  )
}

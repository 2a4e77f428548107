package graft.ppdb

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{PpdbScoreToken, PpdbSplitLine}
import graft.sources.ppdb.PpdbDataSource

/** Spark-native parser for the public PPDB release format — the reference's
  * (mauryquijada/ppdb-parser) core capability, re-expressed as a declarative
  * DataFrame pipeline instead of a line-at-a-time loop.
  *
  * Format (Ganitkevitch, Van Durme, Callison-Burch, "PPDB: The Paraphrase
  * Database", NAACL-HLT 2013; Pavlick et al., ACL 2015 for PPDB 2.0):
  * gzipped flat text, one rule per line, ` ||| `-delimited:
  * {{{
  *   LHS ||| phrase ||| paraphrase ||| key=value ... ||| i-j i-j ... ||| EntailmentLabel
  * }}}
  *
  * Scale design (100 TB): gzip is a NON-SPLITTABLE codec — Spark schedules
  * exactly one task per .gz file. PPDB releases ship as many files, so a
  * directory glob parallelizes per-file; after the one-pass parse the plan
  * should `repartition(n)` and persist to parquet/zstd so the gzip scan is
  * never paid twice (SURVEY.md §2.1). The split/extract below is a pure
  * Catalyst projection: whole-stage-codegen'd, no UDFs, columns prune.
  */
object Ppdb {
  val FixturePath = "/root/repo/fixtures/ppdb_sample.txt.gz"

  /** Typed record for the Dataset surface. */
  case class PpdbRule(
      lhs: String,
      phrase: String,
      paraphrase: String,
      features: Map[String, Double],
      alignment: Seq[(Int, Int)],
      entailment: String)

  /** Raw 6-field parse plus the PPDB2.0Score ranking key (ACL 2015) widened
    * to a double column — the one feature the reference ranks lookups by.
    *
    * Two byte-level codegen kernels do the per-line work:
    * [[graft.plans.PpdbSplitLine]] splits the line on ` ||| ` in one forward
    * scan, and [[graft.plans.PpdbScoreToken]] reads the score token's text
    * out of the features field without building the feature map. The
    * built-in regex `split` plus `element_at(str_to_map(...))` they replace
    * ran a regex split and a `String` round-trip for the line and again for
    * every `k=v` token. On the `ppdb_ingest` benchmark the kernels took
    * the median `cpu_s` from 5.21 s to 3.36 s (0.64×, 10 of 10 interleaved
    * A/B pairs on a 4-core host; CHANGES.md).
    * The score text is cast with Catalyst's `cast("double")`, so ANSI and
    * legacy number parsing are unchanged.
    *
    * A features field that repeats the score key takes its LAST score
    * token; `format("ppdb")` reads with the same two kernels. [[rules]]
    * and [[withFeatureColumns]] build the full map and fail with
    * `DUPLICATED_MAP_KEY` on a repeated key.
    *
    * `path` is a file, a directory or a glob, listed by the same rule as
    * `format("ppdb")` ([[lines]]).
    */
  def parse(spark: SparkSession, path: String = FixturePath): DataFrame =
    lines(spark, path).select(ruleColumns(Fields: _*): _*)

  /** The text lines of every file `path` names, listed by the `ppdb`
    * source's rule (`PpdbDataSource.listFiles`: Hadoop glob, a directory's
    * visible files, the path in the message when nothing matches). The
    * text reader gets the file list, not the glob, so it never looks for a
    * streaming sink's `_spark_metadata` under a literal glob (a logged
    * warning and stack trace per call).
    */
  private def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(PpdbDataSource.listFiles(path, spark.sessionState.newHadoopConf()): _*)

  /** The six ` ||| `-delimited fields of a PPDB rule, in line order. */
  private val Fields =
    Seq("lhs", "phrase", "paraphrase", "features_raw", "alignment", "entailment")

  /** The named fields of the text column `value`, then `ppdb2score`. */
  private def ruleColumns(names: String*): Seq[Column] = {
    val f = splitLine(col("value"))
    names.map(n => f.getItem(Fields.indexOf(n)).as(n)) :+
      scoreToken(f.getItem(Fields.indexOf("features_raw"))).cast("double").as("ppdb2score")
  }

  /** [[graft.plans.PpdbSplitLine]] as a Column: the ` ||| ` fields of a line. */
  def splitLine(line: Column): Column =
    GraftSqlShim.column(PpdbSplitLine(GraftSqlShim.expression(line)))

  /** [[graft.plans.PpdbScoreToken]] as a Column: the text of the last
    * `PPDB2.0Score=` token of a features field, or null.
    */
  def scoreToken(features: Column): Column =
    GraftSqlShim.column(PpdbScoreToken(GraftSqlShim.expression(features)))

  /** Fully-typed surface: features as Map[String,Double], alignment as
    * (src,tgt) int pairs. `Dataset[PpdbRule]` for callers that want
    * compile-time schemas; the DataFrame from [[parse]] for SQL.
    */
  def rules(spark: SparkSession, path: String = FixturePath): Dataset[PpdbRule] = {
    import spark.implicits._
    parse(spark, path)
      .select(
        col("lhs"),
        col("phrase"),
        col("paraphrase"),
        transform_values(
          str_to_map(col("features_raw"), lit(" "), lit("=")),
          (_, v) => v.cast("double")).as("features"),
        transform(
          split(col("alignment"), " "),
          p =>
            struct(
              split(p, "-").getItem(0).cast("int").as("_1"),
              split(p, "-").getItem(1).cast("int").as("_2"))).as("alignment"),
        col("entailment"))
      .as[PpdbRule]
  }

  /** Widen chosen feature keys from the dynamic map into typed double
    * columns (the "hot scoring keys" layout from SURVEY.md §1.1): map access
    * per row is fine for ad-hoc queries, but a scoring pipeline that touches
    * the same keys everywhere wants real columns — they prune, push down,
    * and store column statistics in parquet. Column name = key with
    * non-alphanumerics underscored (`p(e|f)` → `p_e_f_`).
    */
  def withFeatureColumns(df: DataFrame, keys: Seq[String]): DataFrame = {
    val m = str_to_map(col("features_raw"), lit(" "), lit("="))
    keys.foldLeft(df) { (acc, k) =>
      acc.withColumn(k.replaceAll("[^A-Za-z0-9]", "_"), element_at(m, k).cast("double"))
    }
  }

  /** DuckDB twin of [[parse]] as a CTE named `ppdb`, over any path or glob
    * (read_csv accepts globs, so the multi-file pack oracles through the
    * same CTE). A 1-byte sentinel delimiter that never occurs puts each
    * line whole in `column0`; gzip decompression is automatic.
    */
  def oracleCte(path: String): String =
    s"""WITH ppdb AS (
       |  SELECT f[1] AS lhs, f[2] AS phrase, f[3] AS paraphrase,
       |         f[4] AS features_raw, f[5] AS alignment, f[6] AS entailment,
       |         CAST(regexp_extract(f[4], 'PPDB2\\.0Score=([-+]?[0-9.]+([eE][-+]?[0-9]+)?)', 1) AS DOUBLE) AS ppdb2score
       |  FROM (SELECT string_split(column0, ' ||| ') AS f
       |        FROM read_csv('$path',
       |                      delim=e'\\x01', header=false, quote='', escape='',
       |                      columns={'column0': 'VARCHAR'}))
       |)""".stripMargin

  val OracleCte: String = oracleCte(FixturePath)

  /** 4-part .gz pack of the same rules (FIXTURES.md): gzip is unsplittable,
    * so this glob's scan parallelism = 4 — one task per part.
    */
  val MultiFixtureDir = "/root/repo/fixtures/ppdb_multi"

  /** Release-size ladder (round 11): S ⊂ M ⊂ L ⊂ XL packs, each the top-k
    * score-ranked prefix of the rule list — the shape real PPDB releases
    * ship in (score-pruned pack sizes S→XXXL).
    */
  val ReleaseDir = "/root/repo/fixtures/ppdb_release"

  /** [[parse]] plus per-file lineage: `pack` is the release-size tag cut
    * from the source FILE NAME via the `_metadata` hidden column (the
    * engine's per-file lineage surface, same mechanism as `scan_metadata`).
    * One glob scan; every pack parses in the same job, one task per .gz.
    */
  def parseWithPack(spark: SparkSession, dir: String = ReleaseDir): DataFrame =
    lines(spark, s"$dir/*.txt.gz")
      .select(
        regexp_extract(col("_metadata.file_name"), "ppdb-2\\.0-([a-z]+)\\.txt\\.gz", 1)
          .as("pack") +:
          ruleColumns("lhs", "phrase", "paraphrase", "features_raw", "entailment"): _*)

  /** DuckDB twin of [[parseWithPack]]: `filename=true` is read_csv's
    * per-file lineage column, mirroring Spark's `_metadata.file_name`.
    */
  def oracleCteWithPack(dir: String = ReleaseDir): String =
    s"""WITH ppdb AS (
       |  SELECT regexp_extract(fn, 'ppdb-2\\.0-([a-z]+)\\.txt\\.gz', 1) AS pack,
       |         f[1] AS lhs, f[2] AS phrase, f[3] AS paraphrase,
       |         f[4] AS features_raw, f[6] AS entailment,
       |         CAST(regexp_extract(f[4], 'PPDB2\\.0Score=([-+]?[0-9.]+([eE][-+]?[0-9]+)?)', 1) AS DOUBLE) AS ppdb2score
       |  FROM (SELECT string_split(column0, ' ||| ') AS f, filename AS fn
       |        FROM read_csv('$dir/*.txt.gz',
       |                      delim=e'\\x01', header=false, quote='', escape='',
       |                      filename=true,
       |                      columns={'column0': 'VARCHAR'}))
       |)""".stripMargin
}

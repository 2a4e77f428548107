package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ppdb.Ppdb

/** Source/sink for full PPDB releases — the 100 TB ingestion path
  * (SURVEY.md §2.1 scale note).
  *
  * gzip is a NON-SPLITTABLE codec: Spark schedules exactly one task per .gz
  * file, so parallelism on the raw release equals the file count (PPDB ships
  * multi-file packs — pass a directory or glob). Because that scan cannot be
  * re-partitioned at the source, the design rule is: scan the gzip ONCE,
  * parse in the same stage (codegen'd projection), then repartition by the
  * lookup key and persist to zstd parquet. Every later query hits the
  * parquet copy: splittable, column-pruned, predicate-pushed, and
  * hash-partitioned by phrase so `lookup`/self-joins co-locate without a
  * shuffle. `sortWithinPartitions(phrase)` gives parquet row-group min/max
  * stats that prune point lookups to a handful of pages.
  */
object PpdbRelease {

  /** Ingest: gzip → parse → repartition(phrase) → sorted zstd parquet. */
  def ingest(
      spark: SparkSession,
      pathOrGlob: String,
      outputPath: String,
      numPartitions: Int): Unit =
    Ppdb.parse(spark, pathOrGlob)
      .repartition(numPartitions, col("phrase"))
      .sortWithinPartitions("phrase", "paraphrase")
      .write
      .mode("overwrite")
      .option("compression", "zstd")
      .parquet(outputPath)

  /** Read the ingested, lookup-optimized copy. */
  def readIngested(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The reference's signature operation against the ingested copy:
    * paraphrases of `phrase`, best first. On the parquet layout this is a
    * pruned scan (phrase min/max row-group stats), not a full pass.
    */
  def lookup(spark: SparkSession, path: String, phrase: String): DataFrame =
    readIngested(spark, path)
      .filter(col("phrase") === phrase)
      .select(col("paraphrase"), col("ppdb2score"), col("entailment"))
      .orderBy(col("ppdb2score").desc, col("paraphrase"))
}

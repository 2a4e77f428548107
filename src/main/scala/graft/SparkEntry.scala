package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, Analytics2, Corpus, Curation, Events, Selection, Extras, Functions3, Graphs, Pipeline3, PpdbQueries, Quality, Relational, Scalars, ScaleOps, TextPipeline, TextSim, TrainPrep, Windows, WindowOps}
import graft.sources.FileSources

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is SURVEY.md §2's declared inventory: every key has a total
  * ORDER BY and (except the nine intentionally oracle-less approximate
  * operators) a DuckDB twin in `oracleSql` with identical column names.
  */
object SparkEntry {

  /** Flagship: the reference's signature capability end-to-end — parse the
    * gzipped PPDB release fixture and answer a ranked paraphrase lookup.
    * Driver smoke-checks rows > 0 (3 rows: glad, content, cheerful).
    */
  def entry(spark: SparkSession): DataFrame =
    PpdbQueries.queries("ppdb_lookup")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ PpdbQueries.queries ++ Windows.queries ++
      Scalars.queries ++ Events.queries ++ TextPipeline.queries ++
      Extras.queries ++ Analytics.queries ++ Quality.queries ++
      FileSources.queries ++ ScaleOps.queries ++ Analytics2.queries ++
      Functions3.queries ++ Pipeline3.queries ++ WindowOps.queries ++
      Graphs.queries ++ TextSim.queries ++ TrainPrep.queries ++
      Corpus.queries ++ Curation.queries ++ Selection.queries

  /** The keys named in the comma-separated `spec` (`SPARK_GRAFT_ONLY`,
    * DumpPlans' keys argument), or every key when it names none. Throws
    * IllegalArgumentException listing every name that is not a key.
    */
  def selectKeys(spec: Option[String]): Set[String] = {
    val all = queries.keySet
    val named = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = named -- all
    require(unknown.isEmpty, s"unknown query keys: ${unknown.toSeq.sorted.mkString(", ")}")
    if (named.isEmpty) all else named
  }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted on purpose for the twelve
    * approximate operators (`agg_approx_distinct`, `agg_approx_percentile`,
    * `agg_approx_topk`, `agg_hll_union`, `agg_kmv_distinct`,
    * `agg_weighted_median_approx`, `dedup_minhash`, `sim_ann_lsh`,
    * `sim_ann_ivf`, `sim_ann_pq`, `sim_ann_ivfpq`, `sim_ann_index_serve`)
    * → driver records a weaker rows-only check; each has a hash-checked
    * exact twin (SURVEY.md §2.4, §2.11, §2.12, §2.20).
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ PpdbQueries.oracle ++ Windows.oracle ++
      Scalars.oracle ++ Events.oracle ++ TextPipeline.oracle ++
      Extras.oracle ++ Analytics.oracle ++ Quality.oracle ++
      FileSources.oracle ++ ScaleOps.oracle ++ Analytics2.oracle ++
      Functions3.oracle ++ Pipeline3.oracle ++ WindowOps.oracle ++
      Graphs.oracle ++ TextSim.oracle ++ TrainPrep.oracle ++
      Corpus.oracle ++ Curation.oracle ++ Selection.oracle
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ppdb.Ppdb

/** The reference's own surface (SURVEY.md §2 rows marked REF): parse the
  * gzipped PPDB release format, key lookups, ranked lookups, plus the
  * structural queries that exercise the parsed frame (self-join chains,
  * entailment stats, feature-map access, alignment explode).
  */
object PpdbQueries {

  type Q = (SparkSession, String) => DataFrame

  // sfDir is ignored: the PPDB fixture lives at a stable absolute path so
  // both engines read the identical bytes (FIXTURES.md §2).
  val queries: Map[String, Q] = Map(
    "ppdb_parse_gz" -> ((s, _) => {
      Ppdb.parse(s).orderBy("phrase", "paraphrase")
    }),

    // Multi-file release ingest: the same parse over a 4-part .gz pack.
    // gzip is non-splittable, so the glob scan schedules one task per part —
    // "parallelism = file count" (SURVEY §2.1), proven by the Round5Spec
    // partition-count assertion. Identical rows to ppdb_parse_gz.
    "ppdb_parse_multi" -> ((s, _) => {
      Ppdb.parse(s, Ppdb.MultiFixtureDir).orderBy("phrase", "paraphrase")
    }),

    // The release format as a FIRST-CLASS source (round 11):
    // spark.read.format("ppdb") through the DataSourceV2 reader
    // (sources.ppdb.PpdbDataSource) — typed schema, column pruning pushed
    // INSIDE the parser (a phrase-only projection never tokenizes
    // features), one InputPartition per non-splittable .gz member.
    // PpdbV2Spec pins pruning, partitioning, and row parity with the
    // projection-form parse; the oracle is the same release-text CTE the
    // rest of the family uses.
    "ppdb_scan_v2" -> ((s, _) => {
      s.read.format("ppdb").load(Ppdb.FixturePath)
        .select(col("lhs"), col("phrase"), col("paraphrase"),
          col("ppdb2score"), size(col("alignment")).cast("long").as("n_align"),
          col("entailment"))
        .orderBy("phrase", "paraphrase")
    }),

    // The reference's signature lookup THROUGH the V2 source: the phrase
    // equality pushes into the reader (SupportsPushDownFilters) and
    // evaluates at the LINE level before any column materializes — the
    // point-lookup shape a release-scale deployment gets from the custom
    // seam without a parquet conversion. Same oracle as ppdb_lookup: a
    // pushed filter must not change a row.
    "ppdb_lookup_v2" -> ((s, _) => {
      s.read.format("ppdb").load(Ppdb.FixturePath)
        .filter(col("phrase") === "happy")
        .select(col("paraphrase"), col("ppdb2score"), col("entailment"))
        .orderBy(col("ppdb2score").desc, col("paraphrase"))
    }),

    // Score-pruned scan THROUGH the V2 source (round 12): the threshold on
    // ppdb2score pushes into the reader (SupportsPushDownFilters handles the
    // comparison family, not just equality) and evaluates per LINE with a
    // single-token score parse — the defining query of the S→XXXL release
    // ladder (each smaller pack = the rules above a score cut) never
    // tokenizes the feature map for sub-threshold rules. PpdbV2Spec pins
    // that the GreaterThanOrEqual actually reaches the reader AND that a
    // no-score line is dropped (SQL null-comparison semantics).
    "ppdb_scan_v2_scored" -> ((s, _) => {
      s.read.format("ppdb").load(Ppdb.FixturePath)
        .filter(col("ppdb2score") >= 4.0)
        .select(col("phrase"), col("paraphrase"), col("ppdb2score"), col("entailment"))
        .orderBy("phrase", "paraphrase")
    }),

    // Release CONVERSION (round 12): the one pipeline every release-scale
    // user runs FIRST, per SURVEY §2.1's scale rule — "parse once →
    // repartition → persist to parquet/zstd; never re-scan gzip twice" —
    // promoted from design prose to a gated operator. The multi-file .gz
    // pack parses in one glob scan (one task per non-splittable member),
    // repartitions off the file-count parallelism ceiling, persists as
    // zstd parquet, and the RESULT is the read-back aggregate of the files
    // just written plus the on-disk file count from `_metadata.file_path`
    // lineage — so the oracle (the same aggregate over the release TEXT)
    // gates the full text→parquet→read round trip, not a write that merely
    // didn't throw. repartition(2) here is the fixture-scale stand-in for
    // repartition(input_bytes / 256 MB) at release scale; 2 targets stay
    // deterministic (round-robin over 4×3-row inputs fills both slots, one
    // file each). Scratch dir is per-invocation unique (ScratchDirs.fresh).
    "ppdb_convert_release" -> ((s, _) => {
      val out = graft.util.ScratchDirs.fresh("ppdb_convert_release")
      Ppdb.parse(s, Ppdb.MultiFixtureDir + "/*.txt.gz")
        .repartition(2)
        .write.mode("overwrite").option("compression", "zstd").parquet(out)
      import org.apache.spark.sql.types._
      val backSchema = StructType(Seq(
        StructField("lhs", StringType), StructField("phrase", StringType),
        StructField("paraphrase", StringType), StructField("features_raw", StringType),
        StructField("alignment", StringType), StructField("entailment", StringType),
        StructField("ppdb2score", DoubleType)))
      s.read.schema(backSchema).parquet(out)
        .select(col("_metadata.file_path").as("fp"), col("phrase"),
          col("ppdb2score"), col("entailment"))
        .agg(
          countDistinct(col("fp")).as("n_files"),
          count(lit(1)).as("n_rules"),
          countDistinct(col("phrase")).as("n_phrases"),
          round(min(col("ppdb2score")), 2).as("min_score"),
          round(max(col("ppdb2score")), 2).as("max_score"),
          round(avg(col("ppdb2score")), 4).as("avg_score"),
          count(when(col("entailment") === "Equivalence", 1)).as("n_equiv"))
    }),

    // The reference's signature query: paraphrases of one phrase, ranked by
    // PPDB2.0Score. In engine terms: an equi-filter over the parsed frame —
    // at scale, a parquet-persisted frame partitioned by phrase makes this a
    // pruned point lookup instead of a full scan.
    "ppdb_lookup" -> ((s, _) => {
      Ppdb.parse(s)
        .filter(col("phrase") === "happy")
        .select(col("paraphrase"), col("ppdb2score"), col("entailment"))
        .orderBy(col("ppdb2score").desc, col("paraphrase"))
    }),

    // 2-hop paraphrase chains: a.paraphrase = b.phrase self-join.
    "ppdb_selfjoin_chain" -> ((s, _) => {
      val a = Ppdb.parse(s).select(col("phrase"), col("paraphrase").as("mid"))
      val b = Ppdb.parse(s).select(col("phrase").as("mid2"), col("paraphrase"))
      a.join(b, col("mid") === col("mid2"))
        .select(col("phrase"), col("paraphrase"))
        .distinct()
        .orderBy("phrase", "paraphrase")
    }),

    // Entailment-aware paraphrase closure (round 9, the reference's domain
    // deepened): 2-hop closure RESTRICTED to the transitive entailment
    // relations (Equivalence, ForwardEntailment — Exclusion/OtherRelated
    // edges must not propagate), path score = weakest link (min of edge
    // scores), per-pair best = max over all 1- and 2-hop paths, self-pairs
    // dropped. min/max of doubles are order-exact cross-engine (no
    // summation). Scale shape: one equi-shuffle on the chain midpoint —
    // at release scale the parsed frame would be bucketed by phrase so the
    // self-join co-locates.
    "ppdb_closure" -> ((s, _) => {
      val e = Ppdb.parse(s)
        .filter(col("entailment").isin("Equivalence", "ForwardEntailment"))
        .select(col("phrase"), col("paraphrase"), col("ppdb2score").as("score"))
      val a = e.select(col("phrase"), col("paraphrase").as("mid"), col("score").as("s1"))
      val b = e.select(col("phrase").as("mid"), col("paraphrase"), col("score").as("s2"))
      val two = a.join(b, "mid")
        .select(col("phrase"), col("paraphrase"), least(col("s1"), col("s2")).as("score"))
      e.unionByName(two)
        .filter(col("phrase") =!= col("paraphrase"))
        .groupBy(col("phrase"), col("paraphrase"))
        // min/max of doubles are order-exact, so the operands are
        // bit-identical cross-engine and rd's floor formula stays
        // bit-identical too — builtin round here would re-open the
        // Spark-decimal-repr vs DuckDB-binary divergence on 5-decimal ties
        // (the exact bug the sf1 sweep caught in time_weighted_avg)
        .agg(graft.Tables.rd(max(col("score")), 4).as("best_score"),
          count(lit(1)).as("n_paths"))
        .orderBy("phrase", "paraphrase")
    }),

    // Map-function surface over the parsed feature map: map_keys + sorted
    // join (representation-stable), map_values through a cast-and-fold
    // lambda — the MapType face of the §2.8 scalar-function inventory.
    // Contract: the PPDB format guarantees well-formed `k=v` entries with
    // unique keys per rule; on malformed input the engines intentionally
    // diverge from the oracle (str_to_map raises DUPLICATED_MAP_KEY /
    // null-propagates a missing '=', where the oracle counts raw splits).
    "func_map" -> ((s, _) => {
      val m = str_to_map(col("features_raw"), lit(" "), lit("="))
      Ppdb.parse(s)
        .select(
          col("phrase"), col("paraphrase"),
          size(map_keys(m)).cast("long").as("n_features"),
          array_join(sort_array(map_keys(m)), ",").as("feature_names"),
          graft.Tables.rd(
            aggregate(map_values(m), lit(0.0), (acc, v) => acc + v.cast("double")), 4)
            .as("sum_values"))
        .orderBy("phrase", "paraphrase")
    }),

    "ppdb_agg_entailment" -> ((s, _) => {
      Ppdb.parse(s)
        .groupBy(col("entailment"))
        .agg(count(lit(1)).as("n"), round(avg(col("ppdb2score")), 4).as("avg_score"))
        .orderBy("entailment")
    }),

    // Ranked lookup, windowed: top-2 paraphrases per phrase.
    "ppdb_topk_per_phrase" -> ((s, _) => {
      val w = Window.partitionBy("phrase").orderBy(col("ppdb2score").desc, col("paraphrase"))
      Ppdb.parse(s)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("phrase"), col("rn"), col("paraphrase"), col("ppdb2score"))
        .orderBy("phrase", "rn")
    }),

    // The dynamic key-value feature sub-schema as a first-class MapType.
    "ppdb_features_map" -> ((s, _) => {
      Ppdb.parse(s)
        .select(
          col("phrase"),
          col("paraphrase"),
          element_at(str_to_map(col("features_raw"), lit(" "), lit("=")), "PPDB2.0Score")
            .cast("double").as("score"))
        .orderBy("phrase", "paraphrase")
    }),

    // Generator surface: explode the `i-j` word-alignment pairs.
    "ppdb_explode_alignment" -> ((s, _) => {
      Ppdb.parse(s)
        .select(col("phrase"), col("paraphrase"), explode(split(col("alignment"), " ")).as("pair"))
        .select(
          col("phrase"),
          col("paraphrase"),
          split(col("pair"), "-").getItem(0).cast("long").as("src"),
          split(col("pair"), "-").getItem(1).cast("long").as("tgt"))
        .orderBy("phrase", "paraphrase", "src", "tgt")
    }),

    // Release audit THROUGH the V2 source with AGGREGATE pushdown (round
    // 13, VERDICT r12 item 5): count(*)/count/min/max of ppdb2score push
    // into the reader (SupportsPushDownAggregates) — each gzip member
    // streams once, parses only the single score token per line, and ships
    // ONE partial row; Spark merges files × 4 values. At release scale the
    // audit is effectively scan-cost-only: no rule materializes, no feature
    // map tokenizes. PpdbV2Spec pins the pushed Aggregation at the
    // BatchScanExec and parity with the unpushed projection form.
    "ppdb_audit_v2" -> ((s, _) => {
      s.read.format("ppdb").load(Ppdb.MultiFixtureDir + "/*.txt.gz")
        .agg(
          count(lit(1)).as("n_rules"),
          count(col("ppdb2score")).as("n_scored"),
          round(min(col("ppdb2score")), 2).as("min_score"),
          round(max(col("ppdb2score")), 2).as("max_score"))
    }),

    // Release-size ladder stats (round 11): PPDB ships S→XXXL packs, each a
    // score-pruned superset of the one below; parse the whole ladder in ONE
    // glob scan, recover the pack from per-file lineage (_metadata.file_name)
    // and aggregate per-pack rule counts + score distribution. The nesting
    // property (bigger pack ⊇ smaller, min_score non-increasing) is what a
    // release engineer checks before shipping; PpdbReleaseSpec pins it.
    "ppdb_release_stats" -> ((s, _) => {
      Ppdb.parseWithPack(s)
        .groupBy(col("pack"))
        .agg(
          count(lit(1)).as("n_rules"),
          countDistinct(col("phrase")).as("n_phrases"),
          round(min(col("ppdb2score")), 2).as("min_score"),
          round(max(col("ppdb2score")), 2).as("max_score"),
          round(avg(col("ppdb2score")), 4).as("avg_score"),
          count(when(col("entailment") === "Equivalence", 1)).as("n_equiv"))
        .orderBy(col("n_rules"))
    })
  )

  private val cte = Ppdb.OracleCte

  val oracle: Map[String, String] = Map(
    "ppdb_parse_gz" ->
      s"""$cte
         |SELECT lhs, phrase, paraphrase, features_raw, alignment, entailment, ppdb2score
         |FROM ppdb ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_parse_multi" ->
      s"""${Ppdb.oracleCte(Ppdb.MultiFixtureDir + "/*.txt.gz")}
         |SELECT lhs, phrase, paraphrase, features_raw, alignment, entailment, ppdb2score
         |FROM ppdb ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_scan_v2" ->
      s"""$cte
         |SELECT lhs, phrase, paraphrase, ppdb2score,
         |       CAST(len(string_split(alignment, ' ')) AS BIGINT) AS n_align,
         |       entailment
         |FROM ppdb ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_lookup_v2" ->
      s"""$cte
         |SELECT paraphrase, ppdb2score, entailment FROM ppdb
         |WHERE phrase = 'happy'
         |ORDER BY ppdb2score DESC, paraphrase""".stripMargin,
    "ppdb_scan_v2_scored" ->
      s"""$cte
         |SELECT phrase, paraphrase, ppdb2score, entailment FROM ppdb
         |WHERE ppdb2score >= 4.0
         |ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_convert_release" ->
      s"""${Ppdb.oracleCte(Ppdb.MultiFixtureDir + "/*.txt.gz")}
         |SELECT CAST(2 AS BIGINT) AS n_files,
         |       CAST(count(*) AS BIGINT) AS n_rules,
         |       CAST(count(DISTINCT phrase) AS BIGINT) AS n_phrases,
         |       round(min(ppdb2score), 2) AS min_score,
         |       round(max(ppdb2score), 2) AS max_score,
         |       round(avg(ppdb2score), 4) AS avg_score,
         |       CAST(count(CASE WHEN entailment = 'Equivalence' THEN 1 END) AS BIGINT) AS n_equiv
         |FROM ppdb""".stripMargin,
    "ppdb_lookup" ->
      s"""$cte
         |SELECT paraphrase, ppdb2score, entailment FROM ppdb
         |WHERE phrase = 'happy'
         |ORDER BY ppdb2score DESC, paraphrase""".stripMargin,
    "ppdb_audit_v2" ->
      s"""${Ppdb.oracleCte(Ppdb.MultiFixtureDir + "/*.txt.gz")}
         |SELECT CAST(count(*) AS BIGINT) AS n_rules,
         |       CAST(count(ppdb2score) AS BIGINT) AS n_scored,
         |       round(min(ppdb2score), 2) AS min_score,
         |       round(max(ppdb2score), 2) AS max_score
         |FROM ppdb""".stripMargin,
    "ppdb_release_stats" ->
      s"""${Ppdb.oracleCteWithPack()}
         |SELECT pack, CAST(count(*) AS BIGINT) AS n_rules,
         |       CAST(count(DISTINCT phrase) AS BIGINT) AS n_phrases,
         |       round(min(ppdb2score), 2) AS min_score,
         |       round(max(ppdb2score), 2) AS max_score,
         |       round(avg(ppdb2score), 4) AS avg_score,
         |       CAST(count(CASE WHEN entailment = 'Equivalence' THEN 1 END) AS BIGINT) AS n_equiv
         |FROM ppdb GROUP BY pack ORDER BY n_rules""".stripMargin,
    "func_map" ->
      s"""$cte
         |SELECT phrase, paraphrase,
         |       CAST(len(string_split(features_raw, ' ')) AS BIGINT) AS n_features,
         |       array_to_string(list_sort(list_transform(string_split(features_raw, ' '),
         |         x -> string_split(x, '=')[1])), ',') AS feature_names,
         |       ${graft.Tables.rdSql(
                   "list_sum(list_transform(string_split(features_raw, ' '), " +
                     "x -> CAST(string_split(x, '=')[2] AS DOUBLE)))", 4)} AS sum_values
         |FROM ppdb ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_selfjoin_chain" ->
      s"""$cte
         |SELECT DISTINCT a.phrase AS phrase, b.paraphrase AS paraphrase
         |FROM ppdb a JOIN ppdb b ON a.paraphrase = b.phrase
         |ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_agg_entailment" ->
      s"""$cte
         |SELECT entailment, CAST(count(*) AS BIGINT) AS n,
         |       round(avg(ppdb2score), 4) AS avg_score
         |FROM ppdb GROUP BY entailment ORDER BY entailment""".stripMargin,
    "ppdb_closure" ->
      s"""$cte,
         |e AS (SELECT phrase, paraphrase, ppdb2score AS score FROM ppdb
         |      WHERE entailment IN ('Equivalence', 'ForwardEntailment')),
         |p AS (SELECT phrase, paraphrase, score FROM e
         |      UNION ALL
         |      SELECT a.phrase AS phrase, b.paraphrase AS paraphrase,
         |             least(a.score, b.score) AS score
         |      FROM e a JOIN e b ON a.paraphrase = b.phrase)
         |SELECT phrase, paraphrase, ${graft.Tables.rdSql("max(score)", 4)} AS best_score,
         |       CAST(count(*) AS BIGINT) AS n_paths
         |FROM p WHERE phrase <> paraphrase
         |GROUP BY phrase, paraphrase ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_topk_per_phrase" ->
      s"""$cte
         |SELECT phrase, CAST(row_number() OVER w AS BIGINT) AS rn, paraphrase, ppdb2score
         |FROM ppdb
         |WINDOW w AS (PARTITION BY phrase ORDER BY ppdb2score DESC, paraphrase)
         |QUALIFY row_number() OVER w <= 2
         |ORDER BY phrase, rn""".stripMargin,
    "ppdb_features_map" ->
      s"""$cte
         |SELECT phrase, paraphrase,
         |       CAST(regexp_extract(features_raw, 'PPDB2\\.0Score=([-+]?[0-9.]+([eE][-+]?[0-9]+)?)', 1) AS DOUBLE) AS score
         |FROM ppdb ORDER BY phrase, paraphrase""".stripMargin,
    "ppdb_explode_alignment" ->
      s"""$cte
         |SELECT phrase, paraphrase,
         |       CAST(string_split(pair, '-')[1] AS BIGINT) AS src,
         |       CAST(string_split(pair, '-')[2] AS BIGINT) AS tgt
         |FROM (SELECT phrase, paraphrase, unnest(string_split(alignment, ' ')) AS pair FROM ppdb)
         |ORDER BY phrase, paraphrase, src, tgt""".stripMargin
  )
}

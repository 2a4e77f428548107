package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{events, normText, normTextSql, t}

/** Round-3 training-data pipeline operators (SURVEY.md §2.14): PII
  * redaction, blocklist masking, fixed-stride document chunking,
  * benchmark-contamination detection, the per-(lang, source) dataset-card
  * report, and embedding centroid aggregation.
  *
  * Scale notes (100 TB):
  * - Redaction/masking/chunking are per-row codegen'd expressions — scan
  *   speed, no shuffle. Chunking fans out ~n_tokens/stride rows per doc;
  *   at scale write chunks partitioned by hash(doc_id) so downstream
  *   tokenization joins stay co-located.
  * - Contamination uses the shingle-join pattern: grams are BLOCKED by the
  *   benchmark side (tiny by construction — benchmarks are ≪ training
  *   corpus), so the join is a broadcast of the benchmark gram set against
  *   a map-side scan of training grams. No quadratic pair blowup.
  * - Centroid aggregation pivots vectors to (dim, value) rows — one
  *   shuffle keyed (label, dim), each reducer sums one coordinate. The
  *   classic distributed vector-mean that never materializes per-executor
  *   dense accumulators.
  */
object Pipeline3 {

  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column): Column = graft.Tables.spaceSplit(normText(c))

  /** Vocabulary bound for [[unigramLm]]'s literal-map fast path. Map
    * LITERAL lookups (GetMapValue on ArrayBasedMapData) are a LINEAR scan
    * per probe, so the bound must stay small — ≤256 keys ≈ ≤128 string
    * compares per token, which the one-pass saving dwarfs. Beyond it
    * (real web-scale vocabularies) the broadcast-hash-join path is the
    * right engine shape and is kept verbatim. */
  private[graft] val VocabLitMax = 256

  /** Unigram LM scoring, vocabulary-ADAPTIVE (round 16, VERDICT r15
    * item 5). The scoring pass previously always exploded every token
    * instance through a broadcast join and re-aggregated per doc — at
    * sf10 that is ~27M probe rows plus a per-doc hash aggregate, for a
    * per-doc mean over values drawn from a 31-WORD vocabulary. Now the
    * corpus-count pass (unavoidable: p(t) must complete before scoring)
    * also reveals the vocabulary size:
    *
    *  - vocab ≤ [[VocabLitMax]]: collect (token → log(cnt/total)) to a
    *    driver map, embed as a map literal, and score each doc in ONE
    *    per-row codegen'd `aggregate` over its token array — no explode,
    *    no join, no per-doc shuffle; the second pass is scan + fold +
    *    sort. Per-token math is bit-identical (same Math.log of the same
    *    IEEE division), summed per doc in token order as before.
    *  - larger vocab: the round-13 broadcast-join form, unchanged
    *    (`forceJoin` pins it for the specs).
    *
    * The round-13 rejected A/Bs (repartition(doc_id) 16.7→18.4 s at sf10;
    * (doc_id, token, c) pre-aggregate ~1.2×; localCheckpoint ratio 0.99)
    * concerned the JOIN path's shape and still stand for vocab > bound.
    */
  private[graft] def unigramLm(
      s: SparkSession, d: String, forceJoin: Boolean = false): DataFrame = {
    val toksDf = t(s, d, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val counts = toksDf.groupBy("token").agg(count(lit(1)).as("cnt"))
    val head = if (forceJoin) Array.empty[org.apache.spark.sql.Row]
      else counts.limit(VocabLitMax + 1).collect()
    if (!forceJoin && head.length <= VocabLitMax) {
      val total = head.map(_.getLong(1)).sum
      val logp = head.map(r =>
        r.getString(0) -> math.log(r.getLong(1).toDouble / total)).toMap
      // native fold (round 18): the aggregate/element_at composition was
      // doubly interpreted — ArrayAggregate is CodegenFallback and
      // element_at on a map literal LINEAR-SCANS the vocabulary per token
      // (O(|w|·|vocab|) string compares/doc). plans.SumMapVals probes a
      // HashMap in the identical left-to-right IEEE add order —
      // bit-identical sums (Round18Spec keeps the old composition as its
      // reference)
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), toks(col("text")).as("w"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_toks"),
          round(org.apache.spark.sql.GraftSqlShim.column(
            graft.plans.SumMapVals(
              org.apache.spark.sql.GraftSqlShim.expression(col("w")),
              logp.toSeq))
            / size(col("w")), 4).as("lm_score"))
        .orderBy("doc_id")
    } else {
      val total = counts.agg(sum(col("cnt")).as("total"))
      toksDf
        .join(broadcast(counts), "token")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(avg(log(col("cnt").cast("double") / col("total"))), 4).as("lm_score"))
        .orderBy("doc_id")
    }
  }

  /** Benchmark-contamination core: distinct-8-gram equi-join of the train
    * slice against the broadcast bench slice. The bench side is tiny by
    * construction (benchmark suites ≪ training corpus); the TRAIN side gets
    * the TextSim.MaxShingleDf document-frequency cap, so a boilerplate
    * 8-gram shared by the whole corpus cannot fan the probe out — per-gram
    * join work is bounded at dfCap × |bench docs with that gram|. The cap
    * is non-binding at the gate's data (max observed train-side 8-gram df
    * is 1). Exposed with the cap as a parameter for the binding-case spec.
    */
  private[graft] def contamination(
      benchDocs: DataFrame, trainDocs: DataFrame, dfCap: Int): DataFrame = {
    // per-doc DISTINCT 8-grams straight from the native kernel
    // (plans.NGrams via MinHashLsh.shingles): the previous interpreted
    // transform-slice cascade needed a full (id, g8) .distinct() shuffle
    // afterwards — the kernel dedups inside the row, so exploded pairs are
    // already unique and that exchange is gone from BOTH sides
    // explode takes the shingle expression INLINE (round 13, the
    // text_tfidf finding): exploding an aliased column lets
    // InferFiltersFromGenerate substitute the alias into its size(...)>0
    // filter — re-running the whole normText+split+shingle chain per doc
    def grams(df: DataFrame, idCol: String): DataFrame = df
      .select(col("doc_id").as(idCol),
        explode(graft.operators.MinHashLsh.shingles(toks(col("text")), 8)).as("g8"))
    val bench = grams(benchDocs, "bench_id")
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("g8")
    val train = grams(trainDocs, "train_id")
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= dfCap)
      .drop("df")
    train.join(broadcast(bench), "g8")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "bench_id")
  }

  /** Blocklist used by the masking op (tiny literal; at scale a broadcast). */
  private val Blocklist = Seq("the", "of", "and", "is", "not")

  private val EmailPat = "[a-z0-9]+@[a-z0-9.]+\\.com"
  private val PhonePat = "555-[0-9]+"

  val queries: Map[String, Q] = Map(
    // PII redaction: emails + phone numbers (synthesized deterministically
    // from columns so both engines see identical inputs) replaced by typed
    // placeholder tokens; per-doc redaction counts for audit.
    "text_pii_redact" -> ((s, d) => {
      val msg = concat(
        substring(normText(col("text")), 1, 40),
        lit(" contact "), col("lang"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".com or call 555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"))
      t(s, d, "documents")
        .withColumn("msg", msg)
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(col("msg"), EmailPat, "[EMAIL]"),
            PhonePat, "[PHONE]").as("redacted"),
          // function API, not expr(): SQL string literals drop the backslash
          // of unrecognized escapes, which would silently loosen '\.com'
          (regexp_count(col("msg"), lit(EmailPat)) +
            regexp_count(col("msg"), lit(PhonePat))).cast("long").as("n_pii"))
        .orderBy("doc_id")
    }),

    // Vocabulary blocklist masking (bad-word filtering): blocklisted tokens
    // → '[MASK]', with the mask count and a stable 15-token preview. Round
    // 12: the count rides the codegen'd count_in_set kernel (the filter/
    // array_contains lambda was interpreted), and the preview transform runs
    // AFTER the 15-token slice instead of over the whole document —
    // element-wise identical, ~len/15 less lambda work per doc.
    "text_blocklist_mask" -> ((s, d) => {
      val tk = toks(col("text"))
      val bl = typedLit(Blocklist)
      t(s, d, "documents").select(
        col("doc_id"),
        org.apache.spark.sql.GraftSqlShim.column(graft.plans.CountInSet(
          org.apache.spark.sql.GraftSqlShim.expression(tk), Blocklist)).as("n_masked"),
        array_join(
          transform(slice(tk, 1, 15), x =>
            when(array_contains(bl, x), lit("[MASK]")).otherwise(x)),
          " ").as("preview"))
        .orderBy("doc_id")
    }),

    // Fixed-size token chunking with overlap (size 32, stride 24) — the
    // context-window segmentation op. Chunk count = ceil((n−32)/24)+1, the
    // final chunk truncates; every token appears in ≥1 chunk.
    "doc_chunk" -> ((s, d) => {
      val size32 = 32
      val stride = 24
      t(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .withColumn("nt", size(col("tk")))
        // greatest(1, …): docs shorter than (size − stride) tokens would
        // otherwise yield 0 chunks — and Spark's sequence(0, −1) DESCENDS
        .withColumn("n_chunks",
          greatest(lit(1L),
            ceil((col("nt") - size32).cast("double") / stride).cast("long") + 1))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
            i => array_join(slice(col("tk"), i * stride + 1, lit(size32)), " "))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          graft.Tables.spaceTokenCount(col("col")).cast("long").as("n_chunk_toks"),
          col("col").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Benchmark contamination: 8-gram overlap between the "benchmark" slice
    // (doc_id < 50) and the "training" slice (50 ≤ doc_id < 300). Reports
    // every (train, bench) pair sharing ≥ 1 distinct 8-gram.
    "text_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      contamination(
        docs.filter(col("doc_id") < 50),
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 300),
        dfCap = graft.queries.TextSim.MaxShingleDf)
    }),

    // Per-doc 3-gram NOVELTY: the fraction of a doc's distinct shingles
    // first seen in that doc (min doc_id owns a shingle) — the standard
    // incremental-dedup signal: near-duplicates of earlier docs score near
    // 0, fresh content near 1. Shuffles only slim (doc_id, shingle-string)
    // pairs; the first-seen table is vocabulary-sized. Scales like dedup.
    "text_novelty" -> ((s, d) => {
      // Round 19: min-AGGREGATE form — the shingle ownership (min doc_id
      // per g3) comes from a hash aggregate with map-side partial min, the
      // per-doc novel count from a tiny count-by-owner aggregate, and
      // n_shingles per doc from size(NGrams(...)) in a second kernel scan.
      // vs the prior window form (Exchange(g3) + full SORT of every
      // (doc, shingle) row + a near-27M-row per-doc partial exchange) this
      // trades the sort + fat second exchange for one extra scan+kernel
      // pass and a doc-count-sized join: interleaved sf10 A/B 8.19 → 6.83 s
      // (1.20×), rows identical. Unlike the r16 aggjoin NEGATIVE (2.72×
      // slower) there is NO 27M-row join-back probe — the join is
      // |docs|-sized. novelty = n_novel/n_shingles is the same IEEE
      // division avg() performed (sum of 0/1 doubles is exact).
      def sh(c: Column) =
        graft.operators.MinHashLsh.shingles(toks(c), 3)
      val docs = t(s, d, "documents")
      val firsts = docs
        .select(col("doc_id"), explode(sh(col("text"))).as("g3"))
        .groupBy("g3").agg(min(col("doc_id")).as("owner"))
      val novel = firsts.groupBy("owner").agg(count(lit(1)).as("n_novel"))
      docs
        .select(col("doc_id"), size(sh(col("text"))).cast("long").as("n_shingles"))
        .filter(col("n_shingles") > 0)
        .join(novel, col("doc_id") === col("owner"), "left")
        .select(col("doc_id"), col("n_shingles"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"), 4)
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // The dataset-card aggregate: per (lang, source) corpus composition.
    "corpus_report" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          graft.Tables.spaceTokenCount(normText(col("text"))).cast("long").as("n_toks"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(median(col("n_chars").cast("double")), 1).as("med_chars"))
        .orderBy("lang", "source")
    }),

    // Unigram language-model scoring: corpus distribution p(t) = cnt/total,
    // each doc scored by its mean log-probability — the perplexity-style
    // quality cut. Vocabulary counts are tiny next to the corpus → the
    // token→p join broadcasts; everything else is two hash aggregates.
    "text_unigram_lm" -> ((s, d) => unigramLm(s, d)),

    // Funnel conversion: users reaching view → later click → later purchase,
    // each stage anchored strictly after the previous stage's first event.
    // Three keyed aggregates + two equi-joins (each per-user, no windows).
    "funnel_conversion" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
      // round 16 (VERDICT r15 item 8): the three-stage union re-derives
      // the lineage per stage (6 event scans), but CHECKPOINTING the
      // per-user stage frames measured 1.17× SLOWER at sf10 (interleaved
      // ×5) — the type-filtered scans are
      // pushdown-cheap and the per-user frame materialization costs more
      // than the recompute it saves (the ANN-dedup-ckpt economics).
      // Recompute stays the declared plan; isolated sf10 = 3.38 s
      // fresh-JVM median / ~1.6 s warm, flat vs sf0.1 — fixed job
      // overhead, the r13 0.99 s reading was the outlier.
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts_us")).as("fv"))
      val fc = ev.filter(col("event_type") === "click")
        .join(fv, "user_id").filter(col("ts_us") > col("fv"))
        .groupBy("user_id").agg(min(col("ts_us")).as("fc"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fc, "user_id").filter(col("ts_us") > col("fc"))
        .groupBy("user_id").agg(min(col("ts_us")).as("fp"))
      def stage(idx: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"), col("n_users"))
      stage(1, "view", fv)
        .unionByName(stage(2, "click_after_view", fc))
        .unionByName(stage(3, "purchase_after_click", fp))
        .orderBy("stage_idx")
    }),

    // Column profiling (the data-quality report): per column of the CSV
    // fixture (the one input with genuine nulls) — row/null/distinct counts
    // via stack to long form. Counts are representation-independent, so
    // casting values to string for the unpivot is parity-safe.
    "profile_nulls" -> ((s, _) => {
      graft.sources.FileSources.readCsv(s)
        .select(expr(
          """stack(4,
            |  'id', CAST(id AS STRING),
            |  'name', name,
            |  'amount', CAST(amount AS STRING),
            |  'd', CAST(d AS STRING)) AS (col_name, val)""".stripMargin))
        .groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          count_if(col("val").isNull).as("n_nulls"),
          countDistinct(col("val")).as("n_distinct"))
        .orderBy("col_name")
    }),

    // Per-label embedding centroid via the (label, dim) pivot: posexplode →
    // per-coordinate mean → reassembled L2 norm. Reports dims and count.
    "embedding_centroid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val coords = emb
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("av"))
      val norms = coords.groupBy("label")
        .agg(count(lit(1)).as("n_dims"),
          round(sqrt(sum(col("av") * col("av"))), 4).as("centroid_norm"))
      val counts = emb.groupBy("label").agg(count(lit(1)).as("n_vecs"))
      norms.join(counts, "label")
        .select(col("label"), col("n_vecs"), col("n_dims"), col("centroid_norm"))
        .orderBy("label")
    })
  )

  private val blSql = Blocklist.map(w => s"'$w'").mkString(", ")

  val oracle: Map[String, String] = Map(
    "text_novelty" ->
      s"""WITH tok AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS tk
         |             FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(tk[(i + 1):(i + 3)], ' ') AS g3
         |      FROM tok, LATERAL (SELECT unnest(range(0, len(tk) - 2)) AS i)
         |      WHERE len(tk) >= 3),
         |f AS (SELECT g3, min(doc_id) AS first_doc FROM g GROUP BY g3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       round(avg(CASE WHEN first_doc = doc_id THEN 1.0 ELSE 0.0 END), 4) AS novelty
         |FROM g JOIN f USING (g3)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      s"""WITH m AS (SELECT doc_id,
         |                  concat(substr(${normTextSql("text")}, 1, 40),
         |                         ' contact ', lang, CAST(doc_id AS VARCHAR),
         |                         '@', source, '.com or call 555-01',
         |                         lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')) AS msg
         |           FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(msg, '$EmailPat', '[EMAIL]', 'g'),
         |                      '$PhonePat', '[PHONE]', 'g') AS redacted,
         |       CAST(len(regexp_extract_all(msg, '$EmailPat'))
         |            + len(regexp_extract_all(msg, '$PhonePat')) AS BIGINT) AS n_pii
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_blocklist_mask" ->
      s"""WITH d AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS tk
         |           FROM documents)
         |SELECT doc_id,
         |       CAST(len(list_filter(tk, x -> list_contains([$blSql], x))) AS BIGINT) AS n_masked,
         |       array_to_string(
         |         list_transform(tk, x -> CASE WHEN list_contains([$blSql], x)
         |                                      THEN '[MASK]' ELSE x END)[1:15],
         |         ' ') AS preview
         |FROM d ORDER BY doc_id""".stripMargin,
    "doc_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS tk,
         |                  len(string_split(${normTextSql("text")}, ' ')) AS nt
         |           FROM documents WHERE doc_id < 100),
         |c AS (SELECT doc_id, tk,
         |             greatest(1, CAST(ceil((nt - 32) / 24.0) AS BIGINT) + 1) AS n_chunks
         |      FROM d)
         |SELECT doc_id, chunk_id,
         |       CAST(len(tk[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS BIGINT) AS n_chunk_toks,
         |       array_to_string(tk[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ') AS chunk_text
         |FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS chunk_id)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "text_contamination" ->
      s"""WITH tok AS (SELECT doc_id, string_split(${normTextSql("text")}, ' ') AS tk
         |             FROM documents),
         |grams AS (SELECT doc_id,
         |                 array_to_string(tk[(i + 1):(i + 8)], ' ') AS g8
         |          FROM tok, LATERAL (SELECT unnest(range(0, len(tk) - 7)) AS i)
         |          WHERE len(tk) >= 8),
         |bench AS (SELECT DISTINCT doc_id AS bench_id, g8 FROM grams WHERE doc_id < 50),
         |-- train-side stop-gram df cap, mirroring the engine's MaxShingleDf
         |-- guard; the inner DISTINCT runs first so df counts documents,
         |-- not raw gram occurrences
         |train AS (SELECT train_id, g8 FROM (
         |            SELECT DISTINCT doc_id AS train_id, g8 FROM grams
         |            WHERE doc_id >= 50 AND doc_id < 300)
         |          QUALIFY count(*) OVER (PARTITION BY g8) <= ${graft.queries.TextSim.MaxShingleDf})
         |SELECT train_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM train JOIN bench USING (g8)
         |GROUP BY train_id, bench_id
         |ORDER BY train_id, bench_id""".stripMargin,
    "text_unigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(${normTextSql("text")}, ' ')) AS token
         |             FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |tot AS (SELECT sum(cnt) AS total FROM c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |       round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS lm_score
         |FROM tok JOIN c USING (token) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fv AS (SELECT user_id, min(ts_us) AS fv FROM e WHERE event_type = 'view' GROUP BY 1),
        |fc AS (SELECT e.user_id, min(ts_us) AS fc FROM e JOIN fv USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > fv GROUP BY 1),
        |fp AS (SELECT e.user_id, min(ts_us) AS fp FROM e JOIN fc USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > fc GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |         CAST(count(*) AS BIGINT) AS n_users FROM fv
        |  UNION ALL
        |  SELECT 2, 'click_after_view', CAST(count(*) AS BIGINT) FROM fc
        |  UNION ALL
        |  SELECT 3, 'purchase_after_click', CAST(count(*) AS BIGINT) FROM fp)
        |ORDER BY stage_idx""".stripMargin,
    "profile_nulls" ->
      s"""WITH src AS (SELECT * FROM read_csv('${graft.sources.FileSources.CsvPath}', header=true,
         |  columns={'id':'BIGINT','name':'VARCHAR','amount':'DOUBLE','d':'DATE'})),
         |long AS (
         |  SELECT 'id' AS col_name, CAST(id AS VARCHAR) AS val FROM src
         |  UNION ALL SELECT 'name', name FROM src
         |  UNION ALL SELECT 'amount', CAST(amount AS VARCHAR) FROM src
         |  UNION ALL SELECT 'd', CAST(d AS VARCHAR) FROM src)
         |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count_if(val IS NULL) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct
         |FROM long GROUP BY col_name ORDER BY col_name""".stripMargin,
    "corpus_report" ->
      s"""SELECT lang, source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(string_split(${normTextSql("text")}, ' '))) AS BIGINT) AS total_tokens,
         |       round(avg(n_chars), 2) AS avg_chars,
         |       round(median(CAST(n_chars AS DOUBLE)), 1) AS med_chars
         |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "embedding_centroid" ->
      """WITH e AS (SELECT label, pos, embedding[pos + 1] AS v
        |           FROM embeddings,
        |                LATERAL (SELECT unnest(range(0, len(embedding))) AS pos)),
        |c AS (SELECT label, pos, avg(v) AS av FROM e GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT c.label, max(n.n_vecs) AS n_vecs,
        |       CAST(count(*) AS BIGINT) AS n_dims,
        |       round(sqrt(sum(av * av)), 4) AS centroid_norm
        |FROM c JOIN n ON c.label = n.label
        |GROUP BY c.label
        |ORDER BY c.label""".stripMargin
  )
}

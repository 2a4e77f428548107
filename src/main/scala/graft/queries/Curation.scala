package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{normText, normTextSql, rd, rdSql, t}

/** Round-16 curation widening (SURVEY.md §2.20): three selection/weighting
  * passes a training-data pipeline runs between dedup and sampling that the
  * earlier families did not yet cover —
  *
  *  - `dedup_soft_weights`: SOFT deduplication. Instead of dropping
  *    duplicates (`dedup_exact`), every document keeps a sampling weight
  *    1/c where c is its exact-duplicate cluster size, so a downstream
  *    sampler sees each distinct text with total mass 1 regardless of how
  *    many crawls re-captured it (the down-weighting formulation used when
  *    provenance must be preserved; cf. the SlimPajama/soft-dedup
  *    discussion of duplicate re-weighting).
  *  - `dedup_cluster_rep`: canonical-representative election over the
  *    NEAR-dup component graph (`dedup_components`' transitive Jaccard≥0.7
  *    clusters): per component keep the doc with the largest distinct-token
  *    vocabulary (ties → smallest doc_id) plus cluster-size stats — the
  *    "which copy do we train on" step after fuzzy clustering.
  *  - `text_quality_logreg`: the classifier face of quality gating — a
  *    fixed-weight LOGISTIC model over the `text_quality` feature set
  *    (length, punctuation, stopword, word-length signals), the shape of
  *    fasttext-style quality classifiers in public pipelines (CCNet /
  *    DCLM-style gating) with documented constant weights so both engines
  *    score identically. Output = per-doc score + the keep decision at the
  *    0.5 threshold, decided on the ROUNDED score so the comparison can
  *    never straddle a sub-ulp cross-engine difference.
  *
  * Scale notes (100 TB):
  *  - `dedup_soft_weights` is ONE shuffle on the 16-byte md5 key (a window
  *    over the hash partition; cluster sizes are bounded by crawl
  *    duplication, not corpus size, so no per-group sort can serialize).
  *    No join-back: the count and the weight come out of the same
  *    exchange+sort the window already paid.
  *  - `dedup_cluster_rep` rides the shared `dedupComponents` fixpoint
  *    (min-label propagation over edge-touched vertices only) and adds one
  *    hash aggregate keyed on the component label — argmax via
  *    min(struct(-n_tok, doc_id)), never a per-component window.
  *  - `text_quality_logreg` is a pure per-row map over one scan: every
  *    feature and the sigmoid are codegen'd column expressions, no
  *    shuffle before the output sort.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  /** Logistic quality-gate weights (fixed, documented constants — public
    * pipelines learn these; the ENGINE property under test is that a
    * fixed linear model + sigmoid scores identically on both engines).
    * z = B + WLen·min(n_tok/100,1) + WPunct·punct + WStop·stop
    *       + WWlen·min(avg_tok_len/10,1)
    */
  private val B = -2.0
  private val WLen = 2.0
  private val WPunct = -3.0
  private val WStop = 3.0
  private val WWlen = 1.0

  /** The en-stopword marker set — SHARED with `text_quality`'s stop ratio
    * (Extras.enStop), so the logistic model's stop feature is the
    * proven-parity one and the two keys can never drift apart.
    */
  private val EnStop = Extras.enStop

  val queries: Map[String, Q] = Map(
    // Soft dedup: weight = 1/exact-dup-cluster-size. One md5-keyed window —
    // count and weight ride the same exchange; no groupBy+join-back.
    "dedup_soft_weights" -> ((s, d) => {
      val w = Window.partitionBy(col("h"))
      // SLIM-CHECKPOINT pre-sort (round 18, the sample_importance pattern):
      // the sort's boundary sampler re-ran the md5+window pipeline; the
      // 16-byte (doc_id, c) frame materializes once and only it sorts.
      val cnt = t(s, d, "documents")
        .select(col("doc_id"), md5(normText(col("text"))).as("h"))
        .withColumn("c", count(lit(1)).over(w))
        .select(col("doc_id"), col("c"))
        .localCheckpoint()
      cnt
        .orderBy("doc_id")
        .select(col("doc_id"), col("c"),
          rd(lit(1.0) / col("c"), 6).as("w"))
    }),

    // Representative election per near-dup component: the shared
    // dedup_components fixpoint + ONE hash aggregate on the component label
    // (argmax = min over struct(-n_tok, doc_id), the coresetFps tie-break
    // discipline — no per-component window).
    "dedup_cluster_rep" -> ((s, d) => {
      val labels = ScaleOps.dedupComponents(s, d)
        .select(col("doc_id"), col("component"))
      val docs = t(s, d, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          size(array_distinct(graft.Tables.spaceSplit(normText(col("text")))))
            .cast("long").as("n_tok"))
      labels.join(docs, "doc_id")
        .groupBy(col("component"))
        .agg(
          min(struct((lit(0L) - col("n_tok")).as("neg"), col("doc_id"))).as("m"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tot_tok"))
        .select(col("component"), col("m.doc_id").as("rep_id"),
          (lit(0L) - col("m.neg")).as("rep_ntok"),
          col("n_docs"), col("tot_tok"))
        .orderBy("component")
    }),

    // Fixed-weight logistic quality classifier. Features are verbatim the
    // text_quality set (Extras) so engine parity is inherited; keep is
    // decided on the ROUNDED score (both engines compare the identical
    // 4-dp value, so the threshold can't straddle a libm ulp).
    "text_quality_logreg" -> ((s, d) => {
      val toks = graft.Tables.spaceSplit(normText(col("text")))
      val nTok = size(toks).cast("double")
      val chars = Extras.charsNoSpace(normText(col("text")), toks)
      val punct = graft.Tables.punctCount(col("text")).cast("double") / // native kernel (round 17)
        greatest(length(col("text")), lit(1)).cast("double")
      val stop = Extras.markerHits(toks, EnStop).cast("double") /
        greatest(nTok, lit(1.0))
      val fLen = least(nTok / 100.0, lit(1.0))
      val fWlen = least(chars / greatest(nTok, lit(1.0)) / 10.0, lit(1.0))
      val z = lit(B) + lit(WLen) * fLen + lit(WPunct) * punct +
        lit(WStop) * stop + lit(WWlen) * fWlen
      val score = rd(lit(1.0) / (lit(1.0) + exp(lit(0.0) - z)), 4)
      // ORDER-FIRST (round 18, the text_quality pattern): sort the slim
      // scan, project the model after — the range-boundary sampler stops
      // re-evaluating the feature chain (sf10 noop read 70.9 s vs a 9.5 s
      // honest pass); order preserved by the narrow projection.
      t(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), score.as("score"))
        .withColumn("keep", col("score") >= 0.5)
    }),

    // Quality-WEIGHTED importance sampling (round 18, VERDICT r17 item 4):
    // the DCLM/FineWeb-shaped selection step — each doc kept with
    // probability equal to its MODEL quality score (the logreg sigmoid
    // above), not a length ramp. The acceptance coin is the
    // sample_importance exact-integer hex algebra: the score's 4-dp
    // numerator k = floor(sigmoid·1e4 + 0.5) ∈ [0, 10000] is exact and
    // cross-engine identical (same IEEE ops both sides), the threshold
    // floor(k·2⁴⁸/10000) is exact bigint arithmetic (k·2⁴⁸ ≤ 2.82e18 <
    // 2⁶³), and the coin is a 12-hex md5 prefix — compared at WIDTH 13 so
    // the k = 10000 threshold 2⁴⁸ ('1000000000000', 13 digits) is
    // representable and certainty docs are always kept (the round-18
    // lpad-truncation lesson).
    "sample_quality_weighted" -> ((s, d) => {
      val toks = graft.Tables.spaceSplit(normText(col("text")))
      val nTok = size(toks).cast("double")
      val chars = Extras.charsNoSpace(normText(col("text")), toks)
      val punct = graft.Tables.punctCount(col("text")).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double")
      val stop = Extras.markerHits(toks, EnStop).cast("double") /
        greatest(nTok, lit(1.0))
      val fLen = least(nTok / 100.0, lit(1.0))
      val fWlen = least(chars / greatest(nTok, lit(1.0)) / 10.0, lit(1.0))
      val z = lit(B) + lit(WLen) * fLen + lit(WPunct) * punct +
        lit(WStop) * stop + lit(WWlen) * fWlen
      val sig = lit(1.0) / (lit(1.0) + exp(lit(0.0) - z))
      val k = floor(sig * 1e4 + lit(0.5)).cast("long") // the rd(…,4) numerator, exact
      // slim-checkpoint BEFORE the coin filter (round 18): predicate
      // pushdown would substitute the whole feature chain into the filter
      // and evaluate it a second time for the projection (measured 17.4 s
      // vs the logreg pass's 3.9 at the sf10 noop sink); the 24-byte
      // (doc_id, k, u) barrier runs the chain ONCE, and filter + sort read
      // only slim rows
      val scored = t(s, d, "documents")
        .select(col("doc_id"), k.as("k"),
          lpad(substring(md5(concat_ws("|", lit("qimp"), col("doc_id"))), 1, 12), 13, "0").as("u"))
        .localCheckpoint()
      scored
        .filter(col("u") < lpad(lower(hex(expr("k * 281474976710656 div 10000"))), 13, "0"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          (col("k").cast("double") / lit(10000.0)).as("score"))
    })
  )

  private val norm = normTextSql("text")

  private val enStopSql = Extras.hitsSql(EnStop)

  val oracle: Map[String, String] = Map(
    "dedup_soft_weights" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         CAST(count(*) OVER (PARTITION BY md5($norm)) AS BIGINT) AS c
         |  FROM documents)
         |SELECT doc_id, c, ${rdSql("1.0 / c", 6)} AS w
         |FROM h ORDER BY doc_id""".stripMargin,
    "dedup_cluster_rep" ->
      s"""${ScaleOps.ComponentsCteSql},
         |m AS (
         |  SELECT c.component, t.doc_id,
         |         CAST(len(t.toks) AS BIGINT) AS n_tok
         |  FROM comp c JOIN t ON c.doc_id = t.doc_id)
         |SELECT component,
         |       CAST(doc_id AS BIGINT) AS rep_id,
         |       n_tok AS rep_ntok,
         |       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) OVER (PARTITION BY component) AS BIGINT) AS tot_tok
         |FROM m
         |QUALIFY row_number() OVER (PARTITION BY component
         |                           ORDER BY n_tok DESC, doc_id) = 1
         |ORDER BY component""".stripMargin,
    "text_quality_logreg" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(string_split($norm, ' ')) AS DOUBLE) AS n_tok,
         |         CAST(length(replace($norm, ' ', '')) AS DOUBLE) AS chars,
         |         CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]', '', 'g')) AS DOUBLE)
         |           / greatest(length(text), 1) AS punct,
         |         CAST($enStopSql AS DOUBLE)
         |           / greatest(len(string_split($norm, ' ')), 1) AS stop
         |  FROM documents),
         |z AS (
         |  SELECT doc_id,
         |         $B + $WLen * least(n_tok / 100.0, 1.0) + $WPunct * punct
         |            + $WStop * stop
         |            + $WWlen * least(chars / greatest(n_tok, 1.0) / 10.0, 1.0) AS z
         |  FROM f),
         |sc AS (
         |  SELECT doc_id, ${rdSql("1.0 / (1.0 + exp(0.0 - z))", 4)} AS score
         |  FROM z)
         |SELECT doc_id, score, score >= 0.5 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    "sample_quality_weighted" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(string_split($norm, ' ')) AS DOUBLE) AS n_tok,
         |         CAST(length(replace($norm, ' ', '')) AS DOUBLE) AS chars,
         |         CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]', '', 'g')) AS DOUBLE)
         |           / greatest(length(text), 1) AS punct,
         |         CAST($enStopSql AS DOUBLE)
         |           / greatest(len(string_split($norm, ' ')), 1) AS stop
         |  FROM documents),
         |z AS (
         |  SELECT doc_id,
         |         $B + $WLen * least(n_tok / 100.0, 1.0) + $WPunct * punct
         |            + $WStop * stop
         |            + $WWlen * least(chars / greatest(n_tok, 1.0) / 10.0, 1.0) AS z
         |  FROM f),
         |kk AS (
         |  SELECT doc_id,
         |         CAST(floor((1.0 / (1.0 + exp(0.0 - z))) * 1e4 + 0.5) AS BIGINT) AS k
         |  FROM z)
         |SELECT doc_id, CAST(k AS DOUBLE) / 10000.0 AS score
         |FROM kk
         |WHERE lpad(substring(md5('qimp' || '|' || doc_id), 1, 12), 13, '0')
         |      < lpad(lower(to_hex(k * 281474976710656 // 10000)), 13, '0')
         |ORDER BY doc_id""".stripMargin
  )
}

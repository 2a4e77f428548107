package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{events, normText, normTextSql, rd, rdSql, t}

/** Round-17 selection/retrieval widening (SURVEY.md §2.21) — three
  * operators a corpus pipeline runs between curation and serving that the
  * earlier families did not yet cover:
  *
  *  - `sample_importance`: importance-weighted RESAMPLING — each doc kept
  *    with probability proportional to a per-doc weight (here the length
  *    ramp min(n_tok/100, 1), the simplest "prefer substantial documents"
  *    policy), decided by a deterministic md5 coin. Distinct from
  *    `sample_hash` (fixed global rate) and `sample_temperature` (per-
  *    domain mixture): the acceptance probability varies PER ROW.
  *  - `audience_overlap`: pairwise Jaccard similarity between the distinct
  *    USER SETS of every event-type pair — the audience-overlap matrix
  *    behind dataset-mixing and dedup-across-sources decisions (and the
  *    classic product-analytics overlap report).
  *  - `rank_bm25`: Okapi BM25 document ranking against a fixed query
  *    (k1 = 1.2, b = 0.75, the Robertson/Sparck-Jones idf with +1
  *    smoothing as used by Lucene) — the retrieval scorer `text_tfidf`'s
  *    family was missing; contamination checks and eval-set retrieval both
  *    run exactly this shape at corpus scale.
  *
  * Determinism/parity notes:
  *  - the importance coin compares equal-length lowercase HEX STRINGS
  *    (md5 prefix vs lpad(hex(integer threshold))) — no float compare, no
  *    conv() portability trap; the threshold floor(w·2⁵²) is computed in
  *    exact integer arithmetic (min(n_tok,100)·2⁵² div 100).
  *  - BM25 per-(doc, term) scores are pure per-row double math off
  *    integers (tf, df, N, dl) — bit-identical cross-engine; the per-doc
  *    sum over query terms is accumulated in FIXED term order (one
  *    conditional aggregate per term, then a left-to-right `+`), never a
  *    shuffle-order float sum.
  *
  * Scale notes (100 TB):
  *  - `sample_importance` is a pure per-row map over one scan (normalize →
  *    tokenize → coin), no shuffle before the output sort.
  *  - `audience_overlap` shuffles once on user_id for the distinct, once
  *    for the pair join; both carry (type, user) pairs only. The pair
  *    fan-out per user is C(#types-present, 2) ≤ C(5,2) — bounded by the
  *    type alphabet, not the corpus.
  *  - `rank_bm25` explodes only tokens MATCHING the query terms (the
  *    filter is pushed under the aggregation), so the shuffle carries
  *    O(matching tokens) rows; doc stats (dl) ride the same scan, and df/N
  *    are a broadcast of ≤ |Q| + 1 rows.
  */
object Selection {

  type Q = (SparkSession, String) => DataFrame

  // BM25 constants are the Lucene/Robertson defaults k1 = 1.2, b = 0.75 —
  // written as LITERALS at every use site on both engine sides (see the
  // literal-parity comment in rank_bm25), never folded in Scala.

  /** The fixed retrieval query: three corpus-vocabulary terms with
    * distinct document frequencies (the synthetic documents speak
    * query-plan English).
    */
  private[graft] val Bm25Terms = Seq("join", "merge", "sort")

  /** floor(min(n_tok,100)/100 · 2⁵²) as exact integer arithmetic (`div`,
    * never `/` — Spark's `/` on bigints returns DOUBLE, and 100·2⁵² > 2⁵³
    * is not double-representable), rendered at a FOURTEEN-hex-digit width —
    * one digit wider than the 13-hex coin, because the w = 1.0 threshold
    * 2⁵² is '10000000000000' (14 digits): at width 13 lpad TRUNCATES it to
    * 2⁴⁸ and the docs the ramp says to always keep survive with
    * probability ~1/16 instead (the round-17 advisory bug — both engines
    * carried the same truncation, so the parity gate stayed green while
    * both were wrong). At width 14 every 13-hex coin lpads to '0'+u and
    * sorts strictly below '1000000000000 0'. 100·2⁵² < 2⁶³: no overflow.
    */
  private val coinThreshold =
    lpad(lower(hex(expr("least(n_tok, 100) * 4503599627370496 div 100"))), 14, "0")

  val queries: Map[String, Q] = Map(
    // Importance resampling: keep doc iff md5-coin < min(n_tok/100, 1).
    // Per-row map only; the coin input is salted ('imp|' prefix) so it is
    // independent of every other md5 coin in the engine.
    "sample_importance" -> ((s, d) => {
      val nTok = graft.Tables.spaceTokenCount(normText(col("text"))).cast("long")
      // SLIM-CHECKPOINT pre-filter (round 18): the sort's boundary sampler
      // would re-run the tokenize+md5 chain, and predicate pushdown would
      // substitute it into the coin filter for a SECOND evaluation — the
      // 24-byte (doc_id, n_tok, u) barrier runs the chain exactly once;
      // filter, sort and the weight projection read only slim rows (sf10
      // noop: 16.1 s with no barrier, 5.7 with a post-filter one, ~4 here).
      val scored = t(s, d, "documents")
        .select(col("doc_id"), nTok.as("n_tok"),
          lpad(substring(md5(concat_ws("|", lit("imp"), col("doc_id"))), 1, 13), 14, "0").as("u"))
        .localCheckpoint()
      scored
        .filter(col("u") < coinThreshold)
        .orderBy("doc_id")
        .select(col("doc_id"), col("n_tok"),
          rd(least(col("n_tok").cast("double") / 100.0, lit(1.0)), 6).as("w"))
    }),

    // Audience overlap: Jaccard between the distinct user sets of every
    // event-type pair. distinct → per-user pair fan-out (bounded by the
    // type alphabet) → one hash aggregate; sizes broadcast back.
    "audience_overlap" -> ((s, d) => {
      val a = events(s, d).select(col("event_type"), col("user_id")).distinct()
      val sizes = a.groupBy("event_type").agg(count(lit(1)).as("n"))
      val both = a.as("x").join(a.as("y"), "user_id")
        .filter(col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
        .agg(count(lit(1)).as("n_both"))
      both
        .join(broadcast(sizes.select(col("event_type").as("t1"), col("n").as("n1"))), "t1")
        .join(broadcast(sizes.select(col("event_type").as("t2"), col("n").as("n2"))), "t2")
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("n_both"),
          rd(col("n_both").cast("double") /
            (col("n1") + col("n2") - col("n_both")), 6).as("jaccard"))
        .orderBy("t1", "t2")
    }),

    // Okapi BM25 against the fixed query, top-20. tf comes from ONE scan
    // that explodes only query-matching tokens; dl rides the same scan;
    // df/N broadcast. The per-doc score sums its ≤3 term scores in FIXED
    // term order (conditional aggregates + left-assoc +) — never a
    // shuffle-order float sum.
    "rank_bm25" -> ((s, d) => {
      // SINGLE-TOKENIZE form (round 18, VERDICT r17 item 8 closed by
      // measurement): the stats and tf branches each re-ran the
      // normText+tokenize pass; a slim (doc_id, dl, query-matching tokens)
      // localCheckpoint runs it once — interleaved sf10 A/B 8.91 → 7.63 s
      // (1.17×). The checkpoint holds ≤ |matching tokens| strings per doc
      // (3 query terms), so the materialized frame is ~24 B/doc. The
      // membership filter is the native KeepInSet kernel (the interpreted
      // higher-order filter was a CodegenFallback); row-identity with the
      // recompute form is pinned by Round18Spec.
      // Round 19: dl and the matching tokens come from ONE fused byte pass
      // over the normalized text (plans.MatchTokens — the split/size/
      // KeepInSet chain materialized the full token array per doc just to
      // count it and keep ≤3 matches; MatchTokensParitySpec pins the pair)
      val mt = org.apache.spark.sql.GraftSqlShim.column(graft.plans.MatchTokens(
        org.apache.spark.sql.GraftSqlShim.expression(normText(col("text"))),
        Bm25Terms))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), mt.as("mt"))
        .select(col("doc_id"), col("mt").getField("dl").cast("long").as("dl"),
          col("mt").getField("mtoks").as("mtoks"))
        .localCheckpoint()
      val stats = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("tot_dl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("mtoks")).as("token"))
        .groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      // literals written identically on both sides (2.2, 1.2, 0.25, 0.75,
      // 0.5 — each parsed to the same nearest double by Spark and DuckDB;
      // never Scala-folded like K1+1, whose FP sum can differ by an ulp
      // from the parsed literal), operands cast to double BEFORE mixing
      // with literals (a bare DuckDB decimal literal would otherwise pull
      // the arithmetic into DECIMAL typing)
      val scored = tf
        .join(broadcast(df), "token")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))))
        .withColumn("s",
          col("idf") * (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") /
              (col("tot_dl").cast("double") / col("n_docs").cast("double")))))
      // fixed-order per-doc sum: one conditional max per term (each (doc,
      // token) is unique post-aggregate), added left to right
      val termCols = Bm25Terms.map(tm =>
        coalesce(max(when(col("token") === tm, col("s"))), lit(0.0)))
      scored
        .groupBy(col("doc_id"))
        .agg(termCols.reduce(_ + _).as("score0"),
          count(lit(1)).as("n_terms"))
        .select(col("doc_id"), col("n_terms"), rd(col("score0"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }))

  private val bm25TermsSql = Bm25Terms.map(tm => s"'$tm'").mkString(", ")

  val oracle: Map[String, String] = Map(
    "sample_importance" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(${normTextSql("text")}, ' ')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT doc_id, n_tok,
         |       ${rdSql("least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)", 6)} AS w
         |FROM f
         |WHERE lpad(substring(md5('imp' || '|' || doc_id), 1, 13), 14, '0')
         |      < lpad(lower(to_hex(least(n_tok, 100) * 4503599627370496 // 100)), 14, '0')
         |ORDER BY doc_id""".stripMargin,
    "audience_overlap" ->
      s"""WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
         |sizes AS (SELECT event_type, count(*) AS n FROM a GROUP BY 1),
         |ab AS (
         |  SELECT x.event_type AS t1, y.event_type AS t2, count(*) AS n_both
         |  FROM a x JOIN a y ON x.user_id = y.user_id AND x.event_type < y.event_type
         |  GROUP BY 1, 2)
         |SELECT t1, t2, s1.n AS n1, s2.n AS n2, n_both,
         |       ${rdSql("CAST(n_both AS DOUBLE) / (s1.n + s2.n - n_both)", 6)} AS jaccard
         |FROM ab
         |JOIN sizes s1 ON s1.event_type = t1
         |JOIN sizes s2 ON s2.event_type = t2
         |ORDER BY t1, t2""".stripMargin,
    "rank_bm25" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         string_split(${normTextSql("text")}, ' ') AS w,
         |         CAST(len(string_split(${normTextSql("text")}, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM docs),
         |tf AS (
         |  SELECT doc_id, dl, token, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(w) AS token FROM docs)
         |  WHERE token IN ($bm25TermsSql)
         |  GROUP BY 1, 2, 3),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.token,
         |         ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         |              / (CAST(d.df AS DOUBLE) + 0.5))
         |           * (CAST(tf.tf AS DOUBLE) * 2.2) /
         |           (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE)
         |              / (CAST(s.tot_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS sc
         |  FROM tf JOIN dfreq d ON tf.token = d.token CROSS JOIN stats s),
         |agg AS (
         |  SELECT doc_id,
         |         ${Bm25Terms.map(tm =>
               s"coalesce(max(CASE WHEN token = '$tm' THEN sc END), 0.0)")
               .mkString(" + ")} AS score0,
         |         count(*) AS n_terms
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, n_terms, ${rdSql("score0", 4)} AS score
         |FROM agg
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin)
}

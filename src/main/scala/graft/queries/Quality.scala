package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{normText, normTextSql, rd, rdSql, t}

/** Training-data quality signals, round 2 (SURVEY.md §2.13): TF-IDF term
  * weighting, Gopher-style repetition detection, token-distribution entropy,
  * edit-distance near-dup within blocks, and the higher-order array-function
  * surface.
  *
  * Parity: every per-row score is derived purely from integer counts via the
  * same IEEE double ops on both engines (division, ln), so values are
  * bit-identical up to libm's ulp; `rd`/round digits absorb that.
  *
  * Scale: per-document signals are embarrassingly parallel (no shuffle
  * beyond the explode-aggregate); TF-IDF is two hash aggregations plus a
  * broadcast of the document count; edit-distance pairs are blocked by
  * (lang, id-range) so the candidate set stays bounded no matter the corpus
  * size — the 100 TB version swaps the id-range block for an LSH bucket
  * (dedup_minhash) and only then pays Levenshtein on candidates.
  */
object Quality {

  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column): Column = graft.Tables.spaceSplit(normText(c))

  /** Shared TF-IDF score pipeline: (doc_id, token, tfidf) over `docs0`
    * (doc_id, text), corpus statistics (df, N) computed over exactly the
    * docs passed in. Two hash aggregates (term-per-doc, doc-freq) + one
    * broadcast scalar — no sort. Scores are QUANTIZED to 6 digits (rd):
    * the raw double depends on each engine's libm ln() to the last ulp, so
    * mathematically-equal scores computed from different (cnt, len, df)
    * triples could order differently across engines; rounding first makes
    * ties exact and any downstream (tfidf, tiebreak) order total and
    * engine-stable. Both text_tfidf and text_keyword_topk rank THIS frame.
    */
  private def tfidfScores(docs0: DataFrame): DataFrame = {
    // explode takes the token expression INLINE, not through an alias
    // (round 13): InferFiltersFromGenerate only fires on attribute inputs,
    // and the `size(tk) > 0` filter it infers substitutes the alias with
    // the full normText+split chain — three regex-normalize+split passes
    // per document instead of one, measured as +10 s of the 34 s sf10
    // query. Document length is recovered AFTER the aggregate as
    // sum(cnt) over (partition by doc_id) — identical to size(tk) (total
    // tokens incl. duplicates), one well-distributed ≤tokens-per-doc-row
    // window instead of a third grouping key carried from the text.
    // ONE explicit doc_id exchange feeds everything: HashPartitioning(doc_id)
    // satisfies the (doc_id, token) aggregate's distribution AND the len
    // window's, so neither adds a shuffle — and because both the tf and
    // dfreq branches consume the identical (doc_id, token) columns of THIS
    // exchange, ReusedExchange merges them and the scan+normText+explode
    // pipeline runs ONCE (the groupBy-first form ran it twice: column
    // pruning made the two partial-aggregate subtrees canonically
    // different). The trade — repartitioning raw token rows forgoes
    // map-side combine — buys back a full corpus scan + regex-normalize
    // pass, which dominates it. Perfectly distributed at any scale
    // (doc_id keys, ≤ tokens-per-doc rows per group).
    val terms = docs0.select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .repartition(col("doc_id"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    // df = plain count of tf rows per token (one row per (doc_id, token) —
    // countDistinct's extra dedup shuffle is a no-op here). The join-back
    // is AQE's choice: a small vocabulary broadcast-joins (no token
    // shuffle of tf at all — the sf ladder's plan); a 100 TB Zipfian
    // vocabulary falls back to a well-distributed shuffle join.
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val nDocs = docs0.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("len", sum(col("cnt")).over(byDoc))
      .join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "tfidf",
        rd((col("cnt").cast("double") / col("len")) *
          log(col("n_docs").cast("double") / col("df")), 6))
      .select(col("doc_id"), col("token"), col("tfidf"))
  }

  val queries: Map[String, Q] = Map(
    // TF-IDF: tf = cnt/len, idf = ln(N/df); global top-20 weighted terms —
    // no sort until the final top-k (TakeOrderedAndProject).
    "text_tfidf" -> ((s, d) =>
      tfidfScores(t(s, d, "documents"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("token"))
        .limit(20)),

    // Keyword extraction (§2.17): top-3 TF-IDF terms per doc in the
    // doc_id<100 block — the SAME quantized score frame turned per-doc by
    // a rank window with a token tiebreak.
    "text_keyword_topk" -> ((s, d) => {
      val byDoc = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      tfidfScores(t(s, d, "documents").filter(col("doc_id") < 100))
        .withColumn("rnk", row_number().over(byDoc).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("token"), col("tfidf"), col("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    // Repetition ratio: 1 − distinct/total token-trigrams (the Gopher/MassiveText
    // duplicate-n-gram quality filter). Non-distinct trigrams via zip_with of
    // three shifted slices — pure codegen'd array ops, no UDF.
    "text_repetition" -> ((s, d) => {
      // filter BEFORE slicing: slice(…, n-2) with n<3 is a negative length,
      // an error under ANSI mode
      val n3 = col("nt") - 2
      val tri = zip_with(
        zip_with(slice(col("tk"), lit(1), n3), slice(col("tk"), lit(2), n3),
          (a, b) => concat(a, lit(" "), b)),
        slice(col("tk"), lit(3), n3),
        (ab, c) => concat(ab, lit(" "), c))
      t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .withColumn("nt", size(col("tk")))
        .filter(col("nt") >= 3)
        .select(col("doc_id"), col("nt"), tri.as("tri"))
        .select(
          col("doc_id"),
          (col("nt") - 2).cast("long").as("n_trigrams"),
          rd(lit(1.0) - size(array_distinct(col("tri"))).cast("double") /
            (col("nt") - 2), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // Shannon entropy of the per-document token distribution (natural log).
    // Degenerate/boilerplate docs score low — a standard corpus-quality cut.
    // Entirely row-local via the native token_entropy kernel
    // (plans.TokenEntropy): the old explode → (doc, token) count → per-doc
    // sum form paid TWO corpus-sized shuffles for a per-document quantity;
    // this plan has none (round-11 close, 1.73 → ~0.3 s at the true sf1).
    // NULL entropy (empty/NULL token array) filtered to match the
    // aggregate form, where such docs emit no rows.
    "text_entropy" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          round(org.apache.spark.sql.GraftSqlShim.column(
            graft.plans.TokenEntropy(
              org.apache.spark.sql.GraftSqlShim.expression(col("tk")))), 4)
            .as("entropy"))
        .filter(col("entropy").isNotNull)
        .orderBy("doc_id")),

    // Edit-distance near-dup within (lang, id<300) blocks on 60-char
    // normalized prefixes. Blocking bounds the pair count; at scale the
    // block key comes from LSH (see scaladoc).
    "dedup_editdist" -> ((s, d) => {
      val base = t(s, d, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("lang"),
          substring(normText(col("text")), 1, 60).as("s"))
      // fan the pair-generating side out across cores: the broadcast join
      // inherits the left side's partitioning, and a one-file scan is a
      // single partition — which would run every Levenshtein on one core
      val a = base.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id").as("doc_id_a"), col("lang"), col("s").as("sa"))
      val b = base.select(col("doc_id").as("doc_id_b"), col("lang"), col("s").as("sb"))
      // thresholded levenshtein: banded O(len·k) with early abandon (-1 when
      // the distance exceeds 38) instead of the full O(len²) DP
      a.join(b, Seq("lang"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .withColumn("dist", levenshtein(col("sa"), col("sb"), 38).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("doc_id_a"), col("doc_id_b"), col("dist"))
        .orderBy("doc_id_a", "doc_id_b")
    }),

    // Stratified deterministic sampling — the corpus-curation op: different
    // keep-rates per language (e.g. downsample an over-represented lang),
    // driven by the same portable md5-prefix coin as sample_hash so every
    // engine keeps the SAME documents. Rates: en 25%, others 75% (first two
    // hex chars < rate*256).
    "sample_stratified" -> ((s, d) => {
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
      t(s, d, "documents")
        .withColumn("coin", coin)
        .filter(
          when(col("lang") === "en", col("coin") < 64).otherwise(col("coin") < 192))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // Null-preserving generator: explode_outer keeps rows whose generator
    // input is EMPTY (as a NULL token) — the difference between "document
    // has no matches" disappearing from the output (explode) and surfacing
    // (explode_outer). Docs <100, tokens starting with 'd'.
    "udtf_explode_outer" -> ((s, d) => {
      val tk = toks(col("text"))
      t(s, d, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), filter(tk, x => x.startsWith("d")).as("dtoks"))
        .select(col("doc_id"), explode_outer(col("dtoks")).as("token"))
        .orderBy(asc("doc_id"), asc_nulls_first("token"))
    }),

    // SQL-registered UDF (spark.udf.register) — the second face of the UDF
    // surface next to the DataFrame-side udf() in udf_wordcount: the same
    // function becomes callable from any SQL string.
    "udf_sql_register" -> ((s, d) => {
      s.udf.register("norm_wc", (text: String) =>
        text.toLowerCase.trim.split("\\s+").count(_.nonEmpty))
      s.sql(
        s"""SELECT doc_id, CAST(norm_wc(text) AS BIGINT) AS wc
           |FROM parquet.`$d/documents.parquet`
           |ORDER BY doc_id""".stripMargin)
    }),

    // Higher-order array functions: filter / aggregate (fold) / exists —
    // all Catalyst-native lambdas, fully codegen-compatible, no UDFs.
    "func_higher_order" -> ((s, d) => {
      val tk = toks(col("text"))
      t(s, d, "documents")
        .select(
          col("doc_id"),
          size(filter(tk, x => length(x) > 4)).cast("long").as("n_long"),
          aggregate(tk, lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
          exists(tk, x => x.startsWith("data")).as("has_data"))
        .orderBy("doc_id")
    }),

    // Zipf-law fit of the corpus bigram frequency distribution: the
    // vocabulary-health diagnostic a training-data pipeline runs per shard
    // (a slope far from the corpus's reference band flags boilerplate
    // floods or template spam). ln(freq) regressed on ln(rank) over the
    // top-1000 bigrams — the cap is the scale bound (top-k via
    // TakeOrderedAndProject, rank window over the post-aggregate ≤1000-row
    // frame, regression is one partial-aggregating regr_slope pass).
    // Bigrams ride the native NGrams kernel like text_bigrams.
    "text_zipf_fit" -> ((s, d) => {
      val toks = graft.Tables.spaceSplit(normText(col("text")))
      val bigrams = org.apache.spark.sql.GraftSqlShim.column(
        graft.plans.NGrams(
          org.apache.spark.sql.GraftSqlShim.expression(toks), 2, distinct = false))
      // no size(toks)>=2 pre-filter — same finding as text_bigrams: the
      // filter re-evaluated normText+split per doc and the kernel's
      // short-doc -> [] branch makes it redundant under explode
      val freq = t(s, d, "documents")
        .select(explode(bigrams).as("g"))
        .groupBy("g").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("g"))
        .limit(1000)
      val w = Window.orderBy(col("f").desc, col("g"))
      freq.withColumn("r", row_number().over(w))
        .agg(
          count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("f")), log(col("r"))), 3).as("slope"),
          round(regr_intercept(log(col("f")), log(col("r"))), 3).as("icept"),
          round(regr_r2(log(col("f")), log(col("r"))), 3).as("r2"))
    })
  )

  private val norm = normTextSql("text")

  val oracle: Map[String, String] = Map(
    "text_zipf_fit" ->
      s"""WITH toks AS (SELECT string_split($norm, ' ') AS tk FROM documents),
         |bg AS (SELECT unnest([tk[i] || ' ' || tk[i + 1] FOR i IN range(1, len(tk))]) AS g
         |       FROM toks WHERE len(tk) >= 2),
         |f AS (SELECT g, count(*) AS f FROM bg GROUP BY g
         |      ORDER BY f DESC, g LIMIT 1000),
         |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, g) AS r FROM f)
         |SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |       round(regr_slope(ln(f), ln(r)), 3) AS slope,
         |       round(regr_intercept(ln(f), ln(r)), 3) AS icept,
         |       round(regr_r2(ln(f), ln(r)), 3) AS r2
         |FROM rk""".stripMargin,
    "text_tfidf" ->
      s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
         |n AS (SELECT count(*)::DOUBLE AS n_docs FROM docs),
         |terms AS (SELECT doc_id, len(tk) AS len, unnest(tk) AS token FROM docs),
         |tf AS (SELECT doc_id, token, len, count(*) AS cnt FROM terms GROUP BY 1, 2, 3),
         |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, tf.token,
         |       ${rdSql("(cnt::DOUBLE / len) * ln(n_docs / df)", 6)} AS tfidf
         |FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
         |ORDER BY tfidf DESC, doc_id, tf.token
         |LIMIT 20""".stripMargin,
    "text_keyword_topk" ->
      s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents
         |              WHERE doc_id < 100),
         |n AS (SELECT count(*)::DOUBLE AS n_docs FROM docs),
         |terms AS (SELECT doc_id, len(tk) AS len, unnest(tk) AS token FROM docs),
         |tf AS (SELECT doc_id, token, len, count(*) AS cnt FROM terms GROUP BY 1, 2, 3),
         |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id, tf.token,
         |              ${rdSql("(cnt::DOUBLE / len) * ln(n_docs / df)", 6)} AS tfidf
         |       FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n)
         |SELECT doc_id, token, tfidf,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |           ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
         |FROM sc QUALIFY rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
         |t AS (SELECT doc_id, len(tk) AS nt,
         |             list_transform(range(1, len(tk) - 1),
         |                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS tri
         |      FROM d WHERE len(tk) >= 3)
         |SELECT doc_id, CAST(nt - 2 AS BIGINT) AS n_trigrams,
         |       ${rdSql("1.0 - len(list_distinct(tri))::DOUBLE / (nt - 2)", 6)} AS rep_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents),
         |terms AS (SELECT doc_id, len(tk) AS len, unnest(tk) AS token FROM docs),
         |tf AS (SELECT doc_id, token, len, count(*) AS cnt FROM terms GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(len AS BIGINT) AS n_tokens,
         |       round(-sum((cnt::DOUBLE / len) * ln(cnt::DOUBLE / len)), 4) AS entropy
         |FROM tf GROUP BY doc_id, len ORDER BY doc_id""".stripMargin,
    "dedup_editdist" ->
      s"""WITH b AS (SELECT doc_id, lang, substr($norm, 1, 60) AS s
         |           FROM documents WHERE doc_id < 300)
         |SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
         |       CAST(levenshtein(a.s, c.s) AS BIGINT) AS dist
         |FROM b a JOIN b c ON a.lang = c.lang AND a.doc_id < c.doc_id
         |WHERE levenshtein(a.s, c.s) <= 38
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "udtf_explode_outer" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         list_filter(string_split($norm, ' '), x -> x LIKE 'd%') AS dtoks
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |       unnest(CASE WHEN len(dtoks) = 0 THEN [NULL] ELSE dtoks END) AS token
         |FROM d
         |ORDER BY doc_id ASC, token ASC NULLS FIRST""".stripMargin,
    "udf_sql_register" ->
      s"""SELECT doc_id,
         |       CAST(len(list_filter(string_split($norm, ' '),
         |                            x -> len(x) > 0)) AS BIGINT) AS wc
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """WITH c AS (
        |  SELECT lang, n_chars,
        |         CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1 AS BIGINT) * 16
        |           + CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1 AS BIGINT) AS coin
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM c
        |WHERE (lang = 'en' AND coin < 64) OR (lang <> 'en' AND coin < 192)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "func_higher_order" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents)
         |SELECT doc_id,
         |       CAST(len(list_filter(tk, x -> len(x) > 4)) AS BIGINT) AS n_long,
         |       CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS sum_len,
         |       len(list_filter(tk, x -> x LIKE 'data%')) > 0 AS has_data
         |FROM d ORDER BY doc_id""".stripMargin
  )
}

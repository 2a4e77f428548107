package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.{normText, normTextSql, rd, t}
import graft.functions.Vec

/** LLM-training-data pipeline operators (SURVEY.md §2.11, north star
  * BASELINE.json:6): deduplication, similarity search, multimodal join
  * stats, text analysis. Correctness twins are exact and oracle-checked;
  * the approximate scale paths (MinHashLSH) are declared oracle-less with
  * their exact twin as the checked query.
  */
object TextPipeline {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on the md5 of normalized text. One shuffle of
    // (16-byte hash, id) pairs — at 100 TB, shuffle bytes are the fingerprints,
    // never the documents.
    "dedup_exact" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), md5(normText(col("text"))).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dupes"))
        .orderBy("keeper")
    }),

    // Exact n-gram (token-set) Jaccard near-dup, blocked by language and the
    // doc_id<500 band (SURVEY.md §2.11 — the block is part of the declared
    // semantics and bounds the self-join at every sf). Jaccard computed as
    // int set sizes → identical doubles on both engines. At scale the block
    // becomes LSH banding: see dedup_minhash.
    "dedup_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .filter(col("doc_id") < 500)
        .select(
          col("doc_id"), col("lang"),
          array_distinct(graft.Tables.spaceSplit(normText(col("text")))).as("toks"))
      // fan the pair-generating side out: a one-file scan is one partition,
      // which would run every intersect on a single core
      val a = docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id").as("a_id"), col("lang"), col("toks").as("a_toks"))
      val b = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"), col("toks").as("b_toks"))
      a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
        .withColumn("isize", size(array_intersect(col("a_toks"), col("b_toks"))).cast("double"))
        .withColumn("usize",
          (size(col("a_toks")) + size(col("b_toks"))).cast("double") - col("isize"))
        .withColumn("jac", col("isize") / col("usize"))
        .filter(col("jac") >= 0.5)
        .select(col("a_id"), col("b_id"), rd(col("jac"), 4).as("jac"))
        .orderBy("a_id", "b_id")
    }),

    // MinHash+LSH near-dup pairs — the 100 TB path: 3-token shingle →
    // 27-hash minhash signature → 9 bands × 3 rows → bucket equi-join →
    // exact verify on candidates only (graft.operators.MinHashLsh scaladoc
    // explains why MLlib's 1-row-band MinHashLSH was rejected). Shingles,
    // not token sets: the corpus vocabulary is 31 tokens, so token-SET
    // similarity is degenerate while shingle similarity separates true
    // near-dups. Approximate recall ⇒ oracle-less (SURVEY.md §2.11);
    // deterministic (fixed hash seeds).
    "dedup_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), graft.Tables.spaceSplit(normText(col("text"))).as("tokens"))
      graft.operators.MinHashLsh
        .nearDupPairs(docs, "doc_id", "tokens", threshold = 0.8)
        .select(col("a_id"), col("b_id"), rd(col("jaccard"), 4).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // Brute-force cosine top-k — the exactness baseline for ANN. The 10-row
    // query side is broadcast; the scan side streams through a nested-loop
    // probe (10·n dot products, embarrassingly parallel). The bucketed scale
    // path is sim_ann_lsh. Neighbors rank by the ROUNDED cosine (rd, the
    // parity-safe floor formula) then nid — ranking by the full-precision
    // value would let two cosines that tie within ulp order differently
    // across engines' summation orders (SURVEY §5.4 risk, retired r11);
    // the rounded key makes every near-tie break deterministically by nid
    // on BOTH sides.
    "sim_knn_cosine" -> ((s, d) => {
      // norms projected per side pre-join (not per joined pair) — identical
      // float ops, fewer evaluations
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        .withColumn("nrm", Vec.l2Native("vec"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"), col("nrm").as("qnrm"))
      val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
      emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", Vec.dotNative("vec", "qvec") / (col("nrm") * col("qnrm")))
        .withColumn("cos_sim", rd(col("cos"), 4))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("cos_sim"))
        .orderBy("qid", "rnk")
    }),

    // Multimodal row = text ⋈ vector on the shared key; per-label corpus
    // stats including the embedding L2 norm via higher-order functions.
    "multimodal_join_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"), col("label"))
      docs.join(emb, col("doc_id") === col("vec_id"))
        .withColumn("l2n", Vec.l2Native("vec"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(col("l2n")), 4).as("avg_l2"))
        .orderBy("label")
    }),

    // Corpus term frequencies: explode + hash-agg + global top-k (partial
    // aggregation map-side; TakeOrderedAndProject for the top 20).
    "text_top_terms" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(graft.Tables.spaceSplit(normText(col("text")))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // Adjacent-token bigrams via the native ngrams kernel (plans.NGrams,
    // non-distinct) — one codegen'd pass per doc; the previous
    // zip_with-over-two-slices form ran as interpreted CodegenFallback
    // lambdas and broke the stage's whole-stage-codegen span (true-sf1
    // profile: the explode stage was ~85% of the query).
    "text_bigrams" -> ((s, d) => {
      val toks = graft.Tables.spaceSplit(normText(col("text")))
      val bigrams = org.apache.spark.sql.GraftSqlShim.column(
        graft.plans.NGrams(
          org.apache.spark.sql.GraftSqlShim.expression(toks), 2, distinct = false))
      // no size(toks)>=2 pre-filter: it re-ran the whole normText+split
      // chain once more per doc, and the kernel already returns [] for
      // short/null docs — explode drops those rows for free (round 13,
      // measured 15.8 -> see BASELINE at sf10)
      t(s, d, "documents")
        .select(explode(bigrams).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    })
  )

  private val norm = normTextSql("text")

  val oracle: Map[String, String] = Map(
    "dedup_exact" ->
      s"""SELECT md5($norm) AS h, CAST(min(doc_id) AS BIGINT) AS keeper,
         |       CAST(count(*) AS BIGINT) AS dupes
         |FROM documents GROUP BY h ORDER BY keeper""".stripMargin,
    "dedup_jaccard" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang, list_distinct(string_split($norm, ' ')) AS toks
         |  FROM documents WHERE doc_id < 500),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS isize,
         |         CAST(len(a.toks) + len(b.toks) AS DOUBLE)
         |           - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS usize
         |  FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id, floor(isize / usize * 10000.0 + 0.5) / 10000.0 AS jac
         |FROM pairs WHERE isize / usize >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,
    "sim_knn_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |q AS (SELECT vec_id AS qid, vec AS qvec FROM e WHERE vec_id < 10),
        |p AS (SELECT q.qid, e.vec_id AS nid,
        |             floor(list_inner_product(e.vec, q.qvec)
        |               / (sqrt(list_inner_product(e.vec, e.vec))
        |                  * sqrt(list_inner_product(q.qvec, q.qvec))) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |      FROM e CROSS JOIN q WHERE e.vec_id <> q.qid)
        |SELECT qid, CAST(row_number() OVER w AS BIGINT) AS rnk, nid, cos_sim
        |FROM p WINDOW w AS (PARTITION BY qid ORDER BY cos_sim DESC, nid)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY qid, rnk""".stripMargin,
    "multimodal_join_stats" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n,
        |       round(avg(n_chars), 2) AS avg_chars,
        |       round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                         CAST(embedding AS DOUBLE[])))), 4) AS avg_l2
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY label ORDER BY label""".stripMargin,
    "text_top_terms" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest(string_split($norm, ' ')) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "text_bigrams" ->
      s"""WITH toks AS (SELECT string_split($norm, ' ') AS tk FROM documents),
         |bg AS (SELECT unnest([tk[i] || ' ' || tk[i + 1] FOR i IN range(1, len(tk))]) AS bigram
         |       FROM toks WHERE len(tk) >= 2)
         |SELECT bigram, CAST(count(*) AS BIGINT) AS n
         |FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{normText, normTextSql, rd, rdSql, t}
import graft.operators.MinHashLsh

/** Round-7 text-similarity additions (SURVEY.md §2.16): token-sort
  * (bag-of-words) dedup and asymmetric n-gram containment — the
  * quote/subset detector exact Jaccard misses (a short doc fully contained
  * in a long one has low Jaccard but containment 1.0).
  *
  * Scale notes (100 TB):
  * - Token-sort dedup is the exact-dedup skeleton with a canonicalized
  *   fingerprint: only (16-byte md5, id) pairs shuffle, text never moves.
  * - Containment uses the shingle equi-join (blocking key = the shingle
  *   itself), the same discipline as text_contamination; stop-shingles are
  *   dropped by the declared [[MaxShingleDf]] document-frequency cap, so
  *   hot-shingle fan-out is bounded exactly like MinHashLsh.maxBucketSize
  *   bounds degenerate buckets.
  */
object TextSim {

  type Q = (SparkSession, String) => DataFrame

  /** Document-frequency cap for join shingles (declared-constant guard,
    * same family as MinHashLsh.maxBucketSize): a shingle occurring in more
    * than this many documents is a STOP-shingle — boilerplate, not signal —
    * and leaves the shingle universe entirely (intersection counts AND the
    * |A| denominator) before the equi-join, bounding per-shingle join
    * fan-out at df² ≤ MaxShingleDf². Non-binding on the gate's data (max
    * observed 3-gram df in the sf0.1 doc_id<500 block is 7, 8-gram df is 1),
    * so oracle rows are unchanged; at corpus scale it is what keeps the
    * shingle equi-join from going quadratic on boilerplate.
    */
  private[graft] val MaxShingleDf = 64

  /** Directed n-gram containment over `docs` (doc_id, text): |A∩B| / |A| ≥
    * minC pairs via the diagonal shingle self-join, with shingles above
    * `dfCap` dropped first (see [[MaxShingleDf]]). Exposed with the cap as
    * a parameter so the spec can exercise the binding case.
    */
  private[graft] def ngramContainment(
      docs: DataFrame, n: Int, minC: Double, dfCap: Int): DataFrame = {
    // DIAGONAL form: the shingle self-join keeps a = b pairs, so the
    // (a, a) count IS |A| — each doc intersected with itself — and one
    // window over a_id replays it onto that doc's pair rows. This
    // collapses the naive three-consumer shape (two join sides + a
    // per-doc count branch, i.e. three scan+shingle pipelines or a
    // materialization) to two, with no extra job. The df window keys on
    // the shingle — the join key — so the join reuses its exchange.
    val wDf = Window.partitionBy("g")
    val sh = docs
      .select(col("doc_id"),
        explode(MinHashLsh.shingles(graft.Tables.spaceSplit(normText(col("text"))), n)).as("g"))
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= dfCap)
      .drop("df")
    val b = sh.select(col("doc_id").as("b_id"), col("g"))
    val agg = sh
      .join(b, Seq("g"))
      .groupBy(col("doc_id").as("a_id"), col("b_id"))
      .agg(count(lit(1)).as("cnt"))
    val byA = Window.partitionBy("a_id")
    agg
      .withColumn("ns", max(when(col("a_id") === col("b_id"), col("cnt"))).over(byA))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("c", col("cnt").cast("double") / col("ns"))
      .filter(col("c") >= minC)
      .select(col("a_id"), col("b_id"), rd(col("c"), 4).as("containment"))
      .orderBy("a_id", "b_id")
  }

  val queries: Map[String, Q] = Map(
    // Bag-of-words identity: docs whose normalized token MULTISET matches
    // collapse to one fingerprint — catches token-reordered near-copies
    // exact dedup misses (sentence shuffles, clause swaps). The fingerprint
    // is INTERNAL (dropped before output), so any multiset-identity hash
    // yields the same groups: round 13 replaced the per-doc
    // array_sort + concat_ws + md5 cascade (O(n log n) sort + a giant
    // intermediate string per document) with two independent-seed
    // SetHashSum kernels — a commutative SUM of xxhash64(token) respects
    // multiplicity with no sort and no materialized string, 128-bit
    // effective key (collision odds ~n²/2¹²⁸), same trick as the
    // CorpusClean J=1.0 fast path. The DuckDB oracle keeps md5-of-sorted:
    // both sides group by multiset identity, so groups match exactly.
    // (One declared edge: a NULL text hashes to (0,0) here but to
    // md5("") in the sorted form — the forms differ only on corpora
    // mixing NULL-text and empty-normalized docs; documents.text is
    // NOT NULL at every rung, checked before landing.)
    // Shuffle stays slim — two 8-byte longs + id per doc, text never moves.
    "dedup_token_sort" -> ((s, d) => {
      // Round 19: both multiset hash sums in ONE fused zero-copy pass over
      // the normalized text (plans.TokenHashSums) — the spaceSplit →
      // 2×SetHashSum chain materialized the token array and walked it
      // twice. TokenHashSumsParitySpec pins the pair.
      val fused = org.apache.spark.sql.GraftSqlShim.column(
        graft.plans.TokenHashSums(
          org.apache.spark.sql.GraftSqlShim.expression(normText(col("text"))), 42L, 7L))
      t(s, d, "documents")
        .select(col("doc_id"), fused.as("fp"))
        .select(col("doc_id"),
          col("fp").getField("fp1").as("fp1"),
          col("fp").getField("fp2").as("fp2"))
        .groupBy(col("fp1"), col("fp2"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dupes"))
        .select(col("keeper"), col("dupes"))
        .orderBy("keeper")
    }),

    // Directed 3-gram containment |A∩B| / |A| ≥ 0.3 within the doc_id<500
    // block (declared semantics, same block as dedup_jaccard): pairs where
    // most of A's shingles occur in B — subset/quotation detection.
    // Stop-shingles above MaxShingleDf leave the universe first (non-binding
    // at the gate's data — see the constant's scaladoc).
    "text_ngram_containment" -> ((s, d) => ngramContainment(
      t(s, d, "documents").filter(col("doc_id") < 500).select(col("doc_id"), col("text")),
      n = 3, minC = 0.3, dfCap = MaxShingleDf)),

    // Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09): merge two
    // rankings of the corpus — token count and char length here; in a
    // retrieval stack, BM25 and embedding-cosine — by summing 1/(60+rank)
    // over each system's TOP-500 list. RRF is DEFINED over truncated lists
    // (docs outside every list are simply absent), which is also the scale
    // contract: each system contributes candidates via TakeOrderedAndProject
    // (per-partition heaps, no global sort), the rank window runs over the
    // limit-bounded 500-row frame, and the fuse is a hash agg over ≤ 2
    // contributions per doc (sum of ≤ 2 doubles is commutative ⇒ rd() is
    // bit-exact cross-engine, not a tolerance).
    "rank_fusion" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"),
          graft.Tables.spaceTokenCount(normText(col("text"))).cast("long").as("n_tok"),
          col("n_chars"))
      def contribs(key: String) = {
        val w = Window.orderBy(col(key).desc, col("doc_id"))
        base.orderBy(col(key).desc, col("doc_id")).limit(500)
          .withColumn("r", row_number().over(w))
          .select(col("doc_id"), (lit(1.0) / (lit(60) + col("r"))).as("contrib"))
      }
      contribs("n_tok").unionAll(contribs("n_chars"))
        .groupBy("doc_id")
        .agg(rd(sum(col("contrib")), 6).as("rrf"),
          count(lit(1)).as("n_systems"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(50)
    }))

  private val norm = normTextSql("text")

  val oracle: Map[String, String] = Map(
    "dedup_token_sort" ->
      s"""WITH d AS (SELECT doc_id,
         |                  md5(array_to_string(list_sort(string_split($norm, ' ')), ' ')) AS fp
         |           FROM documents)
         |SELECT min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS dupes
         |FROM d GROUP BY fp ORDER BY keeper""".stripMargin,
    "text_ngram_containment" ->
      s"""WITH tok AS (SELECT doc_id, string_split($norm, ' ') AS tk
         |             FROM documents WHERE doc_id < 500),
         |sh0 AS (SELECT DISTINCT doc_id, array_to_string(tk[(i + 1):(i + 3)], ' ') AS g3
         |        FROM tok, LATERAL (SELECT unnest(range(0, len(tk) - 2)) AS i)
         |        WHERE len(tk) >= 3),
         |-- stop-shingle df cap, mirroring the engine's MaxShingleDf guard
         |sh AS (SELECT doc_id, g3 FROM sh0
         |       QUALIFY count(*) OVER (PARTITION BY g3) <= $MaxShingleDf),
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS isect
         |          FROM sh a JOIN sh b ON a.g3 = b.g3 AND a.doc_id <> b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id, ${rdSql("CAST(isect AS DOUBLE) / na.ns", 4)} AS containment
         |FROM inter JOIN n na ON na.doc_id = a_id
         |WHERE CAST(isect AS DOUBLE) / na.ns >= 0.3
         |ORDER BY a_id, b_id""".stripMargin,
    "rank_fusion" ->
      s"""WITH t AS (SELECT doc_id, len(string_split($norm, ' ')) AS n_tok, n_chars
         |           FROM documents),
         |a AS (SELECT doc_id, r FROM
         |        (SELECT doc_id, row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r
         |         FROM t) WHERE r <= 500),
         |b AS (SELECT doc_id, r FROM
         |        (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
         |         FROM t) WHERE r <= 500),
         |u AS (SELECT doc_id, 1e0 / (60 + r) AS contrib FROM a
         |      UNION ALL SELECT doc_id, 1e0 / (60 + r) FROM b)
         |SELECT doc_id, ${rdSql("sum(contrib)", 6)} AS rrf,
         |       CAST(count(*) AS BIGINT) AS n_systems
         |FROM u GROUP BY doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 50""".stripMargin)
}

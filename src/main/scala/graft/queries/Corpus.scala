package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{rd, rdSql, t}

/** Round-9 corpus-pipeline widening (SURVEY.md §2.19): the cleaning /
  * curation passes a web-scale training corpus runs that §2.16b/§2.17 did
  * not yet cover — corpus-level boilerplate segment removal (the C4/CCNet
  * "discard any line seen ≥ 2 times" rule, adapted to fixed word segments
  * since the synthetic docs are single-line), duplicated-substring span
  * statistics (the exact-substring-dedup formulation of Lee et al. 2022,
  * grounded on hashed word 8-grams instead of suffix arrays), per-domain
  * quota sampling, source-mixture weight derivation, a bounded-memory
  * exponentially-weighted moving average over the event stream, the
  * fixed-point Lloyd clustering family (embedding_kmeans + its
  * sorted-neighborhood semantic dedup and cluster-stratified diversity
  * sample), PrefixScan-based size-balanced output sharding, and
  * exact-integer temperature mixture allocation (α = 1/2).
  *
  * Scale notes (100 TB):
  * - `text_seg_dedup` / `dedup_substring_spans` key every shuffle on a
  *   128-BIT two-seed xxhash64 FINGERPRINT of the segment / gram (round
  *   16 — the r15 design note made real): corpus-level frequency is one
  *   hash aggregate over 16-byte keys, membership flows back by equi-join
  *   on the same keys, and the per-doc reassembly aggregate is bounded by
  *   document length (sort_array over ≤ len/5 surviving segments).
  *   Semantics stay defined on the string (oracles unchanged); the
  *   collision bound at 1e12 distinct grams is ~1.5e-15 expected pairs.
  * - `sample_domain_quota` is the two-phase per-group top-k: a local
  *   row_number per (source, input-partition) prefilters to ≤ Q rows per
  *   partition BEFORE the per-source window, so no single task ever sorts
  *   a whole mega-domain (the one-window form would serialize each
  *   source's full row set — the exact cliff `topk_per_group` documents).
  * - `data_mixture_weights` aggregates to one row per language and
  *   broadcasts the one-row total back — no second pass over the corpus.
  * - `window_ewma` keeps EWMA exact and distributed: α = 1/2 makes every
  *   weight an exact dyadic, per-row integer cents (floor formula) make
  *   every term an exact multiple of 2⁻²¹, so the frame sum is EXACT and
  *   summation-order-free — the oracle can sum the same terms in any
  *   order and match bit-for-bit, no tolerance. The 20-row trailing frame
  *   is the bounded-memory streaming formulation (state = last 20 cents),
  *   and the window partitions by user, never globally.
  */
object Corpus {

  type Q = (SparkSession, String) => DataFrame

  /** Words per boilerplate segment (text_seg_dedup). */
  private val SegWords = 5

  /** Boilerplate threshold: a segment string present in ≥ this many
    * DISTINCT docs is removed everywhere (the C4 rule's "three or more"
    * tightened to 2 so the synthetic corpus exercises the path). */
  private val SegMinDocs = 2

  /** Words per duplicated-substring gram (dedup_substring_spans). */
  private val GramWords = 8

  /** Per-source quota (sample_domain_quota). */
  private val Quota = 10

  /** EWMA trailing-frame length (window_ewma). */
  private val EwmaFrame = 20

  /** k-means: cluster count, Lloyd iterations, embedding dim. */
  private val KmK = 8
  private val KmIters = 2
  private val KmDim = 64

  /** Sorted-neighborhood window for dedup_semantic: each vector is paired
    * only with the DedupW vectors adjacent to it in its cluster's
    * centroid-distance rank order — candidates per vector are ≤ 2·DedupW,
    * so candidate generation is LINEAR in corpus size, never the
    * within-cluster quadratic. */
  private val DedupW = 8

  /** Per-cluster quota (sample_diversity). */
  private val DivM = 5

  /** Output shard count (doc_shard_assign). */
  private val Shards = 16

  /** Coreset size (sample_coreset). */
  private[graft] val CoreK = 8

  /** Document budget for the temperature-scaled mixture (sample_temperature). */
  private val TempBudget = 10000L

  private def toks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), graft.Tables.spaceSplit(col("text")).as("w"))

  /** Embeddings in the exact fixed-point domain: components scaled to
    * integer micros and SHIFTED non-negative (+10⁶) — distances are
    * shift-invariant, and on non-negative operands Spark's truncating
    * `div` equals DuckDB's floor `//` (the pagerank trick). */
  private[graft] def kmEmb(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 1000000L)")
        .as("e"))

  /** Exact long squared distance between two fixed-point vectors — THE
    * distance of the clustering family, defined once for both engines
    * (Spark column + oracle SQL) so the encoding can never diverge
    * between the four sites that need it. */
  private def sqDist(a: String, b: String): Column =
    // native kernel (round 18): the aggregate/zip_with fold ran INTERPRETED
    // per (vector, centroid) pair — ArrayAggregate is CodegenFallback —
    // which was the clustering family's inner loop. plans.SqDistLong keeps
    // the fold's exact long arithmetic and lenient null semantics
    // (SqDistParitySpec + the oracle sweep pin it)
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.SqDistLong(
        org.apache.spark.sql.GraftSqlShim.expression(col(a)),
        org.apache.spark.sql.GraftSqlShim.expression(col(b))))

  /** DuckDB form of [[sqDist]] over 1-based list columns. */
  private def sqDistSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(range(1, ${KmDim + 1}),
       |              j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) AS BIGINT)""".stripMargin

  /** Session-scoped cache of the final Lloyd assignment, keyed by
    * (session, sfDir) — the graph-family edge-cache pattern (round 11):
    * `embedding_kmeans`, `dedup_semantic` and `sample_diversity` all
    * consume the SAME (vec_id, cid, d2) frame, and each previously re-ran
    * the KmIters-deep iteration pyramid. The first caller per (session,
    * dir) pays the clustering and localCheckpoints the n-row assignment;
    * later callers reuse the checkpointed blocks. Every query stays a pure
    * (spark, sfDir) => DataFrame — the cache deduplicates deterministic
    * work, never changes a result, and a fresh session (every driver
    * Verify/Bench run) starts empty.
    */
  private val kmCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def kmAssignShared(s: SparkSession, d: String): DataFrame =
    kmCache.computeIfAbsent((s, d), _ => kmAssign(s, d).localCheckpoint())

  /** Final Lloyd assignment (vec_id, cid, d2) after KmIters synchronous
    * rounds — the shared clustering core behind `embedding_kmeans`,
    * `dedup_semantic` and `sample_diversity` (always reached through
    * [[kmAssignShared]]). Each round's centroid frame is lazily
    * localCheckpoint-ed, so consumers that branch twice off the result
    * re-run only the final broadcast fan-out, never the iteration
    * pyramid. See the embedding_kmeans entry for the exactness argument. */
  private def kmAssign(s: SparkSession, d: String): DataFrame = {
    val emb = kmEmb(s, d)
    def assign(cent: DataFrame): DataFrame =
      emb.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), sqDist("e", "c").as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
    // init = the KmK smallest vec_ids BY RANK (sort+limit compiles to
    // TakeOrderedAndProject — per-partition heaps, no serialized window),
    // not a `vec_id < K` value filter that would under-seed or empty the
    // clustering on any id space that isn't dense-from-0
    var cent = emb.sort(col("vec_id")).limit(KmK)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    var i = 0
    while (i < KmIters) {
      val means = assign(cent).join(emb, "vec_id")
        .select(col("cid"), posexplode(col("e")).as(Seq("dim", "v")))
        .groupBy(col("cid"), col("dim"))
        .agg(expr("sum(v) div count(1)").as("cm"))
        .groupBy(col("cid"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, cm))), p -> p.cm)").as("nc"))
      // an emptied cluster keeps its previous centroid (same rule in
      // the oracle) — without this the arity of the problem would
      // silently shrink on degenerate inits
      cent = cent.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nc"), col("c")).as("c"))
        .localCheckpoint(eager = false)
      i += 1
    }
    assign(cent)
  }

  /** Greedy farthest-point sampling, INCREMENTAL form (round 10): the state
    * frame carries (vec_id, e, md2 = exact min distance to the selected set
    * so far), so each round compares only against the NEWEST center — one
    * 1-row broadcast cross join + `least` per round, no per-round
    * k-row fan-out and no groupBy at all (md2 is already per-vector) —
    * O(K·n·dim) total distance work vs re-deriving min-distance against the
    * whole selected set (O(K²·n·dim), the spec's recompute reference).
    * Same exact integers and (−md2, vec_id) argmax tie-break, so it is
    * output-identical to [[coresetFpsBatched]] (Round10Spec pins both).
    * Both state and pick frames are lazily localCheckpoint-ed per round so
    * the K-deep pyramid never re-derives earlier rounds. This is the
    * null-vector fallback of [[coresetFpsBatched]]: its SQL null semantics
    * survive a null-riddled corpus by construction.
    */
  private[graft] def coresetFpsIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = kmEmb(s, d)
    val first = emb.sort(col("vec_id")).limit(1)
      .localCheckpoint(eager = false)
    var picks = first
      .select(col("vec_id"), lit(1L).as("sel_order"), lit(0L).as("d2"))
      .localCheckpoint(eager = false)
    var state = emb
      .crossJoin(broadcast(first.select(col("e").as("se"))))
      .select(col("vec_id"), col("e"), sqDist("e", "se").as("md2"))
      .localCheckpoint(eager = false)
    var i = 2
    while (i <= CoreK) {
      // the empty-corpus agg yields one all-NULL row — filter it so a
      // zero-row corpus yields a zero-row coreset, not K−1 null picks
      val pick = state
        .join(picks.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .agg(min(struct((lit(0L) - col("md2")).as("neg"), col("vec_id"))).as("m"))
        .select(col("m.vec_id").as("vec_id"), lit(i.toLong).as("sel_order"),
          (lit(0L) - col("m.neg")).as("d2"))
        .filter(col("vec_id").isNotNull)
        .localCheckpoint(eager = false) // feeds both the output and the center
      picks = picks.unionByName(pick).localCheckpoint(eager = false)
      if (i < CoreK) {
        // round 15: the picked center's vector comes from the CURRENT
        // state checkpoint (which already carries `e` per row), not from a
        // re-scan of the embeddings source
        state = state
          .crossJoin(broadcast(pick.join(state, "vec_id").select(col("e").as("se"))))
          .select(col("vec_id"), col("e"),
            least(col("md2"), sqDist("e", "se")).as("md2"))
          .localCheckpoint(eager = false)
      }
      i += 1
    }
    picks.select(col("sel_order"), col("vec_id"), col("d2")).orderBy("sel_order")
  }

  /** Candidate budget for [[coresetFpsBatched]]. 4096 ≫ K=8 means the
    * certificate below virtually never fails (one resync pass would cost
    * one extra cluster pass, not correctness). */
  private val CoreCand = 4096

  /** Farthest-point sampling, CERTIFICATE-BATCHED form (round 16, VERDICT
    * r15 item 4). The incremental form's 16.6 s at sf10 was per-round JOB
    * CONSTANTS (2 cluster passes × 8 rounds for 8 output rows), not data
    * work. This form runs ONE cluster pass (md2 vs the first center) +
    * one TakeOrdered fetch of the top-[[CoreCand]] candidates WITH their
    * vectors, then finishes the remaining K−1 picks on the driver in the
    * same exact long arithmetic ([[sqDist]] is integer math, replicated
    * verbatim below), with a correctness CERTIFICATE per pick:
    *
    *   every non-candidate x has md2_now(x) ≤ md2_fetch(x) ≤ threshold
    *   (the M-th fetched md2; md2 only ever decreases), so while the
    *   driver pick's md2 is STRICTLY greater than the threshold it
    *   provably equals the full-corpus argmax — including the
    *   (−md2, vec_id) tie-break, since ties at the threshold are treated
    *   as certificate FAILURES (conservative: equality could hide a
    *   smaller-vec_id non-candidate).
    *
    * On failure it RESYNCS: one distributed pass folds every center
    * picked since the last sync into md2 (a single `least` over the
    * broadcast center list), re-fetches the top-M, and continues. With
    * M=4096 vs K=8 a resync needs the corpus's md2 mass concentrated in
    * <0.2% of points — the pathological case, paid with one extra pass.
    * Scale: the fetch is TakeOrderedAndProject (per-partition heaps, no
    * global sort); candidate payload is M·dim longs (~2 MB at dim 64).
    * Output-identical to [[coresetFpsIncremental]] and the spec's
    * recompute reference (Round10Spec + the sf0.01 oracle pin it).
    */
  private[graft] def coresetFpsBatched(
      s: SparkSession, d: String, cand: Int = CoreCand): DataFrame = {
    import org.apache.spark.sql.types._
    val emb = kmEmb(s, d)
    val outSchema = StructType(Seq(
      StructField("sel_order", LongType), StructField("vec_id", LongType),
      StructField("d2", LongType)))
    def result(picks: Seq[(Long, Long, Long)]): DataFrame =
      s.createDataFrame(
        s.sparkContext.parallelize(
          picks.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3)), 1),
        outSchema).orderBy("sel_order")

    val firstRows = emb.sort(col("vec_id")).limit(1).collect()
    if (firstRows.isEmpty) return result(Nil)
    // NULL vectors (failed embedding jobs null the column at scale) cannot
    // cross the driver boundary — the exact long arithmetic below has no
    // null. Fall back to the incremental cluster form, whose SQL null
    // semantics survive a null-riddled corpus by construction
    // (NullCorpusSpec pins the no-crash contract on every declared key).
    if (firstRows(0).isNullAt(1)) return coresetFpsIncremental(s, d)
    val firstId = firstRows(0).getLong(0)
    val firstVec = firstRows(0).getSeq[Long](1).toArray

    def dist(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var j = 0
      while (j < a.length) { val dd = a(j) - b(j); acc += dd * dd; j += 1 }
      acc
    }

    // one cluster pass: exact md2 vs the first center, kept checkpointed
    // only as the resync seed
    var state = emb
      .crossJoin(broadcast(s.createDataFrame(
        s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(firstVec.toSeq)), 1),
        StructType(Seq(StructField("se", ArrayType(LongType)))))))
      .select(col("vec_id"), col("e"), sqDist("e", "se").as("md2"))
      .localCheckpoint(eager = false)

    final case class Cand(id: Long, vec: Array[Long], var md2: Long)
    var picked = List((1L, firstId, 0L))
    var pickedIds = Set(firstId)
    var pendingCenters: List[Array[Long]] = Nil // since last sync

    // null-vector rows have NULL md2 (sqDist of a null operand) and sink
    // below every real candidate in the desc order; they surface in a
    // fetch only when fewer than `cand` real rows exist — detected here,
    // same fallback as the first-row guard
    final case class NullVec() extends Exception
    def fetch(): (Array[Cand], Long) = {
      val rows = state
        .filter(!col("vec_id").isin(pickedIds.toSeq: _*))
        .orderBy(col("md2").desc, col("vec_id"))
        .limit(cand)
        .collect()
      if (rows.exists(r => r.isNullAt(1) || r.isNullAt(2))) throw NullVec()
      val cands = rows.map(r => Cand(r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      val thr = if (cands.length < cand) Long.MinValue else cands.last.md2
      (cands, thr)
    }
    var (cands, threshold) = (Array.empty[Cand], 0L)
    try { val ft = fetch(); cands = ft._1; threshold = ft._2 }
    catch { case NullVec() => return coresetFpsIncremental(s, d) }

    var i = 2
    while (i <= CoreK && (cands.nonEmpty || threshold > Long.MinValue)) {
      val live = cands.filter(c => !pickedIds.contains(c.id))
      val best = if (live.isEmpty) None
        else Some(live.minBy(c => (-c.md2, c.id)))
      best match {
        // a FRESH fetch (no driver-side picks folded since the sync) is
        // exact by construction — its (md2 desc, vec_id asc) top row IS
        // the global argmax incl. tie-break — so equality at the
        // threshold is only a failure once pendingCenters is non-empty.
        // This also guarantees every resync enables ≥1 pick (no spin).
        case Some(b) if b.md2 > threshold || pendingCenters.isEmpty =>
          picked ::= ((i.toLong, b.id, b.md2))
          pickedIds += b.id
          pendingCenters ::= b.vec
          // fold the new center into every candidate's md2 (exact)
          live.foreach { c =>
            val dd = dist(c.vec, b.vec); if (dd < c.md2) c.md2 = dd
          }
          i += 1
        case _ =>
          // certificate failed (or candidates exhausted under a live
          // threshold): resync — fold pending centers into the cluster
          // state in ONE pass, re-fetch
          if (pendingCenters.nonEmpty) {
            val cs = typedlit(pendingCenters.map(_.toSeq).reverse)
            state = state
              .withColumn("cs", cs)
              .select(col("vec_id"), col("e"),
                least(col("md2"), expr(
                  "array_min(transform(cs, c -> aggregate(zip_with(e, c," +
                    " (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)))"))
                  .as("md2"))
              .localCheckpoint(eager = false)
            pendingCenters = Nil
          } else if (cands.length < cand) {
            // nothing pending and the fetch already saw the whole corpus:
            // genuinely out of points
            i = CoreK + 1
          }
          if (i <= CoreK) { val ft = fetch(); cands = ft._1; threshold = ft._2 }
      }
    }
    result(picked.reverse)
  }

  val queries: Map[String, Q] = Map(
    // Corpus-level boilerplate removal: non-overlapping SegWords-word
    // segments; a segment STRING seen in ≥ SegMinDocs distinct docs is
    // boilerplate and removed from every doc. Output: per-doc segment
    // counts + the cleaned text (surviving segments in order).
    "text_seg_dedup" -> ((s, d) => {
      // NOTE (round 13): a repartition(doc_id) exchange-reuse rewrite (the
      // tfidf pattern) was A/B-measured at sf10 and REGRESSED 10.9 -> 16.2 s:
      // shuffling every exploded segment instance by doc_id costs more than
      // the duplicated scan+split it saves (no regex in this chain, unlike
      // tfidf) — the double-consumption below stays deliberate
      //
      // Round 16 (VERDICT r15 item 3): the corpus-frequency aggregate and
      // the membership join key on a 128-BIT FINGERPRINT (two-seed
      // xxhash64 pair) of the segment instead of the raw string, so the
      // countDistinct shuffle moves 16-byte keys, not ~5-word strings.
      // Semantics stay defined ON THE STRING (the oracle is unchanged):
      // results are identical unless two distinct segments collide in
      // BOTH hashes — expected colliding pairs at 1e12 distinct segments
      // ≈ (1e12)²/2 / 2¹²⁸ ≈ 1.5e-15, i.e. never at the 100 TB design
      // point (vs ~2.7e4 expected pairs for a single 64-bit hash, which
      // is why the key is a pair). CorpusSpec re-pins the outputs.
      // native segment kernel (round 18): the transform/slice/array_join
      // composition ran interpreted per doc AND twice (deliberate double
      // consumption below); plans.WordSegments is its bit-parity twin
      // (SegmentsParitySpec), one pass per consumer
      val segs = toks(s, d).select(
        col("doc_id"),
        posexplode(org.apache.spark.sql.GraftSqlShim.column(
          graft.plans.WordSegments(
            org.apache.spark.sql.GraftSqlShim.expression(col("w")), SegWords)))
          .as(Seq("seg_no", "seg")))
        .withColumn("h1", xxhash64(col("seg")))
        .withColumn("h2", xxhash64(col("seg"), lit(1)))
      val boiler = segs
        .groupBy(col("h1"), col("h2"))
        .agg(countDistinct(col("doc_id")).as("dc"))
        .filter(col("dc") >= SegMinDocs)
        .select(col("h1"), col("h2"), lit(1).as("is_b"))
      segs.join(boiler, Seq("h1", "h2"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          count(col("is_b")).as("n_boiler"),
          // collect_list drops nulls, so only surviving segments are
          // gathered; sort_array on (seg_no, seg) restores document order
          // deterministically regardless of shuffle arrival
          array_join(expr(
            "transform(sort_array(collect_list(CASE WHEN is_b IS NULL THEN" +
              " struct(seg_no, seg) END)), p -> p.seg)"), " ").as("clean_text"))
        .orderBy("doc_id")
    }),

    // Duplicated-substring spans: overlapping GramWords-word grams; a gram
    // present in ≥ 2 distinct docs marks a duplicated span position.
    // Per-doc span statistics (the Lee et al. 2022 dedup signal).
    "dedup_substring_spans" -> ((s, d) => {
      // NON-distinct overlapping grams (multiplicity counts in n_grams)
      // straight from the native kernel — bit-identical to the old
      // interpreted CASE/transform/slice cascade incl. the short-doc →
      // empty-array branch (NGramsSpec parity pins)
      //
      // Round 16 (VERDICT r15 item 3): downstream only ever COUNTS grams,
      // so the gram string is dropped at the map stage — every shuffle
      // (frequency agg, membership join, per-doc stats) moves only the
      // 128-bit two-seed xxhash64 fingerprint. Same collision bound as
      // text_seg_dedup (~1.5e-15 expected colliding pairs at 1e12
      // distinct grams); semantics defined on the string, oracle
      // unchanged.
      val grams = toks(s, d).select(
        col("doc_id"),
        explode(org.apache.spark.sql.GraftSqlShim.column(graft.plans.NGrams(
          org.apache.spark.sql.GraftSqlShim.expression(col("w")),
          GramWords, distinct = false))).as("gram"))
        .select(col("doc_id"),
          xxhash64(col("gram")).as("h1"),
          xxhash64(col("gram"), lit(1)).as("h2"))
      val dup = grams
        .groupBy(col("h1"), col("h2"))
        .agg(countDistinct(col("doc_id")).as("dc"))
        .filter(col("dc") >= 2)
        .select(col("h1"), col("h2"), lit(1).as("is_d"))
      val stats = grams.join(dup, Seq("h1", "h2"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("g"), count(col("is_d")).as("dup"))
      t(s, d, "documents").select(col("doc_id"))
        .join(stats, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("g"), lit(0L)).as("n_grams"),
          coalesce(col("dup"), lit(0L)).as("n_dup"),
          when(coalesce(col("g"), lit(0L)) > 0,
            rd(col("dup").cast("double") / col("g"), 6)).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    // Per-domain quota cap: keep ≤ Quota docs per source, chosen by the
    // md5 hash order (stable under reruns / repartitioning — the
    // sample_split coin discipline). Two-phase so no task sorts a whole
    // source: local top-Q per (source, input partition), then the global
    // per-source window runs over ≤ Q·partitions rows per source.
    "sample_domain_quota" -> ((s, d) => {
      val h = t(s, d, "documents").select(
        col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("hk"))
      val local = h
        .withColumn("pid", spark_partition_id())
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"), col("pid")).orderBy(col("hk"), col("doc_id"))))
        .filter(col("rk") <= Quota)
        .drop("pid", "rk")
      local
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))))
        .filter(col("rk") <= Quota)
        .select(col("source"), col("doc_id"))
        .orderBy("source", "doc_id")
    }),

    // Source-mixture weights: per-language token mass → the sampling
    // weight that re-balances the mixture to uniform (weight =
    // uniform_share / actual_share). One tiny aggregate + a broadcast
    // one-row total; ratios divide identical exact integers on both
    // engines, rounded by the shared floor formula.
    "data_mixture_weights" -> ((s, d) => {
      val lt = langTokens(s, d)
      val tot = lt.agg(sum(col("n_tokens")).as("tt"), count(lit(1)).as("nl"))
      lt.crossJoin(broadcast(tot))
        .select(
          col("lang"), col("n_docs"), col("n_tokens"),
          rd(col("n_tokens").cast("double") / col("tt"), 6).as("token_share"),
          rd(col("tt").cast("double") / (col("nl") * col("n_tokens")), 6).as("mix_weight"))
        .orderBy("lang")
    }),

    // Bounded-memory EWMA (α = 1/2) of event value per user over the last
    // EwmaFrame events: integer cents × dyadic weights keep every term an
    // exact multiple of 2^-(EwmaFrame+1), so the sum is exact and
    // order-independent — the oracle's self-join computes the identical
    // value with zero tolerance. Normalized by the closed-form geometric
    // weight sum 1 − 2^−m.
    "window_ewma" -> ((s, d) => {
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val frame = ord.rowsBetween(-(EwmaFrame - 1), 0)
      graft.Tables.events(s, d)
        .select(
          col("user_id"), col("ts_us"), col("event_id"),
          floor(col("value") * 100 + 0.5).as("cents"))
        .withColumn("seq", row_number().over(ord))
        .withColumn("arr", collect_list(col("cents")).over(frame))
        .select(
          col("user_id"), col("seq"),
          rd(expr(
            "aggregate(transform(arr, (x, i) -> x * power(0.5, size(arr) - i)), 0D, (a, x) -> a + x)" +
              " / (100.0 * (1 - power(0.5, size(arr))))"), 6).as("ewma"))
        .orderBy("user_id", "seq")
    }),

    // Deterministic fixed-point k-means (Lloyd, KmIters synchronous
    // rounds) over the embeddings — the semantic-clustering primitive a
    // curation pipeline uses for diversity sampling / semantic dedup.
    // EXACT cross-engine: components scale to integer micros SHIFTED
    // non-negative (+10⁶ — distances are shift-invariant, and on
    // non-negative operands Spark's truncating `div` equals DuckDB's
    // floor `//`, the pagerank trick), distances are exact long sums
    // (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴ per pair — 4 orders under long range; a
    // micros→nanos rescale would NOT fit and must shrink the shift —
    // size), centroid means are integer floor-divisions, argmin ties
    // break to the smallest centroid id. Init = the KmK smallest vec_ids.
    // Scale shape: each assignment is a k-row BROADCAST fan-out + hash
    // argmin (min over struct(d2, cid) — no window); each update is the
    // classic map-side-combined (cid, dim) mean — explode to (cid, dim,
    // v), partial sums in the map stage, 8·64-row result; lazy
    // localCheckpoint per round truncates the iterative lineage. The
    // final pass re-assigns against the converged centroids and reports
    // the exact squared distance.
    "embedding_kmeans" -> ((s, d) =>
      kmAssignShared(s, d)
        .select(col("vec_id"), col("cid").cast("long").as("cluster"), col("d2").as("dist2"))
        .orderBy("vec_id")),

    // Semantic near-dup candidates by SORTED-NEIGHBORHOOD blocking: rank
    // each cluster's members by (distance-to-centroid, vec_id), pair each
    // vector only with the DedupW vectors after it in that rank order, and
    // report each vector's nearest candidate (exact long pair distance,
    // ties → smallest id; singleton clusters keep NULL). The classic SNM
    // dedup shape lifted to embedding space: near-identical vectors sit at
    // near-identical centroid distances, so true duplicates land inside
    // the window while candidate generation stays LINEAR (≤ 2·DedupW
    // candidates per vector) — never the within-cluster quadratic that an
    // all-pairs bucket join would pay. The rank join is a pure equi-join
    // on (cid, rank+j): the left side explodes j ∈ [1..DedupW], so no
    // range predicate ever degrades it to a nested loop. Per-cluster rank
    // is the one window; at 100 TB k scales as N/⟨cluster⟩ so the
    // window's partition (one cluster) stays bounded, the same contract
    // as topk_per_group.
    "dedup_semantic" -> ((s, d) => semanticNn(s, d)),

    // Cluster-stratified prototype sampling (diversity sampling): the DivM
    // vectors closest to each centroid (ties → smallest id), equal quota
    // per semantic cluster so every region of embedding space is
    // represented. Two-phase top-M per cluster — a local per-(cluster,
    // input-partition) prefilter bounds what the per-cluster window ever
    // sorts, the sample_domain_quota discipline.
    "sample_diversity" -> ((s, d) => {
      val local = kmAssignShared(s, d)
        .withColumn("pid", spark_partition_id())
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cid"), col("pid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rk") <= DivM)
        .drop("pid", "rk")
      local
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rk") <= DivM)
        .select(col("cid").cast("long").as("cluster"), col("rk").cast("long").as("rank"),
          col("vec_id"), col("d2"))
        .orderBy("cluster", "rank")
    }),

    // Greedy k-center coreset (farthest-point sampling) — the
    // data-selection primitive that picks the CoreK vectors maximizing
    // coverage of embedding space: start from the smallest vec_id, then
    // repeatedly add the vector FARTHEST from the selected set (exact
    // long min-distance, ties → smallest id; already-selected ids
    // anti-joined out so degenerate duplicate vectors can't be re-picked).
    // Reported d2 is the coverage radius at selection time — monotone
    // non-increasing, the k-center certificate. EXACT cross-engine via
    // the shared fixed-point domain. Round 16 finishes the picks in the
    // calling JVM behind a certificate — see [[coresetFpsBatched]].
    "sample_coreset" -> ((s, d) => coresetFpsBatched(s, d)),

    // Size-balanced CONTIGUOUS output sharding — the "write the corpus as
    // S balanced shards" step before a training job: shard(doc) =
    // cum_bytes_before div ceil(total/S), so shard boundaries fall exactly
    // where the running byte count crosses each 1/S of the corpus and
    // doc order is preserved within and across shards. The global running
    // sum is THE serialized-window trap, so it runs through the two-pass
    // PrefixScan above the crossover (order-aligned doc_id blocks, width
    // derived from input size, broadcast-merged block offsets) and the
    // single window below it. Output is the S-row shard MANIFEST (doc
    // counts, bytes, id range) — the frame a writer would partition by.
    "doc_shard_assign" -> ((s, d) => shardManifest(s, d)),

    // Temperature-scaled mixture allocation (α = 1/2): the multilingual
    // LM sampling rule p_l ∝ n_l^α that upsamples low-resource languages,
    // allocated over a fixed document budget with largest-remainder
    // rounding so the allocations sum EXACTLY to the budget. All integer:
    // n^(1/2) is the exact integer sqrt (a floor(sqrt) seed corrected by
    // ±1 against g² ≤ n — bit-identical on both engines, no libm
    // boundary), shares are (B·w) div Σw with integer remainders, and the
    // +1 leftovers go to the largest remainders (ties → lang order). The
    // one unpartitioned window ranks the POST-AGGREGATE frame: ≤ n_langs
    // rows, bounded by language cardinality, never row cardinality.
    "sample_temperature" -> ((s, d) => {
      val lt = langTokens(s, d).select(col("lang"), col("n_tokens").as("nt"))
      val w2 = lt
        .withColumn("g", expr("CAST(floor(sqrt(CAST(nt AS DOUBLE))) AS BIGINT)"))
        .withColumn("h", expr("g - (CASE WHEN g * g > nt THEN 1 ELSE 0 END)"))
        .withColumn("w", expr("h + (CASE WHEN (h + 1) * (h + 1) <= nt THEN 1 ELSE 0 END)"))
        .select(col("lang"), col("nt"), col("w"))
      val sw = w2.agg(sum(col("w")).as("swt"))
      val base = w2.crossJoin(broadcast(sw))
        .select(col("lang"), col("nt"), col("w"),
          expr(s"($TempBudget * w) div swt").as("alloc"),
          expr(s"$TempBudget * w - (($TempBudget * w) div swt) * swt").as("rem"))
      val lo = base.agg((lit(TempBudget) - sum(col("alloc"))).as("left_over"))
      base.crossJoin(broadcast(lo))
        .withColumn("rk", row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .select(col("lang"), col("nt").as("n_tokens"), col("w").as("w_sqrt"),
          (col("alloc") + when(col("rk") <= col("left_over"), lit(1L)).otherwise(lit(0L)))
            .cast("long").as("alloc"))
        .orderBy("lang")
    }))

  /** dedup_semantic's body. `quadratic = true` is CorpusSpec's reference: the
    * SAME candidate set (|rank gap| ≤ DedupW inside a cluster) generated
    * the quadratic way — full within-cluster self-join, THEN the rank
    * filter — so the two differ only in the cost of candidate
    * GENERATION: the declared form's exploded equi-join on (cid, rank+j)
    * materializes only the 2W candidates per vector, the twin's cid join
    * materializes N²/k matches per cluster before filtering. */
  private[graft] def semanticNn(
      s: SparkSession, d: String, quadratic: Boolean = false): DataFrame = {
    val rk = kmAssignShared(s, d)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("d2"), col("vec_id"))))
    val withVec = rk.join(kmEmb(s, d), "vec_id")
    val right = withVec.select(
      col("cid"), col("rk").as("brk"), col("vec_id").as("b"), col("e").as("be"))
    val pairs = (if (quadratic)
      withVec.select(col("cid"), col("rk"), col("vec_id").as("a"), col("e").as("ae"))
        .join(right, Seq("cid"))
        .filter(col("brk") > col("rk") && col("brk") <= col("rk") + DedupW)
    else
      withVec.select(
          col("cid"), col("vec_id").as("a"), col("e").as("ae"),
          explode(expr(s"sequence(rk + 1, rk + $DedupW)")).as("brk"))
        .join(right, Seq("cid", "brk")))
      .select(col("a"), col("b"), sqDist("ae", "be").as("pd2"))
    // both directions in ONE pass over the pair rows (explode, not a
    // union that would recompute the join per branch)
    val nn = pairs.select(
        explode(array(
          struct(col("a").as("vec_id"), col("b").as("nn_id")),
          struct(col("b").as("vec_id"), col("a").as("nn_id")))).as("p"),
        col("pd2"))
      .groupBy(col("p.vec_id").as("vec_id"))
      .agg(min(struct(col("pd2"), col("p.nn_id").as("nn_id"))).as("m"))
      .select(col("vec_id"), col("m.nn_id").as("nn_id"), col("m.pd2").as("nn_d2"))
    rk.join(nn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        col("nn_id"), col("nn_d2"))
      .orderBy("vec_id")
  }

  /** Per-language doc and token mass — the one definition of "token"
    * (single-space split) shared by data_mixture_weights and
    * sample_temperature so the two mixture queries can never disagree
    * on what they are weighing. */
  private def langTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.Tables.spaceTokenCount(col("text"))).cast("long").as("n_tokens"))

  /** UTF-8 byte mass per doc — octet_length, NOT character length, so the
    * "size-balanced" contract holds on multibyte corpora (DuckDB twin is
    * strlen). */
  private def shardBytes(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("bytes"))

  /** doc_shard_assign's manifest. `blocked = None` (the declared query)
    * picks the form from the input's estimated rows, HERE, next to the
    * frame the estimate is made from; `Some(...)` forces a form so
    * CorpusSpec can pin the two row-identical, the Round8Spec discipline
    * for every PrefixScan caller. */
  private[graft] def shardManifest(
      s: SparkSession, d: String, blocked: Option[Boolean] = None): DataFrame = {
    import graft.operators.PrefixScan
    val b = shardBytes(s, d)
    val merge = (l: Column, o: Column) => coalesce(l, lit(0L)) + coalesce(o, lit(0L))
    val cum =
      if (blocked.getOrElse(PrefixScan.estimatedRows(b) >= PrefixScan.CrossoverRows))
        PrefixScan.exclusive(b, Seq.empty,
          block = expr(s"doc_id div ${PrefixScan.idBlockWidth(b)}"),
          order = Seq(col("doc_id")), value = col("bytes"),
          agg = (c: Column) => sum(c), merge = merge, out = "cum")
      else
        PrefixScan.single(b, Seq.empty, Seq(col("doc_id")), col("bytes"),
          (c: Column) => sum(c), merge, "cum")
    val tot = b.agg(sum(col("bytes")).as("tot"))
    // greatest(..., 1): an all-empty corpus has tot = 0 and the target
    // would be 0 — a hard ANSI DIVIDE_BY_ZERO, not a NULL (the repo's
    // recorded Spark-4 rule); everything lands in shard 0 instead
    cum.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("bytes"),
        expr(s"least(cum div greatest((tot + ${Shards - 1}L) div ${Shards}L, 1L), ${Shards - 1}L)")
          .as("shard"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard")
  }

  /** Generated Lloyd pyramid as materialized CTEs (the graph-oracle
    * discipline — DuckDB would otherwise re-derive each level), shared by
    * the three clustering oracles. All-integer, so every match has zero
    * tolerance. The final assignment CTE is `a${KmIters + 1}`. */
  private def kmWithBody: String = {
    def assign(i: Int, cent: String): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT v.vec_id, c.cid,
         |         ${sqDistSql("v.e", "c.c")} AS d2
         |  FROM emb v, $cent c),
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT vec_id, cid, d2,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rk
         |    FROM d$i) WHERE rk = 1)""".stripMargin
    def update(i: Int, prev: String): String =
      s"""m$i AS MATERIALIZED (
         |  SELECT a.cid, u.j AS dim, CAST(sum(v.e[u.j]) // count(*) AS BIGINT) AS cm
         |  FROM a$i a JOIN emb v USING (vec_id), unnest(range(1, ${KmDim + 1})) u(j)
         |  GROUP BY a.cid, u.j),
         |n$i AS MATERIALIZED (SELECT cid, list(cm ORDER BY dim) AS c FROM m$i GROUP BY cid),
         |c$i AS MATERIALIZED (
         |  SELECT p.cid, coalesce(n.c, p.c) AS c FROM $prev p LEFT JOIN n$i n ON p.cid = n.cid)""".stripMargin
    val head =
      s"""emb AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 1000000) AS e
         |  FROM embeddings),
         |c0 AS MATERIALIZED (SELECT vec_id AS cid, e AS c FROM emb ORDER BY vec_id LIMIT $KmK)""".stripMargin
    val rounds = (1 to KmIters).flatMap(i => Seq(assign(i, s"c${i - 1}"), update(i, s"c${i - 1}")))
    val fin = assign(KmIters + 1, s"c$KmIters")
    (head +: rounds :+ fin).mkString(",\n")
  }

  /** Name of the pyramid's final assignment CTE. */
  private val KmFinal = s"a${KmIters + 1}"

  private def kmeansOracle: String =
    s"""WITH $kmWithBody
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d2 AS dist2
       |FROM $KmFinal ORDER BY vec_id""".stripMargin

  private def dedupSemanticOracle: String =
    s"""WITH $kmWithBody,
       |rk AS MATERIALIZED (
       |  SELECT vec_id, cid, d2,
       |         row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk
       |  FROM $KmFinal),
       |pr AS MATERIALIZED (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |         ${sqDistSql("ex.e", "ey.e")} AS pd2
       |  FROM rk x JOIN rk y ON x.cid = y.cid AND y.rk BETWEEN x.rk + 1 AND x.rk + $DedupW
       |  JOIN emb ex ON ex.vec_id = x.vec_id
       |  JOIN emb ey ON ey.vec_id = y.vec_id),
       |und AS (SELECT a AS vec_id, b AS nn_id, pd2 FROM pr
       |        UNION ALL SELECT b, a, pd2 FROM pr),
       |nn AS (SELECT vec_id, nn_id, pd2 FROM (
       |         SELECT vec_id, nn_id, pd2,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY pd2, nn_id) AS q
       |         FROM und) WHERE q = 1)
       |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cluster, n.nn_id, n.pd2 AS nn_d2
       |FROM rk r LEFT JOIN nn n ON r.vec_id = n.vec_id ORDER BY r.vec_id""".stripMargin

  /** Generated FPS oracle: one (min-distance, argmax, accumulate) CTE
    * triple per selection round, materialized — same discipline as the
    * Lloyd pyramid. All-integer, zero tolerance. */
  private def coresetOracle: String = {
    val head = Seq(
      s"""emb AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 1000000) AS e
         |  FROM embeddings)""".stripMargin,
      s"""s1 AS MATERIALIZED (
         |  SELECT vec_id, CAST(1 AS BIGINT) AS sel_order, CAST(0 AS BIGINT) AS d2, e
         |  FROM emb ORDER BY vec_id LIMIT 1)""".stripMargin)
    val rounds = (2 to CoreK).flatMap { i =>
      val p = i - 1
      Seq(
        s"""m$i AS MATERIALIZED (
           |  SELECT v.vec_id, min(${sqDistSql("v.e", "s.e")}) AS md2
           |  FROM emb v, s$p s GROUP BY v.vec_id)""".stripMargin,
        s"""p$i AS MATERIALIZED (
           |  SELECT vec_id, CAST($i AS BIGINT) AS sel_order, md2 AS d2 FROM m$i
           |  WHERE vec_id NOT IN (SELECT vec_id FROM s$p)
           |  ORDER BY md2 DESC, vec_id LIMIT 1)""".stripMargin,
        s"""s$i AS MATERIALIZED (
           |  SELECT * FROM s$p
           |  UNION ALL SELECT q.vec_id, q.sel_order, q.d2, v.e
           |             FROM p$i q JOIN emb v USING (vec_id))""".stripMargin)
    }
    s"""WITH ${(head ++ rounds).mkString(",\n")}
       |SELECT sel_order, vec_id, d2 FROM s$CoreK ORDER BY sel_order""".stripMargin
  }

  private def sampleDiversityOracle: String =
    s"""WITH $kmWithBody
       |SELECT CAST(cid AS BIGINT) AS cluster, CAST(rk AS BIGINT) AS "rank", vec_id, d2
       |FROM (SELECT vec_id, cid, d2,
       |             row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rk
       |      FROM $KmFinal)
       |WHERE rk <= $DivM ORDER BY cluster, "rank"""".stripMargin

  val oracle: Map[String, String] = Map(
    "embedding_kmeans" -> kmeansOracle,
    "dedup_semantic" -> dedupSemanticOracle,
    "sample_diversity" -> sampleDiversityOracle,
    "sample_coreset" -> coresetOracle,

    "doc_shard_assign" ->
      s"""WITH b AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes FROM documents),
         |c AS (SELECT doc_id, bytes,
         |             CAST(coalesce(sum(bytes) OVER (ORDER BY doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |      FROM b),
         |t AS (SELECT CAST(sum(bytes) AS BIGINT) AS tot FROM b),
         |a AS (SELECT doc_id, bytes,
         |             least(cum // greatest((tot + ${Shards - 1}) // $Shards, 1), ${Shards - 1}) AS shard
         |      FROM c, t)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(bytes) AS BIGINT) AS shard_bytes,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    "sample_temperature" ->
      s"""WITH lt AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS nt
         |            FROM documents GROUP BY 1),
         |w0 AS (SELECT lang, nt, CAST(floor(sqrt(CAST(nt AS DOUBLE))) AS BIGINT) AS g FROM lt),
         |w1 AS (SELECT lang, nt, g - (CASE WHEN g * g > nt THEN 1 ELSE 0 END) AS h FROM w0),
         |w2 AS (SELECT lang, nt, h + (CASE WHEN (h + 1) * (h + 1) <= nt THEN 1 ELSE 0 END) AS w FROM w1),
         |sw AS (SELECT CAST(sum(w) AS BIGINT) AS swt FROM w2),
         |base AS (SELECT lang, nt, w, ($TempBudget * w) // swt AS alloc,
         |                $TempBudget * w - (($TempBudget * w) // swt) * swt AS rem
         |         FROM w2, sw),
         |lo AS (SELECT CAST($TempBudget - sum(alloc) AS BIGINT) AS left_over FROM base)
         |SELECT lang, nt AS n_tokens, w AS w_sqrt,
         |       CAST(alloc + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= left_over
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS alloc
         |FROM base, lo ORDER BY lang""".stripMargin,
    "text_seg_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |segs AS (
         |  SELECT doc_id, u.i AS seg_no,
         |         array_to_string(w[(u.i - 1) * $SegWords + 1:u.i * $SegWords], ' ') AS seg
         |  FROM toks, unnest(range(1, CAST(ceil(len(w) / ${SegWords}.0) AS BIGINT) + 1)) AS u(i)),
         |boiler AS (SELECT seg FROM segs GROUP BY seg
         |           HAVING count(DISTINCT doc_id) >= $SegMinDocs)
         |SELECT s.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_segs,
         |       CAST(count(*) FILTER (b.seg IS NOT NULL) AS BIGINT) AS n_boiler,
         |       coalesce(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' '
         |                           ORDER BY s.seg_no), '') AS clean_text
         |FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |grams AS (
         |  SELECT doc_id, array_to_string(w[u.i:u.i + ${GramWords - 1}], ' ') AS gram
         |  FROM toks, unnest(range(1, greatest(len(w) - ${GramWords - 2}, 1))) AS u(i)),
         |dup AS (SELECT gram FROM grams GROUP BY gram
         |        HAVING count(DISTINCT doc_id) >= 2),
         |st AS (SELECT g.doc_id, count(*) AS g, count(*) FILTER (u.gram IS NOT NULL) AS dup
         |       FROM grams g LEFT JOIN dup u ON g.gram = u.gram GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(st.g, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(st.dup, 0) AS BIGINT) AS n_dup,
         |       CASE WHEN coalesce(st.g, 0) > 0
         |            THEN ${rdSql("CAST(st.dup AS DOUBLE) / st.g", 6)} END AS dup_ratio
         |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "sample_domain_quota" ->
      s"""SELECT source, doc_id FROM (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
         |  FROM documents) t WHERE rk <= $Quota
         |ORDER BY source, doc_id""".stripMargin,

    "data_mixture_weights" ->
      s"""WITH lt AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT sum(n_tokens) AS tt, count(*) AS nl FROM lt)
         |SELECT lang, n_docs, n_tokens,
         |       ${rdSql("CAST(n_tokens AS DOUBLE) / tt", 6)} AS token_share,
         |       ${rdSql("CAST(tt AS DOUBLE) / (nl * n_tokens)", 6)} AS mix_weight
         |FROM lt, tot ORDER BY lang""".stripMargin,

    "window_ewma" ->
      s"""WITH ev AS (
         |  SELECT user_id, value,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |j AS (
         |  SELECT a.user_id, a.rn, count(*) AS m,
         |         sum(floor(b.value * 100 + 0.5) * power(0.5, a.rn - b.rn + 1)) AS num
         |  FROM ev a JOIN ev b ON a.user_id = b.user_id
         |                     AND b.rn BETWEEN a.rn - ${EwmaFrame - 1} AND a.rn
         |  GROUP BY 1, 2)
         |SELECT user_id, rn AS seq,
         |       ${rdSql("num / (100.0 * (1 - power(0.5, m)))", 6)} AS ewma
         |FROM j ORDER BY user_id, seq""".stripMargin)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ approximate nearest-neighbor search — the composition the two
  * parent operators were built to meet (FAISS's IndexIVFPQ, the standard
  * billion-scale ANN architecture; Jégou et al. TPAMI 2011 §V): an
  * [[AnnIvf]]-style coarse quantizer PRUNES the search to `nProbe` of
  * `nLists` cells, then an [[AnnPq]] compressed-domain ADC scan ranks only
  * the probed cells' code rows, and the exact cosine re-rank reports. At
  * 100 TB the two mechanisms compose multiplicatively: the probe touches
  * ~nProbe/nLists of the corpus, and what it touches is read as m code
  * bytes per vector instead of dim·8 — neither parent alone gets both the
  * candidate cut and the bandwidth cut.
  *
  * Variant note: codes quantize the unit-normalized vectors DIRECTLY (the
  * FAISS `by_residual=false` flavor), not the cell residuals — residual
  * encoding buys accuracy at equal code length but couples the codebooks
  * to the coarse quantizer; the direct flavor keeps the PQ codebooks
  * cell-independent, which is what lets this operator reuse [[AnnPq]]'s
  * fit/encode/LUT machinery verbatim (and lets a deployment re-fit the
  * coarse level without re-encoding the corpus). The recall cost is
  * covered by the family's √n re-rank list, gate-pinned like the parents;
  * a residual-coded form measured at equal code budget is recorded in
  * BASELINE.md (retired A/B twins).
  *
  * Everything bounded/deterministic by inheritance: both fits are seeded
  * executor-side passes over hash-ordered samples; assignment + encode is
  * ONE map pass emitting (vec_id, list_id, codes); the ADC scan joins the
  * broadcast probe list on list_id (equi-join, no cross product against
  * the corpus); top-`rerank` is the two-phase heap pattern; the exact
  * re-rank join touches ≤ rerank·q ids.
  *
  * One index, two lifetimes: [[IvfPqModel]] holds the fitted index and is
  * the only copy of its fit, encode, probe and search. The entry points
  * here fit it and search it in one query; [[AnnIndex]] fits it once,
  * persists it, and serves later queries through the same `search`.
  */
object AnnIvfPq {

  /** Adaptive composition: coarse width from [[AnnIvf.listsFor]], code
    * budget + √n re-rank from the [[AnnPq.topKAdaptive]] ladder, probed
    * fraction ≈ ½ (the family's scale-constant, which is also what the
    * ≥0.8 recall bars are pinned at). Below the one-task fit clamp the
    * FLAT coarse quantizer runs byte-unchanged; past it (n ≈ 2.1M, where
    * listsFor crosses MaxLists) the composition switches to the TWO-LEVEL
    * coarse quantizer — the same l1 × k2 split as [[AnnIvf.topKAdaptive]] —
    * so the candidate cut keeps tracking √n instead of pinning at the ½
    * floor the clamp used to impose (VERDICT r16 item 2: the 1e9-vector
    * regime this operator's scaladoc motivates is exactly where the flat
    * clamp stopped improving).
    */
  def topKAdaptive(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    topKAdaptive(emb, queries, k, AnnIvf.MaxLists)

  /** The adaptive parameter rules as ONE shared derivation — consumed by
    * [[topKAdaptive]] AND [[AnnIndex.buildAdaptive]] in lockstep, so a
    * persisted index can never be built under different rules than the
    * fresh-fit query it must replay (round 18). twoLevel ⇔ lists > the
    * clamp; l1/k2 are meaningful only then.
    */
  private[graft] final case class IvfPqParams(
      lists: Int, l1: Int, k2: Int, m: Int, kSub: Int, rerank: Int, twoLevel: Boolean)

  private[graft] def paramsFor(n: Long, maxLists: Int = AnnIvf.MaxLists): IvfPqParams = {
    val lists = AnnIvf.listsFor(n)
    val (m, kSub) = if (n < AnnPq.BigCorpus) (8, 32) else (16, 256)
    val rerank = math.max(128L, math.ceil(math.sqrt(n.toDouble)).toLong)
      .min(Int.MaxValue.toLong).toInt
    if (lists <= maxLists)
      IvfPqParams(lists, 0, 0, m, kSub, rerank, twoLevel = false)
    else {
      val l1 = 1 << math.ceil(math.log(math.sqrt(lists.toDouble)) / math.log(2.0)).toInt
      IvfPqParams(lists, l1, math.max(1, lists / l1), m, kSub, rerank, twoLevel = true)
    }
  }

  /** Sub-level probe fraction for the two-level IVF-PQ dispatch (round 18,
    * VERDICT r17 item 6). The 16M rung read recall@5 0.940 at √½-per-level
    * while both parents read 0.980; the equal-budget A/B isolated the cause
    * as SUB-CELL BOUNDARY PRUNING, not quantization noise:
    *   base (√½·√½, rerank √n)     0.940 @ 99 s
    *   subwide (√½·0.85, same)     0.960 @ 152 s   ← shipped
    *   rerank2x (√½·√½, 2√n)       0.940 @ 148 s   (no gain — the missing
    *                                neighbors are never probed)
    * Probed fraction for this one composition is ≈ 0.60 (√½·0.85) instead
    * of the family's ½ — the composition pays a wider candidate cut
    * because PQ-noise ranking inside the probed set cannot recover cells
    * never read. AnnIvf's own two-level path keeps √½ (its exact scan
    * re-ranks everything it probes; 0.980 at 16M without the widening).
    */
  private[graft] val SubProbeFrac2L = 0.85

  /** Clamp-injectable form so the two-level DISPATCH (the l1 × k2 split
    * wiring above, not just topK2Level's internals) executes in an
    * always-on sf0.01 test without a multi-million-vector fixture
    * (ADVICE r17): a forced tiny maxLists sends the small corpus down the
    * exact branch the 16M rung takes in production.
    */
  private[graft] def topKAdaptive(
      emb: DataFrame, queries: DataFrame, k: Int, maxLists: Int): DataFrame = {
    val p = paramsFor(emb.count(), maxLists)
    fitAndSearch(emb, queries, k)(IvfPqModel.fit(_, p))
  }

  /** Top-k approximate neighbors through the pruned compressed scan.
    * emb: (vec_id, vec array<double>); queries: (qid, qvec array<double>).
    */
  def topK(
      emb0: DataFrame,
      queries0: DataFrame,
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 8,
      m: Int = 8,
      kSub: Int = 32,
      rerank: Int = 128): DataFrame =
    fitAndSearch(emb0, queries0, k)(
      IvfPqModel.fit(_, nLists, k2 = 0, nProbe, m, kSub, rerank))

  /** IVF-PQ with the TWO-LEVEL coarse quantizer (the [[AnnIvf.topK2Level]]
    * hierarchy composed with the PQ compressed-domain scan): an l1-cell
    * coarse level, a k2-cell sub-quantizer inside each cell — l1 × k2
    * total lists with every fit bounded — and the probed cells' rows read
    * as m code bytes via the native ADC kernel. Probing mirrors the
    * hierarchy — √½ of the l1 cells, [[SubProbeFrac2L]] of each probed
    * cell's sub-cells — so the probed fraction stays ≈ 0.6 while the
    * CELL COUNT keeps tracking √n past the one-task clamp: at n = 4.2e9
    * (the 100 TB embedding table) the flat clamp probes ~½ the corpus per
    * query, this path probes ~0.6 of 65536-way-partitioned space with the
    * same recall bar. Same spherical discipline as [[topK]]: both coarse
    * levels and the codebooks fit on unit-normalized vectors, assignment +
    * encode is ONE map pass, the exact √n re-rank reports.
    */
  def topK2Level(
      emb0: DataFrame,
      queries0: DataFrame,
      k: Int = 5,
      l1: Int = 64,
      k2: Int = 32,
      m: Int = 8,
      kSub: Int = 32,
      rerank: Int = 128): DataFrame = {
    require(k2 > 0, s"AnnIvfPq: two-level k2 must be positive, got $k2")
    fitAndSearch(emb0, queries0, k)(IvfPqModel.fit(_, l1, k2, nProbe = 0, m, kSub, rerank))
  }

  /** The in-memory form: fit the index on the guarded corpus, encode it and
    * search it in one query — the same [[IvfPqModel]] steps
    * [[AnnIndex.buildAdaptive]] persists and [[AnnIndex.serve]] replays.
    */
  private def fitAndSearch(emb0: DataFrame, queries0: DataFrame, k: Int)(
      fit: DataFrame => IvfPqModel): DataFrame = {
    val (emb, queries) = AnnIvf.requireVecs(emb0, queries0, "AnnIvfPq")
    val model = fit(emb)
    model.search(emb, queries, k)(_ => model.encode(emb))
  }

  /** Unit-normalized hash-prefix sample shared by every fit of the model:
    * the top-`cap` rows by (xxhash64(vec_id), vec_id), normalized ONCE and
    * localCheckpointed — each downstream fit re-samples its own smaller cap
    * as a PREFIX of the same order, so all fits see exactly the rows they
    * would have sampled from the raw corpus while the per-row normalize
    * runs O(cap) times instead of O(n) per fit (review finding, round 16b).
    */
  private def unitSampleOf(emb: DataFrame, cap: Int): DataFrame = {
    val normalizeUdf = udf((v: Seq[Double]) => AnnPq.normalize(v.toArray).toSeq)
    AnnIvf.hashSample(emb, cap)
      .select(col("vec_id"), normalizeUdf(col("vec")).as("vec"))
      .localCheckpoint()
  }

  /** One IVF-PQ index (IVFADC): the coarse quantizer's `centers`, the
    * per-cell `subs` (empty: flat; list_id = c1·k2 + s2 otherwise), the PQ
    * `books`, and the search knobs — the level-1 probe width `nProbe`, the
    * sub-level probe fraction and the exact re-rank list. The fresh
    * in-memory search ([[topK]], [[topK2Level]], [[topKAdaptive]]) and the
    * persisted index ([[AnnIndex]]) are the same object: [[IvfPqModel.fit]],
    * [[encode]], [[probe]] and [[search]] are the only copies of their step,
    * so build and serve probe and rank alike because they run the same
    * code. Only persistence and the partition prune belong to [[AnnIndex]].
    */
  private[graft] final case class IvfPqModel(
      centers: Array[Array[Double]],
      subs: Array[Array[Array[Double]]],
      k2: Int,
      books: Array[Array[Array[Double]]],
      nProbe: Int,
      subProbeFrac: Double,
      rerank: Int) {

    /** An empty corpus fits nothing: [[search]] answers with the contract
      * frame and [[encode]] with an empty coded table. */
    def isEmpty: Boolean = centers.isEmpty || books.isEmpty

    /** (vec_id, list_id, codes): cell assignment + PQ encode in ONE map pass
      * off a single normalize, as the NATIVE plans.PqAssignEncode kernel
      * (round 18). The round-17 closure-UDF form regressed the declared key
      * 2.3× at sf10: the join key's inferred isnotnull(UDF(vec)._1) filter
      * pushed the whole closure below the exchange, so every corpus row paid
      * normalize+assign+encode TWICE (plans/r18/sim_ann_ivfpq_before.txt
      * line 66 shows the duplicated filter). The kernel declares
      * non-nullable output (requireVecs raises upstream), so no isnotnull is
      * inferred, and codegen subexpression elimination runs it once.
      */
    def encode(emb: DataFrame): DataFrame =
      if (isEmpty)
        emb.select(col("vec_id"), lit(0L).as("list_id"),
          array().cast("array<int>").as("codes")).limit(0)
      else
        emb
          // fan out: a one-file scan arrives as one partition; encode + ADC
          // are CPU bound
          .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
          .select(col("vec_id"),
            org.apache.spark.sql.GraftSqlShim.column(graft.plans.PqAssignEncode(
              org.apache.spark.sql.GraftSqlShim.expression(col("vec")),
              centers.map(_.toSeq).toSeq, subs.map(_.map(_.toSeq).toSeq).toSeq, k2,
              books.map(_.map(_.toSeq).toSeq).toSeq))
              .as("ae"))
          .select(col("vec_id"), col("ae.list_id").as("list_id"), col("ae.codes").as("codes"))

    /** (qid, probe): the [[AnnIvf.probeCells]] rule on the unit query — the
      * `nProbe` nearest cells, and [[subProbeFrac]] of each probed cell's
      * sub-cells when two-level. Centers and subs are broadcast (the
      * [[AnnIvf.topK2Level]] rationale: a closure reserializes them per task).
      */
    def probe(queries: DataFrame): DataFrame = {
      val sc = queries.sparkSession.sparkContext
      val centersB = sc.broadcast(centers)
      val subsB = sc.broadcast(subs)
      val (k2, nProbe, subFrac) = (this.k2, this.nProbe, subProbeFrac)
      val probeUdf = udf((qv: Seq[Double]) => AnnIvf.probeCells(
        centersB.value, subsB.value, k2, nProbe, subFrac, AnnPq.normalize(qv.toArray)))
      queries.withColumn("probe", explode(probeUdf(col("qvec")))).select(col("qid"), col("probe"))
    }

    /** Top-k through the pruned ADC scan: `coded` maps the probe list to the
      * coded rows to scan (the fresh [[encode]], or a persisted table pruned
      * to the probed cells), which equi-join the broadcast probe list — only
      * probed cells' codes are ever scored; then the two-phase
      * top-`rerank` and the exact cosine re-rank against `emb`. No dedup is
      * needed: each vec_id lives in exactly ONE cell and the probe list is
      * distinct cells per query, so (qid, vec_id) pairs are unique.
      */
    def search(emb: DataFrame, queries: DataFrame, k: Int)(
        coded: DataFrame => DataFrame): DataFrame = {
      if (isEmpty) return AnnIvf.emptyResult(queries)
      val probed = probe(queries)
      val scored = coded(probed)
        .join(broadcast(probed), col("list_id") === col("probe") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          AnnPq.adcScorer(queries, books)(col("codes"), col("qid")).as("score"))
      AnnPq.exactRerank(AnnPq.topRerank(scored, rerank), emb, queries, k)
    }
  }

  private[graft] object IvfPqModel {

    /** Fit the index: ONE unit-normalized hash-prefix sample feeds every fit
      * (the `width` coarse centers, the PQ codebooks and, when `k2` > 0, the
      * k2 sub-centers of each cell), each re-sampling its own cap as a prefix
      * of the same hash order. Flat probes the declared `nProbe` cells;
      * two-level probes √½ of the fitted l1 cells and [[SubProbeFrac2L]] of
      * each probed cell's subs (`nProbe` is not read).
      */
    def fit(emb: DataFrame, width: Int, k2: Int, nProbe: Int,
        m: Int, kSub: Int, rerank: Int): IvfPqModel = {
      val capC = AnnIvf.sampleCapFor(width)
      val capB = AnnPq.codebookCapFor(kSub)
      val cap2 = 16 * width * k2
      val unitSample = unitSampleOf(emb, math.max(math.max(capC, capB), cap2))
      val centers = AnnIvf.fitCentroids(unitSample, width, iters = 5, sampleCap = capC)
      val books = AnnPq.fitCodebooks(unitSample, m, kSub, iters = 5, sampleCap = capB)
      if (k2 == 0 || centers.isEmpty || books.isEmpty)
        IvfPqModel(centers, Array.empty, 0, books, nProbe, 0.0, rerank)
      else
        IvfPqModel(centers, AnnIvf.fitSubCenters(unitSample, centers, k2, iters = 5, cap2 = cap2),
          k2, books, AnnIvf.levelProbe(centers.length, math.sqrt(0.5)), SubProbeFrac2L, rerank)
    }

    /** Fit under the adaptive rules of [[paramsFor]]: flat probes half the
      * cells, the family's scale-constant probed fraction. */
    def fit(emb: DataFrame, p: IvfPqParams): IvfPqModel =
      if (p.twoLevel) fit(emb, p.l1, p.k2, nProbe = 0, p.m, p.kSub, p.rerank)
      else fit(emb, p.lists, k2 = 0, math.max(1, p.lists / 2), p.m, p.kSub, p.rerank)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
    if (!p.twoLevel)
      topK(emb, queries, k, nLists = p.lists, nProbe = math.max(1, p.lists / 2),
        m = p.m, kSub = p.kSub, rerank = p.rerank)
    else
      topK2Level(emb, queries, k, l1 = p.l1, k2 = p.k2,
        m = p.m, kSub = p.kSub, rerank = p.rerank)
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
      rerank: Int = 128): DataFrame = {

    def requireVec(vec: Column, side: String): Column =
      when(vec.isNotNull, vec).otherwise(raise_error(lit(
        s"AnnIvfPq: null $side vector (ANN input contract: filter null embeddings upstream)")))
    val emb = emb0.withColumn("vec", requireVec(col("vec"), "corpus"))
    val queries = queries0.withColumn("qvec", requireVec(col("qvec"), "query"))
    val spark = emb.sparkSession

    val capC = AnnIvf.sampleCapFor(nLists)
    val capB = math.max(4096, 16 * kSub)
    val unitSample = unitSampleOf(emb, math.max(capC, capB))

    val centers = AnnIvf.fitCentroids(unitSample, nLists, iters = 5,
      sampleCap = capC)
    val books = AnnPq.fitCodebooks(unitSample, m, kSub, iters = 5,
      sampleCap = capB)
    if (centers.isEmpty || books.isEmpty) {
      return queries
        .select(col("qid"), lit(0L).as("rnk"), col("qid").as("nid"), lit(0.0).as("cos"))
        .limit(0)
    }
    val centersB = spark.sparkContext.broadcast(centers)

    // ONE fused map pass: cell assignment + PQ encode off a single
    // normalize, as the NATIVE plans.PqAssignEncode kernel (round 18). The
    // round-17 closure-UDF form regressed the declared key 2.3× at sf10:
    // the join key's inferred isnotnull(UDF(vec)._1) filter pushed the
    // whole closure below the exchange, so every corpus row paid
    // normalize+assign+encode TWICE (plans/r18/sim_ann_ivfpq_before.txt
    // line 66 shows the duplicated filter). The kernel declares
    // non-nullable output (requireVec raises upstream), so no isnotnull is
    // inferred, and codegen subexpression elimination runs it once.
    val coded = emb
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        org.apache.spark.sql.GraftSqlShim.column(graft.plans.PqAssignEncode(
          org.apache.spark.sql.GraftSqlShim.expression(col("vec")),
          centers.map(_.toSeq).toSeq, Nil, 0, books.map(_.map(_.toSeq).toSeq).toSeq))
          .as("ae"))
      .select(col("vec_id"), col("ae.list_id").as("list_id"), col("ae.codes").as("codes"))

    // probe: nProbe nearest cells per (tiny) query, on the unit query
    val nProbe0 = math.min(nProbe, centers.length)
    val probeUdf = udf((qv: Seq[Double]) =>
      AnnIvf.rankedIdx(centersB.value, AnnPq.normalize(qv.toArray)).take(nProbe0))
    val probed = queries.withColumn("probe", explode(probeUdf(col("qvec"))))

    // pruned ADC scan: equi-join coded rows to the broadcast probe list —
    // only probed cells' codes are ever scored
    val scored = coded
      .join(broadcast(probed.select(col("qid"), col("probe"))),
        col("list_id") === col("probe") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        AnnPq.adcScorer(queries, books)(col("codes"), col("qid")).as("score"))
    // no dedup needed: each vec_id lives in exactly ONE cell and the probe
    // list is distinct cells per query, so (qid, vec_id) pairs are unique
    val cands = AnnPq.topRerank(scored, rerank)
    AnnPq.exactRerank(cands, emb, queries, k)
  }

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

    def requireVec(vec: Column, side: String): Column =
      when(vec.isNotNull, vec).otherwise(raise_error(lit(
        s"AnnIvfPq: null $side vector (ANN input contract: filter null embeddings upstream)")))
    val emb = emb0.withColumn("vec", requireVec(col("vec"), "corpus"))
    val queries = queries0.withColumn("qvec", requireVec(col("qvec"), "query"))
    val spark = emb.sparkSession

    // one unit-normalized hash-prefix sample feeds all THREE fits (l1
    // centers, per-cell subs, PQ codebooks) — the topK sampling argument:
    // each fit re-samples its own cap as a prefix of the same hash order
    val capC = AnnIvf.sampleCapFor(l1)
    val capB = math.max(4096, 16 * kSub)
    val cap2 = 16 * l1 * k2
    val unitSample = unitSampleOf(emb, math.max(math.max(capC, capB), cap2))

    val centers = AnnIvf.fitCentroids(unitSample, l1, iters = 5, sampleCap = capC)
    val books = AnnPq.fitCodebooks(unitSample, m, kSub, iters = 5, sampleCap = capB)
    if (centers.isEmpty || books.isEmpty) {
      return queries
        .select(col("qid"), lit(0L).as("rnk"), col("qid").as("nid"), lit(0.0).as("cos"))
        .limit(0)
    }
    val subs = AnnIvf.fitSubCenters(unitSample, centers, k2, iters = 5, cap2 = cap2)

    // broadcast (the topK2Level rationale): the two-level codebook is
    // l1·k2·dim doubles — a closure reserializes it per task
    val sc = spark.sparkContext
    val centersB = sc.broadcast(centers)
    val subsB = sc.broadcast(subs)

    // ONE fused map pass (the topK rationale): hierarchical cell assignment
    // + PQ encode off a single normalize; list_id = c1·k2 + sub is
    // globally unique
    // native fused assign+encode kernel (round 18) — the topK rationale:
    // the closure-UDF form was duplicated into the join key's inferred
    // isnotnull filter; the non-nullable kernel can't be
    val coded = emb
      .repartition(sc.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        org.apache.spark.sql.GraftSqlShim.column(graft.plans.PqAssignEncode(
          org.apache.spark.sql.GraftSqlShim.expression(col("vec")),
          centers.map(_.toSeq).toSeq,
          subs.map(_.map(_.toSeq).toSeq).toSeq, k2,
          books.map(_.map(_.toSeq).toSeq).toSeq))
          .as("ae"))
      .select(col("vec_id"), col("ae.list_id").as("list_id"), col("ae.codes").as("codes"))

    // hierarchical probe, on the unit query: √½ of the l1 cells, then
    // SubProbeFrac2L of each probed cell's sub-cells
    val l1Probe = math.max(1, math.ceil(centers.length * math.sqrt(0.5)).toInt)
    val probeUdf = udf((qv: Seq[Double]) => {
      val u = AnnPq.normalize(qv.toArray)
      AnnIvf.rankedIdx(centersB.value, u).take(l1Probe).flatMap { c1 =>
        val cell = subsB.value(c1)
        val subProbe = math.max(1, math.ceil(cell.length * SubProbeFrac2L).toInt)
        AnnIvf.rankedIdx(cell, u).take(subProbe).map(s2 => c1.toLong * k2 + s2)
      }
    })
    val probed = queries.withColumn("probe", explode(probeUdf(col("qvec"))))

    val scored = coded
      .join(broadcast(probed.select(col("qid"), col("probe"))),
        col("list_id") === col("probe") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        AnnPq.adcScorer(queries, books)(col("codes"), col("qid")).as("score"))
    val cands = AnnPq.topRerank(scored, rerank)
    AnnPq.exactRerank(cands, emb, queries, k)
  }

  /** Unit-normalized hash-prefix sample shared by every fit in this file:
    * the top-`cap` rows by (xxhash64(vec_id), vec_id), normalized ONCE and
    * localCheckpointed — each downstream fit re-samples its own smaller cap
    * as a PREFIX of the same order, so all fits see exactly the rows they
    * would have sampled from the raw corpus while the per-row normalize
    * runs O(cap) times instead of O(n) per fit (review finding, round 16b).
    */
  private[operators] def unitSampleOf(emb: DataFrame, cap: Int): DataFrame = {
    val normalizeUdf = udf((v: Seq[Double]) => AnnPq.normalize(v.toArray).toSeq)
    emb
      .select(col("vec_id"), col("vec"),
        pmod(xxhash64(col("vec_id")), lit(1000000007L)).as("hk"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(cap)
      .select(col("vec_id"), normalizeUdf(col("vec")).as("vec"))
      .localCheckpoint()
  }
}

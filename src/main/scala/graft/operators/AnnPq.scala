package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization approximate nearest-neighbor search (Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
  * — the third ANN family next to [[AnnLsh]] (hash-bucketed) and [[AnnIvf]]
  * (coarse-quantizer-pruned): the corpus is COMPRESSED, not pruned. Each
  * unit-normalized vector is sliced into `m` subvectors and each subvector
  * replaced by the id of its nearest per-subspace codebook centroid, so a
  * dim-double vector becomes `m` small ints (dim·8 bytes → m bytes at
  * k_sub ≤ 256 — 64× here). Search is ADC (asymmetric distance
  * computation): per query, a LUT of subspace dot products turns each
  * corpus row's score into `m` table lookups + adds — no per-row float
  * vector ever rescans.
  *
  * The deliverable trade vs the other two families: LSH/IVF cut the
  * CANDIDATE COUNT but still read full vectors for candidates; PQ reads
  * every row but only `m` BYTES of it. At 100 TB of embeddings the
  * PQ-coded table is ~1.5 TB — the difference between "the index fits in
  * cluster RAM" and "it doesn't". The standard composition (IVF-PQ:
  * coarse-prune THEN scan codes) is one `.join` away from these parts;
  * the declared key keeps pure PQ so each mechanism is gated separately.
  *
  * Exactness/recall discipline (the family contract):
  *  - codebooks are fit EXECUTOR-SIDE over the same bounded deterministic
  *    hash-ordered sample as [[AnnIvf.fitCentroids]] (seeded Lloyd via
  *    [[AnnIvf.fitLocal]], seed varies per subspace) — no corpus vector is
  *    ever collected; only m·kSub·(dim/m) centroid doubles cross back.
  *  - the ADC pass RANKS but never reports: the top-`rerank` candidates
  *    per query are re-scored with the EXACT cosine kernels
  *    (graft.plans.VecExprs — bit-identical to sim_knn_cosine's), so every
  *    reported (nid, cos) row is exact; only membership of the candidate
  *    set is approximate. Recall@5 ≥ 0.8 vs the brute-force twin is
  *    spec-pinned (AnnPqSpec), the [[AnnLsh]]/[[AnnIvf]] bar.
  *  - deterministic end to end: seeded fit, deterministic sample,
  *    strict-< argmin encode, (score desc, vec_id) and (cos desc, vec_id)
  *    total orders at both ranking stages.
  *
  * Scale design (100 TB): encode is one map pass (codes shuffle nowhere);
  * scoring is a broadcast of ≤ q·m·kSub LUT doubles against the coded
  * scan; per-query top-`rerank` is the TWO-PHASE heap pattern (local
  * row_number per (query, input partition) bounds what any single task
  * sorts — the sample_domain_quota discipline); only rerank·q candidate
  * ids reach the exact re-rank join.
  */
object AnnPq {

  /** Adaptive code-budget ladder (the [[AnnIvf.listsFor]] discipline for
    * the PQ family). A FIXED code length has a measured scale cliff: at
    * the 4.2M-vector rung the true top-5 cosine gap shrinks (extreme-value
    * concentration over n draws) until 8×32 quantization noise swamps it —
    * recall@5 fell 1.000 (sf0.01) → 0.14. Two knobs must track n:
    *
    *  - CODE LENGTH: m=8 subspaces below [[BigCorpus]] vectors, m=16 above
    *    (and kSub 32 → 256, the FAISS 8-bit-code standard) — 128-bit codes
    *    are the published regime for 1e9-scale corpora (BigANN-class
    *    IVF-PQ16 setups), and the measured rung ladder here agrees:
    *    at 4.2M, 8×32 → 0.14, 8×256 → 0.66, 16×256 → 0.96 recall@5 at
    *    rerank=512.
    *  - RE-RANK LIST: rerank = max(128, ⌈√n⌉) — the exact-rescore list
    *    grows with the same √n rule as the IVF cell ladder, keeping the
    *    re-rank join bounded (√n · q rows ≈ 3e5 for q=10 at n=1e9) while
    *    restoring the tail: 16×256 at rerank=⌈√4.2M⌉=2050 measures
    *    recall@5 = 1.000 on the rung.
    *
    * The fit sample follows [[AnnIvf.sampleCapFor]]'s ≥16-points-per-
    * centroid rule (4096 at kSub=256 — per-SUBSPACE fits see every sample
    * row, so the floor binds, not the product).
    */
  val BigCorpus = 1000000L

  def topKAdaptive(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    // the ladder is written once, in AnnIvfPq.paramsFor (which IVF-PQ and
    // the persisted index read too); its coarse widths are not used here
    val p = AnnIvfPq.paramsFor(emb.count())
    topK(emb, queries, k, m = p.m, kSub = p.kSub, rerank = p.rerank,
      sampleCap = codebookCapFor(p.kSub))
  }

  /** Codebook fit sample: ≥16 points per sub-centroid, floor 4096. */
  private[operators] def codebookCapFor(kSub: Int): Int = math.max(4096, 16 * kSub)

  /** Top-k approximate neighbors, exact-rescored. emb: (vec_id,
    * vec array<double>); queries: (qid, qvec array<double>).
    */
  def topK(
      emb0: DataFrame,
      queries0: DataFrame,
      k: Int = 5,
      m: Int = 8,
      kSub: Int = 16,
      rerank: Int = 64,
      sampleCap: Int = 4096): DataFrame = {
    val (emb, queries) = AnnIvf.requireVecs(emb0, queries0, "AnnPq")
    val spark = emb.sparkSession

    val books = fitCodebooks(emb, m, kSub, iters = 5, sampleCap = sampleCap)
    if (books.isEmpty) return AnnIvf.emptyResult(queries)

    // ── encode: one map pass, vector → m code bytes ────────────────────
    // fan out: a one-file scan arrives as one partition; encode + ADC are
    // CPU bound (the AnnIvf assignment rationale)
    val coded = emb
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), encoder(books)(col("vec")).as("codes"))

    // ── compressed-domain scan: every coded row scores against every
    // query (pure PQ — the pruned composition lives in AnnIvfPq) ─────────
    val scored = coded
      .crossJoin(broadcast(queries.select(col("qid"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcScorer(queries, books)(col("codes"), col("qid")).as("score"))
    val cands = topRerank(scored, rerank)
    exactRerank(cands, emb, queries, k)
  }

  /** Encode closure UDF: vector → m nearest-subspace-centroid codes on the
    * unit-normalized vector. A closure UDF on purpose (AnnIvf's assignment
    * rationale): the expression form would inline m·kSub·subDim centroid
    * literals into one codegen tree that janino chokes on.
    */
  private[graft] def encoder(books: Array[Array[Array[Double]]]) =
    udf((v: Seq[Double]) => graft.plans.VecExprs.pqEncode(books, normalize(v.toArray)))

  /** ADC scoring column: per-query lookup tables of subspace dot products,
    * built driver-side from the (tiny) query frame — only q·m·kSub doubles
    * ever reach the driver, never a corpus row.
    * score(codes, qid) = Σ lut(qid)(mi·kSub + codes(mi)), as the native
    * codegen'd [[graft.plans.AdcScore]] kernel (the LshBuckets/VecExprs
    * playbook): the per-row kernel of the whole PQ family — m lookups +
    * adds over EVERY corpus row — so the closure-UDF form it replaces
    * blocked whole-stage codegen exactly where the engine spends its time
    * at q·n scale. Scores are bit-identical to that UDF form (same
    * doubles, same ascending-mi fold — Round17Spec pins it).
    */
  private[graft] def adcScorer(
      queries: DataFrame, books: Array[Array[Array[Double]]]): (Column, Column) => Column = {
    val kSub = books(0).length
    val luts = lutSeq(queries, books)
    (codes: Column, qid: Column) =>
      org.apache.spark.sql.GraftSqlShim.column(graft.plans.AdcScore(
        org.apache.spark.sql.GraftSqlShim.expression(codes),
        org.apache.spark.sql.GraftSqlShim.expression(qid),
        luts, kSub))
  }

  /** Flattened per-query LUTs: (qid, lut) where lut(mi·kSub + c) is the dot
    * product of the query's mi-th unit-normalized subvector with codebook
    * centroid c of subspace mi. One layout shared by the native kernel and
    * the closure-UDF parity reference in the specs, so parity is structural.
    */
  private[graft] def lutSeq(
      queries: DataFrame, books: Array[Array[Array[Double]]]): Seq[(Long, Seq[Double])] = {
    val kSub = books(0).length
    queries.select(col("qid"), col("qvec")).collect().toSeq.map { r =>
      val qid = r.getLong(0)
      val u = normalize(r.getSeq[Double](1).toArray)
      val subDim = u.length / books.length
      val flat = new Array[Double](books.length * kSub)
      var mi = 0
      while (mi < books.length) {
        val cb = books(mi)
        var c = 0
        while (c < cb.length) {
          var s = 0.0; var i = 0
          while (i < subDim) { s += u(mi * subDim + i) * cb(c)(i); i += 1 }
          flat(mi * kSub + c) = s
          c += 1
        }
        mi += 1
      }
      qid -> flat.toSeq
    }
  }

  /** Two-phase top-`rerank` per query over a scored (qid, vec_id, score)
    * frame — local row_number per (query, input partition) bounds what any
    * single task sorts (the sample_domain_quota heap discipline). Returns
    * (c_qid, vec_id) candidate pairs.
    */
  private[graft] def topRerank(scored: DataFrame, rerank: Int): DataFrame = {
    val localW = Window.partitionBy(col("qid"), col("pid"))
      .orderBy(col("score").desc, col("vec_id"))
    val globalW = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lr", row_number().over(localW)).filter(col("lr") <= rerank)
      .withColumn("gr", row_number().over(globalW)).filter(col("gr") <= rerank)
      .select(col("qid").as("c_qid"), col("vec_id"))
  }

  /** Exact cosine re-rank of the ≤ rerank·q (c_qid, vec_id) candidates —
    * the kernel is bit-identical to the brute-force twin's, so every
    * reported cosine is exact; only candidate MEMBERSHIP was approximate.
    */
  private[graft] def exactRerank(
      cands: DataFrame, emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val dot = graft.functions.Vec.dotNative("vec", "qvec")
    val nv = graft.functions.Vec.l2Native("vec")
    val nq = graft.functions.Vec.l2Native("qvec")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    cands
      .join(emb, "vec_id")
      .join(broadcast(queries), col("c_qid") === col("qid"))
      .withColumn("cos", dot / (nv * nq))
      .select(col("qid"), col("vec_id"), col("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("cos"))
  }

  /** Unit-normalize (cosine domain — ADC dot products on unit vectors rank
    * by cosine). A zero vector stays zero: deterministic, scores 0
    * everywhere, never a NaN.
    */
  private[operators] def normalize(v: Array[Double]): Array[Double] =
    graft.plans.VecExprs.normalizeUnit(v) // canonical copy (round 18)

  /** Executor-side per-subspace codebook fit over the bounded
    * deterministic sample (the [[AnnIvf.fitCentroids]] sampling, sliced
    * into `m` subspaces, [[AnnIvf.fitLocal]] per slice with a per-subspace
    * seed). Returns books(mi)(c) = centroid c of subspace mi, or empty on
    * an empty corpus. Fails loudly if dim is not divisible by `m` — a
    * silent ragged slice would mis-encode every vector.
    */
  private[graft] def fitCodebooks(
      emb: DataFrame, m: Int, kSub: Int, iters: Int, sampleCap: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.{Encoder, Row}
    implicit val enc: Encoder[Seq[Seq[Seq[Double]]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Seq[Double]]]]()
    AnnIvf.hashSample(emb, sampleCap)
      .coalesce(1)
      .mapPartitions { (it: Iterator[Row]) =>
        val rows = it.toArray.sortBy(r => (r.getLong(2), r.getLong(0)))
        val pts = rows.map(r => normalize(r.getSeq[Double](1).toArray))
        if (pts.isEmpty) Iterator.empty
        else {
          val dim = pts(0).length
          require(dim % m == 0,
            s"AnnPq: dim $dim not divisible by m=$m subspaces")
          val subDim = dim / m
          val books: Seq[Seq[Seq[Double]]] = (0 until m).toList.map { mi =>
            val sub = pts.map(p => java.util.Arrays.copyOfRange(p, mi * subDim, (mi + 1) * subDim))
            AnnIvf.fitLocal(sub, kSub, iters, seed = 42L + mi)
              .map(_.toSeq).toSeq
          }.toSeq
          Iterator.single(books)
        }
      }
      .collect()
      .headOption
      .map(_.map(_.map(_.toArray).toArray).toArray)
      .getOrElse(Array.empty[Array[Array[Double]]])
  }
}

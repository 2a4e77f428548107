package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.VecExprs

/** IVF (inverted-file) approximate nearest-neighbor search — the second
  * scale path next to [[AnnLsh]]: a k-means coarse quantizer partitions the
  * vector space into `nLists` cells; each query probes only its `nProbe`
  * nearest cells, so the exact cosine kernel touches ~(nProbe/nLists) of
  * the corpus instead of all of it (the FAISS IVF-Flat layout, seeded for
  * determinism).
  *
  * The quantizer is fit EXECUTOR-SIDE over a bounded deterministic sample
  * (the FAISS `train()` pattern — VERDICT r9 item 7): the hash-ordered
  * top-`sampleCap` sample is funneled into ONE executor task that runs
  * seeded-shuffle init + Lloyd locally in that task (farthest-point init was
  * tried and reverted — it regressed recall@5 0.84 → 0.76 at sf0.1, see
  * fitLocal and BASELINE.md), and only the ≤ nLists
  * FINAL centroids cross back to the driver (the assignment/probe closures
  * need them broadcast — k×dim doubles, trivially bounded at any corpus
  * size). No corpus vector is ever collected. A per-round distributed
  * Lloyd (broadcast fan-out + hash argmin + per-(cid, dim) mean, the
  * embedding_kmeans shape) was built and measured first: 7.8 s/query at
  * sf0.1 vs 0.5 s for the one-task fit — ~20 sequential micro-jobs of
  * scheduling overhead for a 4096-row sample, no quality difference. For a
  * sample this size, single-task is the honest plan; the DISTRIBUTED
  * oracle-exact Lloyd lives in queries.Corpus (embedding_kmeans) for
  * full-corpus clustering.
  *
  * Scale design (100 TB of vectors): the sample is a hash-ordered top-cap
  * (per-partition heaps, no full sort, no RNG); assignment is one
  * broadcast-centroid map pass; the assigned table is written partitioned
  * BY list_id, so a probe prunes partitions at the parquet scan and the
  * per-query candidate join is an equi-join on list_id (hash shuffle on
  * cell, no cross product). Recall/latency trades via nProbe.
  */
object AnnIvf {

  /** Adaptive coarse-quantizer ladder (round 12 — the sf3 sweep measured
    * recall@5 DECAYING with corpus size under a fixed nLists=16: 0.88 at
    * sf0.1 → 0.84 at sf1 → 0.800 at sf3, because cells grow coarser
    * relative to neighbor distances as n grows). The FAISS sizing rule:
    * nLists ≈ √n, here the nearest power of two clamped to
    * [MinLists, MaxLists], with nProbe = nLists/2 so the PROBED FRACTION
    * of the corpus is scale-constant — finer cells at the same candidate
    * budget is a pure recall win. MaxLists = 1024 keeps the one-task
    * quantizer fit bounded (1024 centers × 16k sample × 64 dims × 5
    * iters ≈ 5e9 flops, a few seconds in one core); k = 2^round(log2 √n)
    * reaches the clamp at n ≈ 2.1M vectors — past it the ladder coarsens
    * gradually (probed fraction unchanged); the documented extension is a
    * hierarchical two-level fit (IVF over IVF cells), same shape as
    * AnnDedup's plane-ladder note.
    */
  val MinLists = 16
  val MaxLists = 1024

  /** Hierarchical ceiling (round 13, VERDICT r12 item 2): past MaxLists the
    * ladder keeps tracking √n with a TWO-LEVEL quantizer — l1 × k2 lists,
    * both factors ≤ MaxLists — so the one-task fit bound never binds.
    * 65536 lists ≈ the √n rule at n ≈ 4.3e9 vectors (the O(10⁹)-vector
    * 100 TB embedding table), matching AnnDedup's MaxPlanes=26 ceiling.
    */
  val MaxHierLists = 65536

  def listsFor(n: Long): Int = {
    if (n <= 0) return MinLists
    val exact = math.log(math.sqrt(n.toDouble)) / math.log(2.0)
    val k = 1 << math.round(exact).toInt.max(0).min(30)
    k.max(MinLists).min(MaxHierLists)
  }

  /** The fit sample scales with the centroid count (≥16 points per
    * centroid, floor 4096) — a fixed 4096-row sample under 512+ centers
    * would leave ~8 points per cell, an under-determined Lloyd.
    */
  def sampleCapFor(nLists: Int): Int = math.max(4096, 16 * nLists)

  /** [[topK]] with the quantizer width chosen from an exact corpus count
    * (one columnar count job, the AnnDedup.planesFor pattern). Below the
    * one-task fit ceiling the single-level path runs bit-identically to
    * rounds ≤ 12; above it the two-level quantizer takes over.
    */
  def topKAdaptive(emb: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    // the family's split (AnnIvfPq.paramsFor): a balanced power-of-two
    // l1 = 2^⌈log2 √L⌉, k2 = L / l1 — both ≤ MaxLists for every
    // L ≤ MaxHierLists, so each per-cell fit stays inside the bound the
    // one-task fit was clamped for
    val p = AnnIvfPq.paramsFor(emb.count())
    if (!p.twoLevel)
      topK(emb, queries, k, nLists = p.lists, nProbe = math.max(1, p.lists / 2),
        sampleCap = sampleCapFor(p.lists))
    else topK2Level(emb, queries, k, l1 = p.l1, k2 = p.k2)
  }

  /** Seeded-shuffle init + Lloyd, run INSIDE one executor task over the
    * sorted sample. Deterministic: the input is in (hash, id) order and the
    * shuffle seed is fixed, so the same corpus yields the same centroids
    * every run; an emptied Lloyd cluster keeps its previous centroid, as
    * MLlib does. (A farthest-point init was tried and REVERTED: FPS seeds
    * sit on corpus outliers, and on the near-isotropic Gaussian test
    * embeddings that left one huge central cell — recall@5 at sf0.1
    * dropped 0.84 → 0.76. Spread-seeding helps clustered data; for a
    * quantizer over unclustered vectors the random draw is the better
    * prior, which is also FAISS's default train() behavior.)
    */
  private[operators] def fitLocal(
      points: Array[Array[Double]], k: Int, iters: Int, seed: Long = 42L): Array[Array[Double]] = {
    val n = points.length
    val dim = points(0).length
    val k0 = math.min(k, n).max(1)
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle((0 until n).toVector).take(k0)
      .map(points(_).clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k0)(new Array[Double](dim))
      val counts = new Array[Long](k0)
      var p = 0
      while (p < n) {
        val v = points(p)
        val bc = VecExprs.nearestIdx(centers, v)
        val sv = sums(bc)
        var i = 0
        while (i < dim) { sv(i) += v(i); i += 1 }
        counts(bc) += 1
        p += 1
      }
      var ci = 0
      while (ci < k0) {
        if (counts(ci) > 0) {
          var i = 0
          while (i < dim) { centers(ci)(i) = sums(ci)(i) / counts(ci); i += 1 }
        }
        ci += 1
      }
      it += 1
    }
    centers
  }

  /** Executor-side quantizer fit: bounded deterministic sample → one
    * mapPartitions task running [[fitLocal]] → ≤ `k` centroids back to the
    * driver. The sample is the `sampleCap` smallest rows by
    * (xxhash64(vec_id), vec_id) — a mod-stride filter was rejected: ids
    * sharing a residue ≠ 0 make it empty, and stride rounding collects up
    * to 2× the cap. Same rows every run, no RNG anywhere.
    */
  private[operators] def fitCentroids(
      emb: DataFrame, k: Int, iters: Int, sampleCap: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.{Encoder, Row}
    // NATIVE encoder (catalyst array<array<double>>), not Encoders.kryo:
    // Kryo's FieldSerializer needs `--add-opens java.base/java.nio` on
    // Java 17+, so the kryo form worked under spark-submit/sbt (which pass
    // the opens) but threw InaccessibleObjectException under a plain
    // `java -cp` launch — a library must not depend on launcher JVM flags.
    implicit val enc: Encoder[Seq[Seq[Double]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Seq[Double]]]()
    hashSample(emb, sampleCap)
      .coalesce(1)
      .mapPartitions { (it: Iterator[Row]) =>
        // re-sort inside the task: the single post-limit partition does not
        // guarantee the orderBy order survives the exchange
        val rows = it.toArray.sortBy(r => (r.getLong(2), r.getLong(0)))
        val pts = rows.map(_.getSeq[Double](1).toArray)
        if (pts.isEmpty) Iterator.empty
        else Iterator.single(fitLocal(pts, k, iters).map(_.toSeq).toSeq)
      }
      .collect()
      .headOption
      .map(_.map(_.toArray).toArray)
      .getOrElse(Array.empty[Array[Double]])
  }

  /** The fit sample of every quantizer in the family: the `cap` smallest
    * rows by (hk = xxhash64(vec_id) mod p, vec_id), as (vec_id, vec, hk).
    */
  private[operators] def hashSample(emb: DataFrame, cap: Int): DataFrame =
    emb
      .select(col("vec_id"), col("vec"),
        pmod(xxhash64(col("vec_id")), lit(1000000007L)).as("hk"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(cap)

  /** Top-k approximate neighbors. emb: (vec_id, vec array<double>);
    * queries: (qid, qvec array<double>), one row per qid.
    */
  def topK(
      emb0: DataFrame,
      queries0: DataFrame,
      k: Int = 5,
      nLists: Int = 16,
      nProbe: Int = 4,
      sampleCap: Int = 4096): DataFrame = {
    val (emb, queries) = requireVecs(emb0, queries0, "AnnIvf")
    val centers = fitCentroids(emb, nLists, iters = 5, sampleCap = sampleCap)
    search(emb, queries, k, centers, Array.empty, 0, nProbe, 0.0)
  }

  /** The search both quantizer paths share once the centers are fit:
    * assign every corpus vector to its cell, equi-join the corpus to the
    * broadcast probe list ([[probeCells]]) on list_id, exact cosine over
    * the candidates (native codegen'd kernels — graft.plans.VecExprs,
    * bit-identical to the lambda fold), per-query top-k. Centers and subs
    * are broadcast, not closure-captured: the two-level codebook is
    * l1·k2·dim doubles (~33 MB at the 65536-list ceiling) — a closure
    * reserializes it per task; a broadcast ships it once per executor. The
    * assignment is a closure UDF on purpose — the expression alternative
    * inlines the k×dim centroid matrix as a ~1000-literal codegen tree that
    * janino takes seconds to compile (and MLlib's transform is itself a
    * closure under the hood). No dedup is needed: each vec_id lives in
    * exactly ONE cell and the probe list is distinct cells per query, so
    * (qid, vec_id) pairs are unique as long as each qid is (the query
    * contract, as in [[AnnIvfPq]]).
    */
  private def search(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      centers: Array[Array[Double]],
      subs: Array[Array[Array[Double]]],
      k2: Int,
      nProbe: Int,
      subFrac: Double): DataFrame = {
    if (centers.isEmpty) return emptyResult(queries)
    val sc = emb.sparkSession.sparkContext
    val centersB = sc.broadcast(centers)
    val subsB = sc.broadcast(subs)
    val assignUdf = udf((v: Seq[Double]) =>
      VecExprs.assignCell(centersB.value, subsB.value, k2, v.toArray))
    // fan out: assignment + the candidate cosine kernel are CPU bound and a
    // one-file scan arrives as a single partition
    val assigned = emb
      .repartition(sc.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("vec"), assignUdf(col("vec")).as("list_id"))
    val probeUdf = udf((qv: Seq[Double]) =>
      probeCells(centersB.value, subsB.value, k2, nProbe, subFrac, qv.toArray))
    val probed = queries.withColumn("probe", explode(probeUdf(col("qvec"))))
    val dot = graft.functions.Vec.dotNative("vec", "qvec")
    val nv = graft.functions.Vec.l2Native("vec")
    val nq = graft.functions.Vec.l2Native("qvec")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    assigned
      .join(broadcast(probed), col("list_id") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos", dot / (nv * nq))
      .select(col("qid"), col("vec_id"), col("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("cos"))
  }

  /** ANN family input contract (AnnLsh.tableBuckets states the same):
    * vectors are non-null — a null cannot be quantized, and silently
    * dropping it from the index or probe set is invisible recall loss at
    * scale. Each row fails with a CLEAR error naming `operator` and the side
    * instead of the bare executor NPE a fit's getSeq(...).toArray would
    * throw (NullCorpusSpec pins the message of every entry point).
    */
  private[operators] def requireVecs(
      emb: DataFrame, queries: DataFrame, operator: String): (DataFrame, DataFrame) =
    (requireVec(emb, "vec", "corpus", operator), requireVec(queries, "qvec", "query", operator))

  /** [[requireVecs]] for one side: `column` of `df` non-null or the row raises. */
  private[operators] def requireVec(
      df: DataFrame, column: String, side: String, operator: String): DataFrame =
    df.withColumn(column, when(col(column).isNotNull, col(column)).otherwise(raise_error(lit(
      s"$operator: null $side vector (ANN input contract: filter null embeddings upstream)"))))

  /** Empty corpus → empty result with the (qid, rnk, nid, cos) contract
    * schema, like every other operator (not a driver-side crash in a fit).
    */
  private[operators] def emptyResult(queries: DataFrame): DataFrame =
    queries
      .select(col("qid"), lit(0L).as("rnk"), col("qid").as("nid"), lit(0.0).as("cos"))
      .limit(0)

  /** Ranked center indices by squared L2, nearest first (probe side only —
    * queries are tiny).
    */
  private[operators] def rankedIdx(centers: Array[Array[Double]], q: Array[Double]): Seq[Int] =
    centers.indices.map(c => (VecExprs.sqDist(q, centers(c)), c))
      .sortBy(identity).map(_._2)

  /** Cells probed at one level: `frac` of `width`, at least one. */
  private[operators] def levelProbe(width: Int, frac: Double): Int =
    math.max(1, math.ceil(width * frac).toInt)

  /** The one IVF probe rule, flat and two-level, of every IVF-family search
    * (AnnIvf, AnnIvfPq and the persisted index): the `nProbe` nearest
    * centers of `q`; with sub-centers, inside each of those cells the
    * [[levelProbe]] `subFrac` nearest subs, as global list ids c1·k2 + s2.
    */
  private[operators] def probeCells(
      centers: Array[Array[Double]],
      subs: Array[Array[Array[Double]]],
      k2: Int,
      nProbe: Int,
      subFrac: Double,
      q: Array[Double]): Seq[Long] = {
    val cells = rankedIdx(centers, q).take(nProbe)
    if (subs.isEmpty) cells.map(_.toLong)
    else cells.flatMap { c1 =>
      val cell = subs(c1)
      rankedIdx(cell, q).take(levelProbe(cell.length, subFrac)).map(s2 => c1.toLong * k2 + s2)
    }
  }

  /** Distributed per-cell sub-quantizer fit (level 2 of [[topK2Level]]):
    * a hash-ordered deterministic sample of `cap2` rows is assigned to its
    * nearest L1 cell with one broadcast pass, then EACH CELL fits its own
    * k2-center Lloyd in its own task (groupByKey → mapGroups) — the work
    * the one-task clamp could not hold runs as l1 parallel bounded tasks
    * (≤ 32·k2 points × k2 centers × dim × iters each). Deterministic: the
    * sample is hash-ordered, each group re-sorts by (hash, id) before the
    * seeded fit. A cell the sample never hit falls back to its L1 centroid
    * as a single sub-center, so assignment stays total.
    */
  private[operators] def fitSubCenters(
      emb: DataFrame,
      l1Centers: Array[Array[Double]],
      k2: Int,
      iters: Int,
      cap2: Int): Array[Array[Array[Double]]] = {
    val sess = emb.sparkSession
    import sess.implicits._
    val l1B = sess.sparkContext.broadcast(l1Centers)
    val fitted = hashSample(emb, cap2)
      // TakeOrdered lands the sample on one partition; fan the (CPU-bound)
      // nearest-cell assignment back out before the per-cell shuffle
      .repartition(sess.sparkContext.defaultParallelism)
      .map { r =>
        val v = r.getSeq[Double](1)
        (VecExprs.nearestIdx(l1B.value, v.toArray), r.getLong(2), r.getLong(0), v)
      }
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3)).take(32 * k2)
        val pts = rows.map(_._4.toArray)
        (cell, fitLocal(pts, k2, iters).map(_.toSeq).toSeq)
      }
      .collect()
      .toMap
    Array.tabulate(l1Centers.length) { c =>
      fitted.get(c).map(_.map(_.toArray).toArray).getOrElse(Array(l1Centers(c)))
    }
  }

  /** Two-level IVF (round 13): an l1-cell coarse quantizer over the corpus,
    * a k2-cell sub-quantizer INSIDE each l1 cell — l1 × k2 total lists with
    * every fit bounded and the per-vector assignment cost O((l1 + k2)·dim)
    * instead of the flat O(l1·k2·dim). Probing mirrors the assignment
    * hierarchy at √½ of each level (⌈l1·√½⌉ nearest cells, ⌈k2·√½⌉ subs in
    * each), so the PROBED FRACTION of the corpus stays the same ≈ ½ the
    * flat ladder pins — finer cells at the same candidate budget, the same
    * recall argument as round 12's √n sizing. list_id = l1·k2 + sub is
    * globally unique, and assignment, probe and the candidate join/top-k
    * tail are shared with the flat path ([[search]]).
    */
  def topK2Level(
      emb0: DataFrame,
      queries0: DataFrame,
      k: Int = 5,
      l1: Int = 64,
      k2: Int = 32): DataFrame = {
    val (emb, queries) = requireVecs(emb0, queries0, "AnnIvf")
    val centers = fitCentroids(emb, l1, iters = 5, sampleCap = sampleCapFor(l1))
    val subs =
      if (centers.isEmpty) Array.empty[Array[Array[Double]]]
      else fitSubCenters(emb, centers, k2, iters = 5, cap2 = 16 * centers.length * k2)
    search(emb, queries, k, centers, subs, k2,
      levelProbe(centers.length, math.sqrt(0.5)), math.sqrt(0.5))
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native vector-math expressions (SURVEY.md §4 tier (b): a custom Catalyst
  * expression over a static kernel method, a [[NativeKernel]], above UDFs
  * in the preference order). They are the one shipped form of the
  * engine's vector math.
  *
  * Why a kernel and not a lambda fold (`aggregate(zip_with(...))`) or an
  * unrolled `element_at` sum: the kernel is a tight JVM loop over the
  * packed `ArrayData`, stays inside whole-stage codegen as ONE call, works
  * for any dimension, and allocates nothing (zip_with materializes an
  * intermediate array per row and evaluates one closure call per element).
  * The fold and unrolled forms live on in the test tree
  * (`ReferenceForms`) as parity references.
  * DataFrame code builds the kernels directly (`Vec.dotNative`/`l2Native`);
  * SQL calls `dot_product`/`l2_norm`, which come with the graft extension
  * (`GraftSession`).
  *
  * Parity contract: the sums are the same left-associated IEEE fold as the
  * lambda (`aggregate(..., (acc, v) -> acc + v)`), the unrolled tree
  * (left-assoc `+`) and DuckDB's sequential `list_inner_product`, so all of
  * them produce bit-identical doubles on identical input.
  *
  * Contract (fail-fast, intentionally STRICTER than the lambda forms):
  * vectors are dense, equal-dimension, non-null-element arrays. A ragged
  * pair or a null element THROWS — the zip_with alternative silently
  * null-pads / null-poisons to a NULL score, which hides data corruption
  * in a similarity pipeline instead of surfacing it (AnnLsh's scaladoc
  * documents the same hazard).
  */
object VecExprs {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product: dimension mismatch ($n vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"dot_product: null element at index $i")
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  def l2(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(s"l2_norm: null element at index $i")
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Canonical unit-normalize of the ANN family (round 18: MOVED here from
    * AnnPq.normalize, which now delegates — one implementation, so the
    * native assign+encode kernel and every closure caller share bits).
    * Zero vector returns the INPUT array unchanged, as before.
    */
  def normalizeUnit(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    if (s == 0.0) return v
    val inv = 1.0 / math.sqrt(s)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** Squared L2 distance over `q`'s length: the one squared-distance loop
    * of the ANN family (coarse assignment, probe ranking, the Lloyd fit). */
  def sqDist(q: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { val dx = q(i) - c(i); s += dx * dx; i += 1 }
    s
  }

  /** Index of the nearest center by squared L2, first index on ties
    * (canonical copy, round 18: the Lloyd fit, the IVF assignment and this
    * kernel all call it). */
  def nearestIdx(centers: Array[Array[Double]], q: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val s = sqDist(q, centers(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Coarse cell of a point: its nearest center when `subs` is empty (flat),
    * else c1·k2 + its nearest sub-center inside cell c1 (two-level). */
  def assignCell(
      centers: Array[Array[Double]], subs: Array[Array[Array[Double]]], k2: Int,
      q: Array[Double]): Long = {
    val c1 = nearestIdx(centers, q)
    if (subs.length == 0) c1.toLong else c1.toLong * k2 + nearestIdx(subs(c1), q)
  }

  /** Nearest-subspace-centroid PQ codes of an already-prepared point
    * (canonical copy — AnnPq.encoder calls it, round 18). A point whose
    * length is not the codebooks' m·subDim throws: a short or empty vector
    * would otherwise be encoded by its prefix. */
  def pqEncode(books: Array[Array[Array[Double]]], u: Array[Double]): Array[Int] = {
    val dim = books.length * books(0)(0).length
    if (u.length != dim)
      throw new IllegalArgumentException(
        s"pq_assign_encode: expected $dim-dim vector, got ${u.length}")
    val subDim = dim / books.length
    val codes = new Array[Int](books.length)
    var mi = 0
    while (mi < books.length) {
      val cb = books(mi)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cv = cb(c)
        var s = 0.0; var i = 0
        while (i < subDim) {
          val dx = u(mi * subDim + i) - cv(i); s += dx * dx; i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      codes(mi) = best
      mi += 1
    }
    codes
  }

  /** One fused normalize → coarse-assign → PQ-encode pass (the
    * [[graft.plans.PqAssignEncode]] kernel body): flat when `subs` is
    * empty (list_id = c1), hierarchical otherwise (list_id = c1·k2 + s2).
    * Arithmetic is bit-identical to the closure-UDF composition it
    * replaces — same normalize, same nearest-center loops, same encode. A
    * NULL vector throws (the ANN input contract filters them upstream), and
    * so does one of the wrong dimension ([[pqEncode]] checks it before the
    * coarse assignment reads a center).
    */
  def assignEncode(
      v: ArrayData,
      centers: Array[Array[Double]],
      subs: Array[Array[Array[Double]]],
      k2: Int,
      books: Array[Array[Array[Double]]]): org.apache.spark.sql.catalyst.InternalRow = {
    if (v == null)
      throw new IllegalArgumentException(
        "pq_assign_encode: null vector (ANN input contract: filter null embeddings upstream)")
    val u = normalizeUnit(v.toDoubleArray)
    val codes = pqEncode(books, u)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](assignCell(centers, subs, k2, u),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }

  /** Exact long squared distance with the lambda-fold's lenient null
    * semantics (round 18) — the native twin of the clustering family's
    * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
    * (acc, v) -> acc + v)` (Corpus.sqDist): ragged pair or null element →
    * SQL NULL (zip_with null-pads, a null square null-poisons the fold),
    * else the identical left-to-right exact long sum. Operands are
    * fixed-point micros (|x| ≤ ~3·10⁶ per component, 64 dims), so the sum
    * stays far below 2⁶³ — overflow is unreachable in the calling domain,
    * exactly as for the fold under ANSI.
    */
  def sqDistLenient(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** All LSH table buckets of one vector in ONE pass: planes is the
    * flattened (nTables·nPlanes) × dim ±1 matrix; output bucket t packs
    * bit k = sign(v · planes[t·nPlanes + k]) > 0. Replaces
    * nTables·nPlanes separate zip_with/aggregate lambda folds — the form
    * that blew whole-stage codegen past Janino's 64 KB method limit and
    * fell back to interpreted evaluation.
    */
  def lshBuckets(a: ArrayData, planes: Array[Array[Double]], nPlanes: Int): ArrayData = {
    val dim = planes(0).length
    if (a.numElements() != dim)
      throw new IllegalArgumentException(
        s"lsh_buckets: expected $dim-dim vector, got ${a.numElements()}")
    val nTables = planes.length / nPlanes
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var k = 0
      while (k < nPlanes) {
        val p = planes(t * nPlanes + k)
        var s = 0.0
        var i = 0
        while (i < dim) {
          if (a.isNullAt(i))
            throw new IllegalArgumentException(s"lsh_buckets: null element at index $i")
          s += a.getDouble(i) * p(i)
          i += 1
        }
        if (s > 0) bucket |= 1L << k
        k += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC (asymmetric distance computation) score of one PQ-coded row
    * against one query's lookup table: Σ_mi lut[mi·kSub + codes[mi]].
    * `luts` maps qid → the query's flattened m·kSub subspace-dot-product
    * table (built once driver-side from the tiny query frame, shipped as a
    * codegen reference object). This is the per-row kernel of the PQ scan —
    * m lookups + adds over EVERY corpus row — so it must stay inside
    * whole-stage codegen; the closure-UDF form it replaces blocked codegen
    * for the entire scoring stage. Same ascending-mi left-fold as the UDF,
    * so scores are bit-identical.
    *
    * Fail-fast contract (the VecExprs norm): an unknown qid or an
    * out-of-range code throws — both mean the LUT and the encoded corpus
    * disagree about the codebook, and a silent 0.0 would quietly rank
    * garbage.
    */
  def adcScore(
      codes: ArrayData,
      qid: Long,
      luts: java.util.HashMap[java.lang.Long, Array[Double]],
      kSub: Int): Double = {
    val flat = luts.get(qid)
    if (flat == null)
      throw new IllegalArgumentException(s"adc_score: unknown qid $qid")
    val m = codes.numElements()
    if (m * kSub != flat.length)
      throw new IllegalArgumentException(
        s"adc_score: $m codes vs ${flat.length / kSub}-subspace LUT")
    var s = 0.0
    var mi = 0
    while (mi < m) {
      val c = codes.getInt(mi)
      if (c < 0 || c >= kSub)
        throw new IllegalArgumentException(
          s"adc_score: code $c out of range [0, $kSub) at subspace $mi")
      s += flat(mi * kSub + c)
      mi += 1
    }
    s
  }
}

/** `dot_product(a, b)` — Σ aᵢ·bᵢ as a single kernel call. */
case class DotProduct(left: Expression, right: Expression)
  extends NativeKernel(VecExprs.getClass, "dot", ArrayType(DoubleType), ArrayType(DoubleType))
  with BinaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `l2_norm(a)` — √(Σ aᵢ²) as a single kernel call. */
case class L2Norm(child: Expression)
  extends NativeKernel(VecExprs.getClass, "l2", ArrayType(DoubleType))
  with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** `lsh_buckets(vec)` — every LSH table's bucket id for a vector as one
  * kernel call returning array<long> (index = table). `planes` is Seq-typed
  * for structural equality (plan canonicalization dedups identical scans);
  * the kernel sees a converted primitive matrix by reference.
  */
case class LshBuckets(child: Expression, planes: Seq[Seq[Double]], nPlanes: Int)
  extends NativeKernel(VecExprs.getClass, "lshBuckets", ArrayType(DoubleType))
  with UnaryLike[Expression] {

  require(planes.nonEmpty && planes.length % nPlanes == 0,
    "planes must hold nTables complete plane sets")

  override protected def constants: Seq[Any] = Seq(planes.map(_.toArray).toArray, nPlanes)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/** `adc_score(codes, qid)` — PQ asymmetric-distance score as one kernel
  * call (the [[LshBuckets]] pattern: per-query constant state is passed by
  * reference, so Janino never sees the q·m·kSub doubles). `luts` is
  * Seq-typed for structural equality (plan canonicalization); the kernel
  * sees a java.util.HashMap built once per instance.
  */
case class AdcScore(
    left: Expression, // codes: array<int>
    right: Expression, // qid: long
    luts: Seq[(Long, Seq[Double])],
    kSub: Int)
  extends NativeKernel(VecExprs.getClass, "adcScore", ArrayType(IntegerType), LongType)
  with BinaryLike[Expression] {

  require(kSub > 0, "kSub must be positive")

  override protected def constants: Seq[Any] = {
    val m = new java.util.HashMap[java.lang.Long, Array[Double]](luts.length * 2)
    luts.foreach { case (qid, flat) => m.put(qid, flat.toArray) }
    Seq(m, kSub)
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_score"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

/** `sq_dist_long(a, b)` — exact long squared distance between fixed-point
  * vectors as one kernel call, lambda null semantics (see
  * [[VecExprs.sqDistLenient]]). The clustering family's inner loop
  * (embedding_kmeans / dedup_semantic / sample_diversity / sample_coreset)
  * evaluated the aggregate-zip_with fold INTERPRETED per (vector, centroid)
  * pair — ArrayAggregate is CodegenFallback — before round 18.
  */
case class SqDistLong(left: Expression, right: Expression)
  extends NativeKernel(
    VecExprs.getClass, "sqDistLenient", ArrayType(LongType), ArrayType(LongType))
  with BinaryLike[Expression] {

  override protected def nullResult: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "sq_dist_long"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

/** `pq_assign_encode(vec)` — the ANN family's fused normalize →
  * coarse-assign → PQ-encode map pass as ONE kernel call (round 18).
  * Replaces the struct-returning closure UDF whose `ae._1`/`ae._2`
  * extraction Catalyst DUPLICATED: the join key's inferred
  * `isnotnull(UDF(vec)._1)` filter pushed the whole closure below the
  * exchange, so every corpus row paid normalize+assign+encode TWICE
  * (measured 2.3× on the declared sim_ann_ivfpq at sf10). The kernel
  * declares honest nullability — the requireVecs contract upstream RAISES
  * on a null vector, and a NULL that gets here anyway throws in
  * [[VecExprs.assignEncode]], so the struct is never null and no isnotnull
  * filter is inferred at all — and whole-stage codegen's subexpression
  * elimination evaluates the one remaining occurrence once per row.
  * Centers/subs/books are passed by reference (the LshBuckets playbook),
  * never as codegen literals.
  *
  * `subs` empty ⇒ flat coarse assignment (list_id = c1); otherwise
  * hierarchical (list_id = c1·k2 + s2). Scores bit-identical to the UDF
  * composition (AnnPqParitySpec pins it).
  */
case class PqAssignEncode(
    child: Expression,
    centers: Seq[Seq[Double]],
    subs: Seq[Seq[Seq[Double]]],
    k2: Int,
    books: Seq[Seq[Seq[Double]]])
  extends NativeKernel(VecExprs.getClass, "assignEncode", ArrayType(DoubleType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(
    centers.map(_.toArray).toArray,
    subs.map(_.map(_.toArray).toArray).toArray,
    k2,
    books.map(_.map(_.toArray).toArray).toArray)
  override protected def passNull: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("list_id", LongType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def prettyName: String = "pq_assign_encode"

  override protected def withNewChildInternal(newChild: Expression): PqAssignEncode =
    copy(child = newChild)
}

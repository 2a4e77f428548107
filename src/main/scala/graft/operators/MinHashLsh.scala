package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded MinHash LSH near-duplicate detection (Broder 1997; the standard
  * web-scale dedup pipeline: shingle → minhash signature → band → bucket
  * equi-join → exact verify).
  *
  * Built from codegen'd Spark SQL primitives only — no UDFs, no MLlib.
  * MLlib's MinHashLSH was rejected on purpose: its approxSimilarityJoin
  * uses 1-row bands, so the candidate probability per pair is
  * 1-(1-s)^tables — on a corpus with background similarity s≈0.3 that makes
  * ~80% of ALL pairs candidates, i.e. an O(n²) join (measured: 423 s at
  * sf0.1 vs <2 s for this implementation). Banding with r rows gives the
  * s-curve 1-(1-s^r)^b: pairs below the threshold almost never collide.
  *
  * Scale design (100 TB): the only shuffles are (a) explode to
  * (band_hash → doc) and group into buckets — shuffle bytes are
  * signatures, never documents; (b) the candidate-pair verify join, sized by
  * true near-dups, not n². Skewed buckets (boilerplate shingles) are capped
  * by `maxBucketSize`, the standard guard against degenerate bands.
  */
object MinHashLsh {

  /** Modular universal hashing h_i(x) = (a_i·x + b_i) mod P with P prime
    * ≈ 2³⁰: products stay < 2⁶⁰, so the math is exact under Spark's default
    * ANSI mode (wrapping long multiplication would throw
    * ARITHMETIC_OVERFLOW). Fixed seeds make every run reproducible.
    */
  private[graft] val P = 1000000007L

  private[graft] def hashParams(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = (1 to numHashes).map(_ => 1L + rnd.nextInt((P - 1).toInt))
    val b = (1 to numHashes).map(_ => rnd.nextInt((P - 1).toInt).toLong)
    (a, b)
  }

  /** `shingleSize`-token shingles of a token array column, distinct
    * (first-occurrence order). ONE native codegen'd kernel call
    * (`plans.NGrams`) — the previous zip_with-fold form ran `shingleSize`
    * slices + folds as interpreted CodegenFallback lambdas (each an array
    * copy, and each breaking the surrounding whole-stage-codegen span);
    * bit-identical semantics, spec-asserted against the zip_with form in
    * the test-side `ReferenceForms`). Docs shorter than the shingle size yield
    * an empty array.
    */
  def shingles(tokens: Column, shingleSize: Int): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.NGrams(
        org.apache.spark.sql.GraftSqlShim.expression(tokens),
        shingleSize, distinct = true))

  /** MinHash signature (array of `numHashes` longs) of a shingle array —
    * ONE native kernel call (`plans.MinHashSig`): hash each shingle once,
    * update all k minima in a tight loop. The higher-order-function form
    * (the test-side `ReferenceForms.minhashSignatureExpr`) walks the array k+1
    * times through interpreted lambda closures with an intermediate copy
    * per walk; the kernel is bit-identical (same xxhash64 seed, same pmod
    * arithmetic, same null/empty semantics — spec-asserted).
    */
  def signature(shingleCol: Column, numHashes: Int): Column = {
    val (a, b) = hashParams(numHashes)
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.MinHashSig(
        org.apache.spark.sql.GraftSqlShim.expression(shingleCol), a, b, P))
  }

  /** Near-duplicate pairs (aId < bId) with exact shingle-Jaccard ≥ threshold,
    * discovered via banded LSH. Output: (a_id, b_id, jaccard).
    *
    * @param df            input with an id column and a token-array column
    * @param numHashes     signature length (= bands · rowsPerBand)
    * @param bands         number of LSH bands
    * @param threshold     exact shingle-Jaccard similarity cut for the verify
    * @param maxBucketSize drop degenerate buckets larger than this (skew guard)
    * @param persistShingles cache the shingle set (it feeds three consumers:
    *                      signatures + both verify-join sides). The cache
    *                      lives for the SESSION (the returned plan is lazy,
    *                      so it cannot be unpersisted here) — pass false
    *                      from repeated-invocation call sites (pipelines) to
    *                      trade two recompute passes for zero cache
    *                      footprint. At 100 TB this step is a materialized
    *                      signature TABLE (cf. PpdbRelease.ingest), not an
    *                      in-memory cache.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 27,
      bands: Int = 9,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
      persistShingles: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands

    // fan out before the heavy per-doc compute: a small corpus arrives as
    // one scan partition (one file = one task), which would run every
    // shingle+signature on a single core; hash-repartition by id spreads it
    // and pre-aligns the verify joins below
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sh0 = df.repartition(par, col(idCol)).select(
      col(idCol).as("doc"),
      shingles(col(tokensCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    val sh =
      if (persistShingles) sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sh0

    // banded rows stay SLIM - (doc, band_idx, band_hash) only; shingle
    // arrays never enter the candidate shuffle or the pair dedup.
    // Band hashes come from ONE native kernel call (round 19,
    // plans.BandHashes — bit-parity with the interpreted
    // slice/cast/concat_ws/xxhash64 lambda chain it replaced, pinned by
    // BandHashParitySpec).
    val bandCol = org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.BandHashes(
        org.apache.spark.sql.GraftSqlShim.expression(col("sig")), bands, r))
    val banded = sh
      .withColumn("sig", signature(col("sh"), numHashes))
      .select(col("doc"), posexplode(bandCol))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")

    // skew guard: drop degenerate buckets (a bucket of size m contributes
    // m^2 pairs); the window reuses the hash partitioning the candidate
    // join needs, so it costs no extra exchange
    val bucketed = banded.withColumn(
      "bucket_n",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_hash")))
      .filter(col("bucket_n") <= maxBucketSize)

    val a = bucketed.select(col("band_idx"), col("band_hash"), col("doc").as("a_id"))
    val b = bucketed.select(
      col("band_idx").as("band_idx_b"), col("band_hash").as("band_hash_b"),
      col("doc").as("b_id"))

    val candidates = a
      .join(
        b,
        col("band_idx") === col("band_idx_b") &&
          col("band_hash") === col("band_hash_b") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")

    // exact verify on candidates only: join the cached shingle sets back by
    // id - touches candidate docs, not the corpus
    candidates
      .join(sh.select(col("doc").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("doc").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("isize", size(array_intersect(col("a_sh"), col("b_sh"))).cast("double"))
      .withColumn("usize", (size(col("a_sh")) + size(col("b_sh"))).cast("double") - col("isize"))
      .withColumn("jaccard", col("isize") / col("usize"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }
}

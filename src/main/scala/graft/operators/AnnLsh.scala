package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search via random-hyperplane LSH
  * (Charikar 2002 SimHash for angular distance), the bucketed scale path
  * next to the brute-force `sim_knn_cosine` baseline.
  *
  * Each vector gets an `nPlanes`-bit bucket id per table: bit k =
  * sign(v · r_k) for a fixed seeded ±1 hyperplane r_k. Recall comes from
  * two standard amplifiers composed (Indyk–Motwani OR-construction +
  * multi-probe): `nTables` independent plane sets — a neighbor is found if
  * it collides in ANY table — and each table probes the query bucket plus
  * all Hamming-1 neighbors. Tuning rule: per-table collision for a
  * neighbor at angle θ is p^nPlanes-ish with p = 1 − θ/π, so nPlanes
  * scales with log(n) for candidate-set size and nTables lifts recall as
  * 1 − (1 − p₁)^nTables.
  *
  * Scale design (100 TB of vectors): the index replicates each vector
  * nTables times — the textbook LSH space/recall trade — and shuffles once
  * on the (table, bucket) key, so each probe touches ~n/2^nPlanes
  * candidates instead of n. Brute-force cosine is only computed inside
  * probed buckets. The parquet layout would bucket/partition by `tbucket`
  * so probes prune partitions at the scan.
  */
object AnnLsh {

  /** Deterministic ±1 hyperplanes, `nPlanes` × `dim` (seed per table).
    * Row-major generation means `planes(k, dim, t)` is a PREFIX of
    * `planes(k', dim, t)` for k < k' — so an adaptive plane count
    * (operators.AnnDedup) selects a prefix of the same fixed matrix, and
    * an oracle can embed the max-count literals once.
    */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7 + seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** All `nTables` packed table-bucket ids of a vector in one native kernel
    * call: element t = (t << nPlanes) + bucket_t, so one long column equi-
    * joins across tables (bucket_t < 2^nPlanes keeps the packing
    * injective). Shared by [[topK]] and AnnDedup. A NULL vector fails
    * loudly: LshBuckets maps NULL in to NULL out, and
    * explode(transform(NULL)) then silently DROPS the row from the index or
    * probe set — at scale that is invisible recall loss, not an error.
    */
  def tableBuckets(vec: Column, nPlanes: Int, dim: Int, nTables: Int): Column = {
    val mat: Seq[Seq[Double]] = (0 until nTables).flatMap(t => planes(nPlanes, dim, t))
    val all = org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.LshBuckets(
        org.apache.spark.sql.GraftSqlShim.expression(vec), mat, nPlanes))
    val guarded = when(vec.isNotNull, all)
      .otherwise(raise_error(lit(s"AnnLsh: null vector (expected array<double>[$dim])")))
    transform(guarded, (b, t) => b + (t.cast("long") * lit(1L << nPlanes)))
  }

  /** Top-k approximate neighbors for each query vector (`nTables`
    * OR-amplified tables, multi-probe at Hamming distance ≤ 1 in each).
    * Output: (qid, rnk, nid, cos) — same shape as the brute-force baseline
    * so recall is directly measurable.
    */
  def topK(
      emb: DataFrame, // (vec_id, vec: array<double>)
      queries: DataFrame, // (qid, qvec: array<double>)
      k: Int = 5,
      nPlanes: Int = 8,
      dim: Int = 64,
      nTables: Int = 1): DataFrame = {
    // ALL tables' buckets in one native kernel call (plans.LshBuckets):
    // nTables·nPlanes lambda folds per vector blew whole-stage codegen past
    // Janino's 64 KB method limit and fell back to interpreted evaluation.
    // (table, bucket) packs into one equi-join key: table id in the bits
    // above the bucket's nPlanes.
    def tbuckets(vec: Column): Column = tableBuckets(vec, nPlanes, dim, nTables)
    // fan out: the corpus-side bucket hashes + candidate cosines are CPU
    // bound and a one-file scan arrives as a single partition. The explode
    // is the ×nTables index replication.
    val bucketed = emb
      .repartition(emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("bucket", explode(tbuckets(col("vec"))))
    // per table: query bucket + its nPlanes Hamming-1 probes
    val probes = queries
      .select(
        col("qid"), col("qvec"),
        explode(array_distinct(flatten(transform(
          tbuckets(col("qvec")),
          qb => array((qb +: (0 until nPlanes).map(b => qb.bitwiseXOR(lit(1L << b)))): _*)))))
          .as("probe"))

    // native codegen'd kernels (graft.plans.VecExprs) — bit-identical to
    // the lambda fold, no per-element closure interpretation on candidates
    val dot = graft.functions.Vec.dotNative("vec", "qvec")
    val nv = graft.functions.Vec.l2Native("vec")
    val nq = graft.functions.Vec.l2Native("qvec")

    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    bucketed
      .join(broadcast(probes), col("bucket") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos", dot / (nv * nq))
      .select(col("qid"), col("vec_id"), col("cos"))
      .dropDuplicates("qid", "vec_id") // a neighbor may match several probes
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id").as("nid"), col("cos"))
  }
}

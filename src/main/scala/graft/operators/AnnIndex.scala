package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN index PERSISTENCE — build once, serve many (round 18, VERDICT r17
  * item 3).
  *
  * Every `sim_ann_*` invocation refits centroids/codebooks and re-encodes
  * the corpus; a 100 TB deployment amortizes that exactly like
  * `join_bucketed` amortizes its shuffle at write time: fit + encode ONCE,
  * persist the artifacts, and let every subsequent query run the pruned
  * compressed-domain scan off the stored codes. This is the on-disk face
  * of [[AnnIvfPq]] (the FAISS write_index/read_index shape re-expressed as
  * parquet tables):
  *
  *   meta.parquet        1 row: (n, lists, l1, k2, m, k_sub, rerank,
  *                       two_level, n_probe, sub_probe_frac) — the
  *                       [[AnnIvfPq.paramsFor]] derivation plus the fitted
  *                       model's probe widths
  *   centroids.parquet   (cell_id, center) — L1 coarse centers
  *   subcenters.parquet  (l1_id, sub_id, center) — two-level only
  *   codebooks.parquet   (m_idx, code, center) — PQ sub-quantizers
  *   coded.parquet       (vec_id, codes), PARTITIONED BY list_id — the
  *                       corpus as m code bytes per vector
  *
  * Why partitionBy(list_id): serving probes ~½ the cells (the family's
  * probed-fraction constant), and a Hive-partitioned coded table turns the
  * probe list into PARTITION PRUNING — unprobed cells are never READ, not
  * merely filtered, so serve-side IO tracks the probe fraction instead of
  * the corpus size.
  *
  * Build and serve share the index itself: [[buildAdaptive]] fits the
  * [[AnnIvfPq.IvfPqModel]] exactly as [[AnnIvfPq.topKAdaptive]] does and
  * writes its `encode`; [[serve]] reads the model back and runs its
  * `search` — the same probe, ADC scan and re-ranks as the fresh query.
  * Only the persistence and the partition prune live here, so a reloaded
  * index answers bit-identically to a fresh fit by construction
  * (Round18Spec checks it at sf0.01 and the 4.2M rung).
  *
  * The exact re-rank tail reads the ORIGINAL embeddings table by candidate
  * id (a pruned, pushdown-friendly point-read of ≤ rerank·q rows) — codes
  * serve the scan; exact cosines come from the source of truth, exactly as
  * the in-memory family does.
  */
object AnnIndex {

  import AnnIvfPq.IvfPqModel

  /** Fit + encode under the [[AnnIvfPq.paramsFor]] rules and persist the
    * model and the coded corpus under `path`. One corpus pass for the
    * encode (the fused assign+encode kernel), bounded executor-side fits,
    * nothing but the ≤ lists centroids / m·kSub codebook rows ever
    * collected.
    */
  def buildAdaptive(emb0: DataFrame, path: String,
      maxLists: Int = AnnIvf.MaxLists): Unit = {
    val emb = AnnIvf.requireVec(emb0, "vec", "corpus", "AnnIndex")
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val p = AnnIvfPq.paramsFor(n, maxLists)
    val model = IvfPqModel.fit(emb, p)

    // the probe widths ride in meta so an index built under one probing
    // rule can never be served under another (the round-18 subwide shipping)
    Seq((n, p.lists, p.l1, model.k2, p.m, p.kSub, model.rerank, p.twoLevel,
        model.nProbe, model.subProbeFrac))
      .toDF("n", "lists", "l1", "k2", "m", "k_sub", "rerank", "two_level",
        "n_probe", "sub_probe_frac")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta.parquet")
    model.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids.parquet")
    (for ((cell, c1) <- model.subs.zipWithIndex.toSeq; (sc, s2) <- cell.zipWithIndex)
      yield (c1, s2, sc.toSeq))
      .toDF("l1_id", "sub_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/subcenters.parquet")
    (for ((book, mi) <- model.books.zipWithIndex.toSeq; (c, code) <- book.zipWithIndex)
      yield (mi, code, c.toSeq))
      .toDF("m_idx", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks.parquet")

    // one file per cell (the BucketedJoin one-file-per-bucket discipline):
    // repartition ON the partition column so each task holds whole cells
    model.encode(emb)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").mode("overwrite")
      .parquet(s"$path/coded.parquet")
  }

  /** Serve a top-k query batch off the persisted index: reload the bounded
    * model, prune the coded table to the probed cells (partition-level),
    * and run the model's search — ADC over the probed cells' codes, exact
    * re-rank against the source embeddings. No fit, no encode — the
    * amortized path.
    */
  def serve(spark: SparkSession, path: String, emb0: DataFrame,
      queries0: DataFrame, k: Int = 5): DataFrame = {
    val (emb, queries) = AnnIvf.requireVecs(emb0, queries0, "AnnIndex")
    read(spark, path).search(emb, queries, k) { probed =>
      // partition-level prune: the probe list is small (≤ q · lists/2), so
      // an explicit IN filter on the PARTITION column skips unprobed cells
      // at the file-listing level — serve IO tracks the probed fraction
      val probedCells = probed.select(col("probe")).distinct()
        .collect().map(_.getLong(0))
      val codedAll = spark.read.parquet(s"$path/coded.parquet")
        .withColumn("list_id", col("list_id").cast("long"))
      // a huge query batch could probe more cells than an IN literal should
      // carry — past the bound the equi-join alone filters (pruning lost,
      // correctness unchanged)
      if (probedCells.length <= 100000)
        codedAll.filter(col("list_id").isInCollection(probedCells))
      else codedAll
    }
  }

  /** The model [[buildAdaptive]] wrote under `path`. */
  private def read(spark: SparkSession, path: String): IvfPqModel = {
    val meta = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    val k2 = meta.getAs[Int]("k2")
    val centers: Array[Array[Double]] =
      spark.read.parquet(s"$path/centroids.parquet").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
    val books: Array[Array[Array[Double]]] =
      spark.read.parquet(s"$path/codebooks.parquet").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
        .groupBy(_._1._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._1._2).map(_._2))
    val subs: Array[Array[Array[Double]]] =
      if (k2 == 0) Array.empty
      else {
        val bySub = spark.read.parquet(s"$path/subcenters.parquet").collect()
          .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
          .groupBy(_._1._1)
        // a cell absent from the sample fell back to its L1 centroid at fit
        // time and persisted that single sub-center, so every l1_id exists
        centers.indices.toArray.map(c1 =>
          bySub(c1).sortBy(_._1._2).map(_._2))
      }
    IvfPqModel(centers, subs, k2, books, meta.getAs[Int]("n_probe"),
      meta.getAs[Double]("sub_probe_frac"), meta.getAs[Int]("rerank"))
  }

  // ---- session-scoped build cache (the BucketedJoin discipline) ----

  private val cache = new ConcurrentHashMap[(SparkSession, String, Int), String]()

  /** Build-once-serve-many as a declared query path: the first caller per
    * (session, sfDir) pays the build into a deterministic scratch dir under
    * java.io.tmpdir; every later call (and bench rep) serves off the
    * persisted index. Pure (spark, sfDir) ⇒ DataFrame — the cache only
    * deduplicates the identical deterministic build.
    */
  def servedFromCache(emb: DataFrame, queries: DataFrame, k: Int,
      sfDir: String, maxLists: Int = AnnIvf.MaxLists): DataFrame = {
    val spark = emb.sparkSession
    val path = cache.computeIfAbsent((spark, sfDir, maxLists), _ => {
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft-ann-index-${Integer.toHexString(sfDir.hashCode)}-$maxLists-${System.identityHashCode(spark)}")
      buildAdaptive(emb, dir.toString, maxLists)
      dir.toString
    })
    serve(spark, path, emb, queries, k)
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables.normText
import graft.operators.MinHashLsh

/** End-to-end training-corpus cleaning — the composition the individual
  * operators exist for: normalize → quality gate → exact dedup → near-dup
  * dedup → clean corpus.
  *
  * Everything is one lazy declarative graph: the normalize+quality pass is a
  * single projection over the scan; exact dedup shuffles (16-byte hash, id)
  * pairs; near-dup runs the banded MinHash LSH over exact-dedup survivors
  * only. Near-dup resolution is the standard greedy keep-smallest-id: every
  * doc that pairs with a smaller-id near-duplicate is dropped (one pass over
  * the pair list, no transitive-closure iteration — the usual web-corpus
  * approximation).
  */
object CorpusClean {

  /** Shingle width of the Jaccard-1.0 duplicate fingerprint. ONE constant
    * drives all three coupled uses (the fused kernel's n, its n_tok >= n
    * non-null domain filter, and the shingleless keep branch) — they must
    * stay in lock-step or the always-kept/fingerprinted partition silently
    * splits (advisor r15 #3).
    */
  private val ShingleSize = 3

  /** @param minTokens      drop docs shorter than this many tokens
    * @param maxPunctRatio  drop docs with more punctuation than this
    * @param nearDupJaccard shingle-Jaccard threshold for near-dup removal
    * @param maxBucketSize  LSH degenerate-bucket guard (MinHashLsh). Leave
    *                       the default for approximate thresholds; set to
    *                       Int.MaxValue when the threshold is 1.0 and the
    *                       run must be EXHAUSTIVE — a duplicate cluster
    *                       larger than the guard would otherwise have its
    *                       buckets dropped and survive dedup entirely
    */
  case class Config(
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.3,
      nearDupJaccard: Double = 0.8,
      maxBucketSize: Int = 1000)

  /** docs: (doc_id, text, ...) → surviving rows plus `norm` and `n_tok`.
    * Drop order: quality gate, then exact duplicates (keep min doc_id),
    * then near-duplicates (keep min doc_id of each pair).
    */
  def clean(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // thresholds above 1.0 are unsatisfiable: the LSH path would drop
    // nothing (no pair passes the Jaccard verify) while the ==1.0 fast path
    // would still dedup identical shingle sets — reject instead of letting
    // the two paths diverge on an impossible input
    require(cfg.nearDupJaccard > 0.0 && cfg.nearDupJaccard <= 1.0,
      s"nearDupJaccard must be in (0, 1], got ${cfg.nearDupJaccard}")
    val normalized = docs
      .withColumn("norm", normText(col("text")))
      // token COUNT only — the zero-allocation kernel, not a split (r19)
      .withColumn("n_tok", graft.Tables.spaceTokenCount(col("norm")))
      .withColumn(
        "punct_ratio",
        // native punct kernel (round 18 — text_quality got it in r17, this
        // pipeline kept the per-char regex; PunctParitySpec pins the pair)
        graft.Tables.punctCount(col("text")).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double"))

    val quality = normalized
      .filter(col("n_tok") >= cfg.minTokens && col("punct_ratio") <= cfg.maxPunctRatio)
      .drop("punct_ratio")

    // exact dedup, slim-shuffle form: only (doc_id, 16-byte hash) pairs
    // enter the exchange — the document-bearing side is then filtered by a
    // broadcast-friendly semi-join on keeper ids, so text never shuffles.
    // The normalize+hash pass is materialized ONCE (localCheckpoint:
    // block-manager storage with GC-tied cleanup, unlike an unreleasable
    // CacheManager entry) BEFORE it fans out — the keeper-id groupBy, the
    // semi-join probe, the near-dup shingle build and the final anti-join
    // probe all read the checkpoint instead of re-running the two regex
    // passes per consumer (true-sf1 profile: normalize was ~1.7 s/pass and
    // ran twice). Round 15: the checkpoint holds ONLY the columns the
    // dedup machinery consumes (doc_id, norm, n_tok, h) — a checkpoint is
    // a pruning barrier, so carrying `text` (and any other caller columns)
    // through it materialized ~2× the corpus bytes for columns no dedup
    // stage reads; the caller's columns are re-attached LAZILY at the end
    // by a doc_id join against the (never-materialized) input, which
    // Catalyst prunes to whatever the caller actually selects.
    val slim = quality
      .select(col("doc_id"), col("norm"), col("n_tok"))
      .withColumn("h", md5(col("norm")))
      .localCheckpoint()
    val keeperIds = slim
      .select(col("doc_id"), col("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("doc_id"))
      .drop("h")
    // cheap to recompute from the checkpoint (scan + one semi join), so no
    // second materialization
    val keepers = slim
      .join(keeperIds, Seq("doc_id"), "left_semi")
      .drop("h")

    val survivors = if (cfg.nearDupJaccard == 1.0) {
      // FAST PATH — Jaccard 1.0 is shingle-SET IDENTITY, so "near"-dup
      // degenerates to exact dedup on a canonical set fingerprint: the
      // whole signature → banding → bucket self-join → candidate-verify
      // cascade collapses to ONE slim groupBy, with the same keep-min-id
      // resolution (J=1 pairs are exactly the docs sharing a fingerprint,
      // so min-id-per-group ≡ drop-everything-paired-with-a-smaller-id).
      // Also exhaustive BY CONSTRUCTION: no bucket-size guard to disable,
      // no banding probability to reason about.
      // canonical set fingerprint: TWO independent-seed order-independent
      // hash sums (commutative, so no array_sort + concat_ws + md5 cascade;
      // 128-bit effective key, collision odds ~n²/2¹²⁸). Set identity is
      // exactly what Jaccard-1.0 pairing means, so min-id-per-fingerprint ≡
      // drop-everything-paired-with-a-smaller-id. Shingle-less docs (< 3
      // tokens — empty shingle set) never pair and are always kept; the
      // n_tok column already in the checkpoint decides that branch for free.
      // Round 15: the fingerprint is the FUSED one-pass kernel
      // (plans.ShingleSetHash — every 3-shingle of a space-normalized string
      // is a contiguous byte slice, hashed in place, zero allocation of the
      // shingle array), bit-identical to the composed split → ngrams →
      // 2×set_hash_sum cascade (ShingleSetHashSpec pins the pair).
      val fused = org.apache.spark.sql.GraftSqlShim.column(
        graft.plans.ShingleSetHash(
          org.apache.spark.sql.GraftSqlShim.expression(col("norm")),
          n = ShingleSize, seed1 = 42L, seed2 = 7L))
      val fp = keepers
        // fused fp is non-null exactly here
        .filter(col("n_tok") >= ShingleSize)
        .select(col("doc_id"), fused.as("fp"))
        .select(col("doc_id"),
          col("fp").getField("fp1").as("fp1"),
          col("fp").getField("fp2").as("fp2"))
      // slim shuffle, same discipline as the exact-dedup stage above:
      // only (two 8-byte fingerprints, id) triples enter the exchange
      val keepIds = fp.groupBy("fp1", "fp2").agg(min(col("doc_id")).as("doc_id"))
        .drop("fp1", "fp2")
      // shingles are empty iff the doc has < ShingleSize tokens, and n_tok
      // IS the split-token count — no kernel call needed to route this branch
      val shingleless = keepers.filter(col("n_tok") < ShingleSize).select(col("doc_id"))
      keepers.join(keepIds.union(shingleless), Seq("doc_id"), "left_semi")
    } else {
      // near-dup dedup over the survivors: drop any doc paired with a
      // smaller-id near-duplicate (pairs are emitted with a_id < b_id);
      // shingles recompute from the checkpoint instead of pinning a cache
      val pairs = MinHashLsh.nearDupPairs(
        keepers.select(col("doc_id"), graft.Tables.spaceSplit(col("norm")).as("tokens")),
        "doc_id", "tokens", threshold = cfg.nearDupJaccard,
        maxBucketSize = cfg.maxBucketSize,
        persistShingles = false)
      val dropIds = pairs.select(col("b_id").as("doc_id")).distinct()

      keepers.join(dropIds, Seq("doc_id"), "left_anti")
    }
    // re-attach the caller's columns (text, ...) to the slim survivor set:
    // inner join on the unique doc_id — pure column re-attachment, never a
    // row multiplier. A caller that prunes `text` (the declared
    // pipeline_corpus_clean key outputs only doc_id + n_tok) pays a
    // doc_id-only scan here, not a full-text shuffle.
    docs.join(survivors.select(col("doc_id"), col("norm"), col("n_tok")), Seq("doc_id"))
  }
}

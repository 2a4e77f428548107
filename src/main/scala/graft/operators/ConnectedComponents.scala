package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the principled
  * resolution of near-duplicate PAIRS into duplicate CLUSTERS (each doc gets
  * the min doc-id of its transitive group as its component label), vs the
  * greedy drop-the-b-side approximation `CorpusClean` uses.
  *
  * Algorithm: every vertex starts labeled with itself; each round a vertex
  * adopts the minimum label among itself and its neighbors; stop at fixpoint
  * (no label changed) or `maxIter`. A vertex's label after round k is the
  * least id within k hops, so a component of diameter d is labeled after d
  * rounds and round d + 1 confirms it — near-dup graphs are dense
  * clique-ish clusters, so 2–4 rounds in practice.
  *
  * Self-loop formulation (Pregel's vertex messaging itself, Malewicz et al.,
  * SIGMOD 2010): the symmetrized edge list also holds (v, v) for every
  * edge-touched vertex, so "the least of itself and its neighbors" is one
  * aggregate over v's rows, and the same rows hand back v's previous label
  * through the self-loop. Per round = one join of the edges with the labels,
  * one aggregate by vertex (new label `min(comp)`, old label `comp` through
  * the self-loop) and one driver action: the count of changed labels,
  * collected by an [[Observation]] on the round's eager `localCheckpoint`
  * (which also truncates the lineage — an unbounded iterative plan otherwise
  * re-derives round k from round 0). Round 1 needs no join at all — labels
  * start as the ids, so the new label is the least neighbor id — and no
  * action: it materializes inside round 2's checkpoint job.
  *
  * `maxIter` bounds the rounds, round 1 included: with maxIter = k each
  * vertex is labeled with the least id within k hops inside its component
  * (its own id when k ≤ 0), whether or not the labels had converged.
  *
  * Scale notes (100 TB): the iteration runs over the EDGE-INDUCED subgraph
  * only — vertices with no edge are singletons by definition and join back
  * in one final pass, so a corpus where 2% of docs have a near-dup pays
  * per-round cost on 2% of ids, not all of them. The join and the aggregate
  * both partition by vertex id, and AQE coalesces as labels stabilize. For
  * graphs whose diameter is itself huge, swap in the alternating
  * small-star/large-star scheme (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14) — same join-aggregate skeleton, fewer
  * rounds.
  */
object ConnectedComponents {

  /** @param vertices   single-column frame of vertex ids (column `id`)
    * @param edges      two-column frame (src, dst), undirected, any
    *                   direction. Edges with an endpoint NOT in `vertices`
    *                   are ignored (semi-join filtered) — components are
    *                   defined by reachability within the vertex set only
    * @return (id, component) where component = min id reachable
    */
  def labels(vertices: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    if (maxIter < 1) return vertices.select(col("id"), col("id").as("comp"))
    // Edges referencing ids absent from `vertices` are dropped up front:
    // otherwise an out-of-set endpoint would receive a label, propagate it,
    // and two vertex components could merge through a non-vertex id — the
    // result frame must be exactly `vertices` labeled by reachability
    // WITHIN `vertices`. One scan of `edges` (a lazy plan, e.g. the MinHash
    // pair join, runs once), two semi-joins on the slim raw pairs, then each
    // kept edge explodes into both directions and both self-loops. LAZY
    // checkpoint: the edge list materializes inside round 2's job and every
    // later round reads the stored blocks.
    val vids = vertices.select(col("id"))
    val sym = edges.select(col("src"), col("dst"))
      .join(vids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(vids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(inline(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")),
        struct(col("src"), col("src").as("dst")),
        struct(col("dst").as("src"), col("dst")))))
      .distinct()
      .localCheckpoint(eager = false)

    // iterate over edge-TOUCHED vertices only (sym's src column covers every
    // one of them): an isolated vertex can never change its label, so it
    // has no business inside the per-round join + checkpoint; singletons
    // rejoin once at the end with comp = id.
    var labels = sym.groupBy(col("src").as("id")).agg(min(col("dst")).as("comp"))
      .localCheckpoint(eager = false)
    var round = 1
    var changed = 1L
    // one hop per action: two hops per action measured slower on near-dup
    // graphs (BASELINE.md, retired A/B twins), which converge in 2–3 rounds
    while (changed > 0 && round < maxIter) {
      val moved = new Observation()
      labels = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("comp"),
          max(when(col("src") === col("dst"), col("comp"))).as("old"))
        .observe(moved, count_if(col("comp") < col("old")).as("changed"))
        .select(col("id"), col("comp"))
        .localCheckpoint(eager = true)
      changed = moved.get("changed").asInstanceOf[Long]
      round += 1
    }
    // singletons (no edges) keep their own id as the component label
    vertices
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}

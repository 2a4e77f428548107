package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the principled
  * resolution of near-duplicate PAIRS into duplicate CLUSTERS (each doc gets
  * the min doc-id of its transitive group as its component label), vs the
  * greedy drop-the-b-side approximation `CorpusClean` uses.
  *
  * Algorithm: every vertex starts labeled with itself; each round a vertex
  * adopts the minimum label among itself and its neighbors; stop at fixpoint
  * (no label changed) or `maxIter`. Converges in graph-diameter rounds —
  * near-dup graphs are dense clique-ish clusters, so 2–4 in practice.
  *
  * Scale notes (100 TB): the iteration runs over the EDGE-INDUCED subgraph
  * only — vertices with no edge are singletons by definition and join back
  * in one final pass, so a corpus where 2% of docs have a near-dup pays
  * per-round cost on 2% of ids, not all of them. Per round = one shuffle of
  * (edge endpoints × labels) + one aggregate — both partition by vertex id,
  * and AQE coalesces as labels stabilize. `localCheckpoint` after every round truncates the
  * lineage (an unbounded iterative plan otherwise re-derives round k from
  * round 0 and overwhelms the optimizer). The driver-side action per round
  * is a COUNT of changed labels only — the convergence test every iterative
  * graph system (Pregel, GraphX) pays. For graphs whose diameter is itself
  * huge, swap in the alternating small-star/large-star scheme (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14) — same
  * join-aggregate skeleton, fewer rounds.
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
    // symmetrize once; checkpoint so every round reuses the materialized
    // edge list instead of re-deriving it (it never changes).
    // Edges referencing ids absent from `vertices` are dropped up front:
    // otherwise an out-of-set endpoint would receive a label, propagate it,
    // and two vertex components could merge through a non-vertex id — the
    // result frame must be exactly `vertices` labeled by reachability
    // WITHIN `vertices`. Two semi-joins on the slim (src, dst) pairs, paid
    // once before the checkpoint, not per round.
    val vids = vertices.select(col("id"))
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .join(vids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(vids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
      .distinct()
      // LAZY (round 18, the graph_pagerank discipline): the edge list
      // materializes inside the first convergence-sum job below instead of
      // paying its own eager scheduling round-trip; every later round reads
      // the stored blocks all the same
      .localCheckpoint(eager = false)

    // iterate over edge-TOUCHED vertices only: an isolated vertex can never
    // change its label, so it has no business inside the per-round join +
    // checkpoint. For a near-dup graph over a corpus this shrinks every
    // round from |V| (all docs) to |V_edges| (docs with at least one
    // near-duplicate — typically a small fraction); singletons rejoin once
    // at the end with comp = id. sym carries both directions, so its src
    // column alone covers every endpoint.
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint(eager = false)
    // labels only ever DECREASE (least of self and neighbors), so Σcomp is
    // a fixpoint witness: unchanged sum ⇔ no label moved. One scalar
    // aggregate per round replaces a join + filter + count.
    // coalesce: sum over an empty frame is NULL — empty input must yield an
    // empty result, not a driver NPE
    // Round 19: NO pre-loop sum action. Round 1 never needs a convergence
    // test (labels only decrease, so it either changes something or the
    // loop's second round confirms), so the first comparison happens
    // between round 1's and round 2's sums — one fewer driver action and
    // the lazy edge/label checkpoints materialize inside round 1's
    // convergence job instead of paying their own scheduling round-trip.
    var prevSum = 0L
    var havePrev = false
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // one min-label propagation hop per round. LAZY checkpoint: the
      // convergence sum right below is the round's one action — it
      // materializes the round's checkpoint blocks in the SAME job, so each
      // action buys the full propagation work (round 18 precedent:
      // graph_pagerank's eager → lazy rewrite). Two hops per
      // action measured slower on near-dup graphs (BASELINE.md, retired
      // A/B twins): they converge in 2–3 single-hop actions.
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("nid"))
        .agg(min(col("comp")).as("nbr_comp"))
      val updated = labels.join(nbrMin, col("id") === col("nid"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint(eager = false)
      val newSum = updated.agg(coalesce(sum(col("comp")), lit(0L))).head().getLong(0)
      labels = updated
      converged = havePrev && newSum == prevSum
      prevSum = newSum
      havePrev = true
      round += 1
    }
    // singletons (no edges) keep their own id as the component label
    vertices
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}

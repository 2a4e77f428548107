package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Round-7 graph analytics (SURVEY.md §2.16) over the part co-purchase
  * graph: nodes are parts, an undirected edge connects two parts that
  * appear in the SAME order in ≥ 2 distinct orders (market-basket support
  * threshold — keeps the graph sparse and its density stable across scale
  * factors, unlike the raw co-occurrence graph whose edge count explodes
  * with basket count).
  *
  * Scale notes (100 TB):
  * - Edge building is the classic basket self-join: distinct (order, part)
  *   pairs joined per order. Fan-out per order is C(basket, 2), hard-capped
  *   at C(MaxBasket, 2) by slicing each sorted basket to its MaxBasket
  *   smallest part keys (mirrored in the oracle edge CTE), so one
  *   pathological mega-basket cannot go quadratic.
  * - Triangle counting runs on the ORIENTED edge list (a < b), so each
  *   triangle is generated exactly once and wedge fan-out is bounded by
  *   oriented out-degree. The standard refinement at extreme scale —
  *   orient by (degree, id) instead of id so hubs get low out-degree
  *   (Schank–Wagner) — drops in without changing the join shape.
  * - PageRank materializes per-round (rank/degree) contributions through
  *   one shuffle keyed by neighbor, exactly the ConnectedComponents
  *   skeleton: localCheckpoint per round truncates the iterative lineage,
  *   and the damping term needs only the node count (one scalar).
  */
object Graphs {

  type Q = (SparkSession, String) => DataFrame

  /** Minimum co-purchase support for an edge. */
  private[graft] val MinSupport = 2

  /** Per-order item cap: each basket keeps only its MaxBasket smallest part
    * keys before the C(k, 2) pair fan-out, bounding per-row work at
    * C(64, 2) = 2016 pairs no matter how pathological one order is (the
    * same guard family as MinHashLsh.maxBucketSize). TPC-H-shaped orders
    * have ≤ 7 distinct parts, so the cap is inert on the driver data —
    * it exists for the 100-TB mega-basket case, and the oracle edge CTE
    * applies the identical rank-by-partkey cut so capped results stay
    * oracle-exact. Deterministic (smallest keys, not arbitrary sample).
    */
  private[graft] val MaxBasket = 64

  /** The co-purchase edge list, built once per (session, sfDir) through
    * [[graft.util.ScratchDirs.perSession]]: all four graph queries derive
    * from the SAME edge frame, and before round 11 each rebuilt it from
    * lineitem independently (the edge build is the family's dominant shared
    * cost: one 6M-row groupBy + pair fan-out per query at sf1). The first
    * caller pays the build and localCheckpoints the ~edge-count-sized
    * result (graph edges are support-thresholded — tiny next to lineitem);
    * later callers reuse the checkpointed blocks.
    */
  private[graft] def copurchaseEdgesShared(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchDirs.perSession(s, "copurchase_edges", d)(
      copurchaseEdges(s, d).localCheckpoint())

  /** Oriented (a_id < b_id) support-thresholded co-purchase edges.
    *
    * One aggregation to per-order sorted part SETS (sliced to [[MaxBasket]]),
    * then a codegen'd lambda fans each basket out to its C(k, 2) ordered
    * pairs map-side — no distinct pre-pass and no self-join (the naive
    * distinct ⋈ distinct form costs two extra 600k-row exchanges; profiled
    * 2.3 s → 1.3 s at sf0.1).
    */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val baskets = t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(collect_set(col("l_partkey"))), 1, MaxBasket).as("pks"))
    baskets
      .select(explode(flatten(transform(col("pks"), (x, i) =>
        transform(slice(col("pks"), i + lit(2), size(col("pks"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
      .select(col("a_id"), col("b_id"))
  }

  val queries: Map[String, Q] = Map(
    // Triangle census + global clustering coefficient. e1(a,b) ⋈ e2(b,c)
    // builds oriented wedges a<b<c; closing edge e3(a,c) confirms the
    // triangle once. Wedge count Σ C(deg, 2) comes from the degree frame —
    // no second join.
    "graph_triangles" -> ((s, d) => {
      val e = copurchaseEdgesShared(s, d)
      val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      val deg = sym.groupBy(col("a_id").as("node")).agg(count(lit(1)).as("dg"))
      val wedges = deg.agg(
        count(lit(1)).as("n_nodes"),
        coalesce(sum(col("dg") * (col("dg") - 1) / 2), lit(0L)).cast("long").as("n_wedges"))
      val e2 = e.select(col("a_id").as("x_id"), col("b_id").as("c_id"))
      val e3 = e.select(col("a_id").as("t_a"), col("b_id").as("t_c"))
      val tri = e
        .join(e2, col("b_id") === col("x_id"))
        .join(e3, col("a_id") === col("t_a") && col("c_id") === col("t_c"))
        .agg(count(lit(1)).as("n_triangles"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(nEdges).crossJoin(tri)
        .select(
          col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          // explicit empty-graph guard: ANSI mode makes 0/0 an error, not NULL
          when(col("n_wedges") > 0,
            round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)).as("clustering"))
    }),

    // Damped PageRank, 5 synchronous iterations, on the symmetrized graph —
    // in FIXED-POINT integer arithmetic (round 9). Five rounds of re-summed
    // double contributions was the suite's widest summation-order exposure,
    // and the round-8 answer (2 dp rounding) traded away discriminating
    // power; instead every rank is an integer in units of 10⁻¹² (prf =
    // pr · 10¹²), contributions use integer division (prf div deg — a
    // < 10⁻¹² truncation per edge, identical in both engines), and sums of
    // longs are exact and order-independent. Output is rank scaled by node
    // count in integer MICRO-units (≈1 000 000 for an average node): full
    // 6-digit discrimination, zero float noise, no tolerance at all.
    "graph_pagerank" -> ((s, d) => {
      val e = copurchaseEdgesShared(s, d)
      // Round 19: the edge list is pre-partitioned AND pre-sorted on the
      // per-round join key (src) BEFORE the checkpoint — localCheckpoint
      // preserves outputPartitioning/outputOrdering in the LogicalRDD, so
      // every one of the 5 rounds' sort-merge joins reads sym exchange-free
      // and sort-free instead of re-shuffling + re-sorting the edges per
      // round (one upfront shuffle buys 5 per-round ones; the deg aggregate
      // reuses the same clustering for free). Measured against the form
      // without the pre-partition (BASELINE.md, retired A/B twins).
      val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .repartition(col("src"))
        .sortWithinPartitions("src")
        .localCheckpoint() // eager: the edge list feeds every round AND the count
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
        .localCheckpoint()
      // guard the empty graph: the result is empty regardless, but S/n and
      // damp/n must not divide by zero on the driver
      val n = math.max(deg.count(), 1L)
      val S = 1000000000000L // 10^12 fixed-point scale
      val damp = (15L * S / 100L) / n // 0.15/n, in fixed point
      var pr = deg.select(col("node"), col("dg"), lit(S / n).as("prf"))
      var i = 0
      while (i < 5) {
        val contrib = sym
          .join(pr, col("node") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(expr("prf div dg")).as("cs"))
        pr = deg
          .join(contrib, col("node") === col("dst"), "left")
          .select(
            col("node"), col("dg"),
            expr(s"${damp}L + (85L * coalesce(cs, 0L)) div 100L").as("prf"))
          // LAZY checkpoint: fixed-iteration PageRank needs no per-round
          // driver action (unlike ConnectedComponents' convergence count),
          // so all 5 rounds materialize inside the final job — each
          // checkpoint still truncates the lineage the moment it first
          // computes, but we skip 5 eager scheduling round-trips
          .localCheckpoint(eager = false)
        i += 1
      }
      // prf ≤ S and n ≤ ~10⁷ at sf ≥ 50 keeps prf·n < 2⁶³ with headroom
      pr.select(col("node").as("part_id"),
          expr(s"(prf * ${n}L) div 1000000L").as("pr_scaled_e6"))
        .orderBy("part_id")
    }),

    // Synchronous label propagation (3 rounds, round 9): label'(v) = the
    // most frequent label among v's neighbors, ties broken by SMALLEST
    // label — deterministic, so the oracle matches exactly. The per-round
    // argmax is a pure hash aggregate (max over struct(cnt, -label)), no
    // window: the PageRank shuffle skeleton with the contribution sum
    // swapped for a mode. Integer-only, zero float noise.
    "graph_community_lpa" -> ((s, d) => {
      val e = copurchaseEdgesShared(s, d)
      // Round 19, the PageRank discipline: pre-partition + pre-sort on the
      // per-round join key — LPA's rounds join on sym's DST side — so both
      // propagation rounds read the checkpointed edges exchange-free and
      // sort-free (BASELINE.md, retired A/B twins).
      val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .repartition(col("dst"))
        .sortWithinPartitions("dst")
        .localCheckpoint() // eager: the edge list feeds every round
      // Round 1 collapsed algebraically: initial labels are the node ids,
      // so every neighbor label is DISTINCT (each count 1) and the
      // mode-with-min-tiebreak is just min(neighbor) — one aggregate
      // replaces the first join + two-aggregate round. Measured ~neutral
      // at the sf1 proxy (13.1 s vs 13.3 s — the shared co-purchase edge
      // build dominates there, see BASELINE), but it is one fewer shuffle
      // round at any scale. The oracle keeps the generic round; the
      // results are identical by construction.
      var lab = sym.groupBy(col("src").as("node")).agg(min(col("dst")).as("lab"))
        .localCheckpoint(eager = false)
      var i = 1
      while (i < 3) {
        lab = sym
          .join(lab, col("node") === col("dst"))
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("src"))
          // struct max = highest count, then smallest label (max of -lab);
          // one shuffle per round, no per-node window
          .agg(max(struct(col("cnt"), (-col("lab")).as("neg"))).as("m"))
          .select(col("src").as("node"), (-col("m.neg")).as("lab"))
          .localCheckpoint(eager = false) // fixed iterations: lazy, like PageRank
        i += 1
      }
      lab.select(col("node"), col("lab").as("community")).orderBy("node")
    }),

    // Neighbor-set Jaccard similarity (link prediction / node near-dup):
    // among pairs sharing a co-purchase neighbor (wedge pairs — already
    // bounded by the support threshold via Σ C(deg, 2)), the TOP-100 by
    // J = |N(a)∩N(b)| / |N(a)∪N(b)| (ties → smallest ids). Top-k instead
    // of a fixed J threshold because the graph densifies with scale — at
    // sf0.1 no pair clears J ≥ 0.1, so a threshold output is empty
    // exactly where the check should bite (the data-contingent-oracle
    // trap). The rank key is (rounded J, a_id, b_id): a total order over
    // bit-identical cross-engine values, so the top-100 SET matches
    // exactly. The wedge join is the triangle-census shape (fan-out
    // Σ C(deg, 2), bounded by the support threshold; Schank–Wagner degree
    // orientation drops in unchanged at extreme hub skew), and top-k
    // compiles to TakeOrderedAndProject — per-partition heaps, no global
    // sort.
    "graph_neighbor_jaccard" -> ((s, d) => {
      val e = copurchaseEdgesShared(s, d) // checkpointed; feeds sym twice + deg
      val sym = e.union(e.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val com = sym.select(col("src").as("mid"), col("dst").as("a_id"))
        .join(sym.select(col("src").as("mid2"), col("dst").as("b_id")),
          col("mid") === col("mid2") && col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("common"))
      com
        .join(deg.select(col("node").as("a_id"), col("dg").as("da")), Seq("a_id"))
        .join(deg.select(col("node").as("b_id"), col("dg").as("db")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("common"),
          graft.Tables.rd(
            col("common").cast("double") / (col("da") + col("db") - col("common")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
        .limit(100)
    }))

  // MATERIALIZED: DuckDB inlines plain CTEs per reference — the triangle
  // census reads `e` three times and the 5-iteration pagerank pyramid
  // re-derives sym/deg (and thus the op⋈op co-purchase join) at EVERY
  // level, which at a true sf1 recomputed the 24M-row join ~20× and
  // spilled >50 GB before finishing (round-9 sweep). Forcing one
  // evaluation keeps the oracle runnable at any sweep scale. DuckDB-only
  // syntax is fine here: the graph oracles are not in the ANSI-portable
  // set SqlSurfaceSpec replays through spark.sql.
  private def edgeCte: String =
    s"""op AS MATERIALIZED (
       |      SELECT ok, pk FROM (
       |        SELECT ok, pk, row_number() OVER (PARTITION BY ok ORDER BY pk) AS rk
       |        FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem))
       |      WHERE rk <= $MaxBasket),
       |e AS MATERIALIZED (SELECT a.pk AS a_id, b.pk AS b_id
       |      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport)""".stripMargin

  val oracle: Map[String, String] = Map(
    "graph_triangles" ->
      s"""WITH $edgeCte,
         |sym AS (SELECT a_id, b_id FROM e UNION ALL SELECT b_id, a_id FROM e),
         |deg AS (SELECT a_id AS node, count(*) AS dg FROM sym GROUP BY 1),
         |w AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |             CAST(coalesce(sum(dg * (dg - 1) / 2), 0) AS BIGINT) AS n_wedges
         |      FROM deg),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM e e1
         |        JOIN e e2 ON e1.b_id = e2.a_id
         |        JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       CASE WHEN n_wedges > 0 THEN round(3.0 * n_triangles / n_wedges, 6) END AS clustering
         |FROM w, ne, tri""".stripMargin,
    "graph_pagerank" -> {
      // fixed-point mirror: integer floor division (//) on positive values
      // matches Spark's truncating `div` exactly, and long sums are exact —
      // no float appears anywhere, so the outputs are bit-identical
      val iters = (0 until 5).map { i =>
        s"""it${i + 1} AS MATERIALIZED (
           |  SELECT g.node, g.dg,
           |         (150000000000 // (SELECT n FROM nn)) + (85 * coalesce(c.cs, 0)) // 100 AS prf
           |  FROM deg g LEFT JOIN (
           |    SELECT s.dst AS node, sum(p.prf // p.dg) AS cs
           |    FROM sym s JOIN it$i p ON p.node = s.src GROUP BY 1) c ON c.node = g.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgeCte,
         |sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM e
         |        UNION ALL SELECT b_id, a_id FROM e),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS dg FROM sym GROUP BY 1),
         |nn AS MATERIALIZED (SELECT greatest(count(*), 1) AS n FROM deg),
         |it0 AS MATERIALIZED (SELECT node, dg, 1000000000000 // (SELECT n FROM nn) AS prf FROM deg),
         |$iters
         |SELECT node AS part_id,
         |       CAST((prf * (SELECT n FROM nn)) // 1000000 AS BIGINT) AS pr_scaled_e6
         |FROM it5 ORDER BY part_id""".stripMargin
    },
    "graph_community_lpa" -> {
      // row_number (cnt DESC, lab ASC) mirrors Spark's max(struct(cnt, -lab))
      val iters = (0 until 3).map { i =>
        s"""nl${i + 1} AS MATERIALIZED (
           |  SELECT s.src AS node, p.lab, count(*) AS cnt
           |  FROM sym s JOIN it$i p ON s.dst = p.node GROUP BY 1, 2),
           |it${i + 1} AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT node, lab,
           |           row_number() OVER (PARTITION BY node
           |                              ORDER BY cnt DESC, lab ASC) AS rk
           |    FROM nl${i + 1}) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgeCte,
         |sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM e
         |        UNION ALL SELECT b_id, a_id FROM e),
         |it0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sym),
         |$iters
         |SELECT node, lab AS community FROM it3 ORDER BY node""".stripMargin
    },
    "graph_neighbor_jaccard" ->
      s"""WITH $edgeCte,
         |sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM e
         |        UNION ALL SELECT b_id, a_id FROM e),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS dg FROM sym GROUP BY 1),
         |com AS (
         |  SELECT l.dst AS a_id, r.dst AS b_id, count(*) AS common
         |  FROM sym l JOIN sym r ON l.src = r.src AND l.dst < r.dst
         |  GROUP BY 1, 2)
         |SELECT c.a_id, c.b_id, CAST(c.common AS BIGINT) AS common,
         |       ${graft.Tables.rdSql(
                   "CAST(c.common AS DOUBLE) / (da.dg + db.dg - c.common)", 6)} AS jaccard
         |FROM com c
         |JOIN deg da ON c.a_id = da.node
         |JOIN deg db ON c.b_id = db.node
         |ORDER BY jaccard DESC, a_id, b_id
         |LIMIT 100""".stripMargin)
}

package graft

/** Physical-plan regression tests: the scale properties the engine promises
  * (pushdown, pruning, broadcast, top-k without full sort, no accidental
  * cross products) must survive refactors.
  */
class PlanSpec extends SparkSpec {

  private lazy val d = TestTables.dir(spark)
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("filter_project pushes filters and prunes columns at the scan") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey"), "projection must prune unused columns")
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("global top-k compiles to TakeOrderedAndProject (no full sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
    assert(plan("sort_multi_key").contains("TakeOrderedAndProject"))
  }

  test("join_star: dim join broadcasts, fact join stays sort-merge when broadcast is off") {
    // force Catalyst to treat every side as "too big to auto-broadcast" so
    // the plan shows the 100 TB shape: only the explicit nation hint may
    // broadcast, and lineitem⋈orders must be a shuffle (sort-merge) join
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val p = plan("join_star")
      assert(p.contains("BroadcastHashJoin"), "nation dim must broadcast via the explicit hint")
      assert(p.contains("SortMergeJoin"), "fact-side joins must shuffle, not broadcast")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", oldAqe)
    }
  }

  test("round-7 filtered scans push their predicates down") {
    // each declared block/filter must reach the parquet scan, not run post-read
    val cases = Seq(
      "window_cume_dist" -> "LessThan(l_orderkey,300)",
      "scd2_history" -> "LessThan(user_id,100)",
      "text_ngram_containment" -> "LessThan(doc_id,500)")
    for ((name, pushed) <- cases) {
      val p = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
      assert(p.contains(pushed), s"$name: expected $pushed in PushedFilters")
    }
  }

  test("cohort_retention broadcasts the cohort-size dim (explicit hint)") {
    // the query carries an explicit broadcast() hint on the cohort-size
    // frame (a per-cohort-week dim, tiny at any scale), so this asserts
    // declared intent — not whatever autoBroadcastJoinThreshold/AQE happen
    // to pick for tiny test data
    val p = SparkEntry.queries("cohort_retention")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
  }

  test("unpartitioned windows only over post-aggregate (bounded) frames") {
    // Window.orderBy with no partition key serializes its whole input onto
    // ONE task — THE 100 TB cliff (operators.PrefixScan scaladoc). Rule:
    // an unpartitioned Window is acceptable ONLY over a post-aggregate
    // frame (an Aggregate beneath it bounds the frame by group cardinality
    // — PrefixScan's ≤16k-block offset scan, stream_late_drop's per-batch
    // watermark log, sample_temperature's ≤n_langs rank); one sitting
    // directly on row-cardinality data is the serialization bug this test
    // exists to catch. The PrefixScan AUTO-CROSSOVER queries legitimately
    // take the raw single-window branch BELOW CrossoverRows (fixture
    // scale) and are exempted there, but their at-scale blocked branches
    // are held to the full rule below.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LogicalPlan, Union, Window => LWindow}
    val autoCrossover = Set("doc_shard_assign", "skyline_pareto", "agg_weighted_median")
    val checkpointed = Set("dedup_components", "dedup_cluster_rep",
      "pipeline_corpus_clean", "sim_ann_ivf", "graph_pagerank")
    // A frame is BOUNDED iff every path from the window's input down to a
    // leaf passes through an Aggregate (group-cardinality bound) or a
    // GlobalLimit (rank_fusion ranks within each system's top-500 list —
    // constant at any corpus scale) — computed STRUCTURALLY, not by
    // collectFirst over the whole subtree (round 12, ADVICE r11: a limit on
    // one side of a join below the window must NOT exempt the unbounded
    // other side). Union/Join of bounded frames stay bounded (≤ sum /
    // product of constants); any leaf reached without crossing a bound is
    // row-cardinality data and flags.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case u: Union => u.children.forall(bounded)
      case j: Join => bounded(j.left) && bounded(j.right)
      case other if other.children.length == 1 => bounded(other.children.head)
      case _ => false
    }
    def rawGlobalWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
    for ((name, fn) <- SparkEntry.queries if !checkpointed(name) && !autoCrossover(name))
      assert(rawGlobalWindows(fn(spark, d)).isEmpty,
        s"$name plans an unpartitioned Window over row-cardinality data " +
          "(global sort on one task)")
    // the above-crossover (100 TB) branches must never serialize either
    val blockedForms = Seq(
      "doc_shard_assign" ->
        graft.queries.Corpus.shardManifest(spark, d, blocked = Some(true)),
      "skyline_pareto" -> {
        import org.apache.spark.sql.functions.col
        graft.queries.WindowOps.skylineTwoPass(
          Tables.t(spark, d, "part")
            .select(col("p_partkey"), col("p_retailprice"), col("p_size")))
      },
      "agg_weighted_median" ->
        graft.queries.Analytics.weightedMedian(spark, d, force = Some(true)))
    for ((name, df) <- blockedForms)
      assert(rawGlobalWindows(df).isEmpty,
        s"$name blocked branch plans an unpartitioned Window over row-cardinality data")
  }

  test("no query plans a CartesianProduct; nested-loop joins only on ≤1-row builds or declared blocks") {
    // A BroadcastNestedLoopJoin is O(|stream| × |build|) — at 100 TB it is
    // either (a) a deliberate 1×N scalar broadcast (build side provably one
    // row: a no-grouping aggregate — text_tfidf's corpus total,
    // skyline_pareto's price min/max, resample_hourly's trailing cutoff …),
    // which is CHECKED STRUCTURALLY below so new one-row patterns never
    // stale an allowlist (round 12 landed exactly that regression), or
    // (b) a declared bounded-block cross join, which must be named here
    // with its bound.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    // Declared MULTI-ROW nested loops — each with an explicit bound:
    //   join_cross      — the cross-join operator itself (5-row region dim)
    //   sim_knn_cosine / dedup_semantic / embedding_kmeans /
    //   sample_diversity / sample_coreset / sample_temperature /
    //   doc_shard_assign — broadcast a ≤k-row centroid/quota/boundary frame
    //   (k = declared cluster/stratum count, constant in corpus size)
    //   sim_ann_pq      — broadcast of the ≤q-row query-id frame against
    //   the coded scan (the ADC pass; q = declared query count, constant)
    val declaredBounded = Set("join_cross", "sim_knn_cosine", "embedding_kmeans",
      "dedup_semantic", "sample_diversity", "doc_shard_assign", "sample_temperature",
      "sample_coreset", "sim_ann_pq")
    // these run real jobs at construction time (quantizer-sample collect,
    // iterative label rounds), and for the localCheckpoint-based ones the
    // executedPlan is a truncated checkpoint scan this test couldn't see
    // joins through anyway — their shapes are asserted by their operator
    // specs instead
    val checkpointed = Set("dedup_components", "dedup_cluster_rep",
      "pipeline_corpus_clean", "sim_ann_ivf", "graph_pagerank")
    // ≤1-row build: walking down through exchanges/projects, the first
    // aggregate hit must be a no-grouping (global) aggregate; a BNLJ of two
    // one-row sides (graph_triangles' census, compact_files' report) is
    // itself one row. Partial aggregates sit BELOW the final global
    // aggregate, so the top-down walk always sees the one-row final first.
    def oneRow(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => oneRow(a.inputPlan)
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case h: ObjectHashAggregateExec => h.groupingExpressions.isEmpty
      case h: SortAggregateExec => h.groupingExpressions.isEmpty
      case b: BroadcastNestedLoopJoinExec => oneRow(b.left) && oneRow(b.right)
      case other if other.children.length == 1 => oneRow(other.children.head)
      case _ => false
    }
    def badBnljs(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] = {
      def walk(q: SparkPlan): Seq[BroadcastNestedLoopJoinExec] = q match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case b: BroadcastNestedLoopJoinExec =>
          val build = if (b.buildSide == BuildLeft) b.left else b.right
          (if (oneRow(build)) Nil else Seq(b)) ++ b.children.flatMap(walk)
        case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
      }
      walk(p)
    }
    for ((name, fn) <- SparkEntry.queries if !checkpointed(name)) {
      val qe = fn(spark, d).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!declaredBounded(name)) {
        val bad = badBnljs(qe.executedPlan)
        if (bad.nonEmpty)
          fail(s"$name plans a BroadcastNestedLoopJoin whose build side is not " +
            s"provably one row and is not a declared bounded block:\n${bad.head}")
      }
    }
  }

  test("text-family queries ride the NormText kernel, not the builtin regex chain") {
    // The round-14 text wins exist only while every text query actually
    // normalizes through the one-pass graft.plans.NormText kernel
    // (Tables.normText). A refactor that quietly reverts one site to the
    // regexp_replace(trim(lower(.)), ...) composition re-pays three
    // transient strings per row in the hottest stage — at 100 TB that is
    // the whole round-14 regression in one line. Lint: no text-family
    // declared query's OPTIMIZED plan may contain the builtin chain.
    val chain = "regexp_replace(trim(lower("
    // positive control: prove the pattern still matches how Catalyst
    // prints the builtin composition, so print-format drift can't turn
    // this lint into a vacuous pass
    val control = Tables.t(spark, d, "documents")
      .select(ReferenceForms.normTextBuiltin(org.apache.spark.sql.functions.col("text")))
      .queryExecution.optimizedPlan.toString
    assert(control.contains(chain),
      s"positive control: builtin chain no longer prints as '$chain' — update the lint pattern")
    // every declared query that normalizes document text (text_* plus the
    // token/shingle dedups, chunkers and corpus reports); checkpointed
    // builders are excluded as above (their plans truncate at the
    // checkpoint scan — stage shapes are pinned by their operator specs)
    val checkpointed = Set("dedup_components", "pipeline_corpus_clean")
    val textFamily = SparkEntry.queries.keys.filter(_.startsWith("text_")).toSet ++
      Set("dedup_exact", "dedup_jaccard", "dedup_minhash", "dedup_token_sort",
        "dedup_simhash", "dedup_editdist", "dedup_substring_spans",
        "doc_chunk", "doc_pack_sequences", "corpus_report", "udf_wordcount")
    for (name <- (textFamily -- checkpointed).toSeq.sorted) {
      val p = SparkEntry.queries(name)(spark, d).queryExecution.optimizedPlan.toString
      assert(!p.contains(chain),
        s"$name normalizes via the builtin regex chain instead of Tables.normText")
    }
  }
}

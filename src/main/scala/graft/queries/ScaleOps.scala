package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{events, moneySumCents, moneySumCentsSql, normTextSql, t}

/** Round-2 §2.13 additions that promote the round-1 scale operators from
  * spec-only to first-class declared queries: the skew-breaking salted
  * join, the bucketed range join, the KMV distinct sketch, and the
  * end-to-end corpus-cleaning pipeline.
  *
  * `join_salted` and `join_range_sessions` are deliberately declared with
  * oracles that describe the PLAIN semantics (an ordinary join / session
  * assignment): the operators are pure execution-strategy rewrites, so
  * their output must be indistinguishable from the naive plan — that
  * equivalence IS the correctness property worth gating.
  */
object ScaleOps {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Salted equi-join (graft.operators.SaltedJoin): deterministic salt on
    // the fact side, explode-replicated dim side — the manual skew-breaker
    // for keys AQE can't split. The oracle is the PLAIN join aggregate:
    // salting must not change a single row.
    "join_salted" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_extendedprice"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SaltedJoin
        .join(li, ord,
          keys = Seq("l_orderkey" -> "o_orderkey"),
          saltFactor = 4,
          saltSource = Seq("l_linenumber", "l_partkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySumCents(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // Bucketed range join (graft.operators.RangeJoin): assign every event
    // to its 30-min-gap session by ts ∈ [session_start, session_end] — the
    // manufactured-equi-key rewrite of an interval predicate (nested-loop
    // otherwise). Counting events per session must reproduce the
    // sessionization counts exactly, which is what the oracle checks.
    "join_range_sessions" -> ((s, d) => {
      val pts = events(s, d).select(col("event_id"), col("user_id"), col("ts_us"))
      val iv = Events.sessionBounds(s, d).select(
        col("user_id").as("s_user"), col("session_id"),
        col("session_start"), col("session_end"))
      graft.operators.RangeJoin
        .pointInInterval(pts, iv,
          pointCol = "ts_us", startCol = "session_start", endCol = "session_end",
          bucketWidth = Events.SessionGapUs,
          extraKeys = Seq("user_id" -> "s_user"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_id")
    }),

    // KMV (k-minimum-values) distinct sketch — the custom
    // Aggregator/TypedImperativeAggregate face of approximate distinct
    // counting next to builtin HLL++ (`agg_approx_distinct`). Hashing stays
    // in codegen'd SQL; the JVM buffer is k longs per group. Oracle-less
    // (sketch-specific estimate), rows-only check like the other approx ops.
    "agg_kmv_distinct" -> ((s, d) => {
      val kmv = udaf(new graft.functions.KmvDistinct(256))
      t(s, d, "lineitem")
        .select(col("l_returnflag"), xxhash64(col("l_partkey")).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(kmv(col("h")).as("kmv_parts"))
        .orderBy("l_returnflag")
    }),

    // Connected components over the exact near-dup pair graph
    // (graft.operators.ConnectedComponents, iterative min-label
    // propagation): every doc gets the min doc-id of its transitive
    // duplicate cluster. The oracle computes the same fixpoint with a
    // recursive CTE — two entirely different evaluation strategies must
    // meet at the same labels.
    "dedup_components" -> ((s, d) => dedupComponents(s, d)),

    // Recursive CTE (Spark 4 WITH RECURSIVE): a month spine over the full
    // order-date domain, LEFT-joined to per-month order stats so empty
    // months surface as zeros — the standard time-series densification.
    "cte_recursive" -> ((s, d) => {
      s.sql(
        s"""WITH RECURSIVE months(m) AS (
           |  SELECT TIMESTAMP '1995-01-01' AS m
           |  UNION ALL
           |  SELECT m + INTERVAL '1' MONTH FROM months
           |  WHERE m < TIMESTAMP '2001-08-01'
           |)
           |SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           |       round(coalesce(sum(o_totalprice), 0), 2) AS sum_price
           |FROM months LEFT JOIN parquet.`$d/orders.parquet`
           |  ON date_trunc('month', o_orderdate) = m
           |GROUP BY m ORDER BY m""".stripMargin)
    }),

    // End-to-end corpus cleaning (graft.pipeline.CorpusClean): normalize →
    // quality gate (min tokens, punctuation ratio) → exact dedup (md5 of
    // norm, keep min id) → shingle-SET dedup. nearDupJaccard = 1.0 makes
    // the LSH stage EXHAUSTIVE (identical shingle sets collide in every
    // band, and only Jaccard-1.0 pairs survive the verify), so the whole
    // pipeline is deterministic and SQL-expressible — the oracle mirrors it
    // with a group-by-sorted-shingle-set.
    "pipeline_corpus_clean" -> ((s, d) => {
      graft.pipeline.CorpusClean
        .clean(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          graft.pipeline.CorpusClean.Config(
            minTokens = 5, maxPunctRatio = 0.3, nearDupJaccard = 1.0,
            // exhaustiveness requires the skew guard OFF: a dup cluster
            // bigger than the guard would drop its own buckets and survive
            maxBucketSize = Int.MaxValue))
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"))
        .orderBy("doc_id")
    }),

    // Bucketed co-located join (graft.operators.BucketedJoin): both sides
    // hash-bucketed on the join key at WRITE time, so the SortMergeJoin
    // runs with NO Exchange on either side — the write-time amortization
    // of the join shuffle (vs join_salted's runtime skew-break and
    // join_bloom's runtime row-prune). Oracle = the PLAIN join aggregate:
    // bucketing is pure execution strategy and must not change a row.
    "join_bucketed" -> ((s, d) =>
      graft.operators.BucketedJoin.joined(s, d)
        .groupBy(col("l_returnflag"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySumCents(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "o_orderpriority")),

    // Bloom-filter-pruned semi join — the runtime-filter pattern for 100 TB
    // fact scans: a compact sketch of the (small) selective dim-key set is
    // broadcast and applied DURING the fact scan, so non-matching rows die
    // before the shuffle; the exact semi join afterwards removes the bloom's
    // false positives. Oracle = the plain semi join (the prefilter is an
    // execution strategy and must not change a row).
    "join_bloom" -> ((s, d) => {
      val sel = t(s, d, "orders")
        .filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"))
      // count first: it sizes the filter to the actual key cardinality AND
      // guards stat.bloomFilter's NPE on an empty build side (no partial
      // aggregates to merge) — degrading to an insert-free reject-all
      val nKeys = sel.count()
      val bloom =
        if (nKeys == 0) org.apache.spark.util.sketch.BloomFilter.create(1)
        else sel.stat.bloomFilter("o_orderkey", nKeys, 0.01)
      val bloomB = s.sparkContext.broadcast(bloom)
      val mightContain = udf((k: Long) => bloomB.value.mightContainLong(k))
      t(s, d, "lineitem")
        .filter(mightContain(col("l_orderkey")))
        .join(sel, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          moneySumCents(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // The same bloom-pruned semi join through Spark's NATIVE runtime filter
    // (InjectRuntimeFilter): with runtime.bloomFilter.enabled the optimizer
    // itself builds a bloom from the selective dim side and injects
    // might_contain into the fact scan — the hand-built UDF variant above
    // minus the closure (stays codegen-friendly). Confs live on a CLONED
    // session (newSession: isolated SQL conf, shared context) so the
    // thresholds (application-side floor dropped to 0 to fire at test SF;
    // broadcast off so the runtime filter, not a broadcast, is the
    // mitigation — the 100 TB regime) never leak into other queries' plans.
    // Oracle identical to join_bloom: a runtime filter must not change a row.
    "join_bloom_native" -> ((s0, d) => {
      val s = bloomSession(s0)
      val sel = t(s, d, "orders")
        .filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"))
      t(s, d, "lineitem")
        .join(sel, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          moneySumCents(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Z-order (Morton) clustering key: bit-interleave of two dimension keys,
    // so sorting by zval co-locates rows close in BOTH dimensions — the
    // multi-column data-clustering layout that makes min/max file skipping
    // effective for 2-D predicates at 100 TB. The interleave is plain shift
    // arithmetic (identical on both engines).
    "zorder_cluster" -> ((s, d) => {
      val x = col("l_partkey") % 1024
      val y = col("l_suppkey") % 1024
      val zval = (0 until 10).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), zval.cast("long").as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .limit(100)
    })
  )

  private val norm = normTextSql("text")

  private val bloomSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `join_bloom_native`'s session, one per parent and reused: a new
    * session brings its own class loader, part of Spark's generated-code
    * cache key, so a session per call would compile its classes again.
    */
  private def bloomSession(parent: SparkSession): SparkSession = bloomSessions.synchronized {
    bloomSessions.computeIfAbsent(parent, p => {
      val s = p.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s
    })
  }

  /** Shared body of `dedup_components` and `dedup_cluster_rep`. */
  private[graft] def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("lang"),
        array_distinct(graft.Tables.spaceSplit(graft.Tables.normText(col("text")))).as("toks"))
    // fan the pair-generating side out: a one-file scan is one partition,
    // which would run every intersect on a single core
    val a = base.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id").as("src"), col("lang"), col("toks").as("ta"))
    val b = base.select(col("doc_id").as("dst"), col("lang").as("lang_b"), col("toks").as("tb"))
    val isect = size(array_intersect(col("ta"), col("tb"))).cast("double")
    val edges = a
      .join(b, col("lang") === col("lang_b") && col("src") < col("dst"))
      .withColumn("jac", isect / (size(col("ta")) + size(col("tb")) - isect))
      .filter(col("jac") >= 0.7)
      .select(col("src"), col("dst"))
    graft.operators.ConnectedComponents
      .labels(base.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }

  /** Recursive-CTE fixpoint of the near-dup component labels — the oracle
    * core of `dedup_components`, shared with `dedup_cluster_rep`
    * (queries.Curation): `t` = the blocked doc frame (doc_id, lang, toks),
    * `comp` = (doc_id, component). Callers append their own final SELECT.
    */
  private[graft] val ComponentsCteSql: String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, lang, list_distinct(string_split($norm, ' ')) AS toks
       |  FROM documents WHERE doc_id < 500),
       |e AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
       |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.7),
       |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |walk AS (
       |  SELECT doc_id AS node, doc_id AS lbl FROM t
       |  UNION
       |  SELECT s.dst AS node, w.lbl
       |  FROM walk w JOIN sym s ON s.src = w.node),
       |comp AS (
       |  SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component
       |  FROM walk GROUP BY node)""".stripMargin

  val oracle: Map[String, String] = Map(
    "join_salted" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("l_extendedprice")} AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_range_sessions" ->
      s"""${Events.SessionCteSql}
         |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "dedup_components" ->
      s"""$ComponentsCteSql
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    "cte_recursive" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT TIMESTAMP '1995-01-01' AS m
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH FROM months
        |  WHERE m < TIMESTAMP '2001-08-01'
        |)
        |SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0), 2) AS sum_price
        |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        |GROUP BY m ORDER BY m""".stripMargin,
    "pipeline_corpus_clean" ->
      s"""WITH n AS (
         |  SELECT doc_id, $norm AS norm,
         |         len(string_split($norm, ' ')) AS n_tok,
         |         len(regexp_replace(text, '[\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]', '', 'g'))::DOUBLE /
         |           greatest(len(text), 1) AS punct_ratio
         |  FROM documents),
         |q AS (SELECT doc_id, norm, n_tok FROM n
         |      WHERE n_tok >= 5 AND punct_ratio <= 0.3),
         |k AS (SELECT doc_id, norm, n_tok FROM q
         |      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(norm))),
         |tri AS (
         |  SELECT doc_id, n_tok,
         |         list_sort(list_distinct(
         |           list_transform(range(1, len(string_split(norm, ' ')) - 1),
         |             i -> string_split(norm, ' ')[i] || ' ' ||
         |                  string_split(norm, ' ')[i+1] || ' ' ||
         |                  string_split(norm, ' ')[i+2]))) AS shset
         |  FROM k)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok
         |FROM tri t
         |WHERE NOT EXISTS (SELECT 1 FROM tri t2
         |                  WHERE t2.shset = t.shset AND t2.doc_id < t.doc_id)
         |ORDER BY doc_id""".stripMargin,
    "join_bucketed" ->
      s"""SELECT l_returnflag, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("l_extendedprice")} AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag, o_orderpriority
        |ORDER BY l_returnflag, o_orderpriority""".stripMargin,
    "join_bloom" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("l_extendedprice")} AS sum_price
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 450000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_bloom_native" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("l_extendedprice")} AS sum_price
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 450000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "zorder_cluster" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |       CAST(${ZvalSql} AS BIGINT) AS zval
         |FROM lineitem
         |ORDER BY zval, l_orderkey, l_linenumber, l_partkey, l_suppkey
         |LIMIT 100""".stripMargin
  )

  /** The Morton interleave as portable shift arithmetic — the DuckDB twin of
    * the Spark-side fold in `zorder_cluster` (same 20 terms, same order).
    */
  private def ZvalSql: String =
    (0 until 10).map { i =>
      s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i}) + " +
        s"((((l_suppkey % 1024) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{events, moneySumCents, moneySumCentsSql, rd, rdSql, t}

/** Analytic-SQL surface widening (SURVEY.md §2.13, round 2): reshaping
  * (pivot/unpivot), statistical and ordered-set aggregates, filtered
  * aggregates, list aggregation, subqueries (scalar / IN / correlated),
  * advanced window frames, and deterministic hash sampling.
  *
  * Same conventions as [[Relational]]: total ORDER BY over a unique key set,
  * identical column aliases on both engines, `rd`/`rdSql` for per-row double
  * rounding, builtin `round` for aggregate outputs.
  *
  * Scale notes (100 TB): every query here is a single shuffle (groupBy or
  * window partition) or shuffle-free scan; pivot uses an explicit value list
  * (no extra distinct-collection job); the hash sample pushes a cheap
  * deterministic predicate into the scan so only ~1/16 of rows survive the
  * first projection.
  */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  /** Exact weighted median with the round-9 auto-crossover: the running
    * weight comes from the single per-group window below
    * PrefixScan.CrossoverRows (cheaper: no second scan, no offset join) and
    * from the MEDIAN-BLOCK refinement over 32 value-range blocks above it.
    * `force` pins a branch for the row-identity specs.
    *
    * Median-block refinement (round 15): the full two-pass scan computed an
    * exact running weight for EVERY row, i.e. a whole-data shuffle-sort —
    * but the median only needs running weights inside the ONE block where
    * the cumulative weight crosses tw/2. Block-level weight sums locate
    * that block per group on a ≤ 32·|groups|-row frame; rows of LATER
    * blocks all pass the cw ≥ tw/2 filter (their running weight is ≥ the
    * crossing block's cumulative total — requires non-negative weights,
    * which quantities satisfy), so they contribute exactly min(v), read off
    * the same tiny frame; rows of EARLIER blocks never pass. Only the
    * crossing block's rows (~1/32 of the data per group) are sorted.
    */
  private[graft] def weightedMedian(
      s: SparkSession, d: String, force: Option[Boolean]): DataFrame = {
    val base = t(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("v"),
        col("l_quantity").as("q"))
    val useBlocked = force.getOrElse(
      graft.operators.PrefixScan.estimatedRows(base) >=
        graft.operators.PrefixScan.CrossoverRows)
    // Round 19: the blocked refinement only needs block ids MONOTONE in v
    // with equal values sharing a block — nothing requires the equal-width
    // min/max buckets. A log-scale id computed straight from each row
    // (1/32-octave buckets: ~2.2% value band per block, bounded ≤ ~67k ids
    // over the entire double range, ~220 on price-shaped data) drops the
    // min/max pre-pass, i.e. one of the three full scans, and the per-row
    // broadcast-join against the (mn, mx) row. Guards: NULLs get their own
    // lowest block (they sort first under orderBy(v)); non-positives share
    // one block below every positive's; the greatest/least clamp keeps ±inf
    // inside long range. NaN sorts after +inf in Spark's ordering, so it
    // gets its own block above the clamp's top (32800): floor() of a NaN
    // double is 0, which would put NaN weight below every value ≥ 1 and
    // move the median crossing.
    def logBlock(df: DataFrame): DataFrame = {
      val bkt = when(col("v").isNull, lit(-2147483648L))
        .when(col("v") <= 0.0, lit(-1073741824L))
        .when(isnan(col("v")), lit(32801L))
        .otherwise(
          least(greatest(floor(log(2.0, col("v")) * 32), lit(-34400L).cast("double")),
            lit(32800L).cast("double")).cast("long"))
      df.withColumn("__bk", bkt)
    }
    if (useBlocked) {
      val keyed = logBlock(base)
      // one hash aggregate locates everything: per-(group, block) weight
      // and min value — 32·|groups| rows, every later stage but the
      // median-block window runs on this frame
      val bsum = keyed.groupBy(col("l_returnflag"), col("__bk"))
        .agg(sum(col("q")).as("__bw"), min(col("v")).as("__bmn"))
      val wOff = Window.partitionBy("l_returnflag").orderBy(col("__bk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("l_returnflag")
      val marked = bsum
        .withColumn("__off", coalesce(sum(col("__bw")).over(wOff), lit(0.0)))
        .withColumn("tw", sum(col("__bw")).over(wAll))
      // crossing block per group = first block whose inclusive cumulative
      // weight reaches tw/2; carry its exclusive offset (__cwb) along
      val mb = marked
        .filter(col("__off") + col("__bw") >= col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(min(struct(col("__bk"), col("__off"), col("tw"))).as("m"))
        .select(col("l_returnflag"), col("m.__bk").as("__mb"),
          col("m.__off").as("__cwb"), col("m.tw").as("tw"))
      // contribution of the blocks PAST the crossing block: min value,
      // straight off the block-summary frame (null when none exist)
      val tailMin = marked
        .join(mb.select(col("l_returnflag"), col("__mb")), "l_returnflag")
        .filter(col("__bk") > col("__mb"))
        .groupBy("l_returnflag").agg(min(col("__bmn")).as("__tmn"))
      // only the crossing block's rows get the exact within-block scan —
      // same exclusive-prefix + merge association as the window branch,
      // so results are bit-identical where they overlap
      val wIn = Window.partitionBy("l_returnflag").orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val inBlock = keyed
        .join(broadcast(mb), "l_returnflag")
        .filter(col("__bk") === col("__mb"))
        .withColumn("cw",
          coalesce(sum(col("q")).over(wIn), lit(0.0)) + col("__cwb") + col("q"))
        .filter(col("cw") >= col("tw") / 2)
        .groupBy("l_returnflag").agg(min(col("v")).as("__mv"))
      inBlock
        .join(tailMin, Seq("l_returnflag"), "left_outer")
        .select(col("l_returnflag"), least(col("__mv"), col("__tmn")).as("wmedian"))
        .orderBy("l_returnflag")
    } else {
      val scanned = graft.operators.PrefixScan.single(
        base,
        partitionCols = Seq("l_returnflag"),
        order = Seq(col("v")),
        value = col("q"),
        agg = c => sum(c),
        merge = (l, o) => coalesce(l, lit(0.0)) + coalesce(o, lit(0.0)),
        out = "cw0")
      val tot = base.groupBy("l_returnflag").agg(sum(col("q")).as("tw"))
      scanned
        .withColumn("cw", col("cw0") + col("q"))
        .join(broadcast(tot), "l_returnflag")
        .filter(col("cw") >= col("tw") / 2)
        .groupBy(col("l_returnflag"))
        .agg(min(col("v")).as("wmedian"))
        .orderBy("l_returnflag")
    }
  }

  val queries: Map[String, Q] = Map(
    // Pivot with an explicit value list: no Spark pre-pass job to collect
    // distinct keys (which at 100 TB is a full extra scan).
    "pivot_status" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // Long-form unpivot (melt): one output row per (row, metric).
    "unpivot_metrics" -> ((s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("size"), col("retailprice")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }),

    // Statistical aggregates — single-pass moment sketches (no sort, one
    // shuffle); corr/stddev/covar merge associatively across partitions.
    "agg_stats" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"))
        .orderBy("l_returnflag")
    }),

    // Exact interpolated percentiles (Spark `percentile` == DuckDB
    // quantile_cont: same linear interpolation). At 100 TB prefer
    // approx_percentile (t-digest sketch, no global sort of the group).
    "agg_percentiles" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
        .orderBy("l_returnflag")
    }),

    // WEIGHTED median (§2.17): smallest value whose cumulative weight
    // reaches half the group total — the revenue-weighted price percentile
    // plain percentile() can't express. The grouping key (return flag) has
    // cardinality THREE, so above PrefixScan.CrossoverRows a per-group sort
    // window would serialize a third of the table per task — there the
    // running weight is the two-pass distributed prefix scan
    // (operators.PrefixScan over value-range blocks, same machinery as
    // skyline); below the crossover the single window is cheaper and the
    // form is chosen from the input's estimated size (round 9
    // auto-crossover, both forms row-identical). Deterministic despite
    // value ties because the crossing VALUE is invariant to tie order, and
    // exact cross-engine because quantities are integer-valued doubles
    // (sums exact). The oracle is the single-window formulation — two
    // independent forms. The 100 TB approx path is the weighted KLL twin
    // `agg_weighted_median_approx`; this is the exact one.
    "agg_weighted_median" -> ((s, d) => weightedMedian(s, d, force = None)),

    // The promised 100 TB approx path for the weighted median (§2.18): a
    // deterministic weight-proportional sample sketch (A-ES exponential
    // keys, k-smallest kept by a custom Aggregator — the KMV pattern).
    // One hash aggregate, partial+final, ≤ k triples shipped per group; no
    // prefix scan, no sort. The md5 coin is seeded per row identity →
    // bit-reproducible, but algorithm-specific ⇒ oracle-less like the
    // other sketches; Round9Spec pins |approx − exact twin| at two scales.
    "agg_weighted_median_approx" -> ((s, d) => {
      val wmed = udaf(new graft.functions.WeightedMedianSketch(4096))
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 0) // zero/negative weights carry no mass
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          col("l_quantity").as("q"),
          // seeded uniform u ∈ (0,1] from 52 md5 bits over the full row
          // identity (orderkey+linenumber is NOT unique in this data —
          // value columns join the coin input), then e = −ln(u)/w
          expr("""-ln((conv(substring(md5(concat_ws('|', 'wmed', l_orderkey,
                 |  l_linenumber, l_extendedprice, l_quantity)), 1, 13), 16, 10) + 1.0)
                 |  / 4503599627370496.0) / l_quantity""".stripMargin).as("e"))
        .groupBy(col("l_returnflag"))
        .agg(wmed(col("e"), col("v"), col("q")).as("wmedian_approx"))
        .orderBy("l_returnflag")
    }),

    // The sketch twin of agg_percentiles: approx_percentile keeps a bounded
    // buffer per group (no per-group sort), the 100 TB path for quantiles.
    // Deterministic given identical input but algorithm-specific →
    // oracle-less, rows-only check like the other sketches.
    "agg_approx_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("ap99"))
        .orderBy("l_returnflag")
    }),

    // Ordered-set arg-min/max. The ranking value gets an injective epsilon
    // tiebreak (+ key·1e-9): o_totalprice has 2-decimal granularity, so the
    // perturbation (< 1.5e-3 even at sf1) can never reorder distinct prices
    // but makes the argmax unique — both engines evaluate the identical IEEE
    // expression, so the winner matches bit-for-bit.
    "agg_minmax_by" -> ((s, d) => {
      val rank = col("o_totalprice") + col("o_orderkey") * lit(1e-9)
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"), rank).as("max_order"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          min_by(col("o_orderkey"), rank).as("min_order"),
          round(min(col("o_totalprice")), 2).as("min_price"))
        .orderBy("o_orderpriority")
    }),

    // Conditional / boolean aggregates (count_if, bool_and, bool_or) — all
    // partial-aggregatable, so map-side combine keeps the shuffle tiny.
    "agg_filtered" -> ((s, d) => {
      t(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          count_if(col("c_acctbal") < 0).as("n_neg"),
          bool_and(col("c_acctbal") > -1000).as("all_above"),
          bool_or(col("c_acctbal") > 9900).as("any_high"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // List aggregation with a deterministic element order (sort_array ==
    // string_agg ORDER BY); emitted as a joined string so the hash compare
    // is representation-stable across engines.
    "agg_listagg" -> ((s, d) => {
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    }),

    // Uncorrelated scalar subquery — planned as a separate tiny aggregate
    // job whose single-row result folds into the main scan's filter.
    "subquery_scalar" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderkey, round(o_totalprice, 2) AS total
           |FROM parquet.`$d/orders.parquet`
           |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice)
           |                          FROM parquet.`$d/orders.parquet`)
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // IN-subquery — Catalyst rewrites to a left-semi join (same physical
    // shape as join_left_semi, arrived at from the SQL surface).
    "subquery_in" -> ((s, d) => {
      s.sql(
        s"""SELECT c_custkey, c_name
           |FROM parquet.`$d/customer.parquet`
           |WHERE c_custkey IN (SELECT o_custkey FROM parquet.`$d/orders.parquet`
           |                    WHERE o_totalprice > 400000)
           |ORDER BY c_custkey""".stripMargin)
    }),

    // Correlated scalar subquery — decorrelated by Catalyst into an
    // aggregate + equi-join on the correlation key (no per-row re-execution).
    "subquery_correlated" -> ((s, d) => {
      s.sql(
        s"""SELECT o.o_orderkey
           |FROM parquet.`$d/orders.parquet` o
           |WHERE o.o_totalprice > 1.9 * (SELECT avg(o2.o_totalprice)
           |                              FROM parquet.`$d/orders.parquet` o2
           |                              WHERE o2.o_custkey = o.o_custkey)
           |ORDER BY o.o_orderkey""".stripMargin)
    }),

    // NOT IN subquery — the null-aware anti join (distinct plan shape from
    // NOT EXISTS: one null in the subquery empties the result, so the
    // planner must prove/track nullability).
    "subquery_not_in" -> ((s, d) => {
      s.sql(
        s"""SELECT c_custkey FROM parquet.`$d/customer.parquet`
           |WHERE c_custkey NOT IN (SELECT o_custkey FROM parquet.`$d/orders.parquet`
           |                        WHERE o_totalprice > 400000)
           |ORDER BY c_custkey""".stripMargin)
    }),

    // ANSI-safe function surface: try_cast / try_divide / try_element_at
    // return NULL where the strict forms throw — the per-row error-handling
    // contract a 100 TB pipeline needs (one malformed row must not kill a
    // 10-hour job).
    "func_try" -> ((s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          expr("try_cast(p_brand AS INT)").as("bad_cast"),
          expr("try_cast(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT)").as("brand_num"),
          expr("try_divide(p_retailprice, p_size - p_size)").as("div0"),
          expr("try_element_at(split(p_type, ' '), 99)").as("oob"),
          expr("try_element_at(split(p_type, ' '), 1)").as("first_word"))
        .orderBy("p_partkey")
        .limit(500)
    }),

    // Event-time RANGE frame (interval-bounded, not row-count-bounded):
    // peers with equal order keys share a frame, so the result is
    // deterministic even under order-key ties.
    "window_range_frame" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderkey, o_custkey,
           |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
           |         PARTITION BY o_custkey ORDER BY o_orderdate
           |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) / 1e2
           |         AS sum_30d
           |FROM parquet.`$d/orders.parquet`
           |ORDER BY o_orderkey""".stripMargin)
    }),

    // Distribution ranking: ntile / percent_rank / cume_dist. The window
    // order includes the unique key, so there are no rank peers and every
    // value is deterministic.
    "window_ntile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      // rd (floor-formula), not round: pr/cd are per-row doubles and k/n can
      // land exactly on a .5 rounding boundary (found at sf0.1: 41/640)
      t(s, d, "customer")
        .select(
          col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).as("quartile"),
          rd(percent_rank().over(w), 6).as("pr"),
          rd(cume_dist().over(w), 6).as("cd"))
        .orderBy("c_custkey")
    }),

    // first/last/nth over an explicit full-partition frame (the default
    // frame for last_value is UNBOUNDED..CURRENT, a classic footgun — the
    // full frame is declared on both engines).
    "window_first_last" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, d)
        .select(
          col("event_id"), col("user_id"),
          first(col("event_type")).over(full).as("first_et"),
          last(col("event_type")).over(full).as("last_et"),
          nth_value(col("event_type"), 2).over(full).as("second_et"))
        .orderBy("event_id")
    }),

    // Equi-width histogram by floor-bucketing — the data-profiling shape
    // (one partial+final aggregate; bucket count independent of row count).
    "agg_histogram" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy((floor(col("o_totalprice") / 50000) * 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // File-lineage metadata: rows per input file via the hidden _metadata
    // struct — at 100 TB the provenance/debugging primitive (which file did
    // this row come from) with zero extra I/O. Reads the repo fixture (the
    // one input whose path is constant across scale factors, which a static
    // oracle needs).
    "scan_metadata" -> ((s, _) => {
      graft.sources.FileSources.readCsv(s)
        .select(col("_metadata.file_name").as("file_name"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n"))
        .orderBy("file_name")
    }),

    // Deterministic hash sampling (~1/16): the md5-prefix predicate is pure
    // and engine-portable — the SAME rows are sampled everywhere, unlike
    // TABLESAMPLE (engine-specific RNG). At 100 TB this is the reproducible
    // downsample for pipeline debugging; the predicate evaluates pre-shuffle.
    "sample_hash" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(
          substring(
            md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_partkey"))),
            1, 1) === "0")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), moneySumCents(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    })
  )

  val oracle: Map[String, String] = Map(
    "pivot_status" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "unpivot_metrics" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |       round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_weighted_median" ->
      """WITH w AS (SELECT l_returnflag, l_extendedprice AS v, l_quantity AS q FROM lineitem),
        |c AS (SELECT l_returnflag, v,
        |             sum(q) OVER (PARTITION BY l_returnflag ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |             sum(q) OVER (PARTITION BY l_returnflag) AS tw
        |      FROM w)
        |SELECT l_returnflag, min(v) AS wmedian FROM c WHERE cw >= tw / 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 4) AS p25,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
        |       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_minmax_by" ->
      """SELECT o_orderpriority,
        |       max_by(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS max_order,
        |       round(max(o_totalprice), 2) AS max_price,
        |       min_by(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS min_order,
        |       round(min(o_totalprice), 2) AS min_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "agg_filtered" ->
      """SELECT c_mktsegment,
        |       CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_neg,
        |       bool_and(c_acctbal > -1000) AS all_above,
        |       bool_or(c_acctbal > 9900) AS any_high,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "agg_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "subquery_scalar" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
        |FROM orders
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "subquery_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "subquery_correlated" ->
      """SELECT o.o_orderkey FROM orders o
        |WHERE o.o_totalprice > 1.9 * (SELECT avg(o2.o_totalprice) FROM orders o2
        |                              WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin,
    "subquery_not_in" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "func_try" ->
      """SELECT p_partkey,
        |       TRY_CAST(p_brand AS INT) AS bad_cast,
        |       TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
        |       p_retailprice / nullif(p_size - p_size, 0) AS div0,
        |       nullif(split_part(p_type, ' ', 99), '') AS oob,
        |       split_part(p_type, ' ', 1) AS first_word
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,
    "window_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) / 1e2 AS sum_30d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "window_ntile" ->
      s"""SELECT c_custkey, c_nationkey,
         |       ntile(4) OVER w AS quartile,
         |       ${rdSql("percent_rank() OVER w", 6)} AS pr,
         |       ${rdSql("cume_dist() OVER w", 6)} AS cd
         |FROM customer
         |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
         |ORDER BY c_custkey""".stripMargin,
    "window_first_last" ->
      """SELECT event_id, user_id,
        |       first_value(event_type) OVER w AS first_et,
        |       last_value(event_type) OVER w AS last_et,
        |       nth_value(event_type, 2) OVER w AS second_et
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "scan_metadata" ->
      """SELECT parse_filename(filename) AS file_name, CAST(count(*) AS BIGINT) AS n
        |FROM read_csv('/root/repo/fixtures/sample_orders.csv', header=true, filename=true,
        |  columns={'id':'BIGINT','name':'VARCHAR','amount':'DOUBLE','d':'DATE'})
        |GROUP BY file_name ORDER BY file_name""".stripMargin,
    "sample_hash" ->
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("l_extendedprice")} AS sum_price
        |FROM lineitem
        |WHERE substr(md5(concat_ws('|', l_orderkey, l_linenumber, l_partkey)), 1, 1) = '0'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{events, rd, rdSql, t}

/** Round-7 window-driven operators (SURVEY.md §2.16): watermark/late-data
  * semantics as a checkable batch query, interval merging (gaps-and-islands),
  * SCD type-2 history building, distribution window functions, and the
  * window-form 2-D skyline.
  *
  * Scale notes (100 TB):
  * - `stream_late_drop` aggregates rows to per-BATCH maxima first, so the
  *   only global window runs over batch cardinality (rows/batchSize), not
  *   row cardinality — the watermark log every streaming engine keeps,
  *   computed as one tiny running max.
  * - `interval_merge` / `scd2_history` partition every window by user — the
  *   shuffle key is the entity, per-partition state is O(1) (running max /
  *   lag), the textbook distributed gaps-and-islands shape.
  * - `skyline_pareto` uses the price-sorted prefix-max trick to replace the
  *   O(n²) dominance anti-join with O(n log n) windows, and the declared
  *   query runs the DISTRIBUTED two-pass form ([[skylineTwoPass]]): price
  *   blocks from one broadcast min/max row, local prefix maxima per block
  *   (parallel), broadcast-merged per-block offsets (operators.PrefixScan).
  *   Below PrefixScan.CrossoverRows the key runs the single-global-window
  *   form ([[skylineWindow]]) instead; Round8Spec pins the two
  *   row-identical.
  */
object WindowOps {

  type Q = (SparkSession, String) => DataFrame

  /** Allowed lateness for the watermark simulation (1 h in µs). */
  private val LatenessUs = 3600000000L

  /** Presence-interval half-width for interval_merge (30 min in µs). */
  private val IntervalUs = 1800000000L

  /** THE single definition of the SCD2 state-change chain: consecutive
    * same-state events per user collapse to their first row. Input needs
    * (user_id, ts_us, event_type, event_id); event_id rides through both as
    * the ordering tiebreak and so downstream as-of consumers can break
    * equal-timestamp state ties deterministically (join_pit_state).
    */
  private[queries] def stateChain(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev.select(col("user_id"), col("ts_us"), col("event_type"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .drop("prev")
  }

  val queries: Map[String, Q] = Map(
    // Watermark/late-data semantics, deterministically checkable in batch:
    // events arrive in event_id order except ~1% (event_id % 100 == 7) are
    // displaced 1500 positions late; micro-batch = arrival-position DIV
    // 1000; the watermark entering a batch is the running max event-time of
    // all PRIOR batches minus the allowed lateness — exactly
    // MicroBatchExecution's between-batch watermark update. A row is late
    // iff its event time is below its batch's watermark. Output: per-batch
    // arrival/late counts + the watermark.
    "stream_late_drop" -> ((s, d) => {
      val e = events(s, d).select(
        col("event_id"), col("ts_us"),
        expr("(event_id + if(event_id % 100 = 7, 1500, 0)) div 1000").as("b"))
      val batchMax = e.groupBy("b").agg(max(col("ts_us")).as("bmax"))
      // running max over BATCHES: cardinality = rows/1000, the watermark log
      val wmW = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
      val wm = batchMax.select(
        col("b"), (max(col("bmax")).over(wmW) - LatenessUs).as("w"))
      e.join(wm, "b")
        .groupBy(col("b").as("batch"), col("w"))
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("w").isNotNull && col("ts_us") < col("w"), 1)).as("n_late"))
        .select(col("batch"), col("n_events"), col("n_late"),
          coalesce(col("w"), lit(-1L)).as("watermark_us"))
        .orderBy("batch")
    }),

    // Gaps-and-islands: each event opens a 30-min presence interval;
    // overlapping intervals per user merge into sessions. new-island flag =
    // start beyond the running max end of all prior intervals; island id =
    // running sum of flags. Per-user aggregate output.
    "interval_merge" -> ((s, d) => {
      val iv = events(s, d).select(
        col("user_id"), col("ts_us").as("st"), (col("ts_us") + IntervalUs).as("en"))
      val prevW = Window.partitionBy("user_id").orderBy("st", "en")
        .rowsBetween(Window.unboundedPreceding, -1)
      val runW = Window.partitionBy("user_id").orderBy("st", "en")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islands = iv
        .withColumn("nw",
          when(col("st") > coalesce(max(col("en")).over(prevW), lit(-1L)), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("nw")).over(runW))
        .groupBy("user_id", "island")
        .agg(min(col("st")).as("s0"), max(col("en")).as("e1"), count(lit(1)).as("nev"))
      islands.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("e1") - col("s0")).as("covered_us"),
          max(col("e1") - col("s0")).as("longest_us"),
          max(col("nev")).as("max_events"))
        .orderBy("user_id")
    }),

    // SCD type-2 history: per user, collapse consecutive same-state events
    // to change rows, then [valid_from, valid_to) from the change sequence;
    // the open row is current. -1 sentinel (not NULL) for the open end so
    // the total ORDER BY stays engine-independent.
    "scd2_history" -> ((s, d) => {
      val changes = stateChain(events(s, d).filter(col("user_id") < 100))
      val byChange = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      changes
        .withColumn("nxt", lead(col("ts_us"), 1).over(byChange))
        .select(
          col("user_id"),
          col("event_type").as("state"),
          col("ts_us").as("valid_from"),
          coalesce(col("nxt"), lit(-1L)).as("valid_to"),
          col("nxt").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "state")
    }),

    // Distribution window functions: cume_dist + percent_rank — both exact
    // integer-ratio doubles, so bit-identical across engines without
    // rounding.
    "window_cume_dist" -> ((s, d) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 300)
        .select(
          col("l_returnflag"), col("l_orderkey"), col("l_quantity"),
          cume_dist().over(w).as("cd"),
          percent_rank().over(w).as("pr"))
        .orderBy("l_returnflag", "l_quantity", "l_orderkey", "cd", "pr")
    }),

    // Cohort retention matrix: cohort = the user's first-event week; a
    // cohort's week-N retention = distinct users active in week
    // (cohort + N) over cohort size. Two hash aggregates + one slim join —
    // the first-event frame carries (user, ts) only, cohort sizes are a
    // tiny dim joined back.
    "cohort_retention" -> ((s, d) => {
      val weekUs = 86400000000L // day in µs; weeks = day-bucket DIV 7
      val ev = events(s, d).select(col("user_id"), col("ts_us"))
      // Round 19: first_ts is a min-over-user WINDOW riding the single
      // user_id exchange — the previous groupBy+join-back form paid a
      // second pass of ev through the join; the distinct's
      // (user, cw, week_n) grouping is already clustered by hash(user_id),
      // so it adds no exchange either. Interleaved sf10 A/B 3.40 vs 4.78 s
      // (1.41×), rows identical (per-user min is form-invariant).
      val wU = Window.partitionBy("user_id")
      val act = ev
        .withColumn("first_ts", min(col("ts_us")).over(wU))
        .select(
          col("user_id"),
          expr(s"(first_ts div $weekUs) div 7").as("cw"),
          (expr(s"(ts_us div $weekUs) div 7") -
            expr(s"(first_ts div $weekUs) div 7")).as("week_n"))
        .distinct()
      val sizes = act.filter(col("week_n") === 0)
        .groupBy("cw").agg(count(lit(1)).as("cohort_size"))
      // explicit hint: cohort sizes are one row per cohort WEEK — a dim that
      // stays tiny at any corpus scale, the declared broadcast side (the
      // per-user firstEv join above is entity-sized and must stay a shuffle)
      act.join(broadcast(sizes), "cw")
        .groupBy(col("cw").as("cohort_week"), col("week_n"))
        .agg(
          count(lit(1)).as("active_users"),
          // rd (floor-formula), not round: the ratio is an exact integer
          // division evaluated identically on both engines, so rd makes the
          // compare bit-exact instead of exposed to round()'s decimal-repr
          // vs binary tie handling
          rd(count(lit(1)).cast("double") / first(col("cohort_size")), 4)
            .as("retention"))
        .orderBy("cohort_week", "week_n")
    }),

    // Trailing-window z-score anomaly flags: each event scored against the
    // mean/stddev of its user's previous ≤20 events; |z| > 2 is an anomaly.
    // Per-user windows — entity-keyed shuffle, bounded window state.
    "anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-20, -1)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sd", stddev_samp(col("value")).over(w))
        .withColumn("nprev", count(lit(1)).over(w))
        .filter(col("nprev") >= 5 && col("sd") > 0)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_scored"),
          count(when(abs((col("value") - col("mu")) / col("sd")) > 2.0, 1))
            .as("n_anomalies"))
        .orderBy("user_id")
    }),

    // Global (per-type) robust outliers via MEDIAN absolute deviation —
    // the Iglewicz-Hoaglin modified z-score companion to anomaly_zscore's
    // trailing window: mean/stddev are themselves dragged by the outliers
    // they're meant to expose, median/MAD are not. Two aggregate passes
    // over events (median, then MAD around it) + a broadcast of the
    // ≤ n_event_types stats row back onto the stream — at 100 TB the
    // per-group state is O(groups), the data shuffles only on the
    // low-cardinality type key, and rows never move twice.
    // FIXED-POINT: value is 2dp in the source, so per-row integer cents
    // make both medians EXACT in binary (integer midpoints are .0/.5 —
    // Spark's a+(b-a)*0.5 and DuckDB's (a+b)/2 interpolations agree
    // bit-for-bit on them, which is NOT true of raw doubles); the mz
    // formula then runs on bit-identical operands on both engines.
    "anomaly_mad" -> ((s, d) => {
      // HISTOGRAM median/MAD (round 18): the buffered `median()` aggregate
      // holds every group row in ONE final task (|groups| parallelism, an
      // OOM cliff at 100 TB) and the med→MAD cascade re-scanned events.
      // c is integer cents, so the multiset collapses to a value-count
      // histogram: one scan, one histogram shuffle, exact-same IEEE
      // interpolation (operators.HistogramMedian; row-identity with the
      // buffered form pinned by Round18Spec).
      val e = events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          floor(col("value") * 100 + 0.5).as("c"))
      val stats = graft.operators.HistogramMedian.mad(e, "event_type", "c")
      e.join(broadcast(stats), "event_type")
        .withColumn("mz",
          when(col("mad") > 0, lit(0.6745) * (col("c") - col("med")) / col("mad")))
        .filter(abs(col("mz")) > 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          rd(col("mz"), 4).as("mz"))
        .orderBy("event_id")
    }),

    // Time-weighted average (TWAP): each value weighted by the µs until
    // the user's next event (the duration it was "current"); the open last
    // span is excluded. One lead() per user then a plain aggregate —
    // the metric/financial averaging that plain avg() gets wrong when
    // sampling is irregular (compare the plain_avg column).
    "time_weighted_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        // FIXED-POINT (round 9, the pagerank/quantize playbook): value is
        // 2dp in the source, so per-row integer cents (the rd floor formula
        // — bit-identical cross-engine) make every aggregate an EXACT
        // integer sum: no summation-order delta, no rounding-boundary
        // flips. The true-sf1 sweep caught builtin round() splitting a
        // .905-boundary avg (Spark rounds the decimal repr HALF_UP, DuckDB
        // the binary double) — invisible at sf0.1's row counts.
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .withColumn("dur", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(col("dur")).as("n_spans"),
          // a user whose spans are all zero-length (every event at one
          // timestamp) has sum(dur) = 0 — ANSI mode makes that division a
          // hard error, not NULL, so guard explicitly (same family as the
          // n_wedges/sd/mx guards elsewhere this round). decimal(38,0)
          // keeps the cents·µs products exact at any span count (DuckDB
          // mirrors with its 128-bit integer sum); the final divisions run
          // on identical operands, so rd() is bit-identical, not a
          // tolerance
          when(sum(col("dur")) > 0,
            rd(sum((col("cents") * col("dur")).cast("decimal(38,0)")).cast("double")
              / sum(col("dur")).cast("double") / 100.0, 2)).as("twap"),
          rd(sum(col("cents")).cast("double")
            / (count(col("cents")) * 100).cast("double"), 2).as("plain_avg"))
        .orderBy("user_id")
    }),

    // Longest streak (§2.17): per user, the longest run of consecutive
    // same-type events — the gaps-and-islands run-length form (break flag
    // via null-safe lag comparison, island id via running sum, one count
    // per island). Tie runs resolve by (type asc, island asc) so the
    // reported streak_type is total-ordered on both engines.
    "window_streak" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
        .withColumn("brk",
          when(!(lag(col("event_type"), 1).over(byUser) <=> col("event_type")), 1L)
            .otherwise(0L))
        .withColumn("grp", sum(col("brk")).over(cum))
        .groupBy(col("user_id"), col("event_type"), col("grp"))
        .agg(count(lit(1)).as("run_len"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("run_len").desc, col("event_type"), col("grp"))
      runs
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("run_len").as("longest_run"),
          col("event_type").as("streak_type"))
        .orderBy("user_id")
    }),

    // 2-D skyline (Pareto frontier) on (min p_retailprice, max p_size):
    // sorted by (price asc, size desc), a part is dominated iff a prefix row
    // has strictly larger size (cond1), or an equal-size row has strictly
    // smaller price (cond2). Identical points are mutually non-dominating
    // and all survive. The prefix max picks its form from the input's
    // estimated size (round 9 auto-crossover): the single window below
    // PrefixScan.CrossoverRows, the distributed two-pass scan above it —
    // row-identical by Round8Spec. The oracle states the same semantics as
    // the quadratic NOT EXISTS — two independent formulations.
    "skyline_pareto" -> ((s, d) => {
      val parts = t(s, d, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val blocked = graft.operators.PrefixScan.estimatedRows(parts) >=
        graft.operators.PrefixScan.CrossoverRows
      (if (blocked) skylineTwoPass(parts) else skylineWindow(parts))
        .orderBy("p_partkey")
    }))

  /** Number of price-range blocks for the distributed skyline scan: bounds
    * pass-2's offset frame at 32 rows while pass 1 runs one task per block.
    * Sized to the local[32] harness; a cluster deployment scales it with
    * parallelism (offset frame stays tiny either way).
    */
  private val SkylineBlocks = 32

  /** Shared dominance filter: m1 = max size over the strict (price, size
    * desc) prefix, m2 = min price among same-size strict-prefix rows.
    */
  private def skylineFilter(withM1: DataFrame): DataFrame = {
    val w2 = Window.partitionBy("p_size").orderBy(col("p_retailprice").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    withM1
      .withColumn("m2", min(col("p_retailprice")).over(w2))
      .filter(!(coalesce(col("m1") > col("p_size"), lit(false)) ||
        coalesce(col("m2") < col("p_retailprice"), lit(false))))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  /** The single-global-window skyline — O(n log n) algebra but ONE task
    * sorts and scans everything: the declared query's branch below
    * PrefixScan.CrossoverRows, and the reference [[skylineTwoPass]] must
    * match.
    */
  private[graft] def skylineWindow(parts: DataFrame): DataFrame = {
    val w1 = Window.orderBy(col("p_retailprice").asc, col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    skylineFilter(parts.withColumn("m1", max(col("p_size")).over(w1)))
  }

  /** The distributed skyline: equi-width price blocks derived from one
    * broadcast min/max row (deterministic — no range-partitioner sampling,
    * which could re-draw boundaries per consumer — and no driver action),
    * then operators.PrefixScan computes the global prefix max blockwise.
    * Blocks are monotone in price and equal prices share a block — the
    * PrefixScan contract — so the result is exactly [[skylineWindow]]'s.
    */
  private[graft] def skylineTwoPass(parts: DataFrame): DataFrame = {
    val mm = parts.agg(
      min(col("p_retailprice")).as("__mn"), max(col("p_retailprice")).as("__mx"))
    val blocked = parts.crossJoin(broadcast(mm))
    // NULL prices sort FIRST under the window twin's ascending order, so
    // they must land in block 0 (least() SKIPS nulls — without the isNull
    // branch a null price would fall through to the last block and absorb
    // every earlier block's maxima)
    val bkt = when(col("p_retailprice").isNull, 0)
      .when(col("__mx") > col("__mn"),
        least(
          floor((col("p_retailprice") - col("__mn")) * SkylineBlocks /
            (col("__mx") - col("__mn"))).cast("int"),
          lit(SkylineBlocks - 1)))
      .otherwise(0) // degenerate all-one-price input: a single block
    val withM1 = graft.operators.PrefixScan.exclusive(
      blocked,
      partitionCols = Seq.empty,
      block = bkt,
      order = Seq(col("p_retailprice").asc, col("p_size").desc),
      value = col("p_size"),
      agg = c => max(c),
      merge = (l, o) => greatest(l, o),
      out = "m1")
      .drop("__mn", "__mx")
    skylineFilter(withM1)
  }

  val oracle: Map[String, String] = Map(
    "stream_late_drop" ->
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us,
         |                  (event_id + CASE WHEN event_id % 100 = 7 THEN 1500 ELSE 0 END) // 1000 AS b
         |           FROM events),
         |bm AS (SELECT b, max(ts_us) AS bmax FROM e GROUP BY b),
         |wm AS (SELECT b, max(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
         |                                 AND 1 PRECEDING) - $LatenessUs AS w FROM bm)
         |SELECT e.b AS batch, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(CASE WHEN wm.w IS NOT NULL AND e.ts_us < wm.w THEN 1 END) AS BIGINT) AS n_late,
         |       coalesce(wm.w, -1) AS watermark_us
         |FROM e JOIN wm ON e.b = wm.b
         |GROUP BY e.b, wm.w ORDER BY batch""".stripMargin,
    "interval_merge" ->
      s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + $IntervalUs AS en
         |            FROM events),
         |f AS (SELECT user_id, st, en,
         |             CASE WHEN st > coalesce(max(en) OVER (PARTITION BY user_id ORDER BY st, en
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |                  THEN 1 ELSE 0 END AS nw
         |      FROM iv),
         |g AS (SELECT user_id, st, en,
         |             sum(nw) OVER (PARTITION BY user_id ORDER BY st, en
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM f),
         |m AS (SELECT user_id, island, min(st) AS s0, max(en) AS e1, count(*) AS nev
         |      FROM g GROUP BY 1, 2)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
         |       CAST(sum(e1 - s0) AS BIGINT) AS covered_us,
         |       CAST(max(e1 - s0) AS BIGINT) AS longest_us,
         |       CAST(max(nev) AS BIGINT) AS max_events
         |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "scd2_history" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id
        |           FROM events WHERE user_id < 100),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type, ts_us, event_id FROM c
        |       WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type AS state, ts_us AS valid_from,
        |       coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), -1) AS valid_to,
        |       CASE WHEN lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |            THEN true ELSE false END AS is_current
        |FROM ch ORDER BY user_id, valid_from, state""".stripMargin,
    "cohort_retention" ->
      s"""WITH f AS (SELECT user_id, min(epoch_us(ts)) AS first_ts FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id,
        |             (f.first_ts // 86400000000) // 7 AS cw,
        |             ((epoch_us(e.ts) // 86400000000) // 7)
        |               - ((f.first_ts // 86400000000) // 7) AS week_n
        |      FROM events e JOIN f ON e.user_id = f.user_id),
        |c AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM a WHERE week_n = 0 GROUP BY cw)
        |SELECT a.cw AS cohort_week, a.week_n, CAST(count(*) AS BIGINT) AS active_users,
         |       ${rdSql("CAST(count(*) AS DOUBLE) / any_value(c.cohort_size)", 4)} AS retention
        |FROM a JOIN c ON a.cw = c.cw
        |GROUP BY a.cw, a.week_n
        |ORDER BY cohort_week, week_n""".stripMargin,
    "anomaly_zscore" ->
      """WITH w AS (SELECT event_id, user_id, value,
        |                  avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
        |                  stddev_samp(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sd,
        |                  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS nprev
        |           FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_scored,
        |       CAST(count(CASE WHEN abs((value - mu) / sd) > 2.0 THEN 1 END) AS BIGINT) AS n_anomalies
        |FROM w WHERE nprev >= 5 AND sd > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "anomaly_mad" ->
      s"""WITH e AS (SELECT event_id, event_type, value,
         |                  floor(value * 100 + 0.5) AS c FROM events),
         |m AS (SELECT event_type, median(c) AS med FROM e GROUP BY event_type),
         |s AS (SELECT e.event_type, med, median(abs(c - med)) AS mad
         |      FROM e JOIN m USING (event_type) GROUP BY e.event_type, med)
         |SELECT event_id, e.event_type, value,
         |       ${rdSql("0.6745e0 * (c - med) / mad", 4)} AS mz
         |FROM e JOIN s USING (event_type)
         |WHERE mad > 0 AND abs(0.6745e0 * (c - med) / mad) > 3.5
         |ORDER BY event_id""".stripMargin,
    "time_weighted_avg" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |w AS (SELECT user_id, cents,
        |             lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |                  - ts_us AS dur
        |      FROM e)
        |SELECT user_id, CAST(count(dur) AS BIGINT) AS n_spans,
        |       CASE WHEN sum(dur) > 0
        |            THEN ${rdSql("CAST(sum(cents * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) / 100.0", 2)} END AS twap,
        |       ${rdSql("CAST(sum(cents) AS DOUBLE) / CAST(count(cents) * 100 AS DOUBLE)", 2)} AS plain_avg
        |FROM w WHERE dur IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "window_cume_dist" ->
      """SELECT l_returnflag, l_orderkey, l_quantity,
        |       cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd,
        |       percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS pr
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_returnflag, l_quantity, l_orderkey, cd, pr""".stripMargin,
    "window_streak" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |c AS (SELECT *, CASE WHEN lag(event_type) OVER win IS DISTINCT FROM event_type
        |                     THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM c),
        |r AS (SELECT user_id, event_type, grp, count(*) AS run_len FROM g GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(run_len AS BIGINT) AS longest_run, event_type AS streak_type
        |FROM r
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY run_len DESC, event_type, grp) = 1
        |ORDER BY user_id""".stripMargin,
    // O(n log n) skyline oracle (round 13, VERDICT r12 item 4): per-price
    // max size + running max over STRICTLY smaller prices. A point survives
    // iff no strictly-cheaper point has size ≥ its own (strictm < size) and
    // no same-price point has strictly larger size (mx = size). This is the
    // reformulation that verified the sf3 rung inside the oracle budget —
    // the deliberately quadratic NOT EXISTS (3.6e11 pair tests at sf3)
    // survives as Round13Spec's small-sf cross-check of THIS formulation.
    "skyline_pareto" ->
      """WITH g AS (SELECT p_retailprice, max(p_size) AS mx
        |           FROM part GROUP BY p_retailprice),
        |r AS (SELECT p_retailprice, mx,
        |             max(mx) OVER (ORDER BY p_retailprice
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strictm
        |      FROM g)
        |SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p JOIN r ON p.p_retailprice IS NOT DISTINCT FROM r.p_retailprice
        |WHERE (r.strictm IS NULL OR r.strictm < p.p_size) AND r.mx = p.p_size
        |ORDER BY p_partkey""".stripMargin)
}

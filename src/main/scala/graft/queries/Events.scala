package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.{events, moneySumCents, moneySumCentsSql}

/** Event-time queries over the simulated stream table (SURVEY.md §2.3
  * join_asof, §2.8 func_json, §2.10 batch formulations of the streaming
  * windows). The true Structured Streaming wiring of the same logic lives in
  * [[graft.streaming.StreamingJobs]]; the driver's oracle gate verifies the
  * batch twins declared here.
  *
  * All event-time math runs on `ts_us` (µs BIGINT — see Tables.events) so
  * both engines agree bit-for-bit.
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  private[queries] val SessionGapUs = 30L * 60L * 1000000L // 30 min in µs

  /** Per-user 30-min-gap sessions (gaps-and-islands): (user_id, session_id,
    * n_events, session_start, session_end). THE single definition of batch
    * sessionization — `stream_session` declares it, `join_range_sessions`
    * builds its interval side from it, oracles share [[SessionCteSql]].
    */
  private[queries] def sessionBounds(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_s",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"))
  }

  /** Oracle twin of [[sessionBounds]] up to the per-session grouping key:
    * CTE `g` has (user_id, event_id, ts_us, session_id) one row per event.
    */
  private[queries] val SessionCteSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      |                      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |      FROM f)""".stripMargin

  /** The two sides of the purchase → view as-of keys: purchases
    * (p_id, user_id, p_ts) and views (v_id, v_user, v_ts), times in µs.
    */
  private def purchasesViews(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts_us").as("v_ts"))
    (p, v)
  }

  /** The backward as-of body of `join_asof` and `join_asof_exec`: each
    * purchase with the latest strictly-earlier view by the same user, the
    * greatest `v_id` among views at that instant.
    */
  private def prevView(s: SparkSession, d: String): DataFrame = {
    val (p, v) = purchasesViews(s, d)
    graft.plans.AsOfJoinNative
      .join(p, v,
        keys = Seq("user_id" -> "v_user"),
        leftTime = "p_ts", rightTime = "v_ts",
        tiebreak = Seq("v_id"))
      .select(col("p_id").as("event_id"), col("v_id").as("prev_view"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "func_json" -> ((s, d) => {
      events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
        .limit(500)
    }),

    // As-of join: for each purchase, the most recent strictly-earlier view by
    // the same user, through the native merge exec (graft.plans.AsOfJoinExec
    // — custom LogicalPlan + Strategy + SparkPlan via SparkSessionExtensions;
    // scale notes in its scaladoc). join_asof_exec declares the same body
    // under its own key; both share one oracle.
    "join_asof" -> prevView,
    "join_asof_exec" -> prevView,

    // FORWARD as-of — each purchase matched to the EARLIEST view strictly
    // after it — through the SAME native backward exec, by negating both
    // time columns: backward-strict on (−t) is exactly forward-strict on t,
    // and "latest −t" is "earliest t". Direction needs no second physical
    // operator, just this algebraic composition; the µs longs stay exact
    // under negation. The oracle is DuckDB's own forward ASOF (p.ts < v.ts)
    // — two independent formulations of the direction flip.
    "join_asof_forward" -> ((s, d) => {
      val ev = events(s, d)
      // only the negated times enter the join — the positive columns would
      // ride the exchange+sort as dead weight (slim-shuffle discipline)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          (-col("ts_us")).as("p_neg"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
          (-col("ts_us")).as("v_neg"))
      graft.plans.AsOfJoinNative
        .join(p, v,
          keys = Seq("user_id" -> "v_user"),
          leftTime = "p_neg", rightTime = "v_neg",
          tiebreak = Seq("v_id"))
        .select(col("p_id").as("event_id"), col("v_id").as("next_view"))
        .orderBy("event_id")
    }),

    // POINT-IN-TIME feature join (feature-store leakage safety): each
    // purchase joined to the user's STATE AS OF one hour before the
    // purchase — never the state at (or after) the event itself. The state
    // chain is the SCD2 change sequence (consecutive same-type events
    // collapsed); the PIT lookup is the native as-of exec with
    // leftTime = ts − 1h + 1µs, turning the non-strict `valid_from ≤ ts−1h`
    // bound into the exec's strict < on exact integer µs. Purchases with
    // no state yet at the lagged instant drop (inner as-of) — exactly the
    // rows a leakage-safe training join must exclude.
    "join_pit_state" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
      // shared chain definition (WindowOps.stateChain — same rows
      // scd2_history builds); s_eid is the deterministic tiebreak should
      // two state changes ever share a (user, µs) instant
      val states = WindowOps.stateChain(ev)
        .select(col("user_id").as("s_user"), col("event_type").as("s_type"),
          col("ts_us").as("s_from"), col("event_id").as("s_eid"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          (col("ts_us") - 3600000000L + 1L).as("lag_ts"))
      graft.plans.AsOfJoinNative
        .join(probes, states,
          keys = Seq("user_id" -> "s_user"),
          leftTime = "lag_ts", rightTime = "s_from",
          tiebreak = Seq("s_eid"))
        .select(col("event_id"), col("user_id"),
          col("s_type").as("state_1h_ago"), col("s_from").as("state_from"))
        .orderBy("event_id")
    }),

    // The same as-of semantics again, under the declared SKEW mitigation:
    // time-bucket salting (1h buckets) composed over AsOfJoinExec
    // (operators.AsOfSkew). A hot user's rows spread across one partition
    // per touched bucket; pass 2 repairs cross-bucket matches from a
    // bucket-cardinality aggregate. Oracle identical to join_asof: salting
    // must not change a row.
    "join_asof_skew" -> ((s, d) => {
      val (p, v) = purchasesViews(s, d)
      graft.operators.AsOfSkew
        .join(p, v,
          keys = Seq("user_id" -> "v_user"),
          leftTime = "p_ts", rightTime = "v_ts",
          tiebreak = "v_id", bucketWidth = 3600L * 1000000L,
          // event_id is unique per purchase row, so the pass-1 leftover
          // probe can key on the id alone — slim shuffle instead of
          // all-column join keys (see AsOfSkew scaladoc for the contract)
          leftIdCol = Some("p_id"))
        .select(col("p_id").as("event_id"), col("v_id").as("prev_view"))
        .orderBy("event_id")
    }),

    // NEAREST as-of (§2.17): each purchase matched to the view closest in
    // time in EITHER direction, ties broken toward the past. Composed from
    // two runs of the native backward exec (the forward leg via time
    // negation, as join_asof_forward) — each returns at most one candidate
    // per probe, so the union is ≤ 2 rows per purchase and the final pick
    // is a tiny per-probe window, not a re-sort of the corpus.
    "join_asof_nearest" -> ((s, d) => {
      val (p, v) = purchasesViews(s, d)
      val bwd = graft.plans.AsOfJoinNative
        .join(p, v, keys = Seq("user_id" -> "v_user"),
          leftTime = "p_ts", rightTime = "v_ts", tiebreak = Seq("v_id"))
        .select(col("p_id"), col("v_id"), (col("v_ts") - col("p_ts")).as("dt"))
      val pn = p.select(col("p_id"), col("user_id"), (-col("p_ts")).as("p_neg"))
      val vn = v.select(col("v_id"), col("v_user"), (-col("v_ts")).as("v_neg"))
      val fwd = graft.plans.AsOfJoinNative
        .join(pn, vn, keys = Seq("user_id" -> "v_user"),
          leftTime = "p_neg", rightTime = "v_neg", tiebreak = Seq("v_id"))
        .select(col("p_id"), col("v_id"), (col("p_neg") - col("v_neg")).as("dt"))
      // ≤ 2 candidates per purchase; abs-then-signed order prefers the past
      // on an exact |Δt| tie, mirroring the oracle's QUALIFY
      val pick = Window.partitionBy("p_id").orderBy(abs(col("dt")).asc, col("dt").asc)
      bwd.union(fwd)
        .withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("p_id").as("event_id"), col("v_id").as("nearest_view"),
          col("dt").as("dt_us"))
        .orderBy("event_id")
    }),

    // Staleness-bounded as-of (§2.17, pandas merge_asof's `tolerance`):
    // backward as-of, but a match older than 1h is no match at all — the
    // feature-store freshness contract (a stale feature is worse than a
    // dropped row). The as-of already returns the CLOSEST earlier view, so
    // one residual filter after the exec is the exact semantics.
    "join_asof_tolerance" -> ((s, d) => {
      val (p, v) = purchasesViews(s, d)
      graft.plans.AsOfJoinNative
        .join(p, v, keys = Seq("user_id" -> "v_user"),
          leftTime = "p_ts", rightTime = "v_ts", tiebreak = Seq("v_id"))
        .withColumn("staleness_us", col("p_ts") - col("v_ts"))
        .filter(col("staleness_us") <= 3600L * 1000000L)
        .select(col("p_id").as("event_id"), col("v_id").as("prev_view"),
          col("staleness_us"))
        .orderBy("event_id")
    }),

    // Sequential pattern detection (§2.17, the MATCH_RECOGNIZE primitive):
    // strictly-consecutive view → view → purchase runs per user, via two
    // lead()s over the user's event sequence — one entity-keyed shuffle,
    // O(1) window state, no self-join.
    "window_pattern_match" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .filter(col("event_type") === "view" && col("t1") === "view" &&
          col("t2") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("ts_us")).as("first_match_ts"))
        .orderBy("user_id")
    }),

    // Windowed top-k (§2.17, "trending items"): top-2 event types per 1h
    // tumbling window. Hash-aggregate to (window, type) counts first —
    // the rank window then runs over #windows × #types rows, not events.
    "stream_topk_windowed" -> ((s, d) => {
      val c = events(s, d)
        .withColumn("tsx", timestamp_micros(col("ts_us")))
        .groupBy(window(col("tsx"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("window").orderBy(col("n").desc, col("event_type"))
      c.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("rnk"))
        .orderBy("ws", "rnk")
    }),

    // Spark 4 VARIANT surface (§2.17): parse_json once, typed path reads
    // via variant_get / try_variant_get — the modern semi-structured
    // column (binary variant beats per-read JSON string parsing; the cast
    // contract is explicit per path). Oracle reads the same paths with
    // DuckDB's JSON functions.
    "func_variant" -> ((s, d) => {
      events(s, d)
        .select(col("event_id"), expr("parse_json(props)").as("v"))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k_long"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"),
          expr("try_variant_get(v, '$.zzz', 'bigint')").as("missing"))
        .orderBy("event_id")
        .limit(500)
    }),

    // Tumbling 1h windows — batch twin of the streaming groupBy(window(...)).
    "stream_tumbling" -> ((s, d) => {
      events(s, d)
        .withColumn("tsx", timestamp_micros(col("ts_us")))
        .groupBy(window(col("tsx"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySumCents(col("value")).as("sum_v"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_v"))
        .orderBy("ws", "event_type")
    }),

    // Sliding 1h/30min windows, declared via explicit epoch arithmetic on
    // BOTH sides (SURVEY.md §5.4): each event maps to exactly 2 window
    // starts; Spark's builtin window() is epoch-aligned and produces the
    // same buckets — the streaming wiring uses it.
    "stream_sliding" -> ((s, d) => {
      events(s, d)
        .withColumn("w0", expr("(ts_us div 1000000 div 1800) * 1800"))
        .select(
          explode(array(col("w0"), col("w0") - 1800)).as("ws_epoch"),
          col("event_type"), col("value"))
        .groupBy("ws_epoch", "event_type")
        .agg(count(lit(1)).as("n"), moneySumCents(col("value")).as("sum_v"))
        .orderBy("ws_epoch", "event_type")
    }),

    // 30-min-gap sessionization, batch gaps-and-islands formulation
    // (sessionBounds above). The streaming twin is session_window /
    // flatMapGroupsWithState (graft.streaming.StreamingJobs). Two windows
    // over the same (user_id → ts) partitioning: one exchange, two sorts,
    // no extra shuffle.
    "stream_session" -> ((s, d) =>
      sessionBounds(s, d).orderBy("user_id", "session_id")),

    // The NATIVE session_window operator evaluated in batch — same session
    // semantics as the gaps-and-islands formulation (stream_session), via
    // Spark's built-in merging-window aggregation instead of two window
    // passes. Only the session START is emitted: session_window.end is
    // last_event + gap by definition, not max(ts). Oracle = the
    // gaps-and-islands CTE — two formulations, one fixpoint.
    "stream_session_window" -> ((s, d) => {
      events(s, d)
        .withColumn("tsx", timestamp_micros(col("ts_us")))
        .groupBy(session_window(col("tsx"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // Keep-first dedup per (user_id, event_type) — the batch twin of
    // streaming dropDuplicatesWithinWatermark (StreamingJobs.dedupWithinWatermark).
    // min(struct(ts_us, event_id)) with PARTIAL aggregation (the cdc_latest
    // max_by pattern): each map task combines its rows down to one per key
    // before the exchange, so only n_keys rows shuffle — the previous
    // row_number window sorted ALL rows through the exchange first (true-sf1
    // profile: 4.6× growth from real distinct-key variety; struct-min
    // lexicographic (ts_us, event_id) ≡ first row of the (ts_us, event_id)
    // sort order, event_id unique ⇒ deterministic).
    "stream_dedup" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(struct(col("ts_us"), col("event_id"))).as("m"))
        .select(
          col("m.event_id").as("event_id"), col("user_id"),
          col("event_type"), col("m.ts_us").as("ts_us"))
        .orderBy("user_id", "event_type")
    }),

    // Purchases within 1h after a view by the same user — the batch twin of
    // a watermarked stream-stream interval join (StreamingJobs.viewPurchaseJoin).
    // Equi-key on user_id carries the join; the time band is a residual
    // predicate, so no O(n²) blowup.
    "stream_join" -> ((s, d) => {
      val ev = events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("v_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_ts"))
      v.join(p, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts") && col("p_ts") - col("v_ts") <= 3600L * 1000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    })
  )

  /** Backward as-of oracle shared by the three backward keys (join_asof and
    * join_asof_exec, one body over the native exec, and the salted
    * join_asof_skew). Matching runs on µs — the engine's time domain —
    * and tied view timestamps collapse to the max-event_id row, which is the
    * engine's declared tiebreak, so DuckDB's arbitrary-among-equal-timestamps
    * ASOF choice can never flake the compare (two same-µs views of one user
    * after ns→µs truncation would otherwise be a latent, data-dependent
    * hash flip).
    */
  private val AsofBackwardSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |      WHERE event_type = 'view'
      |      QUALIFY row_number() OVER (PARTITION BY user_id, ts_us
      |                                 ORDER BY event_id DESC) = 1)
      |SELECT p.event_id AS event_id, v.event_id AS prev_view
      |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts_us > v.ts_us
      |ORDER BY event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "func_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,
    // DuckDB native ASOF JOIN: match on max v.ts_us strictly below p.ts_us,
    // ties pre-collapsed to the engine's tiebreak (see AsofBackwardSql).
    "join_asof" -> AsofBackwardSql,
    "join_asof_exec" -> AsofBackwardSql,
    // Forward flip of AsofBackwardSql: earliest view strictly after the
    // purchase; same µs domain + same max-event_id tie collapse (the engine
    // negates time into the backward exec, keeping tiebreak = max v_id).
    "join_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts_us
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT p.event_id AS event_id, v.event_id AS next_view
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts_us < v.ts_us
        |ORDER BY event_id""".stripMargin,
    // Chain rows that share (user_id, µs) — same-µs events of different
    // types both surviving the lag chain — collapse to the max-event_id row,
    // the engine's s_eid tiebreak, so both formulations agree by construction.
    "join_pit_state" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |      FROM e),
        |ch AS (SELECT user_id, event_type, ts_us, event_id FROM c
        |       WHERE prev IS NULL OR prev <> event_type
        |       QUALIFY row_number() OVER (PARTITION BY user_id, ts_us
        |                                  ORDER BY event_id DESC) = 1),
        |p AS (SELECT event_id, user_id, ts_us - 3600000000 + 1 AS lag_ts
        |      FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, s.event_type AS state_1h_ago, s.ts_us AS state_from
        |FROM p ASOF JOIN ch s ON p.user_id = s.user_id AND p.lag_ts > s.ts_us
        |ORDER BY p.event_id""".stripMargin,
    "join_asof_skew" -> AsofBackwardSql,
    "join_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts_us
        |                                 ORDER BY event_id DESC) = 1)
        |SELECT p.event_id AS event_id, v.event_id AS prev_view,
        |       CAST(p.ts_us - v.ts_us AS BIGINT) AS staleness_us
        |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts_us > v.ts_us
        |WHERE p.ts_us - v.ts_us <= 3600000000
        |ORDER BY event_id""".stripMargin,
    // Nearest = min |Δt| over the union of the backward and forward ASOF
    // candidates; the (abs(dt), dt) order prefers the past on exact ties.
    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, ts_us
        |                                 ORDER BY event_id DESC) = 1),
        |b AS (SELECT p.event_id AS eid, v.event_id AS vid, v.ts_us AS vts FROM p
        |      ASOF JOIN v ON p.user_id = v.user_id AND p.ts_us > v.ts_us),
        |f AS (SELECT p.event_id AS eid, v.event_id AS vid, v.ts_us AS vts FROM p
        |      ASOF JOIN v ON p.user_id = v.user_id AND p.ts_us < v.ts_us),
        |u AS (SELECT * FROM b UNION ALL SELECT * FROM f),
        |j AS (SELECT u.eid AS event_id, u.vid, u.vts - p.ts_us AS dt
        |      FROM u JOIN p ON u.eid = p.event_id)
        |SELECT event_id, vid AS nearest_view, CAST(dt AS BIGINT) AS dt_us FROM j
        |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY abs(dt), dt) = 1
        |ORDER BY event_id""".stripMargin,
    "window_pattern_match" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT user_id, ts_us, event_type,
        |             lead(event_type, 1) OVER win AS t1,
        |             lead(event_type, 2) OVER win AS t2
        |      FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |m AS (SELECT user_id, ts_us FROM w
        |      WHERE event_type = 'view' AND t1 = 'view' AND t2 = 'purchase')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches, min(ts_us) AS first_match_ts
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_topk_windowed" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT ws, event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type) AS rnk
        |  FROM c)
        |WHERE rnk <= 2 ORDER BY ws, rnk""".stripMargin,
    "func_variant" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
        |       json_extract_string(props, '$.k') AS k_str,
        |       CAST(json_extract(props, '$.zzz') AS BIGINT) AS missing
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,
    "stream_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type,
        |       CAST(count(*) AS BIGINT) AS n, ${moneySumCentsSql("value")} AS sum_v
        |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "stream_sliding" ->
      s"""WITH e AS (SELECT (epoch_us(ts) // 1000000 // 1800) * 1800 AS w0, event_type, value
        |           FROM events),
        |x AS (SELECT w0 - 1800 * k AS ws_epoch, event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT ws_epoch, event_type, CAST(count(*) AS BIGINT) AS n,
        |       ${moneySumCentsSql("value")} AS sum_v
        |FROM x GROUP BY ws_epoch, event_type ORDER BY ws_epoch, event_type""".stripMargin,
    "stream_session" ->
      s"""$SessionCteSql
         |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
         |       min(ts_us) AS session_start, max(ts_us) AS session_end
         |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "stream_session_window" ->
      s"""$SessionCteSql
         |SELECT user_id, min(ts_us) AS session_start, CAST(count(*) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,
    "stream_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |                  row_number() OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY epoch_us(ts), event_id) AS rn
        |           FROM events)
        |SELECT event_id, user_id, event_type, ts_us
        |FROM e WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "stream_join" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS v_ts FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, epoch_us(ts) AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM v JOIN p ON v.user_id = p.user_id
        |WHERE p.p_ts >= v.v_ts AND p.p_ts - v.v_ts <= 3600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin
  )
}

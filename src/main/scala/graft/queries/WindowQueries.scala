package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, QueryGroup, Tables}

/** Window operators W1–W3 (SURVEY §2.5; W1 in AggQueries, W2 in
  * JoinQueries.conflictTopk) + analytic lag/lead and the streaming
  * flagship aggregation in its batch form (same plan, bounded input).
  */
object WindowQueries extends QueryGroup {

  import Tables.load

  /** W3 — top-2 per group by rank (fuzzy top-2, create_sheets.py:47-50). */
  def rankTopk(spark: SparkSession, dir: String): DataFrame = {
    val customer = load(spark, dir, "customer")
    val w = Window.partitionBy($"c_nationkey").orderBy(desc("c_acctbal"), $"c_custkey")
    customer.withColumn("rnk", rank().over(w))
      .where($"rnk" <= 2)
      .select($"c_nationkey", $"rnk", $"c_custkey", round($"c_acctbal", 2).as("acctbal"))
      .orderBy($"c_nationkey", $"rnk", $"c_custkey")
  }

  private val rankTopkSql =
    """SELECT c_nationkey, rnk, c_custkey, round(c_acctbal, 2) AS acctbal
      |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
      |             rank() OVER (PARTITION BY c_nationkey
      |                          ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |      FROM customer)
      |WHERE rnk <= 2 ORDER BY c_nationkey, rnk, c_custkey""".stripMargin

  /** Analytic lag/lead over event time per user (free with the window
    * layer; unused in the reference but part of the engine surface). */
  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").where($"user_id" < 10)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    ev.select($"user_id", $"event_id", $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"value", 1).over(w).as("next_value"),
        round($"value" - lag($"value", 1).over(w), 2).as("delta"))
      .orderBy($"user_id", $"event_id")
  }

  private val lagLeadSql =
    """SELECT user_id, event_id, value,
      |       lag(value, 1) OVER w AS prev_value,
      |       lead(value, 1) OVER w AS next_value,
      |       round(value - lag(value, 1) OVER w, 2) AS delta
      |FROM events WHERE user_id < 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** ST1 — tumbling-window arrival counts (the §2.10 streaming flagship,
    * batch form). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  private val tumblingWindowSql =
    """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |       event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Session windows over the event stream (the windowing mode tumbling
    * can't express: data-driven boundaries). Batch form of
    * `session_window(ts, gap)`; the identical aggregation drops into a
    * streaming readStream → withWatermark → groupBy(session_window)
    * plan. Oracle = classic gaps-and-islands (lag + cumulative sum).
    * Boundary semantics: Spark opens a NEW session when the gap is
    * >= the timeout (event must land strictly inside last_ts + gap to
    * extend), so the oracle's island-break predicate is `>=`, not `>`. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total_value"))
      .select($"user_id", $"w.start".as("session_start"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  private val sessionWindowSql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                >= INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |islands AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |       round(sum(value), 2) AS total_value
      |FROM islands GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Sliding (hopping) windows: each event lands in width/slide
    * overlapping windows — the third windowing mode next to tumbling
    * and session. Oracle: every event expands to its 4 member windows
    * via generate_series on the slide grid (window starts in
    * (t − width, t] are exactly the slide multiples from
    * floor_slide(t) − (width − slide) to floor_slide(t)). */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type")
  }

  private val slidingWindowSql =
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |expanded AS (
      |  SELECT unnest(generate_series(
      |           time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '45 minutes',
      |           time_bucket(INTERVAL '15 minutes', ts),
      |           INTERVAL '15 minutes')) AS window_start,
      |         event_type, value
      |  FROM e)
      |SELECT window_start, event_type, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM expanded GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** W5 — per-group top-k via the bounded-buffer Aggregator
    * ([[graft.ops.TopK]]): partial buffers hold ≤ k entries, so the
    * map-side combine prunes every partition to k rows per group
    * BEFORE the shuffle. The ORACLE uses the window row_number
    * formulation — independent shape, same answer (shuffle economics
    * of both shapes measured in MetricsSpec). */
  def topKGroups(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.topKPerGroup(load(spark, dir, "events"),
        Seq("event_type"), "value", "event_id", k = 3)
      .orderBy($"event_type", $"rnk")

  private val topKGroupsSql =
    """SELECT event_type, rnk, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id) AS rnk
      |  FROM events WHERE value IS NOT NULL)
      |WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin

  /** ST4 — interval join (batch form of the stream-stream time-range
    * join): each click attributed to every view by the same user within
    * the preceding 6 hours. The streaming variant is
    * StreamingIngest.intervalJoin with watermarks on BOTH sides — the
    * two-sided time bound is what makes join state evictable on
    * unbounded streams (parity-tested in StreamingSpec). Batch plan:
    * equi-join on user_id with the range as residual filter — hash
    * join, never a nested loop. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    graft.streaming.StreamingIngest.intervalJoin(
        views, clicks, "user_id", "view_ts", "click_ts", "6 hours")
      .select($"user_id", $"view_id", $"click_id", $"view_ts", $"click_ts",
        expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000")
          .as("delay_sec"))
      .orderBy($"view_id", $"click_id")
  }

  private val intervalJoinSql =
    """WITH v AS (SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
      |           FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
      |      FROM events WHERE event_type = 'click')
      |SELECT v.user_id, v.view_id, c.click_id, v.view_ts, c.click_ts,
      |       (epoch_us(c.click_ts) - epoch_us(v.view_ts)) // 1000000 AS delay_sec
      |FROM v JOIN c ON v.user_id = c.user_id
      |  AND c.click_ts >= v.view_ts
      |  AND c.click_ts <= v.view_ts + INTERVAL 6 HOUR
      |ORDER BY view_id, click_id""".stripMargin

  /** A10 — max group size bookkeeping (highest_len_files,
    * create_sheets_ultimate.py:387-419). */
  def maxGroupSize(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
      .agg(max($"n").as("max_files"), min($"n").as("min_files"),
        round(avg($"n"), 4).as("avg_files"))

  private val maxGroupSizeSql =
    """SELECT max(n) AS max_files, min(n) AS min_files, round(avg(n), 4) AS avg_files
      |FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey)""".stripMargin

  /** AS-OF join: each error event matched to the user's latest click at
    * or before it. The Spark side is the union + carry-forward window
    * (one keyed shuffle, no candidate-pair explosion); the oracle is
    * DuckDB's NATIVE `ASOF LEFT JOIN` — two completely independent
    * formulations of the operator, hash-matched. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val errors = ev.where($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts", $"value")
    graft.ops.AsofJoin.asofBackward(errors, clicks, Seq("user_id"), "ts",
        rightPrefix = "click_")
      .orderBy($"event_id")
  }

  private val asofJoinSql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'error'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'click')
      |SELECT e.event_id, e.user_id, e.ts, e.value,
      |       c.ts AS click_ts, c.value AS click_value
      |FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND c.ts <= e.ts
      |ORDER BY e.event_id""".stripMargin

  /** J30 — FORWARD as-of join ([[graft.ops.AsofJoin.asofForward]]):
    * each signup matched to the user's NEXT purchase at or after it —
    * the time-to-convert primitive (backward j17 answers "what
    * preceded", forward answers "what happened next"). Same one-
    * shuffle union+window shape, carry running forward; oracle is
    * DuckDB's native ASOF with the inequality flipped. */
  def asofForwardQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val signups = ev.where($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    graft.ops.AsofJoin.asofForward(signups, purchases, Seq("user_id"), "ts",
        rightPrefix = "buy_")
      .orderBy($"event_id")
  }

  private val asofForwardSql =
    """WITH s AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'signup'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT s.event_id, s.user_id, s.ts,
      |       p.ts AS buy_ts, p.value AS buy_value
      |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND p.ts >= s.ts
      |ORDER BY s.event_id""".stripMargin

  /** The NATIVE as-of join (custom LogicalPlan + Strategy + physical
    * merge operator — the whole-operator extension rung) on the same
    * inputs as j17: identical semantics through a completely different
    * execution path, hash-matched against DuckDB's native ASOF JOIN.
    * The left side filters to high-value errors so the two asof rows
    * differ and a copy-paste of either would fail its oracle. */
  def asofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val errors = ev.where($"event_type" === "error" && $"value" >= 10.0)
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts", $"value")
    graft.plans.AsofJoinNative.asofBackward(errors, clicks, Seq("user_id"),
        "ts", rightPrefix = "click_",
        // pin the co-partitioned MERGE shape: this query exists to
        // exercise the ClusteredDistribution exec; j32 covers broadcast
        broadcastRight = Some(false))
      .orderBy($"event_id")
  }

  private val asofNativeSql =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'error' AND value >= 10.0),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'click')
      |SELECT e.event_id, e.user_id, e.ts, e.value,
      |       c.ts AS click_ts, c.value AS click_value
      |FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND c.ts <= e.ts
      |ORDER BY e.event_id""".stripMargin

  /** j32 — the BROADCAST native as-of join
    * ([[graft.plans.BroadcastAsofJoinExec]]): each purchase attributed
    * to the user's latest signup at or before it (account
    * re-registration attribution). The signup history is a
    * dimension-sized build side, so the physical shape is the one a
    * 100 TB deployment needs — the probe side never exchanges OR
    * sorts; the dimension ships once per executor (plan-pinned in
    * AsofNativeSpec). Same hash gate as every asof: DuckDB's native
    * ASOF LEFT JOIN. */
  def asofBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val signups = ev.where($"event_type" === "signup")
      .select($"user_id", $"ts", $"value")
    graft.plans.AsofJoinNative.asofBackward(purchases, signups,
        Seq("user_id"), "ts", rightPrefix = "su_",
        broadcastRight = Some(true))
      .orderBy($"event_id")
  }

  private val asofBroadcastSql =
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |           FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'signup')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |       s.ts AS su_ts, s.value AS su_value
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Pure range join (no equi key): clicks falling inside 10-minute
    * incident windows opened by high-value errors. The Spark side is the
    * bucket-equi formulation (hash join, no nested loop — plan pinned in
    * RangeJoinSpec); the oracle is the plain BETWEEN inequality join. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val windows = ev.where($"event_type" === "error" && $"value" >= 19.0)
      .select($"event_id".as("incident_id"), $"ts".as("w_start"),
        ($"ts" + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"ts")
    graft.ops.RangeJoin.pointInInterval(clicks, windows,
        "ts", "w_start", "w_end", bucketSeconds = 600L)
      .select($"event_id", $"incident_id")
      .orderBy($"event_id", $"incident_id")
  }

  private val rangeJoinSql =
    """WITH w AS (
      |  SELECT event_id AS incident_id, CAST(ts AS TIMESTAMP) AS s,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e
      |  FROM events WHERE event_type = 'error' AND value >= 19.0),
      |c AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'click')
      |SELECT c.event_id, w.incident_id
      |FROM c JOIN w ON c.ts BETWEEN w.s AND w.e
      |ORDER BY event_id, incident_id""".stripMargin

  /** Range-frame trailing window: per-user sum/count of the TRAILING
    * 10 minutes at every event (RANGE frame over integer epoch seconds,
    * so ties at the same second include all peers deterministically).
    * Values ride as q4 fixed-point longs — the windowed sum is exact
    * integer arithmetic both engines reproduce bit-for-bit. One
    * exchange (hash on user_id), then narrow sorted-slice window work —
    * the rolling-feature shape as it should look at scale. */
  def rangeTrailing(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").where($"user_id" % 25 === 0)
      .select($"user_id", $"event_id",
        expr("unix_micros(ts) div 1000000").as("es"),
        floor($"value" * lit(10000.0)).cast("long").as("v_q4"))
    val w = Window.partitionBy($"user_id").orderBy($"es").rangeBetween(-600, 0)
    ev.select($"user_id", $"event_id", $"es",
        sum($"v_q4").over(w).as("trail_sum_q4"),
        count(lit(1)).over(w).as("trail_cnt"))
      .orderBy($"user_id", $"event_id")
  }

  private val rangeTrailingSql =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4
      |  FROM events WHERE user_id % 25 = 0)
      |SELECT user_id, event_id, es,
      |       (sum(v_q4) OVER w)::BIGINT AS trail_sum_q4,
      |       (count(*) OVER w)::BIGINT AS trail_cnt
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** J20 — interval × interval overlap join (error incident windows ×
    * click activity windows): bucket-quantized on both sides, pair kept
    * only in its overlap-start bucket — complete, duplicate-free, never
    * a nested loop (RangeJoinSpec pins the plan). */
  def intervalOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val a = ev
      .where($"event_type" === "error" && $"value" >= 45.0 && $"user_id" % 5 === 0)
      .select($"event_id".as("incident_id"), $"ts".as("a_start"),
        ($"ts" + expr("INTERVAL 10 MINUTES")).as("a_end"))
    val b = ev.where($"event_type" === "click" && $"value" >= 45.0)
      .select($"event_id".as("click_id"), $"ts".as("b_start"),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("b_end"))
    graft.ops.RangeJoin.intervalOverlap(a, b,
        "a_start", "a_end", "b_start", "b_end", bucketSeconds = 600L)
      .select($"incident_id", $"click_id")
      .orderBy($"incident_id", $"click_id")
  }

  private val intervalOverlapSql =
    """WITH a AS (
      |  SELECT event_id AS incident_id, CAST(ts AS TIMESTAMP) AS s,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 10 MINUTE AS e
      |  FROM events
      |  WHERE event_type = 'error' AND value >= 45.0 AND user_id % 5 = 0),
      |b AS (
      |  SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS s2,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e2
      |  FROM events WHERE event_type = 'click' AND value >= 45.0)
      |SELECT a.incident_id, b.click_id
      |FROM a JOIN b ON a.s <= b.e2 AND b.s2 <= a.e
      |ORDER BY incident_id, click_id""".stripMargin

  /** J31 — the NATIVE keyed interval-overlap join
    * ([[graft.plans.IntervalJoinNative]]: custom LogicalPlan + Strategy
    * + merge-sweep physical operator, the second whole-operator
    * extension): per-user error windows × click windows — j20's shape
    * but KEYED (and on different filters, so neither answer reuses the
    * other's). The oracle is the plain relational overlap join. */
  def intervalNativeQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val a = ev.where($"event_type" === "error" && $"value" >= 20.0)
      .select($"event_id".as("incident_id"), $"user_id", $"ts".as("a_start"),
        ($"ts" + expr("INTERVAL 30 MINUTES")).as("a_end"))
    val b = ev.where($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("b_start"),
        ($"ts" + expr("INTERVAL 15 MINUTES")).as("b_end"))
    graft.plans.IntervalJoinNative.overlapJoin(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", rightPrefix = "r_",
        // pin the co-partitioned merge sweep; j33 covers broadcast
        broadcastRight = Some(false))
      .select($"incident_id", $"user_id", $"r_click_id".as("click_id"))
      .orderBy($"incident_id", $"click_id")
  }

  private val intervalNativeSql =
    """WITH a AS (
      |  SELECT event_id AS incident_id, user_id, CAST(ts AS TIMESTAMP) AS s,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e
      |  FROM events WHERE event_type = 'error' AND value >= 20.0),
      |b AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS s2,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 15 MINUTE AS e2
      |  FROM events WHERE event_type = 'click')
      |SELECT a.incident_id, a.user_id, b.click_id
      |FROM a JOIN b ON a.user_id = b.user_id
      |             AND a.s <= b.e2 AND b.s2 <= a.e
      |ORDER BY incident_id, click_id""".stripMargin

  /** j33 — the BROADCAST native interval join
    * ([[graft.plans.BroadcastIntervalJoinExec]]): low-value click
    * activity windows probed against a DIMENSION-sized table of severe
    * incident windows — the 100 TB shape (huge stream × small window
    * table): the probe side never exchanges or sorts, the incident
    * table ships once per executor, and each task probes a start-sorted
    * prefix-max-end index. Filters differ from j20/j31 so no answer is
    * reusable. */
  def intervalBroadcastQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val clicks = ev.where($"event_type" === "click" && $"value" < 30.0)
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("c_start"),
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("c_end"))
    val incidents = ev.where($"event_type" === "error" && $"value" >= 40.0
        && $"user_id" % 3 === 0)
      .select($"event_id".as("incident_id"), $"user_id",
        $"ts".as("i_start"), ($"ts" + expr("INTERVAL 20 MINUTES")).as("i_end"))
    graft.plans.IntervalJoinNative.overlapJoin(clicks, incidents,
        Seq("user_id"), "c_start", "c_end", "i_start", "i_end",
        rightPrefix = "r_", broadcastRight = Some(true))
      .select($"click_id", $"user_id", $"r_incident_id".as("incident_id"))
      .orderBy($"click_id", $"incident_id")
  }

  private val intervalBroadcastSql =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS s,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
      |  FROM events WHERE event_type = 'click' AND value < 30.0),
      |i AS (
      |  SELECT event_id AS incident_id, user_id, CAST(ts AS TIMESTAMP) AS s2,
      |         CAST(ts AS TIMESTAMP) + INTERVAL 20 MINUTE AS e2
      |  FROM events WHERE event_type = 'error' AND value >= 40.0
      |        AND user_id % 3 = 0)
      |SELECT c.click_id, c.user_id, i.incident_id
      |FROM c JOIN i ON c.user_id = i.user_id
      |             AND c.s <= i.e2 AND i.s2 <= c.e
      |ORDER BY click_id, incident_id""".stripMargin

  /** J21 — NEAREST as-of join: each error matched to its nearest click
    * within ±5 minutes per user (|Δt| minimized, ties → earlier). One
    * keyed shuffle, zero join operators; the oracle composes DuckDB's
    * native backward and forward ASOF joins and picks the nearer — an
    * independent formulation. */
  def asofNearestQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val errs = ev.where($"event_type" === "error" && $"user_id" % 10 === 0)
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"))
    graft.ops.AsofJoin.asofNearest(errs, clicks, Seq("user_id"), "ts",
        maxGapSeconds = 300L)
      .select($"event_id", $"user_id", $"r_click_id", $"r_ts")
      .orderBy($"event_id")
  }

  private val asofNearestSql =
    """WITH l AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |  WHERE event_type = 'error' AND user_id % 10 = 0),
      |r AS (
      |  SELECT user_id AS r_uid, event_id AS click_id,
      |         CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT l.event_id, l.user_id, l.ts, r.click_id AS b_id, r.cts AS b_ts
      |  FROM l ASOF LEFT JOIN r ON l.user_id = r.r_uid AND l.ts >= r.cts),
      |f AS (
      |  SELECT l.event_id, r.click_id AS f_id, r.cts AS f_ts
      |  FROM l ASOF LEFT JOIN r ON l.user_id = r.r_uid AND l.ts <= r.cts),
      |j AS (SELECT b.event_id, b.user_id, b.ts, b.b_id, b.b_ts, f.f_id, f.f_ts
      |      FROM b JOIN f USING (event_id)),
      |p AS (
      |  SELECT event_id, user_id,
      |    CASE
      |      WHEN b_ts IS NOT NULL
      |           AND epoch_us(ts) - epoch_us(b_ts) <= 300000000
      |           AND (f_ts IS NULL
      |                OR epoch_us(f_ts) - epoch_us(ts) > 300000000
      |                OR epoch_us(ts) - epoch_us(b_ts)
      |                   <= epoch_us(f_ts) - epoch_us(ts))
      |      THEN b_id
      |      WHEN f_ts IS NOT NULL
      |           AND epoch_us(f_ts) - epoch_us(ts) <= 300000000
      |      THEN f_id END AS r_click_id,
      |    CASE
      |      WHEN b_ts IS NOT NULL
      |           AND epoch_us(ts) - epoch_us(b_ts) <= 300000000
      |           AND (f_ts IS NULL
      |                OR epoch_us(f_ts) - epoch_us(ts) > 300000000
      |                OR epoch_us(ts) - epoch_us(b_ts)
      |                   <= epoch_us(f_ts) - epoch_us(ts))
      |      THEN b_ts
      |      WHEN f_ts IS NOT NULL
      |           AND epoch_us(f_ts) - epoch_us(ts) <= 300000000
      |      THEN f_ts END AS r_ts
      |  FROM j)
      |SELECT event_id, user_id, r_click_id, r_ts
      |FROM p ORDER BY event_id""".stripMargin

  /** W7 — distribution-position analytics: quartile bucket (ntile) and
    * exact percent_rank of each order's price within its priority
    * class. Both are single partitioned-window functions (the window
    * partitions on the group key — every partition does its share, no
    * global sort); percent_rank's (rank−1)∕(n−1) divides the same exact
    * integers in both engines. */
  /** W8 — value-position windows with null skipping: first / last /
    * nth_value IGNORE NULLS over each user's timeline (the sparse
    * v_q4 channel makes the null-skip semantics live — ~1/3 of rows
    * carry no value), plus lead-with-default. The cumulative default
    * frame (first_v is null until the first non-null arrives) and the
    * explicit full frame (last_v/second_v) are both pinned. */
  def valueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(spark, dir, "events")
      .select($"user_id", $"event_id", $"ts", $"event_type",
        when(get_json_object($"props", "$.k").cast("long") % 3 =!= 0,
          floor($"value" * 10000.0).cast("long")).as("v_q4"))
      .select($"user_id", $"event_id",
        first($"v_q4", ignoreNulls = true).over(w).as("first_v"),
        last($"v_q4", ignoreNulls = true).over(wf).as("last_v"),
        nth_value($"v_q4", 2, ignoreNulls = true).over(wf).as("second_v"),
        lead($"event_type", 1, "END").over(w).as("next_type"))
      .orderBy($"user_id", $"event_id")
  }

  private val valueWindowsSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |         CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 != 0
      |              THEN floor(value * 10000.0::DOUBLE)::BIGINT END AS v_q4
      |  FROM events)
      |SELECT user_id, event_id,
      |       first_value(v_q4 IGNORE NULLS) OVER w AS first_v,
      |       last_value(v_q4 IGNORE NULLS) OVER
      |         (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
      |       nth_value(v_q4, 2 IGNORE NULLS) OVER
      |         (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v,
      |       lead(event_type, 1, 'END') OVER w AS next_type
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  def ntilePctRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    load(spark, dir, "orders")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .select($"o_orderkey", $"o_orderpriority", $"quartile",
        round($"pct_rank", 6).as("pct_rank"))
      .orderBy($"o_orderkey")
  }

  private val ntilePctRankSql =
    """SELECT o_orderkey, o_orderpriority,
      |       ntile(4) OVER w AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("j21_asof_nearest", asofNearestQ, Some(asofNearestSql)),
    QueryDef("j20_interval_overlap", intervalOverlapQ, Some(intervalOverlapSql)),
    QueryDef("j31_interval_native", intervalNativeQ, Some(intervalNativeSql)),
    QueryDef("j33_interval_broadcast", intervalBroadcastQ,
      Some(intervalBroadcastSql)),
    QueryDef("w3_rank_topk", rankTopk, Some(rankTopkSql)),
    QueryDef("w4_lag_lead", lagLead, Some(lagLeadSql)),
    QueryDef("w6_range_trailing", rangeTrailing, Some(rangeTrailingSql)),
    QueryDef("w7_ntile_pctrank", ntilePctRank, Some(ntilePctRankSql)),
    QueryDef("w8_value_windows", valueWindows, Some(valueWindowsSql)),
    QueryDef("w5_topk_groups", topKGroups, Some(topKGroupsSql)),
    QueryDef("j17_asof_join", asofJoin, Some(asofJoinSql)),
    QueryDef("j30_asof_forward", asofForwardQ, Some(asofForwardSql)),
    QueryDef("j26_asof_native", asofNative, Some(asofNativeSql)),
    QueryDef("j32_asof_broadcast", asofBroadcast, Some(asofBroadcastSql)),
    QueryDef("j18_range_join", rangeJoin, Some(rangeJoinSql)),
    QueryDef("st1_tumbling_window", tumblingWindow, Some(tumblingWindowSql)),
    QueryDef("st2_session_window", sessionWindow, Some(sessionWindowSql)),
    QueryDef("st3_sliding_window", slidingWindow, Some(slidingWindowSql)),
    QueryDef("st4_interval_join", intervalJoin, Some(intervalJoinSql)),
    QueryDef("a10_max_group_size", maxGroupSize, Some(maxGroupSizeSql)))
}

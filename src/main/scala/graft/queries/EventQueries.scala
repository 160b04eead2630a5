package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, QueryGroup, Tables}
import graft.ext.ScopedPersist
import graft.ops.{Journeys, Resample}

/** Event-journey analytics (bonus surface): ordered funnels and weekly
  * cohort retention over the events table. The oracles use a DIFFERENT
  * formulation than the engine (chained relational mins / date_diff
  * arithmetic vs the sorted-array state machine), so a hash match pins
  * the semantics, not a replay. */
object EventQueries extends QueryGroup {

  private def load(spark: SparkSession, dir: String, t: String) =
    Tables.load(spark, dir, t)

  /** view → click → purchase chained-earliest funnel per user. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    Journeys.funnel(load(spark, dir, "events"),
        Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))

  private val funnelSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM ev)
      |SELECT u.user_id,
      |  (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END +
      |   CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END +
      |   CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END)::INT AS stage,
      |  s1.t1, s2.t2, s3.t3
      |FROM u
      |LEFT JOIN s1 ON u.user_id = s1.user_id
      |LEFT JOIN s2 ON u.user_id = s2.user_id
      |LEFT JOIN s3 ON u.user_id = s3.user_id
      |ORDER BY u.user_id""".stripMargin

  /** Weekly cohort retention (first-event week × active-week offset). */
  def retention(spark: SparkSession, dir: String): DataFrame =
    Journeys.retention(load(spark, dir, "events"))
      .orderBy(col("cohort_week"), col("week_offset"))

  private val retentionSql =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP)))::DATE
      |           AS cohort_week
      |  FROM events GROUP BY 1),
      |a AS (
      |  SELECT DISTINCT e.user_id, f.cohort_week,
      |         (date_diff('day', f.cohort_week,
      |                    CAST(e.ts AS TIMESTAMP)::DATE) // 7)::BIGINT
      |           AS week_offset
      |  FROM events e JOIN f USING (user_id))
      |SELECT cohort_week::TIMESTAMP AS cohort_week, week_offset,
      |       count(*)::BIGINT AS n_users
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-filled hourly resample with forward-fill (ops.Resample): every
    * user gets a complete hour grid over their own [first, last]
    * bucket, observed buckets carry count + last value, gap buckets
    * carry the most recent value forward. The oracle fills via DuckDB's
    * NATIVE ASOF JOIN (grid row → latest observed bucket at-or-before) —
    * an independent formulation of carry-forward, so the hash match
    * pins the semantics, not a replay. */
  def gapFill(spark: SparkSession, dir: String): DataFrame =
    Resample.gapFill(
        load(spark, dir, "events").where(col("user_id") % 50 === 0),
        bucketSeconds = 3600L)
      .orderBy(col("user_id"), col("b"))

  private val gapFillSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4
      |  FROM events WHERE user_id % 50 = 0),
      |r AS (
      |  SELECT user_id, b, v_q4,
      |         row_number() OVER (PARTITION BY user_id, b
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM e),
      |c AS (SELECT user_id, b, count(*)::BIGINT AS n_events
      |      FROM e GROUP BY user_id, b),
      |ob AS (
      |  SELECT r.user_id, r.b, c.n_events, r.v_q4 AS last_q4
      |  FROM r JOIN c USING (user_id, b) WHERE r.rn = 1),
      |g AS (
      |  SELECT user_id, unnest(range(mn, mx + 1)) AS b
      |  FROM (SELECT user_id, min(b) AS mn, max(b) AS mx
      |        FROM ob GROUP BY user_id)),
      |f AS (
      |  SELECT g.user_id, g.b, ob.last_q4 AS filled_q4
      |  FROM g ASOF LEFT JOIN ob
      |    ON g.user_id = ob.user_id AND g.b >= ob.b)
      |SELECT f.user_id, f.b,
      |       coalesce(o2.n_events, 0)::BIGINT AS n_events,
      |       o2.last_q4, f.filled_q4
      |FROM f LEFT JOIN ob o2 ON f.user_id = o2.user_id AND f.b = o2.b
      |ORDER BY f.user_id, f.b""".stripMargin

  /** Markov transition matrix over event types: adjacent-pair counts
    * per user order plus row-normalized probabilities in basis points.
    * One user-keyed window shuffle, then a ≤ |types|² aggregate with
    * broadcast row totals. */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    Journeys.transitions(load(spark, dir, "events"))
      .orderBy(col("from_type"), col("to_type"))

  private val transitionsSql =
    """WITH p AS (
      |  SELECT user_id, event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, next_type AS to_type,
      |             count(*) AS n
      |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS tt FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n::BIGINT AS n,
      |       floor(10000.0::DOUBLE * c.n / t.tt)::BIGINT AS p_bp
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** Sessionization with ordinals: 30-minute-gap sessions per user,
    * numbered in time order, with count/start/end/duration — the
    * session-timeline complement of st2's session_window aggregation. */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    Journeys.sessions(
        load(spark, dir, "events").where(col("user_id") % 25 === 0),
        gapSeconds = 1800L)
      .orderBy(col("user_id"), col("session_idx"))

  private val sessionsSql =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es
      |  FROM events WHERE user_id % 25 = 0),
      |f AS (
      |  SELECT user_id, event_id, es,
      |         CASE WHEN es - lag(es) OVER w <= 1800 THEN 0 ELSE 1 END AS nw
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
      |s AS (
      |  SELECT user_id, es,
      |         sum(nw) OVER (PARTITION BY user_id ORDER BY es, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM f)
      |SELECT user_id, session_idx::BIGINT AS session_idx,
      |       count(*)::BIGINT AS n_events,
      |       min(es)::BIGINT AS start_es, max(es)::BIGINT AS end_es,
      |       (max(es) - min(es))::BIGINT AS duration_s
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Time-weighted average value per user — the irregular-series mean
    * where each value is weighted by how long it HELD (step-function
    * integral over the user's own span), in all-integer q4 arithmetic. */
  def twa(spark: SparkSession, dir: String): DataFrame =
    Resample.timeWeightedAvg(load(spark, dir, "events"))
      .orderBy(col("user_id"))

  private val twaSql =
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4
      |  FROM events),
      |d AS (
      |  SELECT user_id, es, v_q4,
      |         lead(es) OVER (PARTITION BY user_id
      |           ORDER BY es, event_id) - es AS dt
      |  FROM e)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |       min(es)::BIGINT AS start_es, max(es)::BIGINT AS end_es,
      |       CASE WHEN max(es) > min(es)
      |            THEN sum(v_q4 * dt) // (max(es) - min(es)) END::BIGINT
      |         AS twa_q4
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Trailing-window anomaly detection: each event judged against its
    * user's last 20 observations (≥ 5 required), flagged beyond 3
    * standard deviations — exact integer co-moments, floats only in
    * the final squared comparison (the corrOls determinism contract). */
  def anomaly(spark: SparkSession, dir: String): DataFrame =
    Resample.anomalies(load(spark, dir, "events"),
        window = 20, minObs = 5, k = 3)
      .orderBy(col("event_id"))

  /** CUSUM changepoint per event type: the day where the cumulative
    * n-scaled deviation peaks — the most likely single level shift in
    * the daily volume, with the exact per-day mean shift in signed q4. */
  def changepointQ(spark: SparkSession, dir: String): DataFrame =
    Resample.changepoint(load(spark, dir, "events"))
      .orderBy(col("event_type"))

  private val changepointSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |st AS (SELECT g, count(*)::BIGINT AS n, sum(c)::BIGINT AS s
      |       FROM ser GROUP BY g),
      |k AS (
      |  SELECT ser.g, ser.d, st.n, st.s,
      |         row_number() OVER w AS t,
      |         (st.n * sum(ser.c) OVER w
      |            - row_number() OVER w * st.s)::BIGINT AS kt
      |  FROM ser JOIN st ON ser.g = st.g
      |  WINDOW w AS (PARTITION BY ser.g ORDER BY ser.d
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (
      |  SELECT *, abs(kt) AS kabs,
      |         row_number() OVER (PARTITION BY g
      |           ORDER BY abs(kt) DESC, d) AS rk
      |  FROM k WHERE t < n)
      |SELECT g AS event_type, n AS n_days, d AS cp_day, kabs AS k_abs,
      |       ((10000 * kt) // (t * (n - t)))::BIGINT AS shift_q4
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** Watermark-sizing dry run: per event type, the share of events at
    * each lateness band (running-max event time vs own event time in
    * ingest order) — what `withWatermark` would silently drop at each
    * candidate delay. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame =
    Journeys.latenessAudit(load(spark, dir, "events"))
      .orderBy(col("event_type"), col("band_rank"))

  private val latenessAuditSql =
    """WITH l AS (
      |  SELECT event_type,
      |         max(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
      |           - epoch_us(CAST(ts AS TIMESTAMP)) AS late
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT event_type,
      |         CASE WHEN late = 0 THEN 0
      |              WHEN late <= 60000000 THEN 1
      |              WHEN late <= 600000000 THEN 2
      |              WHEN late <= 3600000000::BIGINT THEN 3
      |              ELSE 4 END AS band_rank
      |  FROM l),
      |c AS (SELECT event_type, band_rank, count(*) AS n
      |      FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, sum(n) AS tot FROM c GROUP BY 1)
      |SELECT c.event_type, c.band_rank::BIGINT AS band_rank,
      |       (['on-time', '<=1m', '<=10m', '<=1h', '>1h'])[c.band_rank + 1]
      |         AS band,
      |       c.n::BIGINT AS n, ((10000 * c.n) // t.tot)::BIGINT AS share_bp
      |FROM c JOIN t ON c.event_type = t.event_type
      |ORDER BY c.event_type, band_rank""".stripMargin

  /** Markov next-event accuracy: train the argmax transition model on
    * the first half of the time range (temporal holdout — random
    * splits leak on autocorrelated streams), score second-half
    * transitions per from-type in exact bp. */
  def markovEval(spark: SparkSession, dir: String): DataFrame =
    Journeys.nextEventAccuracy(load(spark, dir, "events"))
      .orderBy(col("from_type"))

  private val markovEvalSql =
    """WITH b AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |sp AS (SELECT (min(us) + max(us)) // 2 AS sp FROM b),
      |p AS (
      |  SELECT user_id, event_type AS ft, us,
      |         lead(event_type) OVER w AS nt, lead(us) OVER w AS nus
      |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |pp AS (SELECT * FROM p CROSS JOIN sp WHERE nt IS NOT NULL),
      |tr AS (SELECT ft, nt, count(*) AS n FROM pp
      |       WHERE us < sp AND nus < sp GROUP BY ft, nt),
      |model AS (
      |  SELECT ft, nt AS pred FROM (
      |    SELECT ft, nt, row_number() OVER (PARTITION BY ft
      |             ORDER BY n DESC, nt) AS rk FROM tr) WHERE rk = 1),
      |ev AS (SELECT ft, nt FROM pp WHERE us >= sp AND nus >= sp)
      |SELECT ev.ft AS from_type, count(*)::BIGINT AS n_eval,
      |       coalesce(sum(CASE WHEN ev.nt = m.pred THEN 1 END), 0)::BIGINT
      |         AS n_correct,
      |       ((10000 * coalesce(sum(CASE WHEN ev.nt = m.pred THEN 1 END), 0))
      |         // count(*))::BIGINT AS acc_bp
      |FROM ev LEFT JOIN model m ON ev.ft = m.ft
      |GROUP BY ev.ft ORDER BY from_type""".stripMargin

  /** Seasonality readout: lag-1..7 autocorrelation of each event
    * type's dense daily-count series in exact basis points — weekly
    * periodicity shows as a lag-7 peak. Signed deviations divide with
    * plain truncating integer division (identical in both engines;
    * only rounding division diverges on negatives). */
  /** Seasonal-naive (lag-7) daily-count forecast backtest per event
    * type: MAE / bias / sMAPE over the last 14 days of each series. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame =
    Resample.seasonalBacktest(load(spark, dir, "events"),
        season = 7, horizon = 14)
      .orderBy(col("event_type"))

  private val forecastBacktestSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g),
      |grid AS (SELECT g, d0, d1, unnest(range(d0, d1 + 1)) AS d FROM sp),
      |ser AS (
      |  SELECT grid.g, grid.d, grid.d0, grid.d1,
      |         coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |ev AS (
      |  SELECT a.g, a.c, b.c AS f,
      |         CASE WHEN a.c + b.c = 0 THEN 0
      |              ELSE (10000 * abs(a.c - b.c)) // (a.c + b.c)
      |         END AS sm
      |  FROM ser a JOIN ser b ON a.g = b.g AND b.d = a.d - 7
      |  WHERE a.d > a.d1 - 14 AND a.d - 7 >= a.d0)
      |SELECT g AS event_type, count(*)::BIGINT AS n_eval,
      |       ((10000 * sum(abs(c - f))) // count(*))::BIGINT AS mae_q4,
      |       ((10000 * sum(c - f)) // count(*))::BIGINT AS bias_q4,
      |       (sum(sm) // count(*))::BIGINT AS smape_bp
      |FROM ev GROUP BY g ORDER BY event_type""".stripMargin

  def autocorr(spark: SparkSession, dir: String): DataFrame =
    Resample.autocorrelation(load(spark, dir, "events"), maxLag = 7)
      .orderBy(col("event_type"), col("lag"))

  private val autocorrSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |st AS (SELECT g, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
      |              sum(c * c)::BIGINT AS q
      |       FROM ser GROUP BY g),
      |dev AS (
      |  SELECT ser.g, ser.d, st.n * ser.c - st.s AS dev, st.n,
      |         (st.n * st.n * st.q - st.n * st.s * st.s)::BIGINT AS den
      |  FROM ser JOIN st ON ser.g = st.g),
      |pr AS (
      |  SELECT a.g, lg.lag, a.n, a.den, a.dev AS da, b.dev AS db
      |  FROM dev a
      |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) lg
      |  JOIN dev b ON a.g = b.g AND b.d = a.d + lg.lag)
      |SELECT g AS event_type, lag::BIGINT AS lag,
      |       max(n)::BIGINT AS n_days, count(*)::BIGINT AS n_pairs,
      |       CASE WHEN max(den) = 0 THEN NULL
      |            ELSE (10000 * sum(da * db)) // max(den) END::BIGINT AS r_bp
      |FROM pr GROUP BY g, lag ORDER BY event_type, lag""".stripMargin

  private val anomalySql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, v_q4,
      |         count(v_q4) OVER tw AS n,
      |         sum(v_q4) OVER tw AS s,
      |         sum(v_q4 * v_q4) OVER tw AS ss
      |  FROM e WINDOW tw AS (PARTITION BY user_id ORDER BY us, event_id
      |                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, v_q4, n::BIGINT AS w_n,
      |       coalesce(s, 0)::BIGINT AS w_sum_q4,
      |       coalesce(n >= 5 AND
      |         (v_q4 * n - s)::DOUBLE * (v_q4 * n - s)::DOUBLE
      |           > 9.0::DOUBLE * (n * ss - s * s)::DOUBLE,
      |         FALSE) AS is_anomaly
      |FROM w ORDER BY event_id""".stripMargin

  /** Rolling 7-day distinct active users per day (WAU): integer
    * epoch-day windows, deduped (user, day) explode, span-clipped. */
  def rollingActives(spark: SparkSession, dir: String): DataFrame =
    Journeys.rollingActives(load(spark, dir, "events"), windowDays = 7)
      .orderBy(col("day_end"))

  private val rollingActivesSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |mx AS (SELECT max(d) AS mx FROM ud),
      |w AS (SELECT user_id, d + unnest(range(0, 7)) AS day_end FROM ud)
      |SELECT w.day_end, count(DISTINCT w.user_id)::BIGINT AS n_active
      |FROM w CROSS JOIN mx WHERE w.day_end <= mx.mx
      |GROUP BY w.day_end ORDER BY w.day_end""".stripMargin

  /** Week-over-week traffic/value change report with basis-point
    * deltas (floor of one IEEE divide — sign-correct cross-engine). */
  def weekOverWeek(spark: SparkSession, dir: String): DataFrame =
    Journeys.weekOverWeek(load(spark, dir, "events"))
      .orderBy(col("week"))

  private val weekOverWeekSql =
    """WITH wk AS (
      |  SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
      |         count(*)::BIGINT AS n_events,
      |         sum(floor(value * 10000.0::DOUBLE)::BIGINT)::BIGINT AS value_q4
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT week, n_events, value_q4,
      |         lag(n_events) OVER (ORDER BY week) AS prev_n
      |  FROM wk)
      |SELECT week, n_events, value_q4,
      |       (n_events - prev_n)::BIGINT AS delta_n,
      |       floor(10000.0::DOUBLE * (n_events - prev_n) / prev_n)::BIGINT
      |         AS pct_bp
      |FROM d ORDER BY week""".stripMargin

  /** Per-user time-to-convert: first 'purchase' strictly after the
    * first 'view', as an exact microsecond delta (attribution /
    * conversion-latency cohort table; integer epoch micros so the
    * delta hashes cross-engine — epoch seconds would float). */
  def conversionTime(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
    val buys = ev.where(col("event_type") === "purchase")
      .join(views, Seq("user_id"))
      .where(col("ts") > col("fv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"), first(col("fv")).as("fv"))
    buys.select(col("user_id"),
        (unix_micros(col("fp")) - unix_micros(col("fv"))).as("delta_us"))
      .orderBy(col("user_id"))
  }

  private val conversionTimeSql =
    """WITH v AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS fv
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS fp, min(v.fv) AS fv
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > v.fv
      |  GROUP BY e.user_id)
      |SELECT user_id, (epoch_us(fp) - epoch_us(fv))::BIGINT AS delta_us
      |FROM p ORDER BY user_id""".stripMargin

  /** EV11 — last-touch attribution: each purchase's value credited to
    * the user's most recent click/view within 7 days (else 'direct'),
    * rolled up per channel. The Spark side is the as-of carry-forward
    * (one user shuffle, ordered window); the oracle keeps the naive
    * correlated LIMIT-1 probe, independently checking the rewrite. */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Journeys.lastTouchAttribution(load(spark, dir, "events"),
        Seq("click", "view"), "purchase", lookbackSeconds = 7L * 86400)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("attributed_cents"))
      .select(col("channel"), col("n_purchases"), col("attributed_cents"),
        (col("attributed_cents") / 100.0).as("attributed_revenue"))
      .orderBy(col("channel"))

  private val attributionSql =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |         (round(value * 100))::BIGINT AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, event_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events WHERE event_type IN ('click', 'view')),
      |lt AS (
      |  SELECT p.event_id, p.cents,
      |         (SELECT t.event_type FROM t
      |          WHERE t.user_id = p.user_id AND t.us <= p.us
      |            AND p.us - t.us <= 604800000000::BIGINT
      |          ORDER BY t.us DESC, t.event_id DESC LIMIT 1) AS ch
      |  FROM p)
      |SELECT coalesce(ch, 'direct') AS channel,
      |       count(*) AS n_purchases,
      |       (sum(cents))::BIGINT AS attributed_cents,
      |       (sum(cents))::BIGINT / 100.0 AS attributed_revenue
      |FROM lt GROUP BY 1 ORDER BY 1""".stripMargin

  /** EV12 — half-life-decayed popularity per event type: exponential
    * decay as an exact integer right-shift per whole week of age (a
    * float exp() cannot hash-gate), referenced to the data's max
    * timestamp. */
  def decayedPopularity(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Journeys.decayedPopularity(load(spark, dir, "events"),
        halfLifeSeconds = 7L * 86400)
      .orderBy(col("event_type"))

  private val decayedPopularitySql =
    """WITH r AS (
      |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS ref FROM events),
      |e AS (
      |  SELECT event_type, (round(value * 100))::BIGINT AS cents,
      |         least(62, (r.ref - epoch_us(CAST(ts AS TIMESTAMP)))
      |                     // 604800000000::BIGINT) AS w
      |  FROM events, r)
      |SELECT event_type, count(*) AS n_events,
      |       (sum(cents >> w::INTEGER))::BIGINT AS decayed_cents
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** EV13 — top-20 frequent 3-step journeys across users. */
  def frequentPaths(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Journeys.frequentPaths(load(spark, dir, "events"),
      pathLen = 3, k = 20)

  private val frequentPathsSql =
    """WITH s AS (
      |  SELECT user_id,
      |         list(event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
      |              event_id) AS seq
      |  FROM events GROUP BY user_id),
      |p AS (
      |  SELECT unnest(CASE WHEN len(seq) >= 3 THEN
      |           list_transform(range(1, len(seq) - 1),
      |             i -> seq[i] || '>' || seq[i+1] || '>' || seq[i+2])
      |         ELSE []::VARCHAR[] END) AS path
      |  FROM s)
      |SELECT path, count(*) AS n FROM p
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** EV14 — A/B test readout: users split into arms by id parity,
    * conversion = a per-user behavioral predicate (≥14 purchases), and
    * the two-proportion z² statistic. Counts are exact integers; lift
    * is exact bp; z² is ONE double formula over those exact integers
    * written with identical structure in both engines (no pow(), no
    * reordering), so even the float is bit-reproducible. Two hash
    * aggregates — per-user, then per-arm. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val per = load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) >= 14L, 1L).otherwise(0L).as("conv"))
      .select((col("user_id") % 2).as("arm"), col("conv"))
    per.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x1"))
      .select(col("n0"), col("x0"), col("n1"), col("x1"),
        expr("(10000 * x1) div n1 - (10000 * x0) div n0").as("lift_bp"),
        expr(
          """((x1 / cast(n1 AS double) - x0 / cast(n0 AS double)) *
            | (x1 / cast(n1 AS double) - x0 / cast(n0 AS double))) /
            |(((x0 + x1) / cast(n0 + n1 AS double)) *
            | (1.0 - (x0 + x1) / cast(n0 + n1 AS double)) *
            | (1.0 / n0 + 1.0 / n1))""".stripMargin).as("z2"))
  }

  private val abTestSql =
    """WITH per AS (
      |  SELECT user_id % 2 AS arm,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                            THEN 1 ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT (sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END))::BIGINT AS n0,
      |         (sum(CASE WHEN arm = 0 THEN conv ELSE 0 END))::BIGINT AS x0,
      |         (sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END))::BIGINT AS n1,
      |         (sum(CASE WHEN arm = 1 THEN conv ELSE 0 END))::BIGINT AS x1
      |  FROM per)
      |SELECT n0, x0, n1, x1,
      |       ((10000 * x1) // n1 - (10000 * x0) // n0)::BIGINT AS lift_bp,
      |       ((x1 / (n1::DOUBLE) - x0 / (n0::DOUBLE)) *
      |        (x1 / (n1::DOUBLE) - x0 / (n0::DOUBLE))) /
      |       (((x0 + x1) / ((n0 + n1)::DOUBLE)) *
      |        (1.0::DOUBLE - (x0 + x1) / ((n0 + n1)::DOUBLE)) *
      |        (1.0::DOUBLE / n0::DOUBLE + 1.0::DOUBLE / n1::DOUBLE)) AS z2
      |FROM a""".stripMargin

  /** ev50_cuped — CUPED variance reduction (Deng et al., WSDM 2013; the
    * standard experimentation-platform adjustment): each user's
    * post-period purchase count Y is adjusted by their PRE-period
    * activity X — Ycup = 10³·Y − θ_q3·X with the pooled
    * θ = cov(X,Y)∕var(X) as a q3 integer from exact n-scaled
    * co-moments (the [[graft.ops.Moments]] determinism contract) — and
    * the readout sets the raw arm lift, the CUPED lift, and the pooled
    * variance ratio side by side: same estimate, tighter error bars,
    * which is the whole point. The constant θ·X̄ term cancels in the
    * arm DIFFERENCE, so it is never materialized. One user-grain
    * aggregate, two one-row moment frames broadcast back.
    *
    * On THIS synthetic corpus users are homogeneous (pre/post activity
    * correlates ~0.03), so theta lands near 0 and var_ratio_bp near
    * 10^4 — "no reduction available" is the CORRECT readout here, and
    * the hash gate pins the full mechanism that would deliver 20-50%
    * variance cuts on real heterogeneous traffic. */
  def cupedLift(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val span = ev.agg(min(expr("unix_micros(ts) div 86400000000")).as("d0"))
    val per = ev.crossJoin(broadcast(span))
      .select(col("user_id"),
        (expr("unix_micros(ts) div 86400000000") - col("d0")).as("rd"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("rd") < 15, 1L).otherwise(0L)).as("x"),
        sum(when(col("rd") >= 15 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y"))
      .withColumn("arm", col("user_id") % 2)
      // five consumers read the user-grain frame (theta, arms, pooled,
      // and both one-row arm splits) — without the barrier each one
      // re-runs the events scan + aggregate: four redundant passes over
      // the fact table at 100 TB
      .persistScoped
    val theta = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(expr(
        "(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
        .as("theta_q3"))
    val adj = per.crossJoin(broadcast(theta))
      .withColumn("y3", lit(1000L) * col("y"))
      .withColumn("ycup", col("y3") - col("theta_q3") * col("x"))
    val arms = adj.groupBy(col("arm"))
      .agg(count(lit(1)).as("na"), sum(col("y3")).as("sy3"),
        sum(col("ycup")).as("syc"))
    val pooled = adj.agg(count(lit(1)).as("np"),
      sum(col("y3")).as("s3"), sum(col("y3") * col("y3")).as("s33"),
      sum(col("ycup")).as("sc"), sum(col("ycup") * col("ycup")).as("scc"))
    val a0 = arms.where(col("arm") === 0)
      .select(col("na").as("n0"), col("sy3").as("sy30"), col("syc").as("syc0"))
    val a1 = arms.where(col("arm") === 1)
      .select(col("na").as("n1"), col("sy3").as("sy31"), col("syc").as("syc1"))
    a0.crossJoin(a1).crossJoin(broadcast(theta)).crossJoin(broadcast(pooled))
      .select(col("n0"), col("n1"), col("theta_q3"),
        expr("(sy31 div n1) - (sy30 div n0)").as("lift_q3"),
        expr("(syc1 div n1) - (syc0 div n0)").as("lift_cuped_q3"),
        // n·Σ(ycup²) exceeds int64 at ~10× the gate SF (caught by the
        // ScaleGen m10 sweep) — the moment products form in
        // decimal(38,0); the ratio itself is bp-sized
        expr("""CAST((10000 * (CAST(np AS DECIMAL(38,0)) * scc
                - CAST(sc AS DECIMAL(38,0)) * sc))
                div (CAST(np AS DECIMAL(38,0)) * s33
                - CAST(s3 AS DECIMAL(38,0)) * s3) AS BIGINT)""")
          .as("var_ratio_bp"))
  }

  private val cupedLiftSql =
    """WITH d0 AS (
      |  SELECT min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS d0
      |  FROM events),
      |per AS (
      |  SELECT user_id,
      |         sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |                       - d0.d0 < 15 THEN 1 ELSE 0 END)::BIGINT AS x,
      |         sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |                       - d0.d0 >= 15 AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END)::BIGINT AS y,
      |         (user_id % 2)::BIGINT AS arm
      |  FROM events CROSS JOIN d0 GROUP BY user_id),
      |th AS (
      |  SELECT ((1000 * (count(*) * sum(x * y) - sum(x) * sum(y)))
      |            // (count(*) * sum(x * x) - sum(x) * sum(x)))::BIGINT
      |           AS theta_q3
      |  FROM per),
      |adj AS (
      |  SELECT per.arm, 1000 * per.y AS y3,
      |         1000 * per.y - th.theta_q3 * per.x AS ycup
      |  FROM per CROSS JOIN th),
      |arms AS (
      |  SELECT arm, count(*)::BIGINT AS na, sum(y3)::BIGINT AS sy3,
      |         sum(ycup)::BIGINT AS syc
      |  FROM adj GROUP BY arm),
      |pooled AS (
      |  SELECT count(*)::BIGINT AS np, sum(y3)::BIGINT AS s3,
      |         sum(y3 * y3)::BIGINT AS s33, sum(ycup)::BIGINT AS sc,
      |         sum(ycup * ycup)::BIGINT AS scc
      |  FROM adj)
      |SELECT a0.na AS n0, a1.na AS n1, th.theta_q3,
      |       ((a1.sy3 // a1.na) - (a0.sy3 // a0.na))::BIGINT AS lift_q3,
      |       ((a1.syc // a1.na) - (a0.syc // a0.na))::BIGINT AS lift_cuped_q3,
      |       ((10000 * (p.np::HUGEINT * p.scc - p.sc::HUGEINT * p.sc))
      |          // (p.np::HUGEINT * p.s33 - p.s3::HUGEINT * p.s3))::BIGINT
      |         AS var_ratio_bp
      |FROM (SELECT * FROM arms WHERE arm = 0) a0
      |CROSS JOIN (SELECT * FROM arms WHERE arm = 1) a1
      |CROSS JOIN th CROSS JOIN pooled p""".stripMargin

  /** SPRT integer constants, computed ONCE and inlined as literals on
    * both sides (the irrational logs never evaluate inside an engine):
    * H0 p=0.25 vs H1 p=0.35, α = β = 0.05. */
  private val sprtL1 = math.floor(1e6 * math.log(0.35 / 0.25)).toLong
  private val sprtL0 = math.floor(1e6 * math.log(0.65 / 0.75)).toLong
  private val sprtA = math.floor(1e6 * math.log(19.0)).toLong
  private val sprtB = -sprtA

  /** ev49_sprt — Wald's SEQUENTIAL probability ratio test (1945) as a
    * daily conversion monitor: per event type, the cumulative
    * log-likelihood ratio of H1 (p = 0.35) vs H0 (p = 0.25) over the
    * daily Bernoulli outcomes (value ≥ 30), with the first boundary
    * crossing as the decision day — the "stop the experiment early"
    * readout fixed-horizon ev14/ev15 cannot give. LLR increments and
    * boundaries are PRECOMPUTED integer literals (q6), so the whole
    * trajectory is a prefix sum any engine replays exactly.
    *
    * Scale shape: events collapse to (type, day, n, k) map-side first;
    * the prefix sum and crossing argmin are type-partitioned windows
    * over series-sized frames. */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the %19 user panel keeps daily n small enough that the walk takes
    // DAYS to cross — the sequential dynamics are the point; the full
    // firehose would cross any boundary on day one
    val daily = load(spark, dir, "events")
      .where(col("user_id") % 19 === 0)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        when(col("value") >= 30.0, 1L).otherwise(0L).as("y"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.withColumn("llr",
      sum(col("k") * lit(sprtL1) + (col("n") - col("k")) * lit(sprtL0))
        .over(w))
      // two consumers (boundary-crossing argmin + final rollup) — the
      // barrier keeps the events scan single-pass; the cached frame is
      // (type, day)-grain, series-sized
      .persistScoped
    val fc = cum.where(col("llr") >= sprtA || col("llr") <= sprtB)
      .groupBy(col("event_type"))
      .agg(min(struct(col("d"), col("llr"))).as("fc"))
    val fin = cum.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("d"), col("llr"))).as("last"))
    fin.join(fc, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_days"),
        col("fc.d").as("decision_day"),
        when(col("fc.llr") >= sprtA, "h1")
          .when(col("fc.llr") <= sprtB, "h0")
          .otherwise("continue").as("verdict"),
        col("last.llr").as("final_llr"))
      .orderBy(col("event_type"))
  }

  private def sprtMonitorSql =
    s"""WITH daily AS (
       |  SELECT event_type AS g,
       |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
       |         count(*)::BIGINT AS n,
       |         sum(CASE WHEN value >= 30.0 THEN 1 ELSE 0 END)::BIGINT AS k
       |  FROM events WHERE user_id % 19 = 0 GROUP BY 1, 2),
       |cum AS (
       |  SELECT g, d,
       |         (sum(k * $sprtL1 + (n - k) * ($sprtL0))
       |            OVER (PARTITION BY g ORDER BY d
       |                  ROWS UNBOUNDED PRECEDING))::BIGINT AS llr
       |  FROM daily),
       |fc AS (
       |  SELECT g, min(d)::BIGINT AS dd FROM cum
       |  WHERE llr >= $sprtA OR llr <= $sprtB GROUP BY g),
       |fcv AS (
       |  SELECT c.g, c.d, c.llr FROM cum c JOIN fc ON c.g = fc.g AND c.d = fc.dd),
       |fin AS (
       |  SELECT g, count(*)::BIGINT AS n_days,
       |         arg_max(llr, d)::BIGINT AS final_llr
       |  FROM cum GROUP BY g)
       |SELECT fin.g AS event_type, fin.n_days, fcv.d AS decision_day,
       |       CASE WHEN fcv.llr >= $sprtA THEN 'h1'
       |            WHEN fcv.llr <= $sprtB THEN 'h0'
       |            ELSE 'continue' END AS verdict,
       |       fin.final_llr
       |FROM fin LEFT JOIN fcv ON fin.g = fcv.g
       |ORDER BY event_type""".stripMargin

  /** EV15 — bootstrap CI on the A/B lift: the interval on the effect
    * (conversion-rate difference), from arm-paired md5-deterministic
    * resamples. Completes ev14's z² with the error bar a real readout
    * reports. */
  def abLiftCi(spark: SparkSession, dir: String): DataFrame = {
    val per = load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) >= 14L, 1.0).otherwise(0.0).as("conv"))
      .select((col("user_id") % 2).as("arm"), col("user_id"), col("conv"))
    graft.ext.Sampling.bootstrapLiftCi(per, "arm", "user_id", "conv",
      arm0 = "0", arm1 = "1", b = 100)
  }

  private val abLiftCiSql = {
    val wCase = graft.ext.Sampling.BootstrapCum.zipWithIndex
      .map { case (t, i) => s"WHEN u < $t THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${graft.ext.Sampling.BootstrapCum.size} END")
    s"""WITH per AS (
       |  SELECT user_id % 2 AS arm, user_id,
       |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
       |                            THEN 1 ELSE 0 END) >= 14
       |              THEN 1 ELSE 0 END AS conv
       |  FROM events GROUP BY user_id),
       |base AS (
       |  SELECT arm::VARCHAR AS g, user_id::VARCHAR AS id,
       |         (conv * 100)::BIGINT AS cents
       |  FROM per),
       |actual AS (
       |  SELECT g, ((10000 * (sum(cents))::BIGINT) // count(*))::BIGINT AS m
       |  FROM base GROUP BY g),
       |al AS (SELECT (SELECT m FROM actual WHERE g = '1') -
       |              (SELECT m FROM actual WHERE g = '0') AS lift_q4),
       |ex AS (
       |  SELECT g, cents, r.b,
       |         ('0x' || substr(md5(id || '_' || ((r.b + 3) // 4)::VARCHAR),
       |                         (1 + 8 * ((r.b - 1) % 4))::INTEGER,
       |                         8))::BIGINT AS u
       |  FROM base, range(1, 101) r(b)),
       |wts AS (
       |  SELECT g, b, (sum(($wCase) * cents))::BIGINT AS wv,
       |         (sum($wCase))::BIGINT AS sw
       |  FROM ex GROUP BY g, b HAVING sw > 0),
       |means AS (SELECT g, b, ((10000 * wv) // sw)::BIGINT AS m FROM wts),
       |d AS (
       |  SELECT a.m - c.m AS d
       |  FROM means a JOIN means c ON a.b = c.b
       |  WHERE a.g = '1' AND c.g = '0'),
       |ds AS (SELECT list(d ORDER BY d) AS l, count(*) AS n_resamples
       |       FROM d)
       |SELECT al.lift_q4, ds.n_resamples,
       |       ds.l[5] AS lift_lo_q4, ds.l[95] AS lift_hi_q4
       |FROM ds, al""".stripMargin
  }

  /** EV16 — funnel drop-off rates: per stage, users reaching it, share
    * of the population, and conversion from the previous stage — the
    * rollup every funnel dashboard shows. The windows here run over a
    * ≤|stages|+1-row frame (bounded by the funnel definition), so the
    * deliberate single-partition stage is stage-count-sized. */
  def funnelDropoff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one-DAY funnel window: over the table's full history every chain
    // completes and the curve degenerates to one row
    val dayEvents = load(spark, dir, "events")
      .where(col("ts") >= "2024-01-05" && col("ts") < "2024-01-06")
    val byStage = Journeys.funnel(dayEvents,
        Seq("view", "click", "purchase"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_exact"))
    val wCum = Window.orderBy(col("stage").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byStage
      .withColumn("n_reached", sum(col("n_exact")).over(wCum))
      .crossJoin(broadcast(byStage.agg(sum(col("n_exact")).as("n_total"))))
      .withColumn("reach_bp", expr("(10000 * n_reached) div n_total"))
      .withColumn("conv_bp", coalesce(
        expr("(10000 * n_reached) div (lag(n_reached) over (order by stage))"),
        lit(10000L)))
      .select(col("stage"), col("n_exact"), col("n_reached"),
        col("reach_bp"), col("conv_bp"))
      .orderBy(col("stage"))
  }

  private val funnelDropoffSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |    AND CAST(ts AS TIMESTAMP) >= '2024-01-05'
      |    AND CAST(ts AS TIMESTAMP) < '2024-01-06'),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM ev),
      |f AS (
      |  SELECT u.user_id,
      |    (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END +
      |     CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END +
      |     CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS stage
      |  FROM u
      |  LEFT JOIN s1 ON u.user_id = s1.user_id
      |  LEFT JOIN s2 ON u.user_id = s2.user_id
      |  LEFT JOIN s3 ON u.user_id = s3.user_id),
      |st AS (SELECT stage, count(*) AS n_exact FROM f GROUP BY 1),
      |r AS (SELECT stage, n_exact,
      |        (sum(n_exact) OVER (ORDER BY stage DESC
      |           ROWS UNBOUNDED PRECEDING))::BIGINT AS n_reached
      |      FROM st),
      |t AS (SELECT (sum(n_exact))::BIGINT AS n_total FROM st)
      |SELECT stage, n_exact, n_reached,
      |       ((10000 * n_reached) // n_total)::BIGINT AS reach_bp,
      |       coalesce(((10000 * n_reached) //
      |           (lag(n_reached) OVER (ORDER BY stage)))::BIGINT, 10000)
      |         AS conv_bp
      |FROM r, t ORDER BY stage""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("ev16_funnel_dropoff", funnelDropoff, Some(funnelDropoffSql)),
    QueryDef("ev15_ab_lift_ci", abLiftCi, Some(abLiftCiSql)),
    QueryDef("ev14_ab_test", abTest, Some(abTestSql)),
    QueryDef("ev13_frequent_paths", frequentPaths, Some(frequentPathsSql)),
    QueryDef("ev12_decayed_popularity", decayedPopularity,
      Some(decayedPopularitySql)),
    QueryDef("ev11_attribution", attribution, Some(attributionSql)),
    QueryDef("ev10_conversion_time", conversionTime, Some(conversionTimeSql)),
    QueryDef("ev8_rolling_actives", rollingActives, Some(rollingActivesSql)),
    QueryDef("ev9_wow_change", weekOverWeek, Some(weekOverWeekSql)),
    QueryDef("ev1_funnel", funnel, Some(funnelSql)),
    QueryDef("ev2_retention", retention, Some(retentionSql)),
    QueryDef("ev3_gap_fill", gapFill, Some(gapFillSql)),
    QueryDef("ev4_transitions", transitions, Some(transitionsSql)),
    QueryDef("ev5_sessions", sessions, Some(sessionsSql)),
    QueryDef("ev6_twa", twa, Some(twaSql)),
    QueryDef("ev7_anomaly", anomaly, Some(anomalySql)),
    QueryDef("ev17_autocorr", autocorr, Some(autocorrSql)),
    QueryDef("ev18_lateness_audit", latenessAudit, Some(latenessAuditSql)),
    QueryDef("ev20_changepoint", changepointQ, Some(changepointSql)),
    QueryDef("ev19_markov_eval", markovEval, Some(markovEvalSql)),
    QueryDef("ev21_forecast_backtest", forecastBacktest,
      Some(forecastBacktestSql)),
    QueryDef("ev22_rfm", rfm, Some(rfmSql)),
    QueryDef("ev23_trend_theilsen", trendTheilSen, Some(trendTheilSenSql)),
    QueryDef("ev24_cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    QueryDef("ev25_active_time", activeTime, Some(activeTimeSql)),
    QueryDef("ev26_stationary", stationary, Some(stationarySql)),
    QueryDef("ev27_seasonal_anomaly", seasonalAnomaly,
      Some(seasonalAnomalySql)),
    QueryDef("ev28_stickiness", stickiness, Some(stickinessSql)),
    QueryDef("ev29_new_returning", newVsReturning, Some(newVsReturningSql)),
    QueryDef("ev30_ewma", ewmaTrend, Some(ewmaTrendSql)),
    QueryDef("ev47_seasonal_decompose", seasonalDecomposeQ,
      Some(seasonalDecomposeSql)),
    QueryDef("ev48_burst_viterbi", burstViterbi, Some(burstViterbiSql)),
    QueryDef("ev49_sprt", sprtMonitor, Some(sprtMonitorSql)),
    QueryDef("ev50_cuped", cupedLift, Some(cupedLiftSql)),
    QueryDef("ev31_interpolate", interpolate, Some(interpolateSql)),
    QueryDef("ev32_removal_effect", removalEffectQ, Some(removalEffectSql)),
    QueryDef("ev33_streaks", streaksQ, Some(streaksSql)),
    QueryDef("ev34_shapley", shapleyQ, Some(shapleySql)),
    QueryDef("ev35_wilson", wilsonQ, Some(wilsonSql)))

  /** Wilson 95% lower bound on a per-type proportion (high-value
    * share): the small-sample-honest ranking statistic (a 1/1 success
    * rate must not outrank 98/100). Counts are exact integers; the
    * one double formula is written with IDENTICAL nesting in both
    * engines (every literal ::DOUBLE — the ev14 precedent), so the
    * doubles bit-reproduce. */
  def wilsonQ(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("k"))
      .select(col("event_type"), col("n"), col("k"),
        expr(
          """((k / cast(n AS double) + (1.96 * 1.96) / (2.0 * cast(n AS double))) -
            | 1.96 * sqrt((k / cast(n AS double) * (1.0 - k / cast(n AS double)) +
            |   (1.96 * 1.96) / (4.0 * cast(n AS double))) / cast(n AS double))) /
            |(1.0 + (1.96 * 1.96) / cast(n AS double))""".stripMargin).as("wilson_lb"))
      .orderBy(col("event_type"))

  private val wilsonSql =
    """WITH a AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |         sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)::BIGINT AS k
      |  FROM events GROUP BY 1)
      |SELECT event_type, n, k,
      |       ((k / n::DOUBLE + (1.96::DOUBLE * 1.96::DOUBLE) / (2.0::DOUBLE * n::DOUBLE)) -
      |        1.96::DOUBLE * sqrt((k / n::DOUBLE * (1.0::DOUBLE - k / n::DOUBLE) +
      |          (1.96::DOUBLE * 1.96::DOUBLE) / (4.0::DOUBLE * n::DOUBLE)) / n::DOUBLE)) /
      |       (1.0::DOUBLE + (1.96::DOUBLE * 1.96::DOUBLE) / n::DOUBLE) AS wilson_lb
      |FROM a ORDER BY event_type""".stripMargin

  /** Shapley attribution ([[Journeys.shapleyAttribution]]) — the
    * order-free coalition model completing the attribution family
    * (ev11 last-touch, ev32 Markov removal). The k!-scaled Shapley
    * numerators stay undivided integers (negative floor vs truncate is
    * the one cross-engine divergence), and the oracle rebuilds the
    * coalition-value table relationally (16-subset grid, bitmask ⊆
    * join) with every weighted term spelled out. */
  def shapleyQ(spark: SparkSession, dir: String): DataFrame =
    Journeys.shapleyAttribution(load(spark, dir, "events"), convType = "purchase")
      .orderBy(col("channel"))

  private val shapleySql = {
    val chanBits = Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    def fact(n: Int): Int = (1 to n).product
    val rows = chanBits.map { case (c, b) =>
      val terms = (0 until 16).filter(s => (s & b) == 0).map { s =>
        val w = fact(Integer.bitCount(s)) * fact(3 - Integer.bitCount(s))
        s"$w * ((SELECT v_bp FROM v WHERE s = ${s | b}) - (SELECT v_bp FROM v WHERE s = $s))"
      }.mkString("\n      + ")
      s"""  SELECT '$c' AS channel,
         |    ($terms)::BIGINT AS phi_num_bp,
         |    (SELECT v_bp FROM v WHERE s = 15)::BIGINT AS v_full_bp,
         |    (SELECT v_bp FROM v WHERE s = 0)::BIGINT AS v_empty_bp""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
       |fp AS (SELECT user_id, ts, event_id FROM (
       |  SELECT user_id, ts, event_id,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM e WHERE event_type = 'purchase') WHERE rn = 1),
       |kept AS (
       |  SELECT e.user_id, e.event_type
       |  FROM e LEFT JOIN fp ON e.user_id = fp.user_id
       |  WHERE fp.user_id IS NULL OR (e.ts, e.event_id) <= (fp.ts, fp.event_id)),
       |uconv AS (
       |  SELECT user_id,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
       |  FROM kept GROUP BY 1),
       |ub AS (
       |  SELECT DISTINCT user_id,
       |         CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
       |              WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS b
       |  FROM kept WHERE event_type <> 'purchase'),
       |umask AS (SELECT user_id, sum(b)::BIGINT AS mask FROM ub GROUP BY 1),
       |cells AS (
       |  SELECT coalesce(umask.mask, 0)::BIGINT AS mask, uconv.conv,
       |         count(*)::BIGINT AS n
       |  FROM uconv LEFT JOIN umask USING (user_id) GROUP BY 1, 2),
       |subsets AS (SELECT unnest(range(0, 16)) AS s),
       |v AS MATERIALIZED (
       |  SELECT s,
       |         (CASE WHEN coalesce(sum(n), 0) = 0 THEN 0
       |               ELSE (10000 * coalesce(sum(CASE WHEN conv = 1 THEN n END), 0))
       |                      // sum(n) END)::BIGINT AS v_bp
       |  FROM subsets LEFT JOIN cells ON (cells.mask & subsets.s) = cells.mask
       |  GROUP BY s)
       |$rows
       |ORDER BY channel""".stripMargin
  }

  /** Consecutive-day activity streaks per user ([[Journeys.streaks]]):
    * gaps-and-islands over each user's distinct active days. */
  def streaksQ(spark: SparkSession, dir: String): DataFrame =
    Journeys.streaks(load(spark, dir, "events"))
      .orderBy(col("user_id"))

  private val streaksSql =
    """WITH days AS (
      |  SELECT DISTINCT user_id AS u,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |isl AS (
      |  SELECT u, d - row_number() OVER (PARTITION BY u ORDER BY d) AS g
      |  FROM days),
      |runs AS (SELECT u, g, count(*)::BIGINT AS len FROM isl GROUP BY 1, 2)
      |SELECT u AS user_id, sum(len)::BIGINT AS n_active_days,
      |       max(len)::BIGINT AS longest_streak,
      |       count(*)::BIGINT AS n_streaks
      |FROM runs GROUP BY u ORDER BY user_id""".stripMargin

  /** Markov removal-effect attribution ([[Journeys.removalEffect]]):
    * per channel, the drop in 6-step absorbed conversion mass when the
    * channel is removed from the journey chain — the data-driven
    * model next to ev11's last-touch. The oracle replays chain
    * truncation, the transition matrix, and every per-channel
    * absorption as unrolled relational steps (per-term floors, CONV/
    * END self-loops) — channels are the four non-conversion event
    * types, present at every SF. */
  def removalEffectQ(spark: SparkSession, dir: String): DataFrame =
    Journeys.removalEffect(load(spark, dir, "events"), convType = "purchase",
        iters = 6)
      .orderBy(col("channel"))

  private val removalEffectSql = {
    val channels = Seq("click", "error", "signup", "view")
    def steps(tag: String, tp: String) =
      (1 to 6).map { i =>
        s"""m${tag}_$i AS (
           |  SELECT t.t AS state, sum((m.pi * t.p_bp) // 10000)::BIGINT AS pi
           |  FROM m${tag}_${i - 1} m JOIN $tp t ON m.state = t.f
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
    val chanCtes = channels.map { c =>
      s"""tp_$c AS MATERIALIZED (
         |  SELECT f, CASE WHEN t = '$c' THEN 'END' ELSE t END AS t,
         |         sum(p_bp)::BIGINT AS p_bp
         |  FROM tp_full WHERE f <> '$c' GROUP BY 1, 2),
         |m${c}_0 AS (SELECT 'START' AS state, 100000000::BIGINT AS pi),
         |${steps(c, s"tp_$c")}""".stripMargin
    }.mkString(",\n")
    val resRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |       coalesce((SELECT pi FROM mfull_6 WHERE state = 'CONV'), 0) AS p_full_q8,
         |       coalesce((SELECT pi FROM m${c}_6 WHERE state = 'CONV'), 0) AS p_removed_q8""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
       |fp AS (SELECT user_id, ts, event_id FROM (
       |  SELECT user_id, ts, event_id,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM e WHERE event_type = 'purchase') WHERE rn = 1),
       |kept AS (
       |  SELECT e.user_id, e.event_type,
       |         lead(e.event_type) OVER (PARTITION BY e.user_id
       |           ORDER BY e.ts, e.event_id) AS nxt,
       |         row_number() OVER (PARTITION BY e.user_id
       |           ORDER BY e.ts, e.event_id) AS rn
       |  FROM e LEFT JOIN fp ON e.user_id = fp.user_id
       |  WHERE fp.user_id IS NULL OR (e.ts, e.event_id) <= (fp.ts, fp.event_id)),
       |tr AS (
       |  SELECT event_type AS f,
       |         CASE WHEN nxt = 'purchase' THEN 'CONV'
       |              WHEN nxt IS NULL THEN 'END' ELSE nxt END AS t
       |  FROM kept WHERE event_type <> 'purchase'
       |  UNION ALL
       |  SELECT 'START' AS f,
       |         CASE WHEN event_type = 'purchase' THEN 'CONV'
       |              ELSE event_type END AS t
       |  FROM kept WHERE rn = 1),
       |cnt AS (SELECT f, t, count(*)::BIGINT AS n FROM tr GROUP BY 1, 2),
       |tt AS (SELECT f, sum(n)::BIGINT AS tot FROM cnt GROUP BY 1),
       |tp_full AS MATERIALIZED (
       |  SELECT cnt.f, cnt.t, (10000 * cnt.n) // tt.tot AS p_bp
       |  FROM cnt JOIN tt USING (f)
       |  UNION ALL SELECT 'CONV', 'CONV', 10000
       |  UNION ALL SELECT 'END', 'END', 10000),
       |mfull_0 AS (SELECT 'START' AS state, 100000000::BIGINT AS pi),
       |${steps("full", "tp_full")},
       |$chanCtes,
       |res AS (
       |$resRows),
       |res2 AS (
       |  SELECT channel, p_full_q8, p_removed_q8,
       |         greatest(p_full_q8 - p_removed_q8, 0)::BIGINT AS re_q8
       |  FROM res),
       |s AS (SELECT sum(re_q8)::BIGINT AS sre FROM res2)
       |SELECT channel, p_full_q8::BIGINT AS p_full_q8,
       |       p_removed_q8::BIGINT AS p_removed_q8, re_q8,
       |       (CASE WHEN s.sre = 0 THEN 0
       |             ELSE (10000 * re_q8) // s.sre END)::BIGINT AS share_bp
       |FROM res2 CROSS JOIN s ORDER BY channel""".stripMargin
  }

  /** Linear-interpolation resample ([[Resample.interpolate]]): each
    * user's daily value grid with gaps filled by the straight line
    * between neighboring observations in exact q4 integers — the other
    * fill policy next to ev3's carry-forward. The weighted-average
    * numerator form keeps everything non-negative, so floor ≡ truncate
    * in both engines. */
  def interpolate(spark: SparkSession, dir: String): DataFrame =
    Resample.interpolate(load(spark, dir, "events"), bucketSeconds = 86400L)
      .orderBy(col("user_id"), col("b"))

  private val interpolateSql =
    """WITH o2 AS (
      |  SELECT k, b, v_q4 FROM (
      |    SELECT user_id AS k,
      |           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS b,
      |           floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4,
      |           row_number() OVER (
      |             PARTITION BY user_id,
      |                          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
      |             ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |grid AS (
      |  SELECT k, unnest(range(mn, mx + 1)) AS b
      |  FROM (SELECT k, min(b) AS mn, max(b) AS mx FROM o2 GROUP BY k)),
      |j AS (
      |  SELECT grid.k, grid.b, o2.v_q4 AS obs_q4,
      |         last_value(o2.v_q4 IGNORE NULLS) OVER wp AS pv,
      |         last_value(CASE WHEN o2.v_q4 IS NOT NULL THEN grid.b END IGNORE NULLS)
      |           OVER wp AS pb,
      |         first_value(o2.v_q4 IGNORE NULLS) OVER wn AS nv,
      |         first_value(CASE WHEN o2.v_q4 IS NOT NULL THEN grid.b END IGNORE NULLS)
      |           OVER wn AS nb
      |  FROM grid LEFT JOIN o2 ON grid.k = o2.k AND grid.b = o2.b
      |  WINDOW wp AS (PARTITION BY grid.k ORDER BY grid.b
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY grid.k ORDER BY grid.b
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT k AS user_id, b::BIGINT AS b, (obs_q4 IS NOT NULL) AS is_observed,
      |       (CASE WHEN obs_q4 IS NOT NULL THEN obs_q4
      |             ELSE (pv * (nb - b) + nv * (b - pb)) // (nb - pb)
      |        END)::BIGINT AS v_q4
      |FROM j ORDER BY user_id, b""".stripMargin

  /** Trailing 14-day EWMA of each event type's dense daily-count series
    * ([[Resample.ewma]]): power-of-two decay weights and one floor
    * division keep every smoothed value an exact integer (a float
    * α-recurrence is order-dependent and can't hash cross-engine);
    * early days renormalize over the lags that exist (adjusted EWMA).
    * The oracle re-derives the trailing window as a range self-join of
    * the dense series. */
  def ewmaTrend(spark: SparkSession, dir: String): DataFrame =
    Resample.ewma(load(spark, dir, "events"), span = 14)
      .orderBy(col("event_type"), col("d"))

  /** ev47_seasonal_decompose — classical additive trend/seasonal/residual
    * split of each event type's daily series
    * ([[graft.ops.Resample.seasonalDecompose]]): the decomposition
    * behind "is Monday traffic really down, or is that just the weekly
    * shape" — next to ev27's seasonal-naive anomaly flag (pointwise)
    * and ev17's autocorrelation (is it periodic at all). */
  def seasonalDecomposeQ(spark: SparkSession, dir: String): DataFrame =
    Resample.seasonalDecompose(load(spark, dir, "events"), period = 7)
      .orderBy(col("event_type"), col("d"))

  private val seasonalDecomposeSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |tw AS (
      |  SELECT g, d, c,
      |         sum(c) OVER w AS ws, count(*) OVER w AS wn
      |  FROM ser
      |  WINDOW w AS (PARTITION BY g ORDER BY d
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tr AS (
      |  SELECT g, d, c,
      |         CASE WHEN wn = 7 THEN ((10000 * ws) // 7)::BIGINT END
      |           AS trend_q4
      |  FROM tw),
      |det AS (
      |  SELECT g, d % 7 AS dow, 10000 * c - trend_q4 AS det
      |  FROM tr WHERE trend_q4 IS NOT NULL),
      |sraw AS (
      |  SELECT g, dow, (sum(det) // count(*))::BIGINT AS sraw
      |  FROM det GROUP BY 1, 2),
      |sc AS (
      |  SELECT g, sum(sraw)::BIGINT AS ss, count(*)::BIGINT AS sn
      |  FROM sraw GROUP BY g),
      |seas AS (
      |  SELECT sraw.g, sraw.dow, (sraw.sraw - sc.ss // sc.sn)::BIGINT
      |           AS seasonal_q4
      |  FROM sraw JOIN sc ON sraw.g = sc.g)
      |SELECT tr.g AS event_type, tr.d::BIGINT AS d, tr.c,
      |       tr.trend_q4,
      |       seas.seasonal_q4,
      |       CASE WHEN tr.trend_q4 IS NOT NULL
      |            THEN (10000 * tr.c - tr.trend_q4 - seas.seasonal_q4)::BIGINT
      |       END AS resid_q4
      |FROM tr LEFT JOIN seas ON tr.g = seas.g AND tr.d % 7 = seas.dow
      |ORDER BY event_type, d""".stripMargin

  private val ewmaTrendSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |tw AS (
      |  SELECT a.g, a.d, a.c,
      |         sum(b.c * (1::BIGINT << (13 - (a.d - b.d))))::BIGINT AS num,
      |         sum(1::BIGINT << (13 - (a.d - b.d)))::BIGINT AS den
      |  FROM ser a JOIN ser b ON a.g = b.g AND b.d BETWEEN a.d - 13 AND a.d
      |  GROUP BY a.g, a.d, a.c)
      |SELECT g AS event_type, d::BIGINT AS d, c,
      |       ((10000 * num) // den)::BIGINT AS ewma_q4
      |FROM tw ORDER BY event_type, d""".stripMargin

  /** ev48_burst_viterbi — two-state integer-Viterbi burst segmentation
    * of each event type's daily series
    * ([[graft.ops.Resample.burstSegments]]): WHICH days are a sustained
    * burst, with isolated spikes smoothed away by the switch penalty.
    * The oracle replays the identical DP — forward costs + backpointers
    * in one recursive CTE, path backtrack in a second — so the hash
    * pins every cost comparison and tie rule. */
  def burstViterbi(spark: SparkSession, dir: String): DataFrame =
    Resample.burstSegments(load(spark, dir, "events"))
      .orderBy(col("event_type"), col("d"))

  private val burstViterbiSql =
    """WITH RECURSIVE dc AS MATERIALIZED (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS MATERIALIZED (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c,
      |         row_number() OVER (PARTITION BY grid.g ORDER BY grid.d) AS idx
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |mu AS MATERIALIZED (
      |  SELECT g, list_sort(list(c))[(count(*)::INTEGER + 1) // 2] AS mu0,
      |         count(*)::INTEGER AS n
      |  FROM ser GROUP BY g),
      |fw AS (
      |  SELECT s.g, 1 AS idx,
      |         abs(s.c - mu.mu0)::BIGINT AS c0,
      |         abs(s.c - (2 * mu.mu0 + 1))::BIGINT AS c1,
      |         []::INTEGER[][] AS bps
      |  FROM ser s JOIN mu ON s.g = mu.g WHERE s.idx = 1
      |  UNION ALL
      |  SELECT fw.g, fw.idx + 1,
      |         least(fw.c0, fw.c1 + mu.mu0 + 1) + abs(s.c - mu.mu0),
      |         least(fw.c1, fw.c0 + mu.mu0 + 1) + abs(s.c - (2 * mu.mu0 + 1)),
      |         list_append(fw.bps,
      |           [CASE WHEN fw.c0 <= fw.c1 + mu.mu0 + 1 THEN 0 ELSE 1 END,
      |            CASE WHEN fw.c1 <= fw.c0 + mu.mu0 + 1 THEN 1 ELSE 0 END])
      |  FROM fw
      |  JOIN ser s ON s.g = fw.g AND s.idx = fw.idx + 1
      |  JOIN mu ON mu.g = fw.g),
      |last AS MATERIALIZED (
      |  SELECT fw.g, mu.n, fw.c0, fw.c1, fw.bps
      |  FROM fw JOIN mu ON fw.g = mu.g WHERE fw.idx = mu.n),
      |bw AS (
      |  SELECT g, n AS t,
      |         CASE WHEN c0 <= c1 THEN 0 ELSE 1 END AS s,
      |         [CASE WHEN c0 <= c1 THEN 0 ELSE 1 END] AS states, bps
      |  FROM last
      |  UNION ALL
      |  SELECT g, t - 1, bps[t - 1][s + 1],
      |         list_prepend(bps[t - 1][s + 1], states), bps
      |  FROM bw WHERE t > 1),
      |path AS MATERIALIZED (
      |  SELECT g, states FROM bw WHERE t = 1)
      |SELECT ser.g AS event_type, ser.d::BIGINT AS d, ser.c, mu.mu0,
      |       path.states[ser.idx]::INTEGER AS state
      |FROM ser JOIN path ON ser.g = path.g JOIN mu ON ser.g = mu.g
      |ORDER BY event_type, d""".stripMargin

  /** DAU/MAU(28d) stickiness per day in exact bp. */
  def stickiness(spark: SparkSession, dir: String): DataFrame =
    Journeys.stickiness(load(spark, dir, "events"), longDays = 28)
      .orderBy(col("day"))

  private val stickinessSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |sp AS (SELECT max(d) AS mx FROM ud),
      |dau AS (SELECT d AS day, count(DISTINCT u)::BIGINT AS dau
      |        FROM ud GROUP BY d),
      |mau AS (
      |  SELECT day, count(DISTINCT u)::BIGINT AS mau FROM (
      |    SELECT u, unnest(range(d, d + 28)) AS day FROM ud) w
      |  CROSS JOIN sp WHERE w.day <= sp.mx GROUP BY day)
      |SELECT mau.day AS day, coalesce(dau.dau, 0)::BIGINT AS dau, mau.mau,
      |       ((10000 * coalesce(dau.dau, 0)) // mau.mau)::BIGINT
      |         AS stickiness_bp
      |FROM mau LEFT JOIN dau ON mau.day = dau.day
      |ORDER BY mau.day""".stripMargin

  /** New vs returning active users per day. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame =
    Journeys.newVsReturning(load(spark, dir, "events"))
      .orderBy(col("day"))

  private val newVsReturningSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |f AS (SELECT u, min(d) AS fd FROM ud GROUP BY u)
      |SELECT ud.d AS day,
      |       sum(CASE WHEN ud.d = f.fd THEN 1 ELSE 0 END)::BIGINT AS n_new,
      |       sum(CASE WHEN ud.d <> f.fd THEN 1 ELSE 0 END)::BIGINT
      |         AS n_returning
      |FROM ud JOIN f USING (u)
      |GROUP BY ud.d ORDER BY day""".stripMargin

  /** Seasonally-adjusted anomalous days: lag-7 residuals flagged by the
    * per-type median/MAD rule — "which days broke their weekly
    * pattern", the composition of the residual frame with the robust
    * outlier detector. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val res = Resample.seasonalResiduals(load(spark, dir, "events"),
      season = 7)
    graft.ext.Frequency.madOutliers(res, "event_type", "e", k = 3.0)
      .where(col("is_outlier"))
      .select(col("event_type"), col("d"), col("c"), col("f"), col("e"),
        col("med").cast("long").as("med_e"),
        col("mad").cast("long").as("mad_e"))
      .orderBy(col("event_type"), col("d"))
  }

  private val seasonalAnomalySql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g),
      |grid AS (SELECT g, d0, unnest(range(d0, d1 + 1)) AS d FROM sp),
      |ser AS (
      |  SELECT grid.g, grid.d, grid.d0, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |res AS (
      |  SELECT a.g, a.d, a.c, b.c AS f, (a.c - b.c)::BIGINT AS e
      |  FROM ser a JOIN ser b ON a.g = b.g AND b.d = a.d - 7
      |  WHERE a.d - 7 >= a.d0),
      |m AS (SELECT g, quantile_disc(e, 0.5) AS med FROM res GROUP BY g),
      |dv AS (SELECT res.*, m.med, abs(res.e - m.med) AS dev
      |       FROM res JOIN m USING (g)),
      |s AS (SELECT g, quantile_disc(dev, 0.5) AS mad FROM dv GROUP BY g)
      |SELECT dv.g AS event_type, dv.d, dv.c, dv.f, dv.e,
      |       dv.med::BIGINT AS med_e, s.mad::BIGINT AS mad_e
      |FROM dv JOIN s USING (g)
      |WHERE dv.dev > 3.0::DOUBLE * s.mad
      |ORDER BY event_type, d""".stripMargin

  /** Stationary distribution of the event-type Markov chain (3 unrolled
    * integer power-iteration steps, q8). */
  def stationary(spark: SparkSession, dir: String): DataFrame =
    Journeys.stationaryDistribution(load(spark, dir, "events"), iters = 3)
      .orderBy(col("event_type"))

  private val stationarySql = {
    def step(i: Int) =
      s"""pi${i}n AS (
         |  SELECT tp.to_type AS state,
         |         sum((pi${i - 1}.pi * tp.p_bp) // 10000)::BIGINT AS pi
         |  FROM pi${i - 1} JOIN tp ON pi${i - 1}.state = tp.from_type
         |  GROUP BY 1),
         |pi$i AS (SELECT st.state, coalesce(pi${i}n.pi, 0)::BIGINT AS pi
         |         FROM st LEFT JOIN pi${i}n USING (state))""".stripMargin
    s"""WITH p AS (
       |  SELECT user_id, event_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS next_type
       |  FROM events),
       |c AS (SELECT event_type AS from_type, next_type AS to_type,
       |             count(*) AS n
       |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT from_type, sum(n) AS tt FROM c GROUP BY 1),
       |tp AS (SELECT c.from_type, c.to_type,
       |              floor(10000.0::DOUBLE * c.n / t.tt)::BIGINT AS p_bp
       |       FROM c JOIN t USING (from_type)),
       |st AS (SELECT DISTINCT from_type AS state FROM tp),
       |kk AS (SELECT count(*)::BIGINT AS k FROM st),
       |pi0 AS (SELECT state, (100000000 // kk.k)::BIGINT AS pi
       |        FROM st CROSS JOIN kk),
       |${step(1)},
       |${step(2)},
       |${step(3)}
       |SELECT state AS event_type, pi AS pi_q8
       |FROM pi3 ORDER BY event_type""".stripMargin
  }

  /** Cumulative q4 purchase value per cohort week × week offset. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    Journeys.cohortLtv(load(spark, dir, "events"))
      .orderBy(col("cohort_week"), col("week_offset"))

  private val cohortLtvSql =
    """WITH f AS (
      |  SELECT user_id,
      |         date_trunc('week', min(CAST(ts AS TIMESTAMP)))::DATE AS cw
      |  FROM events GROUP BY user_id),
      |o AS (
      |  SELECT f.cw,
      |         date_diff('day', f.cw, CAST(e.ts AS TIMESTAMP)::DATE) // 7 AS wo,
      |         CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS p,
      |         CASE WHEN e.event_type = 'purchase'
      |              THEN floor(e.value * 10000)::BIGINT ELSE 0 END AS pv
      |  FROM events e JOIN f USING (user_id)),
      |a AS (SELECT cw, wo, sum(p)::BIGINT AS n_purchases,
      |             sum(pv)::BIGINT AS wk
      |      FROM o GROUP BY 1, 2),
      |g AS (SELECT cw, unnest(range(0, mx + 1)) AS wo
      |      FROM (SELECT cw, max(wo) AS mx FROM a GROUP BY cw)),
      |d AS (SELECT g.cw, g.wo,
      |             coalesce(a.n_purchases, 0)::BIGINT AS n_purchases,
      |             coalesce(a.wk, 0)::BIGINT AS wk
      |      FROM g LEFT JOIN a ON g.cw = a.cw AND g.wo = a.wo)
      |SELECT cw::TIMESTAMP AS cohort_week, wo::BIGINT AS week_offset,
      |       n_purchases,
      |       sum(wk) OVER (PARTITION BY cw ORDER BY wo
      |                     ROWS UNBOUNDED PRECEDING)::BIGINT AS ltv_q4
      |FROM d ORDER BY cohort_week, week_offset""".stripMargin

  /** Interval-union active time per user (5-minute activity windows). */
  def activeTime(spark: SparkSession, dir: String): DataFrame =
    Journeys.activeTime(load(spark, dir, "events"), windowSeconds = 300L)
      .orderBy(col("user_id"))

  private val activeTimeSql =
    """WITH e AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
      |  FROM events),
      |i AS (
      |  SELECT user_id, s, s + 300 AS e2,
      |         CASE WHEN max(s + 300) OVER (PARTITION BY user_id ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |                IS NULL
      |              OR s > max(s + 300) OVER (PARTITION BY user_id
      |                ORDER BY s
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              THEN 1 ELSE 0 END AS ni
      |  FROM e),
      |j AS (SELECT user_id, s, e2,
      |             sum(ni) OVER (PARTITION BY user_id ORDER BY s
      |                           ROWS UNBOUNDED PRECEDING) AS isl
      |      FROM i),
      |k AS (SELECT user_id, isl, min(s) AS s0, max(e2) AS e0
      |      FROM j GROUP BY 1, 2)
      |SELECT user_id, count(*)::BIGINT AS n_bursts,
      |       sum(e0 - s0)::BIGINT AS active_seconds
      |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin

  /** RFM user segmentation with exact population-quartile bins. */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    Journeys.rfm(load(spark, dir, "events"))
      .orderBy(col("user_id"))

  private val rfmSql =
    """WITH pu AS (
      |  SELECT user_id,
      |         max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS lastd,
      |         count(*)::BIGINT AS f,
      |         sum(CASE WHEN event_type = 'purchase'
      |                  THEN floor(value * 10000)::BIGINT
      |                  ELSE 0 END)::BIGINT AS m_q4
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(lastd) AS mx FROM pu),
      |base AS (SELECT user_id, (mx.mx - pu.lastd)::BIGINT AS r_days,
      |                f, m_q4
      |         FROM pu CROSS JOIN mx),
      |rk AS (SELECT user_id, r_days, f, m_q4,
      |         rank() OVER (ORDER BY r_days) AS rr,
      |         rank() OVER (ORDER BY f) AS rf,
      |         rank() OVER (ORDER BY m_q4) AS rm,
      |         count(*) OVER () AS n
      |       FROM base),
      |b AS (SELECT user_id, r_days, f, m_q4,
      |        least(4, (floor(10000.0::DOUBLE * (rr - 1) /
      |          greatest(n - 1, 1))::BIGINT * 4) // 10000 + 1)::BIGINT AS r_bin,
      |        least(4, (floor(10000.0::DOUBLE * (rf - 1) /
      |          greatest(n - 1, 1))::BIGINT * 4) // 10000 + 1)::BIGINT AS f_bin,
      |        least(4, (floor(10000.0::DOUBLE * (rm - 1) /
      |          greatest(n - 1, 1))::BIGINT * 4) // 10000 + 1)::BIGINT AS m_bin
      |      FROM rk)
      |SELECT user_id, r_days, f, m_q4, r_bin, f_bin, m_bin,
      |       'R' || r_bin || 'F' || f_bin || 'M' || m_bin AS segment
      |FROM b ORDER BY user_id""".stripMargin

  /** Theil–Sen robust daily-count trend per event type. */
  def trendTheilSen(spark: SparkSession, dir: String): DataFrame =
    Resample.theilSen(load(spark, dir, "events"))
      .orderBy(col("event_type"))

  private val trendTheilSenSql =
    """WITH dc AS (
      |  SELECT event_type AS g,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT g, unnest(range(d0, d1 + 1)) AS d
      |  FROM (SELECT g, min(d) AS d0, max(d) AS d1 FROM dc GROUP BY g)),
      |ser AS (
      |  SELECT grid.g, grid.d, coalesce(dc.c, 0)::BIGINT AS c
      |  FROM grid LEFT JOIN dc ON grid.g = dc.g AND grid.d = dc.d),
      |sl AS (
      |  SELECT a.g, ((1000000 * (b.c - a.c)) // (b.d - a.d))::BIGINT AS s
      |  FROM ser a JOIN ser b ON a.g = b.g AND b.d > a.d),
      |r AS (SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
      |             count(*) OVER (PARTITION BY g) AS n FROM sl)
      |SELECT g AS event_type, n::BIGINT AS n_pairs, s AS slope_q6
      |FROM r WHERE rn = (n + 1) // 2 ORDER BY event_type""".stripMargin
}

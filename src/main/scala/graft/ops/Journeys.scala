package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.ScopedPersist

/** Event-sequence analytics over the events stream (bonus operators —
  * the reference has no event-journey surface, but any engine fed an
  * event table gets asked for funnels and retention on day one).
  *
  * Scale shapes:
  *  - [[funnel]]: ONE hash aggregate (per-user sorted event array) plus
  *    a narrow state-machine fold over the array — no self-joins, no
  *    per-stage passes. Per-user state is the user's own event list;
  *    in production the input is first bounded to the funnel's time
  *    window (the standard guard for hyperactive keys).
  *  - [[retention]]: two map-side-combined aggregates and one equi-join
  *    on user_id — cohort assignment broadcasts nothing and the distinct
  *    is on (cohort, offset, user), already co-partitioned by the join.
  */
object Journeys {

  /** Ordered-funnel completion per user: earliest `stages(0)` event,
    * then the earliest `stages(1)` event STRICTLY AFTER it, and so on —
    * the chained-earliest semantics every funnel product uses (a click
    * before the first view does not count).
    *
    * Output: (user_id, stage — how many steps completed, t1..tN —
    * completion timestamps, null past the reached stage). Deterministic:
    * the per-user array sorts by (ts, event_type) so equal-timestamp
    * events break ties lexicographically. */
  def funnel(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "funnel")
    require(stages.nonEmpty, "funnel needs at least one stage")
    val relevant = events
      .where(col(typeCol).isin(stages.map(lit): _*))
      .select(col(userCol), col(tsCol).as("_ts"), col(typeCol).as("_et"))
    val byUser = relevant.groupBy(col(userCol))
      .agg(sort_array(collect_list(struct($"_ts", $"_et"))).as("_evs"))
    // state: array of N completion timestamps (null = stage not reached);
    // one pass over the sorted events advances the first open stage whose
    // predecessor is complete and whose type matches
    val n = stages.length
    val init: Column = array(stages.map(_ => lit(null).cast("timestamp")): _*)
    val folded = aggregate($"_evs", init, (acc, e) => {
      val ts = e.getField("_ts")
      val et = e.getField("_et")
      val slots = (0 until n).map { i =>
        val open = acc.getItem(i).isNull &&
          (if (i == 0) lit(true)
           else acc.getItem(i - 1).isNotNull && ts > acc.getItem(i - 1))
        when(open && et === stages(i), ts).otherwise(acc.getItem(i))
      }
      array(slots: _*)
    })
    val withT = byUser.withColumn("_t", folded)
    val stageCols = (0 until n).map(i => $"_t".getItem(i).as(s"t${i + 1}"))
    withT.select(
        (col(userCol) +:
          aggregate($"_t", lit(0),
            (c, t) => when(t.isNotNull, c + 1).otherwise(c)).as("stage") +:
          stageCols): _*)
  }

  /** Weekly cohort retention: users grouped by the ISO week of their
    * FIRST event; for each (cohort_week, week_offset) the number of
    * distinct cohort users active that many weeks later. Offsets are
    * exact 7-day buckets from the cohort week's Monday, so week 0 always
    * exists and contains the whole cohort. */
  def retention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "retention")
    val firsts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    events.select(col(userCol), col(tsCol))
      .join(firsts, Seq(userCol))
      .select(col(userCol), $"cohort_week",
        (datediff(col(tsCol).cast("date"), $"cohort_week") / 7)
          .cast("long").as("week_offset"))
      .distinct()
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      // date → timestamp for the output: parquet DATE reaches pandas as
      // datetime64 while DuckDB's DATE stays a date object — a dtype
      // mismatch on identical values; a timestamp is unambiguous
      .withColumn("cohort_week", $"cohort_week".cast("timestamp"))
  }

  /** Cohort LTV: cumulative q4 purchase value per (first-event cohort
    * week × week offset) — the money companion to [[retention]]'s user
    * counts: "how much has the January cohort spent by week 4". Offsets
    * with no purchases still emit rows (zero increment, carried
    * cumulative) so every cohort's curve is dense up to its last active
    * week. The cumulative window runs over the (cohort, offset) rollup —
    * calendar-cardinality, never event-cardinality. */
  def cohortLtv(events: DataFrame, purchaseType: String = "purchase",
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "cohortLtv")
    import org.apache.spark.sql.expressions.Window
    val firsts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    val offsets = events
      .select(col(userCol), col(tsCol), col(typeCol),
        floor(col(valueCol) * 10000).cast("long").as("_v4"))
      .join(firsts, Seq(userCol))
      .select($"cohort_week",
        (datediff(col(tsCol).cast("date"), $"cohort_week") / 7)
          .cast("long").as("week_offset"),
        when(col(typeCol) === purchaseType, lit(1L)).otherwise(0L).as("_p"),
        when(col(typeCol) === purchaseType, $"_v4").otherwise(0L).as("_pv"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(sum($"_p").as("n_purchases"), sum($"_pv").as("_wk_q4"))
    // dense offsets 0..max per cohort (cohort-cardinality grid)
    val grid = offsets.groupBy($"cohort_week")
      .agg(max($"week_offset").as("_mx"))
      .select($"cohort_week", explode(sequence(lit(0L), $"_mx")).as("week_offset"))
    val w = Window.partitionBy($"cohort_week").orderBy($"week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(offsets, Seq("cohort_week", "week_offset"), "left")
      .select($"cohort_week", $"week_offset",
        coalesce($"n_purchases", lit(0L)).as("n_purchases"),
        coalesce($"_wk_q4", lit(0L)).as("_wk_q4"))
      .withColumn("ltv_q4", sum($"_wk_q4").over(w))
      .drop("_wk_q4")
      .withColumn("cohort_week", $"cohort_week".cast("timestamp"))
  }

  /** Total ACTIVE time per user: each event opens a `windowSeconds`
    * activity interval; overlapping/adjacent intervals merge (interval
    * UNION, the gaps-and-islands form) and the covered seconds sum
    * exactly — the session-free activity clock ("9 events in one burst
    * ≠ 9× the time"). One user-keyed window over (ts-sorted) events:
    * a new island starts where an event's start exceeds the running
    * max end of everything before it. Exact integer epoch seconds. */
  def activeTime(events: DataFrame, windowSeconds: Long = 300L,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "activeTime")
    import org.apache.spark.sql.expressions.Window
    require(windowSeconds >= 1, s"windowSeconds must be >= 1, got $windowSeconds")
    val byUser = Window.partitionBy(col(userCol)).orderBy($"_s")
    val prev = byUser.rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(userCol), expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div 1000000").as("_s"))
      .select(col(userCol), $"_s", ($"_s" + windowSeconds).as("_e"))
      .withColumn("_newisl",
        when(max($"_e").over(prev).isNull ||
          $"_s" > max($"_e").over(prev), 1L).otherwise(0L))
      .withColumn("_isl", sum($"_newisl").over(byUser))
      .groupBy(col(userCol), $"_isl")
      .agg(min($"_s").as("_is"), max($"_e").as("_ie"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_bursts"),
        sum($"_ie" - $"_is").as("active_seconds"))
  }

  /** Week-over-week change report: per ISO week the event count, q4
    * value total, and the deltas vs the PREVIOUS week — absolute and in
    * basis points. The `lag` window is global-ordered but over a
    * CALENDAR-cardinality frame (one row per week — the grid-sketch
    * justification, not a data-scale single-partition sort; the heavy
    * lifting is the map-side-combined weekly aggregate before it).
    * `pct_bp` is `floor(10⁴·Δ/prev)` evaluated as ONE IEEE
    * divide-then-floor in both engines — integer `div` would truncate
    * toward zero on negative deltas in Spark but floor in DuckDB. */
  def weekOverWeek(events: DataFrame, tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "weekOverWeek")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"week")
    events
      .groupBy(date_trunc("week", col(tsCol)).as("week"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * lit(10000.0)).cast("long")).as("value_q4"))
      .withColumn("prev_n", lag($"n_events", 1).over(w))
      .select($"week", $"n_events", $"value_q4",
        ($"n_events" - $"prev_n").as("delta_n"),
        floor(lit(10000.0) * ($"n_events" - $"prev_n") / $"prev_n")
          .cast("long").as("pct_bp"))
  }

  /** Rolling `windowDays`-day distinct active users per day (the
    * DAU/WAU/MAU family): for each day `d` in the data's span, how many
    * distinct users had ≥ 1 event in `[d − windowDays + 1, d]`. Days
    * ride as INTEGER epoch-day numbers (`unix_micros div 86400·10⁶`) so
    * the arithmetic is engine-exact.
    *
    * Scale shape — rolling distinct cannot partial-aggregate across
    * window positions (distinct is not additive), so the classic shape
    * is: (1) dedupe to one (user, day) row — a map-side-combinable
    * aggregate that collapses raw event volume up front; (2) each
    * active day contributes to its `windowDays` window-END days — a
    * constant-factor narrow explode of the DEDUPED frame, not the
    * events; (3) one distinct count per window-end day. Output days are
    * clipped to the observed span (no phantom ramp-out windows past the
    * last event). */
  def rollingActives(events: DataFrame, windowDays: Int = 7,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "rollingActives")
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = events
      .select(col(userCol).as("_u"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div ${86400L * 1000000L}").as("_d"))
      .distinct()
    val maxDay = ud.agg(max($"_d").as("_mx"))
    ud.select($"_u",
        explode(sequence($"_d", $"_d" + lit(windowDays - 1))).as("day_end"))
      .crossJoin(broadcast(maxDay))
      .where($"day_end" <= $"_mx")
      .groupBy($"day_end")
      .agg(countDistinct($"_u").as("n_active"))
  }

  /** DAU∕MAU stickiness per day: distinct daily actives over distinct
    * trailing-`longDays` actives, in exact basis points — the
    * engagement ratio every product dashboard leads with. Both counts
    * use the [[rollingActives]] dedup-below-the-explode shape: the
    * (user, day) frame dedups FIRST, each row then fans to the window
    * days it covers, and a distinct count per day is exact rolling
    * distinct with no window-over-rows state. Days before a full long
    * window has accrued are reported (the standard ramp-in), bounded
    * to the observed [min, max] day span. */
  def stickiness(events: DataFrame, longDays: Int = 28,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "stickiness")
    require(longDays >= 1, s"longDays must be >= 1, got $longDays")
    val ud = events
      .select(col(userCol).as("_u"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div ${86400L * 1000000L}").as("_d"))
      .distinct()
      .persistScoped // both the DAU and MAU rollups read this
    val span = ud.agg(min($"_d").as("_mn"), max($"_d").as("_mx"))
    val dau = ud.groupBy($"_d".as("day")).agg(countDistinct($"_u").as("dau"))
    val mau = ud
      .select($"_u", explode(sequence($"_d", $"_d" + lit(longDays - 1))).as("day"))
      .crossJoin(broadcast(span))
      .where($"day" <= $"_mx")
      .groupBy($"day").agg(countDistinct($"_u").as("mau"))
    mau.join(dau, Seq("day"), "left")
      .select($"day", coalesce($"dau", lit(0L)).as("dau"), $"mau",
        expr("(10000 * coalesce(dau, 0)) div mau").as("stickiness_bp"))
  }

  /** New vs returning users per day: a user is NEW on the day of their
    * first event and RETURNING on every later active day. One distinct
    * (user, day) frame, one per-user min-day aggregate, one day rollup
    * — event volume never reaches the comparison. */
  def newVsReturning(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "newVsReturning")
    val ud = events
      .select(col(userCol).as("_u"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div ${86400L * 1000000L}").as("_d"))
      .distinct()
      .persistScoped // read twice: first-day aggregate + day rollup
    val firsts = ud.groupBy($"_u").agg(min($"_d").as("_f"))
    ud.join(firsts, Seq("_u"))
      .groupBy($"_d".as("day"))
      .agg(sum(when($"_d" === $"_f", 1L).otherwise(0L)).as("n_new"),
        sum(when($"_d" =!= $"_f", 1L).otherwise(0L)).as("n_returning"))
  }

  /** Markov transition matrix over event types: for every ordered
    * adjacent pair of a user's events ((ts, tie) order), the count of
    * `from_type → to_type` steps and the row-normalized probability in
    * basis points (`p_bp = ⌊10⁴·n/Σ_row n⌋` — exact integer arithmetic,
    * engine-reproducible). The "what happens after X" statistic next to
    * [[funnel]]'s fixed-path view.
    *
    * Scale shape: ONE hash exchange on the user key for the `lead`
    * window (the sessionization shuffle every per-user-ordered operator
    * pays), then a map-side-combined pair count whose exchange carries
    * ≤ |types|² rows, with the row totals — type-cardinality — joined
    * back as a broadcast. */
  def transitions(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "transitions")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol))
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .where($"_next".isNotNull)
    val cnt = pairs
      .groupBy(col(typeCol).as("from_type"), $"_next".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy($"from_type").agg(sum($"n").as("_t"))
    cnt.join(broadcast(tot), Seq("from_type"))
      .select($"from_type", $"to_type", $"n",
        floor(lit(10000.0) * $"n" / $"_t").cast("long").as("p_bp"))
  }

  /** Stationary distribution of the event-type Markov chain: unrolled
    * integer power iteration π ← π·P over the [[transitions]] matrix —
    * the long-run "where does a user's attention settle" readout that
    * complements the one-step transition table. π rides in q8
    * (start = ⌊10⁸∕k⌋ uniform over the from-states), each step is
    * `π'(j) = Σᵢ (π(i)·p_bp(i,j)) div 10⁴` — floor losses mean the mass
    * decays by ≤ a few ulps per step, identically in both engines, so
    * the result is a defined exact statistic rather than a float
    * fixpoint. States that never transition OUT (only ever terminal)
    * are not part of the chain; states never transitioned INTO report 0.
    *
    * Scale shape: the corpus collapses to the k²-row transition matrix
    * first (one user-keyed window + one aggregate — all [[transitions]]
    * cost); the iteration then runs on state-cardinality frames. The
    * matrix, the state set and each round's π are [[Iterate]] loop
    * barriers: the result reads only the last π. */
  def stationaryDistribution(events: DataFrame, iters: Int = 3,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "stationaryDistribution")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Iterate.loop("stationaryDistribution", iters) { l =>
      l.stage("transitions")
      val t = Iterate.loopBarrier( // each iteration joins this matrix
        transitions(events, userCol, tsCol, typeCol, tieCol)
          .select($"from_type", $"to_type", $"p_bp"))
      val (states, k) = Iterate.loopBarrierCount(
        t.select($"from_type".as("state")).distinct())
      var pi = states.select($"state",
        lit(if (k == 0) 0L else 100000000L / k).as("pi_q8"))
      for (_ <- 1 to iters) {
        l.round(pi, t, states)
        val next = pi.toDF("from_type", "pi_q8")
          .join(t, Seq("from_type"))
          .select($"to_type".as("state"),
            expr("(pi_q8 * p_bp) div 10000").as("_m"))
          .groupBy($"state").agg(sum($"_m").as("_pi"))
        pi = Iterate.loopBarrier(states.join(next, Seq("state"), "left")
          .select($"state", coalesce($"_pi", lit(0L)).as("pi_q8")))
      }
      pi.select($"state".as(typeCol), $"pi_q8")
    }
  }

  /** Batch sessionization with session ORDINALS: gaps-and-islands per
    * key — a new session starts at the first event and wherever the
    * gap to the previous event exceeds `gapSeconds`; sessions are
    * numbered 1, 2, … per key in time order and summarized (count,
    * start/end epoch seconds, duration). The per-session-identity
    * complement of the `session_window` AGGREGATION (st2): that one
    * returns windows, this one returns each key's session timeline.
    *
    * Scale shape: one hash exchange on the key for the lag/cumsum
    * window (narrow within each key's sorted slice), then a map-side
    * combined per-(key, session) aggregate. Epochs are integer seconds
    * (`unix_micros div 1e6`), exact cross-engine. */
  def sessions(events: DataFrame, gapSeconds: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "sessions")
    import org.apache.spark.sql.expressions.Window
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    val w = Window.partitionBy(col(userCol)).orderBy($"es", col(tieCol))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(userCol), col(tieCol),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div 1000000").as("es"))
      .withColumn("_new",
        when($"es" - lag($"es", 1).over(w) <= gapSeconds, lit(0L))
          .otherwise(lit(1L))) // first row: NULL comparison → new session
      .withColumn("session_idx", sum($"_new").over(wRun))
      .groupBy(col(userCol), $"session_idx")
      .agg(count(lit(1)).as("n_events"),
        min($"es").as("start_es"), max($"es").as("end_es"))
      .withColumn("duration_s", $"end_es" - $"start_es")
  }

  /** Last-touch attribution: each conversion's value is credited to the
    * user's most recent touch event (by `(ts, event_id)`) within the
    * lookback window, or to `'direct'` when no touch qualifies — the
    * marketing-attribution classic, and the same carry-forward shape as
    * the as-of join: ONE hash exchange on the user plus an ordered
    * window, never a per-conversion probe join (the naive EXISTS form
    * re-scans the touch stream per conversion).
    *
    * Touches sort BEFORE conversions at an equal timestamp (a touch at
    * the conversion's exact instant counts). Values are exact cents;
    * the readable double is one final division.
    *
    * Output: one row per conversion — `(event_id, channel, cents)` —
    * ready for the tiny per-channel rollup. */
  def lastTouchAttribution(events: DataFrame, touchTypes: Seq[String],
      convType: String, lookbackSeconds: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id",
      valueCol: String = "value"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "lastTouchAttribution")
    import org.apache.spark.sql.expressions.Window
    require(lookbackSeconds >= 1,
      s"lookbackSeconds must be >= 1, got $lookbackSeconds")
    val touches = events.where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(idCol), lit(0).as("_k"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"),
        col(typeCol).as("_ch"), lit(null).cast("long").as("cents"))
    val convs = events.where(col(typeCol) === convType)
      .select(col(userCol), col(idCol), lit(1).as("_k"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"),
        lit(null).cast("string").as("_ch"),
        round(col(valueCol) * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col(userCol))
      .orderBy($"_us", $"_k", col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    touches.unionByName(convs)
      .withColumn("_last_ch", last($"_ch", ignoreNulls = true).over(w))
      .withColumn("_last_us",
        last(when($"_ch".isNotNull, $"_us"), ignoreNulls = true).over(w))
      .where($"_k" === 1)
      .select(col(idCol),
        when($"_last_us".isNotNull &&
          $"_us" - $"_last_us" <= lookbackSeconds * 1000000L, $"_last_ch")
          .otherwise(lit("direct")).as("channel"),
        $"cents")
  }

  /** Half-life-decayed popularity: Σ value·2^(−age∕halfLife) per group
    * — the trending/popularity score — computed EXACTLY: age quantizes
    * to whole half-lives and the decay is an integer right-shift of the
    * value in cents (⌊cents∕2^w⌋), so the score hash-gates cross-engine
    * where a float exp() never could. The reference instant is the
    * data's max timestamp (deterministic for the gate; production
    * passes now()).
    *
    * Scale shape: the reference is a one-row broadcast; decay+sum is a
    * single map-side-combined aggregate over a narrow projection. The
    * reference scan is a second pass over one column — at scale,
    * callers pass `refUs` explicitly and it disappears. */
  def decayedPopularity(events: DataFrame, halfLifeSeconds: Long,
      groupCol: String = "event_type", tsCol: String = "ts",
      valueCol: String = "value", refUs: Option[Long] = None): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "decayedPopularity")
    require(halfLifeSeconds >= 1,
      s"halfLifeSeconds must be >= 1, got $halfLifeSeconds")
    val base = events.select(col(groupCol),
      expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"),
      round(col(valueCol) * 100).cast("long").as("_cents"))
    val withRef = refUs match {
      case Some(r) => base.withColumn("_ref", lit(r))
      case None => base.crossJoin(
        broadcast(events.agg(max(expr(s"unix_micros(cast($tsCol AS TIMESTAMP))")).as("_ref"))))
    }
    withRef
      .withColumn("_w", least(lit(62L),
        expr(s"(_ref - _us) div ${halfLifeSeconds * 1000000L}")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("shiftright(_cents, cast(_w AS INT))")).as("decayed_cents"))
  }

  /** Top-k frequent event PATHS (length-`pathLen` sliding windows over
    * each user's time-ordered event-type sequence) — the sequential-
    * pattern cousin of [[transitions]] (bigrams): which 3-step journeys
    * dominate. One hash aggregate builds the per-user sorted sequence
    * (ties break by event id — deterministic), the window explode is a
    * narrow in-row HOF, the path count map-side combines, and the
    * global top-k is a TakeOrdered, never a full sort. */
  def frequentPaths(events: DataFrame, pathLen: Int = 3, k: Int = 20,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "frequentPaths")
    require(pathLen >= 2, s"pathLen must be >= 2, got $pathLen")
    require(k >= 1, s"k must be >= 1, got $k")
    events
      .select(col(userCol).as("_u"),
        struct(expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"), col(idCol).as("_id"),
          col(typeCol).as("_t")).as("_e"))
      .groupBy($"_u").agg(sort_array(collect_list($"_e")).as("_seq"))
      .select(explode(expr(
        s"""CASE WHEN size(_seq) >= $pathLen THEN
           |  transform(sequence(0, size(_seq) - $pathLen),
           |    i -> concat_ws('>', transform(sequence(i, i + ${pathLen - 1}),
           |                                  j -> _seq[j]._t)))
           |ELSE array() END""".stripMargin)).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(k)
  }

  /** Next-event prediction accuracy of the first-order Markov model —
    * the evaluation loop that turns [[transitions]] from a descriptive
    * table into a validated model: train on the FIRST half of the time
    * range (split at the exact integer midpoint of the observed epoch
    * span — a temporal holdout, never a random one: consecutive events
    * are autocorrelated and a random split would leak), predict each
    * eval-period transition as the argmax next type, score per
    * from-type in exact basis points. Pairs CROSSING the split are
    * dropped (they straddle train and eval). An eval from-type unseen
    * in training predicts nothing and scores 0 — visible, not skipped.
    *
    * Scale shape: one user-keyed window for pairs (the transitions
    * shuffle), a tiny (type × type) train aggregate broadcast back, and
    * one final type-keyed rollup. The epoch bounds are a one-row
    * aggregate broadcast as a scalar (the q15 pattern). */
  def nextEventAccuracy(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "nextEventAccuracy")
    import org.apache.spark.sql.expressions.Window
    val base = events.select(col(userCol), col(tieCol), col(typeCol),
      expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"))
    // order by the derived epoch (ts itself is projected away above)
    val w = Window.partitionBy(col(userCol)).orderBy($"_us", col(tieCol))
    val pairs = base
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .withColumn("_next_us", lead($"_us", 1).over(w))
      .where($"_next".isNotNull)
    val bounds = base.agg(min($"_us").as("_lo"), max($"_us").as("_hi"))
      .select(expr("(_lo + _hi) div 2").as("_sp"))
    val tagged = pairs.crossJoin(broadcast(bounds))
    val train = tagged.where($"_us" < $"_sp" && $"_next_us" < $"_sp")
      .groupBy(col(typeCol).as("from_type"), $"_next".as("to_type"))
      .agg(count(lit(1)).as("_n"))
    val model = train
      .withColumn("_rk", row_number().over(
        Window.partitionBy($"from_type").orderBy($"_n".desc, $"to_type")))
      .where($"_rk" === 1)
      .select($"from_type", $"to_type".as("_pred"))
    tagged.where($"_us" >= $"_sp" && $"_next_us" >= $"_sp")
      .select(col(typeCol).as("from_type"), $"_next")
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy($"from_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(when($"_next" === $"_pred", 1L).otherwise(0L)).as("n_correct"))
      .select($"from_type", $"n_eval", $"n_correct",
        expr("(10000 * n_correct) div n_eval").as("acc_bp"))
  }

  /** Event-time lateness audit — the watermark-sizing report: with
    * arrival order approximated by the monotone ingest id, each event's
    * lateness is (running max event-time seen so far) − (its own
    * event-time); the per-band shares answer "what watermark delay
    * would have kept X % of events" BEFORE committing a streaming job
    * to one (`withWatermark` drops late rows silently — this is the
    * batch dry-run). Bands are exponential (on-time, ≤1 m, ≤10 m,
    * ≤1 h, >1 h) in exact integer µs.
    *
    * Scale shape (r11): the type key is LOW-cardinality (5 event
    * types), so a plain type-partitioned running max is whole-stream
    * single-task sorts in disguise; the prefix max is instead
    * arrival-bucketed with broadcast per-bucket maxima
    * ([[GroupedPrefix]], prefix-combined with max) — global running
    * max = max(lower-bucket max, in-bucket running max) — plus the
    * (type, band) map-side-combined rollup. */
  def latenessAudit(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", arrivalCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "latenessAudit")
    import org.apache.spark.sql.expressions.Window
    val m = 1000000L
    val base = events.select(col(typeCol), col(arrivalCol),
      expr(s"unix_micros(cast($tsCol AS TIMESTAMP))").as("_us"))
    val withOff = GroupedPrefix.withBucketOffsets(base, Seq(typeCol),
      arrivalCol, max($"_us"), "_moff", prefixCombine = max)
    val w = Window.partitionBy(col(typeCol), col("_b"))
      .orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lateness = withOff
      .withColumn("_late",
        greatest(coalesce($"_moff", lit(Long.MinValue)),
          max($"_us").over(w)) - $"_us")
    val banded = lateness.select(col(typeCol),
      when($"_late" === 0L, lit(0L))
        .when($"_late" <= 60L * m, lit(1L))
        .when($"_late" <= 600L * m, lit(2L))
        .when($"_late" <= 3600L * m, lit(3L))
        .otherwise(lit(4L)).as("band_rank"))
    val counts = banded.groupBy(col(typeCol), $"band_rank")
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col(typeCol)).agg(sum($"n").as("_t"))
    GroupedPrefix.joinNullSafe(counts, broadcast(tot), Seq(typeCol))
      .select(col(typeCol), $"band_rank",
        element_at(
          array(lit("on-time"), lit("<=1m"), lit("<=10m"), lit("<=1h"),
            lit(">1h")),
          ($"band_rank" + 1).cast("int")).as("band"),
        $"n", expr("(10000 * n) div _t").as("share_bp"))
  }

  /** RFM segmentation — per user: Recency (days since last event,
    * relative to the corpus' latest day), Frequency (event count), and
    * Monetary (q4 sum of `purchaseType` event values), each binned into
    * exact population quartiles, plus the composite segment string
    * ("R1F4M4"; bin 1 = lowest raw value, so R1 = most recent).
    *
    * Bins derive from [[graft.ext.Frequency.globalRank]]'s exact
    * rank/percentile (ties share their group's first rank, so equal
    * metric values ALWAYS share a bin):
    * `bin = min(4, (pct_bp·4) div 10⁴ + 1)` — never the naive
    * `ntile() OVER (ORDER BY metric)`, whose Spark plan funnels every
    * user through one task at scale. Three rank passes over the
    * user-sized aggregate + three joins back on the metric value; event
    * volume is gone after the first aggregate. */
  def rfm(events: DataFrame, purchaseType: String = "purchase",
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "rfm")
    val dayUs = 86400L * 1000000L
    val perUser = events
      .select(col(userCol).as("user_id"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div $dayUs").as("_d"),
        col(typeCol).as("_t"),
        floor(col(valueCol) * 10000).cast("long").as("_v4"))
      .groupBy($"user_id")
      .agg(max($"_d").as("_lastd"), count(lit(1)).as("f"),
        sum(when($"_t" === purchaseType, $"_v4").otherwise(0L)).as("m_q4"))
    val maxD = perUser.agg(max($"_lastd").as("_mx"))
    val base = perUser.crossJoin(broadcast(maxD))
      .select($"user_id", ($"_mx" - $"_lastd").as("r_days"), $"f", $"m_q4")
      .persistScoped // three rank passes + the final join all read this
    def bins(metric: String) =
      graft.ext.Frequency.globalRank(base, metric)
        .select($"value",
          least(lit(4L), expr("(pct_bp * 4) div 10000 + 1")).as("bin"))
    val rBins = bins("r_days").toDF("_r_v", "r_bin")
    val fBins = bins("f").toDF("_f_v", "f_bin")
    val mBins = bins("m_q4").toDF("_m_v", "m_bin")
    base
      .join(rBins, $"r_days".cast("double") === $"_r_v")
      .join(fBins, $"f".cast("double") === $"_f_v")
      .join(mBins, $"m_q4".cast("double") === $"_m_v")
      .select($"user_id", $"r_days", $"f", $"m_q4",
        $"r_bin", $"f_bin", $"m_bin",
        concat(lit("R"), $"r_bin", lit("F"), $"f_bin", lit("M"), $"m_bin")
          .as("segment"))
  }

  /** Each user's journey prefix up to and including their FIRST
    * `convType` event (whole timeline when they never convert) — the
    * shared chain-construction stage of the attribution models. */
  private def truncatedAtConversion(events: DataFrame, convType: String,
      userCol: String, tsCol: String, typeCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col(userCol))
    events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol))
      .withColumn("_ck", min(when(col(typeCol) === convType,
        struct(col(tsCol), col(tieCol)))).over(wAll))
      .where($"_ck".isNull || struct(col(tsCol), col(tieCol)) <= $"_ck")
  }

  /** Daily-activity streaks per user — the engagement-loyalty readout
    * next to DAU/MAU stickiness: longest run of CONSECUTIVE active
    * days, streak count, and total active days, via gaps-and-islands
    * on the distinct-day timeline (`day − row_number` is constant
    * within a consecutive run). Events collapse to distinct (user,
    * epoch-day) first, so all window work runs at active-day
    * cardinality, partitioned by user — no global sort. */
  def streaks(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "streaks")
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000L
    val days = events
      .select(col(userCol).as("u"),
        expr(s"unix_micros(cast($tsCol AS TIMESTAMP)) div $dayUs").as("d"))
      .distinct()
    val w = Window.partitionBy($"u").orderBy($"d")
    days
      .withColumn("_isl", $"d" - row_number().over(w))
      .groupBy($"u", $"_isl").agg(count(lit(1)).as("_len"))
      .groupBy($"u")
      .agg(sum($"_len").as("n_active_days"),
        max($"_len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .select($"u".as(userCol), $"n_active_days", $"longest_streak", $"n_streaks")
  }

  /** Markov removal-effect attribution (the data-driven attribution
    * model, Anderl et al. 2014 — public): credit each channel by how
    * much the conversion probability DROPS when that channel is removed
    * from the first-order journey chain, instead of last-touch's
    * winner-take-all.
    *
    * Chain construction: each user's events sorted by (ts, tie),
    * truncated at the FIRST `convType` event; transitions are
    * START → first, step → step, last → END (no conversion) or
    * step → CONV (absorbing). Probabilities are exact integer bp
    * (`(10⁴·n) div total`), absorption runs `iters` unrolled steps of
    * per-term-floored mass propagation (CONV and END self-absorb at
    * p = 10⁴), and removing channel c drops its out-edges and
    * redirects edges INTO c to END (p_bp summed on collisions).
    * Outputs per channel: full/removed conversion mass (q8), the
    * removal effect re_q8 = max(0, full − removed), and its share of
    * Σre in bp. Every number is a defined exact integer statistic —
    * engine-reproducible.
    *
    * Scale shape: the corpus collapses to the (k+3)²-bounded
    * transition matrix in one user-keyed window + one aggregate —
    * all data-sized cost; the matrix (require ≤ `maxStates` states —
    * event taxonomies, not open domains) is a bounded driver
    * materialization, where the k+1 absorption runs are exact Long
    * arithmetic. State names START/CONV/END are reserved. */
  def removalEffect(events: DataFrame, convType: String = "purchase",
      iters: Int = 6, maxStates: Int = 100, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "removalEffect")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    import spark.implicits.newProductEncoder

    val wOrd = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val kept = truncatedAtConversion(events, convType, userCol, tsCol, typeCol, tieCol)
      .withColumn("_next", lead(col(typeCol), 1).over(wOrd))
      .withColumn("_rn", row_number().over(wOrd))
    val mid = kept.where(col(typeCol) =!= convType)
      .select(col(typeCol).as("f"),
        when($"_next" === convType, "CONV")
          .when($"_next".isNull, "END")
          .otherwise($"_next").as("t"))
    val start = kept.where($"_rn" === 1)
      .select(lit("START").as("f"),
        when(col(typeCol) === convType, "CONV").otherwise(col(typeCol)).as("t"))
    val cnt = mid.unionByName(start).groupBy($"f", $"t")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    val states = (cnt.map(_._1) ++ cnt.map(_._2)).distinct
    require(states.length <= maxStates,
      s"${states.length} states exceed maxStates=$maxStates — removalEffect is for bounded taxonomies")
    require(!cnt.exists(c => c._1 == "CONV" || c._1 == "END" || c._2 == "START"),
      "START/CONV/END are reserved state names — rename those event types first")

    val tot = cnt.groupBy(_._1).map { case (f, es) => f -> es.map(_._3).sum }
    val full: Map[(String, String), Long] = cnt.map { case (f, t, n) =>
      (f, t) -> (10000L * n) / tot(f)
    }.toMap ++ Map(("CONV", "CONV") -> 10000L, ("END", "END") -> 10000L)

    def absorbed(p: Map[(String, String), Long]): Long = {
      var m = Map("START" -> 100000000L)
      for (_ <- 1 to iters) {
        val next = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for (((f, t), pbp) <- p) {
          val mf = m.getOrElse(f, 0L)
          if (mf > 0) next(t) += (mf * pbp) / 10000L
        }
        m = next.toMap
      }
      m.getOrElse("CONV", 0L)
    }
    def removed(c: String): Map[(String, String), Long] =
      full.toSeq
        .collect { case ((f, t), p) if f != c =>
          (f, if (t == c) "END" else t) -> p }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

    val pFull = absorbed(full)
    val channels = cnt.map(_._1).distinct.filterNot(_ == "START").sorted
    val res = channels.map { c =>
      val pr = absorbed(removed(c))
      (c, pFull, pr, math.max(0L, pFull - pr))
    }
    val sumRe = res.map(_._4).sum
    val rows = res.map { case (c, pf, pr, re) =>
      (c, pf, pr, re, if (sumRe == 0) 0L else (10000L * re) / sumRe)
    }
    spark.createDataFrame(rows.toIndexedSeq).toDF(
      "channel", "p_full_q8", "p_removed_q8", "re_q8", "share_bp")
  }

  /** Shapley-value attribution over touched-channel coalitions (the
    * order-free data-driven model next to [[removalEffect]]'s
    * chain-based one): each user contributes their SET of touched
    * channels (deduped, order ignored, chain truncated at first
    * conversion) and a converted flag; the coalition value
    * v(S) = ⌊10⁴·conversions∕users⌋ over users whose set ⊆ S, and each
    * channel's Shapley sum is
    *
    *   phi_num_bp(c) = Σ_{S ⊆ N∖{c}} |S|!·(k−1−|S|)!·(v(S∪c) − v(S))
    *
    * — the EXACT k!-scaled Shapley value. The division by k! is
    * deliberately NOT performed: the numerator is an exact integer
    * (possibly negative), and negative floor vs truncate is the one
    * integer operation engines disagree on.
    *
    * Scale shape: the corpus collapses to ≤ 2^k·2 (mask, conv) count
    * cells via one distinct + one bounded broadcast join + two
    * aggregates; the 2^k coalition table and the Shapley sums are
    * driver Long arithmetic on that bounded relation (`require`
    * k ≤ maxChannels — channel taxonomies, not open domains). */
  def shapleyAttribution(events: DataFrame, convType: String = "purchase",
      maxChannels: Int = 12, userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", tieCol: String = "event_id"): DataFrame = {
    RangeJoin.requireTs(events, tsCol, "shapleyAttribution")
    val spark = events.sparkSession
    import spark.implicits.{newProductEncoder, newStringEncoder}

    val kept = truncatedAtConversion(events, convType, userCol, tsCol, typeCol, tieCol)
      .persistScoped
    val chans = kept.where(col(typeCol) =!= convType)
      .select(col(typeCol)).distinct().as[String].collect().sorted
    val k = chans.length
    require(k >= 1 && k <= maxChannels,
      s"$k channels exceed maxChannels=$maxChannels — shapley is for bounded taxonomies")
    val bits = chans.zipWithIndex.map { case (c, i) => (c, 1L << i) }
    val bitDf = spark.createDataFrame(bits.toIndexedSeq).toDF(typeCol, "_bit")
    val userMask = kept.where(col(typeCol) =!= convType)
      .select(col(userCol), col(typeCol)).distinct()
      .join(broadcast(bitDf), typeCol)
      .groupBy(col(userCol)).agg(sum($"_bit").as("_mask"))
    val cells = kept
      .groupBy(col(userCol))
      .agg(max((col(typeCol) === convType).cast("long")).as("_conv"))
      .join(userMask, Seq(userCol), "left")
      .select(coalesce($"_mask", lit(0L)).as("_mask"), $"_conv")
      .groupBy($"_mask", $"_conv").agg(count(lit(1)).as("_n"))
      .as[(Long, Long, Long)].collect()

    val nSub = Array.tabulate(1 << k) { s =>
      cells.filter(c => (c._1 & s) == c._1).map(_._3).sum
    }
    val cSub = Array.tabulate(1 << k) { s =>
      cells.filter(c => (c._1 & s) == c._1 && c._2 == 1).map(_._3).sum
    }
    def v(s: Int): Long = if (nSub(s) == 0) 0L else (10000L * cSub(s)) / nSub(s)
    val fact = Array.iterate(1L, k + 1)(identity).zipWithIndex
      .map { case (_, i) => (1 to i).foldLeft(1L)(_ * _) }
    val rows = chans.zipWithIndex.map { case (c, ci) =>
      val bit = 1 << ci
      var phi = 0L
      for (s <- 0 until (1 << k) if (s & bit) == 0) {
        val sz = java.lang.Integer.bitCount(s)
        phi += fact(sz) * fact(k - 1 - sz) * (v(s | bit) - v(s))
      }
      (c, phi, v((1 << k) - 1), v(0))
    }
    spark.createDataFrame(rows.toIndexedSeq)
      .toDF("channel", "phi_num_bp", "v_full_bp", "v_empty_bp")
  }

  private implicit class Dollar(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.Upsert

/** Incremental ingestion semantics (SURVEY §2.10) on Structured Streaming.
  *
  * The reference's cron-batch loop — processed-file ledger
  * (update_metadata.py:24-49), insert-only discovery upsert
  * (update_reads.py:46-56), per-file error capture — maps to:
  *  - file-source stream + checkpoint  (ledger = checkpoint state)
  *  - foreachBatch merge with SetOnInsert policy (never clobbers)
  *  - watermarked tumbling-window arrival counts (dashboard A1, live)
  *
  * At scale: the file source lists incrementally (maxFilesPerTrigger
  * bounds batch size), state is per-window+key only, and the merge
  * inside foreachBatch is the same one shuffle as the batch Upsert.
  */
object StreamingIngest {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** File-source stream over a landing directory (parquet parts). */
  def landingStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Watermarked tumbling-window arrival counts per event type — the
    * streaming flagship aggregation (events fixture; TESTDATA.md). */
  def arrivalCounts(events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Watermarked SESSION windows per user — data-driven boundaries the
    * tumbling form can't express (a session closes `gap` after its last
    * event, which is also what lets the engine emit it once the
    * watermark passes). Same aggregation as the batch
    * `st2_session_window` query. */
  def sessionCounts(events: DataFrame,
      watermark: String = "10 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Watermarked SLIDING windows per event type — each event lands in
    * window/slide overlapping windows (1h/15m ⇒ 4), the moving-average
    * view of the arrival stream. Completes the tumbling/session/sliding
    * symmetry; same aggregation as the batch `st3_sliding_window` query.
    * State is per-(window, key) like tumbling — the overlap multiplies
    * live windows by window/slide, which the watermark still bounds. */
  def slidingCounts(events: DataFrame,
      watermark: String = "10 minutes",
      window_ : String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Per-key custom state for the stateful-dedup/running-counter shape
    * (flatMapGroupsWithState): tracks ids already seen per key so a
    * reprocessed event emits nothing, plus a running count — the
    * reference's processed-ledger semantics as explicit operator state
    * instead of a side table. */
  case class KeyedEvent(user_id: Long, event_id: Long, value: Double)
  case class SeenState(seen: Set[Long], count: Long)
  case class FreshEvent(user_id: Long, event_id: Long, value: Double, seq: Long)

  def dedupWithState(events: org.apache.spark.sql.Dataset[KeyedEvent])
      : org.apache.spark.sql.Dataset[FreshEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeenState, FreshEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[KeyedEvent], state: GroupState[SeenState]) =>
          var st = state.getOption.getOrElse(SeenState(Set.empty, 0L))
          val out = scala.collection.mutable.ArrayBuffer[FreshEvent]()
          rows.foreach { e =>
            if (!st.seen.contains(e.event_id)) {
              st = SeenState(st.seen + e.event_id, st.count + 1)
              out += FreshEvent(e.user_id, e.event_id, e.value, st.count)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** State for [[heavyHittersStream]]: the bounded Space-Saving counter
    * table (item → (count, overestimate-error)). */
  case class SpaceSavingState(counters: Map[String, (Long, Long)], processed: Long)
  /** `n_processed` is the group's monotone total at emission time — an
    * Update-mode sink retains rows from earlier batches (including
    * later-EVICTED items), so "the final counter table" = the rows
    * carrying the group's max n_processed. */
  case class HeavyHitter(group_id: Long, item: String, count: Long,
    err: Long, n_processed: Long)

  /** Streaming heavy hitters with BOUNDED state: the Space-Saving
    * algorithm (Metwally et al., ICDT 2005) per group key. Each group
    * keeps at most `capacity` counters; an unseen item arriving at a
    * full table EVICTS the minimum counter and inherits its count + 1
    * with that count recorded as the overestimate error — the classic
    * guarantees hold (count ≥ true count; count − err ≤ true count;
    * any item with true frequency > N∕capacity is IN the table), so
    * state stays O(capacity) per group forever while an exact
    * streaming count grows with the distinct-item count — the thing
    * that kills long-running jobs. Emits the full counter table each
    * batch (Update semantics downstream pick top-k).
    *
    * When `capacity` ≥ distinct items per group the algorithm is
    * EXACT — the batch≡stream parity spec pins that path; eviction
    * bounds are spec'd separately. */
  def heavyHittersStream(events: org.apache.spark.sql.Dataset[KeyedTypedEvent],
      capacity: Int): org.apache.spark.sql.Dataset[HeavyHitter] = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SpaceSavingState, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[KeyedTypedEvent], state: GroupState[SpaceSavingState]) =>
          val st0 = state.getOption.getOrElse(SpaceSavingState(Map.empty, 0L))
          var c = st0.counters
          var np = st0.processed
          // deterministic fold order inside the batch
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val item = e.event_type
            np += 1
            c.get(item) match {
              case Some((n, err)) => c = c.updated(item, (n + 1, err))
              case None if c.size < capacity => c = c.updated(item, (1L, 0L))
              case None =>
                // evict the min counter (ties: lexicographically smallest
                // item — deterministic, any victim preserves the bounds)
                val (vic, (vn, _)) = c.minBy { case (k, (n, _)) => (n, k) }
                c = (c - vic).updated(item, (vn + 1, vn))
            }
          }
          state.update(SpaceSavingState(c, np))
          c.iterator.map { case (item, (n, err)) =>
            HeavyHitter(uid, item, n, err, np)
          }
      }
  }

  /** Input row for [[weightedSampleStream]]. */
  case class WeightedItem(group_id: Long, key: String, weight: Double)
  /** State for [[weightedSampleStream]]: the k best (score, key) pairs
    * per group — O(k) forever. */
  case class AesSampleState(items: List[(Long, String)], processed: Long)
  /** Emitted sample row; `n_processed` is the monotone progress marker
    * (the [[heavyHittersStream]] Update-mode recovery contract). */
  case class AesSample(group_id: Long, key: String, score_q8: Long,
    rank: Int, n_processed: Long)

  /** Streaming weighted sampling WITHOUT replacement per group — the
    * incremental twin of [[graft.ext.Sampling.weightedWithoutReplacement]]
    * (Efraimidis–Spirakis A-ES): each arriving item draws its
    * deterministic md5-uniform score ⌊−ln(u)∕w·10⁸⌋ from its OWN key,
    * and the group keeps the k SMALLEST (score, key) pairs. Because the
    * score is a pure function of the key (not of arrival order or
    * batching), the maintained sample is ORDER-INDEPENDENT: after any
    * prefix of the stream it equals the batch sampler run over exactly
    * the rows seen — the strongest parity a streaming sampler can have
    * (pinned in StreamingSpec across multi-batch feeds). State is O(k)
    * per group forever; re-deliveries of a key are absorbed by KEY
    * (same weight → same score → set semantics; a CHANGED weight keeps
    * the key's best score, so no key ever holds two sample slots).
    * Emits the full current sample each batch with ranks. */
  def weightedSampleStream(items: org.apache.spark.sql.Dataset[WeightedItem],
      k: Int): org.apache.spark.sql.Dataset[AesSample] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import items.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    items.groupByKey(_.group_id)
      .flatMapGroupsWithState[AesSampleState, AesSample](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (gid: Long, rows: Iterator[WeightedItem], state: GroupState[AesSampleState]) =>
          val st0 = state.getOption.getOrElse(AesSampleState(Nil, 0L))
          var np = st0.processed
          val incoming = rows.flatMap { r =>
            np += 1
            graft.ext.Sampling.aesScoreQ8(r.key, r.weight).map(s => (s, r.key))
          }.toList
          // dedup by KEY, not by (score, key): a key re-delivered with a
          // changed weight draws a different score and would otherwise
          // occupy two of the k slots — keep each key's best (smallest)
          // score so re-deliveries stay absorbed
          val merged = (st0.items ++ incoming)
            .groupMapReduce(_._2)(_._1)(math.min)
            .map { case (key, s) => (s, key) }
            .toList.sorted.take(k)
          state.update(AesSampleState(merged, np))
          merged.iterator.zipWithIndex.map { case ((s, key), i) =>
            AesSample(gid, key, s, i + 1, np)
          }
      }
  }

  /** Input row for [[cardinalityStream]]. */
  case class SrcToken(src: String, token: String)
  /** State for [[cardinalityStream]]: the 256 HLL register ranks —
    * O(256 bytes) per group FOREVER, the defining property. */
  case class HllRegs(regs: Array[Byte], processed: Long)
  /** Emitted estimate; `n_processed` is the monotone progress marker
    * (the Update-mode memory-sink recovery contract). */
  case class HllEstimate(src: String, n_processed: Long, hll_est: Long,
    v_zero: Long)

  /** Streaming distinct-count maintenance — the incremental twin of
    * [[graft.ext.Frequency.hllCardinality]]: each group keeps the 256
    * HyperLogLog register maxima (md5 bucket + leftmost-1-bit rank,
    * bit-identical to the batch sketch's hex-slice formulation), and
    * emits the current estimate each batch. Because register max is
    * order- and batching-independent, the maintained sketch after any
    * prefix EQUALS the batch sketch over exactly the rows seen — the
    * same strongest-parity contract as [[weightedSampleStream]]
    * (pinned in StreamingSpec across multi-batch feeds, including
    * re-deliveries, which are absorbed by max). State is 256 bytes per
    * group forever; the estimate applies the identical pre-multiplied
    * α numerator and the same 256-entry linear-counting table as the
    * batch side. */
  def cardinalityStream(items: org.apache.spark.sql.Dataset[SrcToken])
      : org.apache.spark.sql.Dataset[HllEstimate] = {
    import items.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val alphaNum = graft.ext.Frequency.hllAlphaNumerator.toDouble
    items.groupByKey(_.src)
      .flatMapGroupsWithState[HllRegs, HllEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[SrcToken], state: GroupState[HllRegs]) =>
          val st = state.getOption.getOrElse(HllRegs(new Array[Byte](256), 0L))
          val regs = st.regs.clone()
          var np = st.processed
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.foreach { r =>
            np += 1
            if (r.token != null && r.token.nonEmpty) {
              md.reset()
              val d = md.digest(r.token.getBytes("UTF-8"))
              val b = d(0) & 0xff
              val w = ((d(1) & 0xffL) << 24) | ((d(2) & 0xffL) << 16) |
                ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
              val rank =
                if (w == 0L) 33
                else java.lang.Long.numberOfLeadingZeros(w) - 32 + 1
              if (rank > regs(b)) regs(b) = rank.toByte
            }
          }
          state.update(HllRegs(regs, np))
          var s = 0L
          var v = 0L
          var i = 0
          while (i < 256) {
            s += 1L << (33 - regs(i))
            if (regs(i) == 0) v += 1
            i += 1
          }
          val raw = math.floor(alphaNum / s.toDouble).toLong
          val est =
            if (raw <= 640 && v > 0)
              math.floor(256.0 * math.log(256.0 / v)).toLong
            else raw
          Iterator.single(HllEstimate(src, np, est, v))
      }
  }

  /** State for [[transitionsStream]]: each key remembers only its LAST
    * event — O(1) state per key forever, the cheapest stateful shape. */
  case class LastSeen(tsMicros: Long, eventId: Long, eventType: String)
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of [[graft.ops.Journeys.transitions]]' pair
    * extraction: per-key from→to event-type steps emitted incrementally
    * (the downstream count/normalize is an ordinary streaming
    * aggregation, or [[runningAggSink]] for exact-resume maintenance).
    *
    * Rows within a micro-batch are sorted by (ts, event_id) before
    * folding, so intra-batch disorder is corrected; ACROSS batches the
    * operator assumes per-key in-order delivery (the state is one event
    * — event-time reordering beyond a batch would need a watermark
    * buffer, a deliberate trade for O(1) state per key). Batch≡stream
    * parity under chronological feeding is pinned in StreamingSpec. */
  def transitionsStream(events: org.apache.spark.sql.Dataset[KeyedTypedEvent])
      : org.apache.spark.sql.Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[KeyedTypedEvent], state: GroupState[LastSeen]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[Transition]()
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(l => out += Transition(uid, l.eventType, e.event_type))
            last = Some(LastSeen(e.ts.getTime, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class KeyedTypedEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)

  /** Watermark-bounded streaming dedup — `dropDuplicatesWithinWatermark`
    * on the event id. The unbounded-state trap in streaming dedup is
    * that plain `dropDuplicates` must remember EVERY key forever; the
    * within-watermark form evicts key state once the watermark passes
    * it, so state is bounded by (arrival rate × watermark) no matter how
    * long the stream runs — the only viable shape for deduping a
    * firehose of re-delivered events (at-least-once sources re-send
    * within bounded lateness by construction).
    *
    * Contract difference from [[dedupWithState]]: that one keeps a
    * PERMANENT per-user ledger (exactly the reference's processed-file
    * ledger); this one trades permanence for bounded state. */
  case class AttrEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String, value: Double)
  case class TouchState(usMicros: Long, eventId: Long, channel: String)
  case class Attributed(event_id: Long, channel: String, cents: Long)

  /** Stateful streaming twin of
    * [[graft.ops.Journeys.lastTouchAttribution]]: per-user state is the
    * LAST TOUCH only — O(1) per key, never the user's history (the same
    * bounded-state discipline as [[transitionsStream]]). Each arriving
    * conversion is credited to the remembered touch when it falls
    * inside the lookback, else 'direct'; touches merely refresh the
    * state. Intra-batch rows sort by (ts, touch-before-conversion,
    * event_id), so a chronologically-fed stream reproduces the batch
    * operator row for row (parity spec-pinned). */
  def attributionStream(events: org.apache.spark.sql.Dataset[AttrEvent],
      touchTypes: Set[String], convType: String, lookbackSeconds: Long)
      : org.apache.spark.sql.Dataset[Attributed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val lookbackUs = lookbackSeconds * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AttrEvent], state: GroupState[TouchState]) =>
          val sorted = rows.toSeq.sortBy(e =>
            (micros(e.ts), if (touchTypes(e.event_type)) 0 else 1, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[Attributed]()
          var last = state.getOption
          sorted.foreach { e =>
            if (touchTypes(e.event_type))
              last = Some(TouchState(micros(e.ts), e.event_id, e.event_type))
            else if (e.event_type == convType) {
              val ch = last match {
                case Some(t) if micros(e.ts) - t.usMicros <= lookbackUs =>
                  t.channel
                case _ => "direct"
              }
              out += Attributed(e.event_id, ch, math.round(e.value * 100))
            }
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  case class PatchEvent(user_id: Long, field: String, ts: java.sql.Timestamp,
      event_id: Long, v_q4: Option[Long])
  case class FieldWinner(usMicros: Long, eventId: Long, value: Long)
  case class GoldenState(fields: Map[String, FieldWinner])
  case class GoldenRow(user_id: Long, field: String, usMicros: Long,
      event_id: Long, v_q4: Long)

  /** Stateful streaming twin of [[graft.ops.Survivorship.goldenRecord]]:
    * per-key state is ONE winner per field (O(#fields), never the patch
    * history — the bounded-state discipline of [[attributionStream]]).
    * A null patch (v_q4 = None) touches nothing, so an older real value
    * survives it, exactly like the batch rule; the winner only advances
    * in the (ts, event_id) total order, so replayed or out-of-order
    * patches are idempotent. Update-mode emission: each batch re-emits
    * the current winner of every field it touched. Update-mode sinks
    * retain superseded rows from earlier batches; since the winner is
    * monotone in (usMicros, event_id), the final table is recovered by
    * max over exactly those columns per (user, field) — same recovery
    * contract as [[heavyHittersStream]]'s n_processed. */
  def survivorshipStream(patches: org.apache.spark.sql.Dataset[PatchEvent])
      : org.apache.spark.sql.Dataset[GoldenRow] = {
    import patches.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    patches.groupByKey(_.user_id)
      .flatMapGroupsWithState[GoldenState, GoldenRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[PatchEvent], state: GroupState[GoldenState]) =>
          var m = state.getOption.map(_.fields).getOrElse(Map.empty[String, FieldWinner])
          val touched = scala.collection.mutable.LinkedHashSet[String]()
          rows.foreach { p =>
            p.v_q4.foreach { v =>
              val us = micros(p.ts)
              val advances = m.get(p.field).forall(cur =>
                us > cur.usMicros || (us == cur.usMicros && p.event_id > cur.eventId))
              if (advances) m += p.field -> FieldWinner(us, p.event_id, v)
              touched += p.field
            }
          }
          if (touched.nonEmpty) state.update(GoldenState(m))
          touched.iterator.map { f =>
            val w = m(f)
            GoldenRow(uid, f, w.usMicros, w.eventId, w.value)
          }
      }
  }

  case class KeyedValueEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  case class RingState(vals: Seq[Long])
  case class AnomalyFlag(user_id: Long, event_id: Long, v_q4: Long,
      w_n: Long, w_sum_q4: Long, is_anomaly: Boolean)

  /** Stateful streaming twin of [[graft.ops.Resample.anomalies]]: each
    * key's state is a RING BUFFER of its last `window` q4 values — O(1)
    * bounded state per key (like [[transitionsStream]]'s last-event
    * state, never the key's history) — and each arriving event is
    * flagged against the exact same integer co-moment test
    * (`(v·n − s)² > k²·(n·ss − s²)`, floats only in the final squared
    * compare) before joining the buffer. Intra-batch rows sort by
    * (ts, event_id) first, so a chronologically-fed stream reproduces
    * the batch operator row for row (parity spec-pinned). */
  def anomaliesStream(events: org.apache.spark.sql.Dataset[KeyedValueEvent],
      window: Int = 20, minObs: Int = 5, k: Int = 3)
      : org.apache.spark.sql.Dataset[AnomalyFlag] = {
    require(window >= 1 && minObs >= 2 && k >= 1,
      s"need window >= 1, minObs >= 2, k >= 1; got $window/$minObs/$k")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RingState, AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[KeyedValueEvent], state: GroupState[RingState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var buf = state.getOption.map(_.vals).getOrElse(Seq.empty)
          val out = sorted.map { e =>
            val v = math.floor(e.value * 10000.0).toLong
            val n = buf.length.toLong
            val s = buf.sum
            val ss = buf.iterator.map(x => x * x).sum
            val dev = (v * n - s).toDouble
            val spread = (n * ss - s * s).toDouble
            val flag = n >= minObs && dev * dev > (k.toDouble * k) * spread
            buf = (buf :+ v).takeRight(window)
            AnomalyFlag(uid, e.event_id, v, n, s, flag)
          }
          state.update(RingState(buf))
          out.iterator
      }
  }

  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "10 minutes",
      idCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each right-side event matched to the
    * left-side events of the same key whose timestamp precedes it by at
    * most `maxDelay` (view→click attribution, request→response pairing).
    *
    * This is the join mode ONLY a time-range condition makes viable on
    * two unbounded streams: the watermarks plus the two-sided bound on
    * `rightTs − leftTs` let the engine evict left state once
    * `watermark > leftTs + maxDelay` and right state once
    * `watermark > rightTs`, so state is (rate × (maxDelay + watermark))
    * — bounded — instead of the whole history. Without the range bound
    * Spark refuses the streaming join outright (it would have to keep
    * every row forever).
    *
    * The SAME call works in batch (the analyzer's
    * EliminateEventTimeWatermark drops watermark nodes in batch plans),
    * where Catalyst plans it as an equi-join on `key` with the range as
    * a residual join filter — a hash/sort-merge join, never a nested
    * loop, because the equi key carries the shuffle. At 100 TB the
    * per-key groups (one user's events) are tiny, so the residual filter
    * does negligible work per matched pair.
    *
    * Column names other than `key` must be disjoint between the sides
    * (rename before calling — the query layer does). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, maxDelay: String,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxDelay"))
      .drop(col(s"r.$key"))
  }

  /** LEFT OUTER stream-stream interval join — [[intervalJoin]]'s outer
    * form: left rows with no in-window right match are EMITTED WITH
    * NULLS once the watermark passes their join window (Spark can only
    * declare "no match will ever come" after both sides' watermarks
    * clear the window — until then the row waits in state). Same state
    * bound as the inner form; the only addition is the deferred
    * null-padded emission. In batch the identical call degenerates to
    * a plain left join (watermarks are no-ops) — spec-pinned. */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, maxDelay: String,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $maxDelay"),
        "left_outer")
      .drop(col(s"r.$key"))
  }

  /** Stream-static enrichment: a live stream joined to a slowly-moving
    * dimension. Stateless on the stream side (each micro-batch joins the
    * dimension as of that batch — no watermark, no join state), and the
    * dimension hop is a broadcast, so the firehose is never shuffled for
    * the lookup — the streaming twin of the batch J1/J2 dimension
    * lookups and the natural reader of an [[graft.ops.Scd2]] current
    * slice (`where is_current`). */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-static AS-OF enrichment — the streaming twin of
    * [[graft.ops.AsofJoin.asofBackward]]: each stream row picks up the
    * LATEST dimension-history row at or before its timestamp, per key
    * (price as of the trade, config as of the event). Completes the
    * batch/streaming symmetry of the as-of family: the batch operator
    * has merge and broadcast physical shapes; this is the broadcast
    * probe loop inside a stateless streaming projection.
    *
    * Shape: the dimension HISTORY (key, ts, payload — dimension-sized
    * by contract, ENFORCED by `maxDimRows`: the collect is counted
    * first and a fact-sized history fails loudly instead of OOMing the
    * driver) is collected once at
    * query build, indexed per key as a ts-sorted array, and broadcast;
    * each stream row binary-searches its key's array — the
    * BroadcastAsofJoinExec probe loop. The stream side is never
    * shuffled, carries no watermark, and holds no operator state, so
    * the firehose can be any size.
    *
    * Semantics match [[graft.ops.AsofJoin.asofBackward]] (parity-pinned
    * in StreamingSpec): equal-timestamp dim rows match; stream rows
    * with no prior dim row (or null key/ts) keep null match columns;
    * null-keyed/null-ts dim rows are dropped; several dim rows at the
    * same (key, ts) resolve to the greatest payload (field-by-field
    * comparison). The history is a SNAPSHOT as of query start — a
    * changed dimension needs a query restart (the standard stream-static
    * broadcast trade; use [[enrichStream]]'s per-batch join semantics
    * when the dim must be re-read each batch and plain-key lookup
    * suffices). */
  def asofJoinStream(stream: DataFrame, dimHistory: DataFrame,
      keys: Seq[String], tsCol: String,
      rightPrefix: String = "r_",
      maxDimRows: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
    require(keys.nonEmpty, "asof join needs at least one key column")
    val spark = stream.sparkSession
    val rPayload = dimHistory.columns
      .filterNot(c => keys.contains(c) || c == tsCol).toSeq
    val tsIsTimestamp = dimHistory.schema(tsCol).dataType match {
      case TimestampType | TimestampNTZType => true
      case LongType => false
      case dt => throw new IllegalArgumentException(
        s"asof ts column must be timestamp/long, got $dt ($tsCol)")
    }
    // the cast is a no-op for TIMESTAMP and pins the session-zone
    // interpretation for TIMESTAMP_NTZ (unix_micros requires TIMESTAMP)
    def micros(c: org.apache.spark.sql.Column) =
      if (tsIsTimestamp) unix_micros(c.cast("timestamp")) else c
    val matchCols = (col(tsCol).as(tsCol) +: rPayload.map(col)): Seq[org.apache.spark.sql.Column]
    val matchType = dimHistory.select(struct(matchCols: _*).as("m"))
      .schema("m").dataType.asInstanceOf[StructType]
    // field-by-field external-row comparison — the struct-ordering rule
    // asofBackward's window applies to equal-(key, ts) duplicates
    def cmpAny(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Row, y: Row) =>
        (0 until math.min(x.length, y.length)).iterator
          .map(i => cmpAny(x.get(i), y.get(i))).find(_ != 0).getOrElse(0)
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
      case (x, y) => x.toString.compareTo(y.toString)
    }
    val dimRows = dimHistory
      .where(keys.map(col(_).isNotNull).reduce(_ && _) && col(tsCol).isNotNull)
      .select(struct(keys.map(col): _*).as("_k"),
        micros(col(tsCol)).as("_tsus"), struct(matchCols: _*).as("_r"))
    // "dimension-sized by contract" must be enforced, not assumed: a
    // caller handing a FACT-sized history would otherwise OOM the
    // driver with no useful error (the ops/Journeys bounded-collect
    // convention — count first, collect only under the bound)
    val nDim = dimRows.count()
    require(nDim <= maxDimRows,
      s"asofJoinStream dimension history has $nDim rows (> maxDimRows=" +
        s"$maxDimRows) — this operator broadcasts the FULL history; " +
        "pass a dimension-sized frame, raise maxDimRows explicitly, or " +
        "use asofJoinSink (per-micro-batch shuffle as-of, no broadcast " +
        "bound)")
    val collected = dimRows.collect()
    val index: Map[Row, (Array[Long], Array[Row])] =
      collected.groupBy(_.getStruct(0)).map { case (k, rows) =>
        // ascending (ts, payload): the RIGHTMOST entry with ts <= probe
        // is both the latest and, on ties, the greatest payload
        val sorted = rows.sortWith { (a, b) =>
          a.getLong(1) < b.getLong(1) || (a.getLong(1) == b.getLong(1) &&
            cmpAny(a.getStruct(2), b.getStruct(2)) < 0)
        }
        k -> ((sorted.map(_.getLong(1)), sorted.map(_.getStruct(2): Row)))
      }
    val bc = spark.sparkContext.broadcast(index)
    val lookup = udf(
      new org.apache.spark.sql.api.java.UDF2[Row, java.lang.Long, Row] {
        override def call(k: Row, tsus: java.lang.Long): Row = {
          if (k == null || tsus == null) return null
          bc.value.get(k) match {
            case None => null
            case Some((starts, rows)) =>
              // rightmost index with starts(i) <= probe ts
              var lo = 0; var hi = starts.length
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (starts(mid) <= tsus) lo = mid + 1 else hi = mid
              }
              if (lo == 0) null else rows(lo - 1)
          }
        }
      }, matchType)
    val streamCols = stream.columns.toSeq
    stream
      .withColumn("_asof_match",
        lookup(struct(keys.map(col): _*), micros(col(tsCol))))
      .select(streamCols.map(col) ++ (tsCol +: rPayload).map(c =>
        col("_asof_match").getField(c).as(rightPrefix + c)): _*)
  }

  /** Over-limit companion of [[asofJoinStream]]: the graceful-degrade
    * path when the dimension history exceeds the broadcast bound. Each
    * micro-batch is as-of joined against the FULL history with the
    * SHUFFLE operator [[graft.ops.AsofJoin.asofBackward]] — per-trigger
    * cost is a (batch ∪ history) key-shuffle instead of a driver-built
    * broadcast index, so the history can be arbitrarily large; the
    * trade is per-batch latency, which is why [[asofJoinStream]] stays
    * the default under the bound. Identical match semantics (backward
    * inclusive, equal-ts payload tie-break, null keys/no-prior → null).
    *
    * Exactly-once by idempotent output: each micro-batch overwrites its
    * own `b<batchId>` subdirectory, so a replayed batch rewrites the
    * same files and the union of subdirs is exactly the processed
    * prefix of the stream (the [[corpusFilterSink]] shape). */
  def asofJoinSink(stream: DataFrame, dimHistory: DataFrame,
      keys: Seq[String], tsCol: String, outPath: String,
      checkpoint: String,
      rightPrefix: String = "r_"): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // match asofJoinStream's contract exactly: null-ts history rows
        // are DROPPED (asofBackward alone would sort a null ts first and
        // hand it to every probe as the "earliest" version)
        graft.ops.AsofJoin
          .asofBackward(batch, dimHistory.where(col(tsCol).isNotNull),
            keys, tsCol, rightPrefix)
          .write.mode("overwrite").parquet(s"$outPath/b$batchId")
        ()
      }
  }

  /** Incremental aggregate maintenance: keep a per-key (n, total)
    * aggregate table up to date from a stream WITHOUT ever
    * re-aggregating history — each micro-batch is pre-aggregated (one
    * small shuffle over the batch) and merged ADDITIVELY into the
    * target, so the cost per trigger is O(batch + |aggregate table|)
    * no matter how much history the stream has seen. This is the
    * materialized-view-maintenance shape: count/sum are the
    * self-mergeable aggregates (avg = total/n at read time); the same
    * skeleton carries any commutative monoid (min/max/HLL/bounded
    * top-k). The alternative — a watermarked complete-mode aggregation
    * — holds every key in operator state forever; here state lives in
    * the target table and the checkpoint only tracks file progress.
    *
    * Exactly-once: the ADDITIVE merge is the one sink shape that is
    * NOT idempotent under replay, so the swapped table carries its own
    * transaction marker — a `_graft_batch` sidecar committed in the
    * SAME atomic rename as the data. A replayed batch (crash after the
    * swap, before the streaming checkpoint recorded the commit) sees
    * its own id already in the marker and becomes a no-op instead of
    * double-counting. The marker is scoped to the streaming QUERY id
    * (`_graft_query` sidecar, persisted in the checkpoint metadata so
    * it survives restarts): batch ids restart at 0 when a checkpoint is
    * deleted, and an unscoped marker would then silently SKIP every
    * replayed batch — data loss dressed as replay protection. A query-id
    * mismatch fails loudly instead. */
  def runningAggSink(stream: DataFrame, targetPath: String,
      keys: Seq[String], valueCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // batch ids are only meaningful WITHIN one checkpoint lineage:
        // a deleted-and-recreated checkpoint (or a new query pointed at
        // an existing target) restarts them at 0, and silently skipping
        // batches <= the stored marker would be data LOSS, not replay
        // protection. The streaming query id is persisted in the
        // checkpoint metadata, so it is the lineage identity: same
        // checkpoint across restarts → same id; deleted checkpoint →
        // new id → fail loudly instead of mis-merging.
        val queryId = Option(spark.sparkContext
          .getLocalProperty("sql.streaming.queryId")).getOrElse("")
        val storedQuery = graft.io.Sinks
          .readSidecar(spark, targetPath, "_graft_query").map(_.trim)
        storedQuery match {
          case Some(sq) =>
            if (queryId.nonEmpty && sq.nonEmpty && sq != queryId)
              throw new IllegalStateException(
                s"runningAggSink target $targetPath was built by streaming " +
                  s"query $sq but this query is $queryId — the checkpoint " +
                  "was recreated (batch ids restarted) or the target belongs " +
                  "to another query; remove the target to rebuild, or point " +
                  "this query at a fresh target")
          case None =>
            // legacy target (built before the lineage sidecar existed):
            // for THIS batch the replay check below runs unscoped — a
            // recreated checkpoint's restarted batch ids could silently
            // skip. Warn loudly, and adopt the current query id NOW
            // (regardless of whether the batch-id check skips the merge)
            // so every subsequent batch is lineage-scoped again.
            val hasBatchMarker = graft.io.Sinks
              .readSidecar(spark, targetPath, "_graft_batch").isDefined
            if (hasBatchMarker) {
              log.warn(
                s"runningAggSink target $targetPath has a _graft_batch " +
                  "marker but no _graft_query lineage sidecar (pre-lineage " +
                  "target): replay protection runs UNSCOPED for this batch " +
                  s"— adopting query id $queryId from here on")
              if (queryId.nonEmpty)
                graft.io.Sinks.writeSidecar(
                  spark, targetPath, "_graft_query", queryId)
            }
        }
        val alreadyMerged = graft.io.Sinks
          .readSidecar(spark, targetPath, "_graft_batch")
          .exists(_.trim.toLong >= batchId)
        if (!alreadyMerged) {
          val delta = batch.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("_d_n"), sum(col(valueCol)).as("_d_total"))
          val target =
            try spark.read.parquet(targetPath)
            catch { case _: Throwable =>
              delta.select(keys.map(col) :+ col("_d_n").as("n") :+
                col("_d_total").as("total"): _*).limit(0) }
          val merged = target.join(delta, keys, "full")
            .select(keys.map(col) ++ Seq(
              (coalesce(col("n"), lit(0L)) + coalesce(col("_d_n"), lit(0L)))
                .as("n"),
              (coalesce(col("total"), lit(0.0)) +
                coalesce(col("_d_total"), lit(0.0))).as("total")): _*)
          graft.io.Sinks.atomicParquetSwap(merged, targetPath,
            sidecar = Map("_graft_batch" -> batchId.toString,
              "_graft_query" -> queryId))
        }
        ()
      }

  /** Streaming preference leaderboard, write half: maintain the
    * DIRECTED win matrix from a stream of `(winner, loser)` outcomes —
    * [[runningAggSink]]'s additive-monoid skeleton with keys =
    * (winner, loser), so per-trigger cost is O(batch + matrix) however
    * much preference history the stream has seen, and the exactly-once
    * machinery (atomic swap, `_graft_batch` replay marker scoped by
    * `_graft_query` lineage) is INHERITED, not re-implemented. The
    * matrix row count is players²-bounded — the same bound the
    * Bradley–Terry fit relies on — so the merge side stays tiny while
    * outcome volume grows without limit. */
  def preferenceSink(outcomes: DataFrame, targetPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    runningAggSink(
      outcomes.select(col("winner"), col("loser"), lit(1L).as("_one")),
      targetPath, Seq("winner", "loser"), "_one", checkpoint)

  /** Read half: fit Bradley–Terry strengths off the maintained matrix
    * on demand ([[graft.ext.Preference.bradleyTerryFromMatrix]] — the
    * `n` count column IS the win count). Readout cost is matrix-sized,
    * independent of stream history. */
  def preferenceLeaderboard(spark: SparkSession, targetPath: String,
      iters: Int = 10, maxPlayers: Int = 1024): DataFrame =
    graft.ext.Preference.bradleyTerryFromMatrix(
      spark.read.parquet(targetPath)
        .select(col("winner"), col("loser"), col("n")),
      winnerCol = "winner", loserCol = "loser", winsCol = "n",
      iters = iters, maxPlayers = maxPlayers)

  /** Streaming twin of [[graft.ext.TextStats.filterCorpus]] — the
    * incremental shape of corpus curation at 100 TB: new documents land
    * continuously and each is scored ONCE, routed to the kept corpus or
    * to a reject store that names every failed rule (auditable, and the
    * raw text rides along so rejected docs can be re-judged under new
    * thresholds without re-crawling).
    *
    * The cascade is a stateless narrow pass, so streaming it needs no
    * watermarks or operator state — per-micro-batch cost is exactly the
    * batch cascade on the batch's rows. Exactly-once by IDEMPOTENT
    * OUTPUT, not state: each micro-batch overwrites its own
    * `b<batchId>` subdirectory on both sides, so a replayed batch
    * rewrites the same files and the union of subdirs is always exactly
    * the processed prefix of the stream. The batch is persisted once and
    * split — the cascade never runs twice per doc. */
  def corpusFilterSink(docs: DataFrame, textCol: String,
      keepPath: String, rejectPath: String, checkpoint: String,
      minTokens: Long = 15L, minQualityQ4: Long = 8000L,
      langWant: String = "en", maxDup5Q4: Long = 1000L,
      maxTop2Q4: Long = 2000L): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.ext.TextStats.filterCorpus(batch, textCol,
            minTokens, minQualityQ4, langWant, maxDup5Q4, maxTop2Q4,
            passthrough = Seq(textCol))
          .persist()
        try {
          scored.where(col("keep")).drop("reasons", "keep")
            .write.mode("overwrite").parquet(s"$keepPath/b$batchId")
          scored.where(!col("keep")).drop("keep")
            .write.mode("overwrite").parquet(s"$rejectPath/b$batchId")
        } finally { scored.unpersist(); () }
      }

  /** Sequential-greedy duplicate resolution over one micro-batch's
    * candidate graph: replay "process ids ascending; keep unless a
    * KEPT smaller candidate (or the index) matches" relationally.
    *
    * `idxRejected` (_nid, dup_of) are definitive rejects (anchors are
    * indexed, i.e. already-kept, docs); `edges` (_oid < _nid) are the
    * verified in-batch candidate pairs; `ids` the batch's doc ids.
    * Returns (_nid, dup_of) where every dup_of is a kept or indexed
    * doc — never a rejected peer.
    *
    * Each round finalizes (1) KEPT: undecided ids whose smaller
    * candidate neighbors are all rejected (their greedy outcome can no
    * longer change), then (2) REJECTED: undecided ids with a kept
    * smaller neighbor. The minimum undecided id is
    * decided every round, and rounds bound by the longest alternating
    * kept-chain — duplicate clusters are shallow, but `maxRounds`
    * THROWS rather than mislabel on an adversarial batch.
    *
    * Anchors are assigned AFTER convergence, against the FINAL kept
    * set: a smaller candidate neighbor can become kept in a LATER
    * round than the one that rejected this id (chain-fed structure —
    * e.g. edges (1,2)(2,3)(3,6)(5,6): 6 is rejected in round 1 by the
    * then-kept 5, but 3 only resolves kept in round 2 and the literal
    * replay anchors 6 at min(3,5)=3). Since kept is monotone and every
    * smaller id is final by convergence, min(kept smaller neighbor) at
    * convergence IS the literal sequential-greedy anchor. Frames are
    * batch-sized; each round hands its sets on through
    * [[graft.ops.Iterate.loopBarrier]]. */
  private[graft] def sequentialGreedy(idxRejected: DataFrame,
      edges: DataFrame, ids: DataFrame, maxRounds: Int = 60): DataFrame = {
    import graft.ops.Iterate
    Iterate.loop("sequentialGreedy", maxRounds, "raise maxRounds") { l =>
      l.stage("setup")
      val idxRej = Iterate.loopBarrier(
        idxRejected.select(col("_nid"), col("dup_of")))
      // the loop only needs the rejected-ID SET; in-batch anchors wait
      // for the final kept set
      var rejectedIds = idxRej.select(col("_nid"))
      var kept = ids.select(col("_nid")).limit(0)
      var (undecided, nUndecided) = Iterate.loopBarrierCount(
        ids.select(col("_nid")).distinct()
          .join(rejectedIds, Seq("_nid"), "left_anti"))
      val e = Iterate.loopBarrier(
        edges.select(col("_oid"), col("_nid")).distinct())
      while (nUndecided > 0) {
        val round = l.round(undecided, kept, rejectedIds, e, idxRej) + 1
        // edges whose smaller endpoint is rejected can never reject
        val live = Iterate.loopBarrier(
          e.join(rejectedIds.select(col("_nid").as("_oid")), Seq("_oid"), "left_anti"))
        val blocked = live.select(col("_nid")).distinct()
        val newKept = Iterate.loopBarrier(
          undecided.join(blocked, Seq("_nid"), "left_anti"))
        kept = Iterate.loopBarrier(kept.unionByName(newKept))
        val newRej = Iterate.loopBarrier(
          live.join(kept.select(col("_nid").as("_oid")), Seq("_oid"))
            .join(undecided.join(newKept, Seq("_nid"), "left_anti"), Seq("_nid"))
            .select(col("_nid")).distinct())
        rejectedIds = Iterate.loopBarrier(rejectedIds.unionByName(newRej))
        val (next, n2) = Iterate.loopBarrierCount(
          undecided.join(newKept, Seq("_nid"), "left_anti")
            .join(newRej, Seq("_nid"), "left_anti"))
        // progress is guaranteed (the min undecided id always resolves);
        // the guard keeps a logic regression from spinning silently
        if (n2 >= nUndecided) throw new IllegalStateException(
          s"sequentialGreedy made no progress at round $round ($n2 undecided)")
        undecided = next
        nUndecided = n2
      }
      // anchor assignment vs the FINAL kept set (kept ids are never
      // revoked, so every batch-rejected id has >=1 kept smaller
      // neighbor and its min is the literal replay's anchor);
      // idx-rejected anchors stand as given
      val batchRej = rejectedIds
        .join(idxRej.select(col("_nid")), Seq("_nid"), "left_anti")
      val anchored = batchRej
        .join(e, Seq("_nid"))
        .join(kept.select(col("_nid").as("_oid")), Seq("_oid"))
        .groupBy(col("_nid")).agg(min(col("_oid")).as("dup_of"))
      idxRej.unionByName(anchored)
    }
  }


  /** Incremental NEAR-DUP dedup sink — the production shape of corpus
    * deduplication: documents land continuously, each new document is
    * checked against a persistent MinHash-LSH INDEX of everything kept
    * so far, and only survivors join the index. The batch operator
    * ([[graft.ext.Dedup.minhashLsh]]) answers "which pairs are dups";
    * this answers the online question "should THIS document enter the
    * corpus" without ever rescanning the corpus.
    *
    * Decision rule (deterministic, documented contract): a document is
    * REJECTED iff its signature matches — shares an LSH band bucket AND
    * agrees on ≥ `minAgree` of the k MinHash components — (a) any
    * already-INDEXED document, or (b) a smaller-id KEPT document in its
    * own micro-batch. In-batch resolution is TRUE sequential greedy
    * (process ids ascending; a doc is rejected only by a doc that
    * actually enters the corpus), computed relationally by
    * [[sequentialGreedy]] — so `dup_of` always anchors at a kept or
    * indexed document, never at a peer that was itself rejected, and a
    * chain a←b←c keeps a AND c (b's rejection does not cascade).
    * Matching is signature-only
    * (no stored text, no exact-Jaccard verify): at index scale the
    * corpus text cannot be re-read per batch, which is precisely the
    * trade the production incremental dedupers make.
    *
    * Exactly-once by idempotent output: keep/reject/index rows all land
    * in per-batch `b<batchId>` subdirectories, and a batch PROBES only
    * STRICTLY-EARLIER batch dirs — a replayed batch neither re-appends
    * nor sees its own failed attempt's index rows (which would reject
    * every doc against itself). Index rows are (doc_id, sig, band_idx,
    * band_val): band-bucket equi-join probes, candidate-bounded work,
    * never all-pairs. */
  def nearDupSink(docs: DataFrame, indexPath: String, keepPath: String,
      rejectPath: String, checkpoint: String, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 6, r: Int = 2,
      minAgree: Int = 4): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(k % r == 0 && minAgree >= 1 && minAgree <= k,
      s"need r | k and 1 <= minAgree <= k; got k=$k r=$r minAgree=$minAgree")
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val agreeExpr = expr(
          """aggregate(zip_with(_sig, _sig_old, (x, y) ->
            |  IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)""".stripMargin)
        val sigd = batch.withColumn("_m",
            org.apache.spark.sql.GraftColumnBridge.toColumn(
              graft.functions.ShingleMinhash(
                org.apache.spark.sql.GraftColumnBridge.toExpr(
                  graft.ext.TextStats.tokens(col(textCol))), 3, k)))
          .withColumn("_sig", col("_m.sig"))
          .withColumn("_bands",
            graft.ext.Dedup.bandArray(col("_sig"), k, r))
          .drop("_m")
          .persist()
        try {
          val bandsNew = sigd.select(col(idCol).as("_nid"), col("_sig"),
              explode(col("_bands")).as("_b"))
            .select(col("_nid"), col("_sig"),
              col("_b.band_idx").as("band_idx"),
              col("_b.band_val").as("band_val"))
          // probe ONLY strictly-earlier batch dirs: a replayed batch
          // must not see its own failed attempt's index rows (it would
          // reject every one of its docs against itself)
          val hPath = new org.apache.hadoop.fs.Path(indexPath)
          val hfs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val earlier: Seq[String] =
            if (hfs.exists(hPath))
              hfs.listStatus(hPath).filter(_.isDirectory)
                .map(_.getPath.getName)
                .flatMap(n => if (n.startsWith("b"))
                  n.drop(1).toLongOption else None)
                .filter(_ < batchId)
                .map(n => s"$indexPath/b$n").toSeq
            else Seq.empty
          val index =
            if (earlier.isEmpty)
              bandsNew.select(col("_nid").as(idCol),
                col("_sig").as("sig"), col("band_idx"), col("band_val"))
                .limit(0)
            else spark.read.parquet(earlier: _*)
          // (a) probe the persistent index — an index match is a
          // definitive reject (its anchor is in the corpus by
          // construction)
          val dupIdx = bandsNew.join(index
                .select(col(idCol).as("_oid"), col("sig").as("_sig_old"),
                  col("band_idx"), col("band_val")),
              Seq("band_idx", "band_val"))
            .select(col("_nid"), col("_oid"), col("_sig"), col("_sig_old"))
            .distinct()
            .where(agreeExpr >= minAgree)
            .groupBy(col("_nid")).agg(min(col("_oid")).as("dup_of"))
          // (b) in-batch candidate EDGES (smaller id → larger id), then
          // sequential-greedy resolution: only KEPT docs reject
          val right = bandsNew.select(col("_nid").as("_bigid"),
            col("_sig"), col("band_idx"), col("band_val"))
          val inEdges = bandsNew
            .select(col("_nid").as("_oid"), col("_sig").as("_sig_old"),
              col("band_idx"), col("band_val"))
            .join(right, Seq("band_idx", "band_val"))
            .where(col("_oid") < col("_bigid"))
            .select(col("_bigid").as("_nid"), col("_oid"), col("_sig"),
              col("_sig_old"))
            .distinct()
            .where(agreeExpr >= minAgree)
            .select(col("_oid"), col("_nid"))
          val rejected = sequentialGreedy(dupIdx, inEdges,
            sigd.select(col(idCol).as("_nid"))).persist()
          val keeps = sigd.join(rejected,
            sigd(idCol) === rejected("_nid"), "left_anti")
          val rejects = sigd.join(rejected, sigd(idCol) === rejected("_nid"))
            .drop("_nid")
          keeps.drop("_sig", "_bands")
            .write.mode("overwrite").parquet(s"$keepPath/b$batchId")
          rejects.drop("_sig", "_bands").select(col("*"))
            .write.mode("overwrite").parquet(s"$rejectPath/b$batchId")
          // survivors enter the index: exploded band rows + signature
          keeps.select(col(idCol), col("_sig").as("sig"),
              explode(col("_bands")).as("_b"))
            .select(col(idCol), col("sig"),
              col("_b.band_idx").as("band_idx"),
              col("_b.band_val").as("band_val"))
            .write.mode("overwrite").parquet(s"$indexPath/b$batchId")
          rejected.unpersist()
          ()
        } finally { sigd.unpersist(); () }
      }
  }

  /** Insert-only merge sink: each micro-batch merges into the target
    * with `$setOnInsert` semantics (discovery never clobbers
    * enrichments) — update_reads.py:46-56 as a streaming sink.
    *
    * With `partitionCol` set (e.g. `ccgp_project_id`, the
    * [[graft.io.Layout.writePartitioned]] layout), each micro-batch
    * merges ONLY the partitions whose keys appear in the batch: the
    * rewrite cost scales with the batch, not the table — at 100 TB a
    * handful of new S3 files must not trigger a full-table
    * shuffle+rewrite. Untouched partition directories are never opened.
    * Partition values must be non-null; each partition swap goes through
    * [[graft.io.Sinks.atomicParquetSwap]] (rename-aside, crash-safe,
    * result-checked). Without `partitionCol` the whole table is merged —
    * only appropriate for small control tables. */
  def insertOnlyMergeSink(stream: DataFrame, targetPath: String,
      keys: Seq[String], checkpoint: String,
      partitionCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        def mergeInto(path: String, delta: DataFrame): Unit = {
          val target =
            try spark.read.parquet(path)
            catch { case _: Throwable => delta.limit(0) }
          val policies = delta.columns.filterNot(keys.contains)
            .map(_ -> (Upsert.SetOnInsert: Upsert.Policy)).toMap
          graft.io.Sinks.atomicParquetSwap(
            Upsert.merge(target, delta.dropDuplicates(keys), keys, policies), path)
        }
        partitionCol match {
          case None => mergeInto(targetPath, batch)
          case Some(pc) =>
            // distinct partition keys IN THIS BATCH — bounded by batch
            // size; this is the set of directories we're allowed to touch
            val parts = batch.select(col(pc)).distinct().collect().map(_.get(0))
            parts.foreach { pv =>
              mergeInto(s"$targetPath/$pc=$pv",
                batch.where(col(pc) === lit(pv)).drop(pc))
            }
        }
        ()
      }
}

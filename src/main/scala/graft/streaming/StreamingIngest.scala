package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming form of the §2.10 interval join (SURVEY §2.10). The
  * paper's "only process new inputs" ingestion runs as batch queries
  * (`p9_anti_ledger`, `s20_incremental_agg`, `s18_snapshot_roundtrip`). */
object StreamingIngest {

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
}

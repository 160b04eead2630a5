package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Histogram-bucketed prefix machinery for per-group ORDERED operators
  * (ranks, running sums, running maxes) whose group key is
  * LOW-CARDINALITY — the scale killer the plan audit cannot see:
  * `Window.partitionBy(g)` with |g| ∈ {3, 20, 25} is nominally
  * partitioned, yet each partition is a whole group sorted in ONE task
  * (r11's spearman measured 12.6 s → 4.9 s at m10 from exactly this).
  *
  * The shape: bucket rows by a MONOTONE function of the order value
  * (equal values always share a bucket, so tie groups never straddle a
  * boundary), roll up one per-(group, bucket) partial — a broadcast-sized
  * |groups|·|buckets| frame — and convert it to exclusive prefix
  * offsets; the caller then windows over (group, bucket), whose
  * partitions are |group|∕buckets rows, and adds the offset back:
  *
  *   global rank        = offset(count) + rank-in-bucket
  *   global running sum = offset(sum)   + running-sum-in-bucket
  *   global running max = max(offset(max), running-max-in-bucket)
  */
private[graft] object GroupedPrefix {

  /** Adds two columns to `df`: `_b` — the bucket index of `valueCol`
    * within its group's [min, max] span (monotone; nulls land FIRST
    * ascending / LAST descending, matching Spark's default window null
    * order) — and `offName`, `perBucketAgg` aggregated over all
    * STRICTLY LOWER buckets of the same group (null when none — callers
    * coalesce to their identity: 0 for count/sum, nothing for max).
    * With `descending = true`, ascending `_b` follows DESCENDING value
    * order, for running aggregates over `orderBy(value.desc)` windows.
    *
    * Cost: one broadcast-sized group-span rollup, one broadcast-sized
    * (group, bucket) rollup — no row-scale shuffle of its own; the
    * caller's (group, _b) window carries the only full-data exchange.
    * The constant is real (~1 s of extra rollups/joins at bench SFs —
    * measured, see ROUND_NOTES r11): this machinery buys ASYMPTOTICS
    * (no task ever sorts a whole group), so it belongs on operators
    * whose group key is FIXED-cardinality while the data grows.
    *
    * NULL group keys are kept as their own group — exact
    * `Window.partitionBy` parity (Spark windows put null keys in one
    * partition): the two offset joins below are NULL-SAFE (`<=>`), so
    * a null-containing user group column loses nothing. */
  def withBucketOffsets(df: DataFrame, groupCols: Seq[String],
      valueCol: String, perBucketAgg: Column, offName: String,
      buckets: Int = 256, descending: Boolean = false,
      prefixCombine: Column => Column = sum): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val g = groupCols.map(col)
    val stats = broadcast(df.groupBy(g: _*).agg(
      min(col(valueCol).cast("double")).as("_gp_lo"),
      max(col(valueCol).cast("double")).as("_gp_hi")))
    val raw = least(lit(buckets - 1), greatest(lit(0),
      floor((col(valueCol).cast("double") - col("_gp_lo")) /
        ((col("_gp_hi") - col("_gp_lo")) / buckets + lit(1e-300)))
        .cast("int")))
    val idx = if (descending) lit(buckets - 1) - raw else raw
    val nullIdx = if (descending) lit(buckets) else lit(-1)
    val withB = joinNullSafe(df, stats, groupCols)
      .withColumn("_b", when(col(valueCol).isNull, nullIdx).otherwise(idx))
      .drop("_gp_lo", "_gp_hi")
    val off = broadcast(withB
      .groupBy((g :+ col("_b")): _*).agg(perBucketAgg.as("_gp_c"))
      .withColumn(offName, prefixCombine(col("_gp_c")).over(
        Window.partitionBy(g: _*).orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .drop("_gp_c"))
    joinNullSafe(withB, off, groupCols :+ "_b")
  }

  /** Inner join on `keys` with NULL-SAFE equality — the join shape
    * every window-replacement rollup needs: groupBy KEEPS a null
    * group, and joining its aggregate back with plain `=` would
    * silently drop those rows, where the `Window.partitionBy` being
    * replaced kept them as their own partition. */
  private[graft] def joinNullSafe(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    val r = keys.foldLeft(right)(
      (d, c) => d.withColumnRenamed(c, s"_gp_k_$c"))
    val cond = keys.map(c => col(c) <=> col(s"_gp_k_$c")).reduce(_ && _)
    left.join(r, cond).drop(keys.map(c => s"_gp_k_$c"): _*)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 merge: history-keeping upsert where
  * an attribute change CLOSES the current row (`valid_to` = batch time)
  * and opens a new current one, so every key carries its full validity
  * chain — the warehouse-ledger extension of the reference's `$set`
  * upsert (metadata enrichments there overwrite in place; here the old
  * value stays queryable "as of" any past time).
  *
  * Scale shape: only the CURRENT slice (one row per live key) joins the
  * delta — the closed history never enters the join and at 100 TB lives
  * in its own partitions (`is_current=false`), untouched by a merge.
  * The per-row outcome fans out through one `array → explode → drop
  * nulls` pass over the single join, not three re-filters of it, so the whole
  * merge is one shuffle on the keys.
  *
  * History schema: keys ++ tracked ++ (valid_from TIMESTAMP,
  * valid_to TIMESTAMP nullable, is_current BOOLEAN). Changes: keys ++
  * tracked. Null tracked values compare via null-safe equality (a
  * null→value transition IS a change). Keys absent from the batch pass
  * through unchanged; an unchanged re-delivery is a no-op (idempotent).
  */
object Scd2 {

  def merge(history: DataFrame, changes: DataFrame, keys: Seq[String],
      tracked: Seq[String], batchTs: Column): DataFrame = {
    val meta = Seq("valid_from", "valid_to", "is_current")
    val outCols = (keys ++ tracked ++ meta).map(col)

    val cur = history.where(col("is_current"))
    val cold = history.where(!col("is_current"))
    val delta = changes
      .select(keys.map(col) ++ tracked.map(t => col(t).as(s"_new_$t")): _*)
      .withColumn("_in_ch", lit(true))

    val j = cur.withColumn("_in_cur", lit(true))
      .join(delta, keys, "full")
    val inCur = col("_in_cur").isNotNull
    val inCh = col("_in_ch").isNotNull
    val changed = tracked
      .map(t => !(col(t) <=> col(s"_new_$t")))
      .reduceOption(_ || _).getOrElse(lit(false))

    def emit(vals: String => Column, from: Column, to: Column,
        current: Column) =
      struct(tracked.map(t => vals(t).as(t)) :+ from.as("valid_from") :+
        to.as("valid_to") :+ current.as("is_current"): _*)

    val keepOld = emit(col, col("valid_from"), col("valid_to"), lit(true))
    val closeOld = emit(col, col("valid_from"), batchTs, lit(false))
    val openNew = emit(t => col(s"_new_$t"), batchTs,
      lit(null).cast("timestamp"), lit(true))

    val outcomes = array(
      when(inCur && (!inCh || !changed), keepOld),
      when(inCur && inCh && changed, closeOld),
      when(inCh && (!inCur || changed), openNew))

    // explode the plain array and drop the null outcomes after it: a
    // higher-order filter inside the generator (array_compact) would push
    // the Generate out of whole-stage codegen into per-row interpretation
    j.select(keys.map(col) :+ explode(outcomes).as("_r"): _*)
      .where(col("_r").isNotNull)
      .select(keys.map(col) ++
        (tracked ++ meta).map(c => col(s"_r.$c").as(c)): _*)
      .unionByName(cold.select(outCols: _*))
  }

  /** The point of keeping history: reconstruct the dimension as of `ts`
    * (rows whose validity interval covers it — `valid_from <= ts <
    * valid_to`, open intervals unbounded). Partition/predicate pushdown
    * does the pruning when the table is laid out by `is_current`. */
  def asOf(history: DataFrame, ts: Column): DataFrame =
    history.where(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))
}

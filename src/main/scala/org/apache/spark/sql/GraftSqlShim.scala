package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access shim for the one `private[sql]` constructor a custom
  * whole-operator extension needs: turning a hand-built (already
  * resolved) [[LogicalPlan]] node back into a public [[DataFrame]].
  * Everything else in graft's planner extension (logical node, strategy,
  * physical operator) uses only `@DeveloperApi`-grade Catalyst surfaces;
  * this is the standard packaging trick Spark extension libraries use
  * for plan construction. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Frees a superseded loop barrier's checkpoint blocks. Direct rather
    * than `RDD.unpersist`, which logs a warning for every locally
    * checkpointed RDD that its lineage cannot be recomputed — exactly
    * why the loop let go of it. */
  def freeBarrier(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The checkpointed RDD under a barrier frame: `localCheckpoint`
    * always yields a `LogicalRDD` leaf, and so does the rebuild below. */
  def barrierRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] = leaf(df).rdd

  private def leaf(df: DataFrame): execution.LogicalRDD =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr
      case p => throw new IllegalStateException(
        s"a loop barrier must be a LogicalRDD leaf, got ${p.nodeName}")
    }

  /** Waits for every exchange stage that AQE started for `plan`. AQE
    * finishes a plan as soon as its final stage is known, so a side it
    * found empty (ext_ktruss on sf0.001: a round whose result is empty)
    * ends the plan while the other side's stages are queued or running.
    * Those jobs read the plan's inputs, which a loop frees once the
    * barrier returns; left to run, they fail on a freed checkpoint. */
  private def awaitStages(plan: execution.SparkPlan): Unit =
    plan.foreach {
      case a: execution.adaptive.AdaptiveSparkPlanExec =>
        a.context.stageCache.values.foreach(s =>
          scala.concurrent.Await.ready(
            s.materialize(), scala.concurrent.duration.Duration.Inf))
      case _ =>
    }

  /** The loop barrier for iterative relational operators (the
    * graft.ops.Iterate barriers are the only caller): a local
    * checkpoint with MEASURED statistics, materialized by ONE job that
    * also folds the caller's convergence probe.
    *
    * The checkpoint is LAZY and the probe fold is the action that
    * materializes it: one narrow job computes the blocks, caches them
    * (localCheckpoint's storage level), truncates lineage, and returns
    * the fold. A loop that needs a count, a Σ distance or an
    * any-changed flag per round gets it from blocks already in hand,
    * instead of a second planned aggregate; with no probe columns the
    * fold is the bare materialization.
    *
    * `probeCols` name LONG or BOOLEAN columns of `df`; the result is,
    * per column, `(count of non-null rows, Σ value)` with booleans
    * summed as 0/1 — enough to express every probe the loops use
    * (row count, Σ distance, #changed, #below-threshold).
    *
    * The returned frame keeps the checkpoint's own `LogicalRDD` (unsafe
    * rows end to end, physical partitioning preserved) but swaps its
    * statistics for the checkpoint's measured block sizes:
    *
    *  1. the origin stats `localCheckpoint` copies onto the leaf carry a
    *     derived `sizeInBytes` that DOUBLES IN BIT LENGTH per join round
    *     (the BigInteger driver hazard graft.ops.Iterate documents);
    *  2. default stats (`defaultSizeInBytes` = huge) would plan every
    *     join of a small loop frame (score vector, frontier, contracted
    *     edge list) against the big edge list as a full sort-merge
    *     shuffle of the big side EVERY round.
    *
    * Measured sizes are exact, bounded, and scale-adaptive: a frame
    * under the broadcast threshold broadcasts, one that grows past it
    * shuffles. When the block sizes are unavailable the leaf gets
    * default stats (never an under-estimate into an unsafe broadcast). */
  def measuredBarrierProbe(df: DataFrame, probeCols: Seq[String])
      : (DataFrame, Array[(Long, Long)]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val schema = ds.schema
    val idx = probeCols.map { c =>
      val i = schema.fieldIndex(c)
      schema.fields(i).dataType match {
        case types.LongType => (i, false)
        case types.BooleanType => (i, true)
        case other => throw new IllegalArgumentException(
          s"measuredBarrierProbe: column $c has type $other, need long/boolean")
      }
    }.toArray
    val ck = ds.localCheckpoint(false).asInstanceOf[classic.Dataset[Row]]
    val lr = leaf(ck)
    // the fold action below is the checkpoint's FIRST job: it computes
    // the partitions, the block manager caches them, and doCheckpoint
    // truncates the lineage when the job completes
    val k = idx.length
    val folded = lr.rdd.mapPartitions ({ it =>
      val cnt = new Array[Long](k)
      val sum = new Array[Long](k)
      while (it.hasNext) {
        val row = it.next()
        var j = 0
        while (j < k) {
          val (i, isBool) = idx(j)
          if (!row.isNullAt(i)) {
            cnt(j) += 1L
            sum(j) += (if (isBool) { if (row.getBoolean(i)) 1L else 0L }
                       else row.getLong(i))
          }
          j += 1
        }
      }
      Iterator.single((cnt, sum))
    }, preservesPartitioning = true)
      .fold((new Array[Long](k), new Array[Long](k))) { (a, b) =>
        var j = 0
        while (j < k) { a._1(j) += b._1(j); a._2(j) += b._2(j); j += 1 }
        a
      }
    awaitStages(ds.queryExecution.executedPlan)
    val spark = ck.sparkSession
    val measured = spark.sparkContext.getRDDStorageInfo
      .find(_.id == lr.rdd.id)
      .map(i => i.memSize + i.diskSize)
      .filter(_ > 0L)
    // 4x safety margin (ADVICE r12): memSize is a SizeEstimator SAMPLE
    // of the deserialized blocks; an under-report on a frame near the
    // broadcast threshold could otherwise plan a driver-OOM broadcast.
    // Loop frames this barrier serves are KBs against a 10 MB
    // threshold, so the margin never costs a wanted broadcast.
    val stats = measured.map(b =>
      catalyst.plans.logical.Statistics(sizeInBytes = BigInt(4L * b)))
    (classic.Dataset.ofRows(spark, execution.LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, None)(spark, stats, None)),
      idx.indices.map(j => (folded._1(j), folded._2(j))).toArray)
  }
}

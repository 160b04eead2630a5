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

  /** Eager local checkpoint with MEASURED statistics — the loop barrier
    * for iterative relational operators (graft.ops.Iterate.loopBarrier,
    * the only caller). Replaces the old
    * `createDataFrame(ck.rdd, ck.schema)` rebuild, which had two costs
    * measured in the r12 optimization round:
    *
    *  1. it deserialized every row to an external `Row` (interpreted
    *     CatalystTypeConverters) and re-encoded it back — the dominant
    *     task CPU of the iterative graph family (ext_msf: ~89
    *     task-CPU-seconds on <1 MB of data);
    *  2. the rebuilt leaf carried DEFAULT statistics
    *     (`defaultSizeInBytes` = huge), so every join of a small loop
    *     frame (score vector, frontier, contracted edge list) against
    *     the big persisted edge list planned as a full sort-merge
    *     shuffle of the big side EVERY round — guide §3.1's "estimates
    *     are often badly wrong" failure, in the pessimistic direction.
    *
    * This keeps the checkpoint's own `LogicalRDD` (unsafe rows end to
    * end, physical partitioning preserved) and swaps its origin stats —
    * whose carried-over derived `sizeInBytes` doubles in BIT LENGTH per
    * join round (the BigInteger driver hazard graft.ops.Iterate
    * documents) — for the checkpoint's measured block sizes: exact,
    * bounded, and scale-adaptive. A frame measured under the broadcast
    * threshold broadcasts (no per-round shuffle of the big side); a
    * frame that grows past it shuffles, exactly as 100 TB requires.
    * Falls back to default stats when the block sizes are unavailable
    * (never under-estimates into an unsafe broadcast). */
  def measuredBarrier(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ck = ds.localCheckpoint(true).asInstanceOf[classic.Dataset[Row]]
    swapMeasuredStats(ck)
  }

  /** Frees a superseded loop barrier's checkpoint blocks. Direct rather
    * than `RDD.unpersist`, which logs a warning for every locally
    * checkpointed RDD that its lineage cannot be recomputed — exactly
    * why the loop let go of it. */
  def freeBarrier(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Rebuild a just-checkpointed Dataset's LogicalRDD leaf with the
    * checkpoint's measured block sizes as statistics (the second half
    * of [[measuredBarrier]], shared with the probe-fusing variants). */
  private def swapMeasuredStats(ck: classic.Dataset[Row]): DataFrame = {
    val spark = ck.sparkSession
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val measured = spark.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .filter(_ > 0L)
        // 4x safety margin (ADVICE r12): memSize is a SizeEstimator
        // SAMPLE of the deserialized blocks; an under-report on a frame
        // near the broadcast threshold could otherwise plan a driver-OOM
        // broadcast. Loop frames this barrier serves are KBs against a
        // 10 MB threshold, so the margin never costs a wanted broadcast.
        val stats = measured.map(b =>
          catalyst.plans.logical.Statistics(sizeInBytes = BigInt(4L * b)))
        classic.Dataset.ofRows(spark, execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, None)(spark, stats, None))
      case _ => ck // unexpected plan shape: keep the checkpoint as-is
    }
  }

  /** [[measuredBarrier]] with the loop's CONVERGENCE PROBE folded into
    * the materialization job itself (r13, guide §5 driver overhead): an
    * iterative operator previously paid, per round, the eager
    * checkpoint's internal count job PLUS a separately planned
    * DataFrame aggregate for its probe (count / sum / any-changed) —
    * 2-3 driver jobs and one Catalyst pass per round spent re-reading
    * blocks that were in hand the moment they were built. Here the
    * checkpoint is LAZY and the probe aggregate is the action that
    * materializes it: one narrow job computes the blocks, caches them
    * (localCheckpoint's storage level), truncates lineage, and returns
    * the fold — per round the probe is free.
    *
    * `probeCols` name LONG or BOOLEAN columns of `df`; the result is,
    * per column, `(count of non-null rows, Σ value)` with booleans
    * summed as 0/1 — enough to express every probe the loops use
    * (row count, Σ distance, #changed, #below-threshold). Values and
    * convergence decisions are IDENTICAL to the former per-probe
    * aggregates; only the job count changes. */
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
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        // the fold action below is the checkpoint's FIRST job: it
        // computes the partitions, the block manager caches them, and
        // doCheckpoint truncates the lineage when the job completes
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
        (swapMeasuredStats(ck), idx.indices.map(j =>
          (folded._1(j), folded._2(j))).toArray)
      case _ =>
        // unexpected plan shape: keep the checkpoint, probe via SQL —
        // same values, the old job count
        import functions._
        val aggs = idx.map { case (i, isBool) =>
          val c = col(schema.fields(i).name)
          struct(count(c),
            coalesce(sum(if (isBool) c.cast("long") else c), lit(0L)))
        }
        val r = ck.agg(aggs.head, aggs.tail: _*).head()
        (ck, idx.indices.map { j =>
          val s = r.getStruct(j); (s.getLong(0), s.getLong(1))
        }.toArray)
    }
  }
}

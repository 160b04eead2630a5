package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.Platform

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

  /** Frees a superseded loop barrier's packed blocks: the leaf's RDD
    * unpacks them, its parent holds them. Direct rather than
    * `RDD.unpersist`, which logs a warning for every locally
    * checkpointed RDD that its lineage cannot be recomputed — exactly
    * why the loop let go of it. */
  def freeBarrier(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.dependencies.head.rdd.id, blocking = false)

  /** The RDD under a barrier frame's `LogicalRDD` leaf: it unpacks the
    * checkpointed chunks that [[freeBarrier]] frees. */
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

  /** A packed chunk takes rows until the next would carry it past this
    * many bytes; a row larger than that has a chunk of its own. */
  private val ChunkBytes = 1 << 20

  /** The loop barrier for iterative relational operators (the
    * graft.ops.Iterate barriers are the only caller): a local
    * checkpoint of the rows as PACKED BYTES with MEASURED statistics,
    * materialized by ONE job that also folds the caller's convergence
    * probe.
    *
    * The plan runs as `Dataset.checkpoint` runs it, inside one SQL
    * execution (so its planning reaches the `QueryExecutionListener`s),
    * and each partition is written as length-prefixed `UnsafeRow` bytes
    * into ~1 MiB byte-array chunks. The chunks are what the block
    * manager caches: no per-row object copies, and no SizeEstimator
    * walk over them, which `localCheckpoint` of the rows themselves
    * spends more CPU on than the loop bodies spend on their rows.
    *
    * The checkpoint is LAZY and the probe fold is the action that
    * materializes it: one narrow job computes the chunks, caches them,
    * truncates lineage, and returns the fold. A loop that needs a
    * count, a Σ distance or an any-changed flag per round gets it from
    * chunks already in hand, instead of a second planned aggregate; the
    * fold decodes rows only when there are probe columns, and always
    * sums the chunk lengths: the barrier's exact size in bytes.
    *
    * `probeCols` name LONG or BOOLEAN columns of `df`; the result is,
    * per column, `(count of non-null rows, Σ value)` with booleans
    * summed as 0/1 — enough to express every probe the loops use
    * (row count, Σ distance, #changed, #below-threshold).
    *
    * The returned frame is a `LogicalRDD` over the chunks unpacked (one
    * reused `UnsafeRow` pointed at each row in turn, Spark's row
    * iterator contract), with the plan's physical partitioning and
    * ordering, and statistics from the measured bytes, not:
    *
    *  1. the origin stats `Dataset.checkpoint` copies onto its leaf,
    *     whose derived `sizeInBytes` DOUBLES IN BIT LENGTH per join
    *     round (the BigInteger driver hazard graft.ops.Iterate
    *     documents);
    *  2. default stats (`defaultSizeInBytes` = huge), which would plan
    *     every join of a small loop frame (score vector, frontier,
    *     contracted edge list) against the big edge list as a full
    *     sort-merge shuffle of the big side EVERY round.
    *
    * Measured sizes are exact, bounded, and scale-adaptive: a frame
    * under the broadcast threshold broadcasts, one that grows past it
    * shuffles. An empty barrier measures 0 bytes. */
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
    val qe = ds.queryExecution
    val packed = execution.SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.execute()
    }.mapPartitionsInternal(rows => pack(rows, schema)).localCheckpoint()
    val nFields = schema.length
    // the fold action below is the checkpoint's FIRST job: it computes
    // the chunks, the block manager caches them, and doCheckpoint
    // truncates the lineage when the job completes
    val k = idx.length
    val folded = packed.mapPartitionsInternal { chunks =>
      val cnt = new Array[Long](k)
      val sum = new Array[Long](k)
      var bytes = 0L
      val sized = chunks.map { c => bytes += c.length; c }
      if (k == 0) sized.foreach(_ => ())
      else unpack(sized, nFields).foreach { row =>
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
      Iterator.single((bytes, cnt, sum))
    }.fold((0L, new Array[Long](k), new Array[Long](k))) { (a, b) =>
      var j = 0
      while (j < k) { a._2(j) += b._2(j); a._3(j) += b._3(j); j += 1 }
      (a._1 + b._1, a._2, a._3)
    }
    awaitStages(qe.executedPlan)
    val spark = ds.sparkSession
    val lr = execution.LogicalRDD.fromDataset(
      packed.mapPartitionsInternal(chunks => unpack(chunks, nFields)), ds, false)
    // 4x the packed bytes. The bytes are exact; the factor keeps the
    // broadcast choices the loops were planned with when the size was
    // SizeEstimator's figure for the rows as objects, of which the
    // packed bytes are ~37%. Loop frames this barrier serves are KBs
    // against a 10 MB threshold.
    val stats = catalyst.plans.logical.Statistics(sizeInBytes = BigInt(4L * folded._1))
    (classic.Dataset.ofRows(spark, execution.LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, None)(spark, Some(stats), None)),
      idx.indices.map(j => (folded._2(j), folded._3(j))).toArray)
  }

  /** Writes `rows` as `[size: Int][UnsafeRow bytes]` records into byte
    * chunks of about [[ChunkBytes]]; rows that are not UnsafeRows are
    * projected to one first. */
  private def pack(rows: Iterator[catalyst.InternalRow], schema: types.StructType)
      : Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private lazy val toUnsafe = catalyst.expressions.UnsafeProjection.create(schema)
    private var buf = new Array[Byte](8192)
    // the row that did not fit the last chunk: the next one starts with it
    private var carry: UnsafeRow = null

    private def unsafe(r: catalyst.InternalRow): UnsafeRow = r match {
      case u: UnsafeRow => u
      case o => toUnsafe(o)
    }

    def hasNext: Boolean = carry != null || rows.hasNext

    def next(): Array[Byte] = {
      var r = if (carry != null) carry else unsafe(rows.next())
      carry = null
      var pos = 0
      while (r != null) {
        val end = pos + 4 + r.getSizeInBytes
        if (end > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(end, math.min(2 * buf.length, ChunkBytes)))
        Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + pos, r.getSizeInBytes)
        r.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos + 4)
        pos = end
        r = null
        if (rows.hasNext) {
          val n = unsafe(rows.next())
          if (pos + 4 + n.getSizeInBytes > ChunkBytes) carry = n else r = n
        }
      }
      java.util.Arrays.copyOf(buf, pos)
    }
  }

  /** The rows of packed chunks: one reused UnsafeRow pointed at each. */
  private def unpack(chunks: Iterator[Array[Byte]], nFields: Int)
      : Iterator[catalyst.InternalRow] = new Iterator[catalyst.InternalRow] {
    private val row = new UnsafeRow(nFields)
    private var chunk = Array.emptyByteArray
    private var off = 0

    def hasNext: Boolean = {
      while (off >= chunk.length && chunks.hasNext) { chunk = chunks.next(); off = 0 }
      off < chunk.length
    }

    def next(): catalyst.InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val size = Platform.getInt(chunk, Platform.BYTE_ARRAY_OFFSET + off)
      row.pointTo(chunk, Platform.BYTE_ARRAY_OFFSET + off + 4, size)
      off += 4 + size
      row
    }
  }
}

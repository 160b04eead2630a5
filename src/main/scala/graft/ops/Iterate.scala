package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared guard for relational loops (the twin of the private barrier
  * inside [[graft.ext.Dedup]]): a loop whose round REFERENCES ITS OWN
  * PREVIOUS FRAME MORE THAN ONCE (a self-union, both endpoints of an
  * edge relabel, a min-merge of old ∪ candidates) doubles its LOGICAL
  * plan per round even when every frame is persisted — execution reads
  * the cache, but analysis/optimization walks a 2^rounds tree and the
  * driver dies long before the executors notice (observed: ext_sssp at
  * sf0.1 wedged >10 min in planning with all data cached).
  * `localCheckpoint` truncates the plan; rebuilding from the RDD drops
  * the carried-over origin statistics so each round replans from fresh
  * leaf stats. */
private[graft] object Iterate {
  /** Test hook: every loopBarrier is exactly one eager RDD job, so
    * specs pin a loop's per-round action count against THIS counter
    * (deterministic) instead of SparkListener job totals (AQE splits
    * one Dataset action into a session-config-dependent number of
    * jobs — an absolute job bound flakes on upgrades). */
  private[graft] val barrierCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def loopBarrier(df: DataFrame): DataFrame = {
    barrierCount.incrementAndGet()
    // eager checkpoint + measured-stats leaf (no external-Row round
    // trip, no default-stats pessimism) — see GraftSqlShim.measuredBarrier
    org.apache.spark.sql.GraftSqlShim.measuredBarrier(df)
  }

  /** [[loopBarrier]] whose materialization job ALSO computes the
    * caller's convergence probe — per long/boolean column named, the
    * (non-null count, Σ value) pair over the checkpointed rows. One
    * driver job instead of checkpoint-count + separately planned probe
    * aggregate (guide §5: the probes were pure per-round driver
    * latency; values and convergence decisions are unchanged). */
  def loopBarrierProbe(df: DataFrame, probeCols: Seq[String])
      : (DataFrame, Array[(Long, Long)]) = {
    barrierCount.incrementAndGet()
    org.apache.spark.sql.GraftSqlShim.measuredBarrierProbe(df, probeCols)
  }

  /** Bounded local finish for connected components: collects the first
    * two (non-null long) columns of `edges` to the driver and returns
    * (id, root) for every endpoint whose component root is not itself.
    * The root is the component's MIN id — exactly the min-label
    * fixpoint the distributed rounds converge to, which is what lets a
    * loop swap its tail rounds for this. Callers bound `edges`' size.
    *
    * The edges travel as primitive longs straight off the internal
    * rows, and the union-find runs over dense int indices of the
    * sorted distinct ids: index order is id order, so attaching the
    * larger root under the smaller keeps the min id at the root. */
  def minIdRoots(edges: DataFrame): Seq[(Long, Long)] = {
    val ends = edges.queryExecution.toRdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect().flatten
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    (0 until n).flatMap { j =>
      val r = find(j)
      if (r != j) Some(ids(j) -> ids(r)) else None
    }
  }
}

package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShim}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way a relational loop carries state from one round to the
  * next: every frame a round hands on, and every loop-invariant input
  * it reads, passes [[loopBarrier]] — an eager `localCheckpoint` PLUS a
  * stats-fresh rebuild of the leaf — inside a [[loop]]. Both halves of
  * the barrier are load-bearing:
  *
  *  - checkpointing truncates lineage, so each round's plan is
  *    constant-size. A round that REFERENCES ITS OWN PREVIOUS FRAME
  *    MORE THAN ONCE (a self-union, both endpoints of an edge relabel,
  *    a min-merge of old ∪ candidates) doubles its LOGICAL plan per
  *    round even when every frame is persisted: execution reads the
  *    cache, but analysis walks a 2^rounds tree (ext_sssp at sf0.1
  *    wedged >10 min in planning with all data cached).
  *  - the rebuild (GraftSqlShim.measuredBarrier) REPLACES the origin
  *    stats `localCheckpoint` copies onto its `LogicalRDD` leaf with the
  *    checkpoint's measured block size. Catalyst's size-only join
  *    estimate is `size(left) · size(right)`, so carried stats DOUBLE
  *    IN BIT-LENGTH every round (11 → 19,858 bits in 12 rounds) and by
  *    ~30 joins the driver sits for minutes in `BigInteger.multiply`.
  *    Measured leaves also let a small frame (frontier, score vector,
  *    contracted edges) BROADCAST instead of shuffling the big side.
  *
  * On a real cluster prefer `setCheckpointDir` + `checkpoint()` for
  * executor-loss tolerance; the algorithms are unchanged. */
private[graft] object Iterate {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Test hook: every barrier is exactly one eager RDD job, so specs
    * pin a loop's per-round action count against this counter, not
    * AQE-dependent SparkListener job totals. */
  private[graft] val barrierCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** A loop spent its round limit short of its fixpoint, which is never
    * returned as a result. `lastProbe`: its last probe's values. */
  final class NotConverged(val op: String, val limit: Int,
      val lastProbe: Seq[(Long, Long)], detail: String)
      extends IllegalStateException(s"$op did not converge in $limit " +
        s"rounds (last probe ${lastProbe.mkString("[", ", ", "]")}): $detail")

  /** One run of an iterative operator, handed to the body of [[loop]]. */
  final class Loop private[Iterate] (op: String, maxRounds: Int,
      detail: String, sc: SparkContext) {
    private var begun = 0
    private[Iterate] var lastProbe: Seq[(Long, Long)] = Nil
    private[Iterate] val made = scala.collection.mutable.Map.empty[Int, RDD[_]]

    def rounds: Int = begun

    /** Names the stages of the setup work that follows `<op>.<what>`. */
    def stage(what: String): Unit = sc.setCallSite(s"$op.$what")

    /** Begins round `rounds` (from 0) and returns its number. `state`
      * is every frame the round reads from before it: the barriers this
      * loop made that `state` no longer reads were superseded by ones
      * that have materialized, and are freed. Throws [[NotConverged]]
      * once `maxRounds` rounds have run. */
    def round(state: DataFrame*): Int = {
      if (begun >= maxRounds)
        throw new NotConverged(op, maxRounds, lastProbe, detail)
      free(reads(state))
      sc.setCallSite(s"$op.round $begun")
      begun += 1
      begun - 1
    }

    private[Iterate] def free(live: Set[Int]): Unit =
      made.keys.filterNot(live).toList
        .foreach(id => made.remove(id).foreach(GraftSqlShim.freeBarrier))
  }

  private val active = new ThreadLocal[Loop]

  /** Runs one iterative operator; `body` calls [[Loop.round]] at the top
    * of every round. The driver owns:
    *  - stage names: `<op>.round N` per round and `<op>.<what>` for
    *    setup, so every stage a loop submits names its cause. On exit
    *    the ENCLOSING call site is restored, not cleared: Msf runs
    *    resolveComponents inside its own round;
    *  - the round limit: the round after `maxRounds` throws;
    *  - release: superseded barriers are freed each round, and at exit
    *    every barrier the returned value does not read (its DataFrames,
    *    also inside tuples and collections). A nested loop hands the
    *    ones its result reads to the enclosing loop;
    *  - one log line with the rounds run. */
  def loop[A](op: String, maxRounds: Int, detail: String = "")(
      body: Loop => A): A = {
    val sc = SparkContext.getOrCreate()
    val callSite = Seq("callSite.short", "callSite.long")
      .map(k => k -> sc.getLocalProperty(k))
    val outer = active.get
    val l = new Loop(op, maxRounds, detail, sc)
    active.set(l)
    var live = Set.empty[Int]
    try {
      val r = body(l)
      live = reads(framesOf(r))
      log.info(s"$op ran ${l.rounds} rounds")
      r
    } finally {
      active.set(outer)
      callSite.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      if (outer != null) outer.made ++= l.made.filter(m => live(m._1))
      l.free(live)
    }
  }

  private def framesOf(a: Any): Seq[DataFrame] = a match {
    case d: Dataset[_] => Seq(d.toDF())
    case p: Product => p.productIterator.toSeq.flatMap(framesOf)
    case _ => Nil
  }

  /** RDD ids of the checkpoint leaves `frames` read. */
  private def reads(frames: Seq[DataFrame]): Set[Int] =
    frames.flatMap(_.queryExecution.analyzed.collectLeaves().collect {
      case r: LogicalRDD => r.rdd.id
    }).toSet

  private def tracked(b: DataFrame): DataFrame = {
    Option(active.get).foreach(l => b.queryExecution.analyzed match {
      case r: LogicalRDD => l.made(r.rdd.id) = r.rdd
      case _ => // unexpected barrier shape: left to the ContextCleaner
    })
    b
  }

  def loopBarrier(df: DataFrame): DataFrame = {
    barrierCount.incrementAndGet()
    tracked(GraftSqlShim.measuredBarrier(df))
  }

  /** [[loopBarrier]] whose materialization job ALSO computes the
    * caller's convergence probe — per long/boolean column named, the
    * (non-null count, Σ value) pair over the checkpointed rows: one
    * driver job instead of a checkpoint plus a separately planned probe
    * aggregate. The enclosing [[loop]] keeps the values. */
  def loopBarrierProbe(df: DataFrame, probeCols: Seq[String])
      : (DataFrame, Array[(Long, Long)]) = {
    barrierCount.incrementAndGet()
    val (b, st) = GraftSqlShim.measuredBarrierProbe(df, probeCols)
    Option(active.get).foreach(_.lastProbe = st.toSeq)
    (tracked(b), st)
  }

  /** [[loopBarrierProbe]] of the frame's row count. */
  def loopBarrierCount(df: DataFrame): (DataFrame, Long) = {
    val (b, st) = loopBarrierProbe(
      df.withColumn("_rows", org.apache.spark.sql.functions.lit(true)), Seq("_rows"))
    (b.drop("_rows"), st(0)._1)
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

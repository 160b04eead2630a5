package graft

import graft.ops.KTruss

/** k-truss goldens (hand-peeled graphs), decomposition ↔ single-k
  * consistency, the non-convergence guard, and a job-count pin on the
  * peel loop (one barrier + one count per round — the loop must never
  * recount a frame whose cardinality it already carries). */
class KTrussSpec extends SparkSpec {

  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  // two triangles sharing edge (2,3), plus pendant 4-5:
  // support (2,3)=2, the other triangle edges 1, (4,5)=0
  private val house = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))

  test("3-truss strips the pendant edge, keeps both triangles with supports") {
    val out = KTruss.run(sym(house), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))
  }

  test("4-truss of the shared-edge house is empty (peeling cascades through (2,3))") {
    // only (2,3) has support 2; once its four neighbors peel, it follows
    assert(KTruss.run(sym(house), k = 4).isEmpty)
  }

  test("decompose: house trussness golden") {
    val out = KTruss.decompose(sym(house))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 2L) -> 3L, (1L, 3L) -> 3L, (2L, 3L) -> 3L,
      (2L, 4L) -> 3L, (3L, 4L) -> 3L, (4L, 5L) -> 2L))
  }

  test("decompose: K4 is uniformly trussness 4") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val out = KTruss.decompose(sym(k4))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.size === 6 && out.values.forall(_ === 4L))
  }

  test("decompose saturates at maxK on graphs denser than the cap") {
    // K4 has trussness 4 everywhere; with maxK = 3 every edge labels 3
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val out = KTruss.decompose(sym(k4), maxK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.size === 6 && out.values.forall(_ === 3L))
  }

  test("decompose agrees with run at every k on a random graph") {
    val rnd = new scala.util.Random(47)
    val pairs = (1 to 150).map { _ =>
      val a = rnd.nextInt(30).toLong
      var b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val edges = sym(pairs)
    val dec = KTruss.decompose(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dec.keySet === pairs.toSet) // every canonical edge labeled
    val maxT = dec.values.max
    for (k <- 3L to (maxT + 1)) {
      val inTruss = KTruss.run(edges, k.toInt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inTruss === dec.filter(_._2 >= k).keySet,
        s"k=$k truss must be exactly the trussness>=$k edges")
    }
  }

  test("decompose (decremental cascade) == decomposePeel (successive " +
      "peels) on random graphs, at full depth and under a tight maxK cap") {
    // the r12 rewrite replaced phase-by-phase peeling with decremental
    // support maintenance — the r11 peeling form stays as the in-JVM
    // oracle; labels must match EDGE FOR EDGE including saturation
    for (seed <- Seq(3, 19); maxK <- Seq(3, 5, 8)) {
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to 220).map { _ =>
        val a = rnd.nextInt(26).toLong
        val b = rnd.nextInt(26).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val edges = sym(pairs)
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val local = asMap(KTruss.decompose(edges, maxK = maxK))
      val peeled = asMap(KTruss.decomposePeel(edges, maxK = maxK))
      assert(local === peeled, s"seed=$seed maxK=$maxK")
    }
  }

  test("hub canary: a 30k-edge star runs instantly under degree-ordered " +
      "wedge enumeration (id-order would enumerate C(30k,2) wedges)") {
    // star with hub id 0 (the LOWEST id — the adversarial case for
    // a<b orientation: every edge points out of the hub, 4.5e8 wedges;
    // degree-ordering points every edge INTO the hub, zero wedges).
    // Triangle-free -> 3-truss empty, trussness 2 everywhere.
    import org.apache.spark.sql.functions.{col, lit}
    val n = 30000L
    val star = spark.range(1, n).select(lit(0L).as("src"), col("id").as("dst"))
      .unionByName(spark.range(1, n).select(col("id").as("src"), lit(0L).as("dst")))
    assert(KTruss.run(star, k = 3).isEmpty)
    val dec = KTruss.decompose(star)
    assert(dec.where(col("trussness") =!= 2L).isEmpty)
    assert(dec.count() === n - 1)
  }

  test("decompose non-convergence guard throws instead of returning " +
      "a non-fixpoint estimate") {
    // the house needs ≥ 2 local iterations (the shared edge must first
    // see its neighbors drop); maxIter = 1 cannot confirm a fixpoint
    val e = intercept[IllegalStateException] {
      KTruss.decompose(sym(house), maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "KTruss" && nc.limit === 1)
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
  }

  test("non-convergence guard throws instead of returning a superset") {
    val e = intercept[IllegalStateException] {
      KTruss.run(sym(house), k = 3, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "KTruss" && nc.limit === 1)
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
  }

  test("peel action count: one barrier + one count per round, nothing recounted") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // count ACTIONS, not jobs: barriers via the Iterate test hook (one
    // eager RDD job each, AQE-independent) and Dataset count() calls via
    // a QueryExecutionListener — an absolute SparkListener job bound is
    // session-config/AQE-dependent and flakes on upgrades
    val counts = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        if (funcName == "count") { counts.incrementAndGet(); () }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val edges = sym(house) // converges in exactly 2 rounds at k=3
    edges.count() // materialize inputs outside the window
    spark.listenerManager.register(listener)
    val (barriers, nCounts) = try {
      val b0 = graft.ops.Iterate.barrierCount.get()
      counts.set(0)
      KTruss.run(edges, k = 3).count()
      // QE listener events are posted asynchronously — drain to stable
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = counts.get()
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      (graft.ops.Iterate.barrierCount.get() - b0, last)
    } finally spark.listenerManager.unregister(listener)
    // exactly: canonical barrier, the cur0 probe-barrier (its edge
    // count rides the barrier job — r13), 1 dropping-round barrier
    // (whose next-round frontier count rides it too), and 2 count()
    // actions: the first round's frontier count (cur0's flag is from
    // no previous threshold) + the final readout count. The pre-r13
    // loop ran 4 counts (cur0 count + a d.count per round); the
    // pre-r12 loop ran a second barrier and a recount of the
    // already-known previous cardinality per round (5 barriers /
    // 6 counts here).
    assert(barriers == 3L, s"peel ran $barriers loopBarriers (3 expected) — " +
      "is the loop re-barriering a frame it already truncated?")
    assert(nCounts == 2, s"peel ran $nCounts count() actions (2 expected) — " +
      "is the loop recounting a frame whose cardinality it already carries?")
  }
}

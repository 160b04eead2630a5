package graft

import graft.ops.KCore

/** k-core goldens: peeling cascades, local-finish ≡ distributed parity
  * on random graphs, and the non-convergence guard — properties the
  * recursive-CTE oracle only checks in aggregate. */
class KCoreSpec extends SparkSpec {

  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("2-core: triangle survives, pendant tail peels away hop by hop") {
    // triangle 1-2-3 plus a path 3-4-5-6: 6,5,4 peel in cascade even
    // though 4 starts with degree 2 (one neighbor dies first)
    val edges = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val out = KCore.run(edges, k = 2, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("deg is the degree INSIDE the core, not the input degree") {
    // node 1 has input degree 3 but one neighbor (4) is outside the core
    val edges = sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    val out = KCore.run(edges, k = 2, localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("local finish is exactly the distributed fixpoint on random graphs") {
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 3) {
      val pairs = (1 to 120).map { _ =>
        val a = rnd.nextInt(40).toLong
        var b = rnd.nextInt(40).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val edges = sym(pairs)
      val dist = KCore.run(edges, k = 3, localFinishEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val local = KCore.run(edges, k = 3, localFinishEdges = 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(dist.toSeq === local.toSeq, s"trial $trial")
    }
  }

  test("self-loops never carry a node; empty core comes back empty") {
    val edges = Seq((9L, 9L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(KCore.run(edges, k = 2, localFinishEdges = 0L).count() === 0L)
    assert(KCore.run(edges, k = 2, localFinishEdges = 100L).count() === 0L)
  }

  test("non-convergence above localFinishEdges throws instead of returning a superset") {
    // a 12-node path peels ~5 rounds; maxIter = 1 with local finish
    // disabled must refuse rather than emit not-yet-peeled nodes
    val path = sym((1L to 11L).map(i => (i, i + 1)))
    val e = intercept[IllegalStateException](
      KCore.run(path, k = 2, maxIter = 1, localFinishEdges = 0L).count())
    assert(e.getMessage.contains("did not converge"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "KCore" && nc.limit === 1)
        // the last probe is the edge count still above the bound
        assert(nc.lastProbe.nonEmpty && nc.lastProbe.head._1 > 0L)
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
  }
}

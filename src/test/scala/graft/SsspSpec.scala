package graft

import graft.ops.Sssp

/** SSSP goldens: weighted distances beat hop-count shortcuts,
  * multi-source minimum, convergence guard, randomized Dijkstra
  * parity — the unrolled oracle only replays one fixed graph. */
class SsspSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      maxRounds: Int = 12) = {
    val sym = (edges ++ edges.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    Sssp.run(sym, seeds.toDF("node"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("the cheap two-hop path beats the expensive direct edge") {
    val out = run(Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L)), Seq(1L))
    assert(out === Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("multi-source takes the cheapest seed; unreachable absent") {
    val out = run(Seq((1L, 2L, 5L), (3L, 2L, 1L), (8L, 9L, 1L)), Seq(1L, 3L))
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 0L))
  }

  test("maxRounds too small for the diameter throws, never inflates") {
    val chain = (1L to 6L).map(i => (i, i + 1, 1L))
    assert(run(chain, Seq(1L)) === (1L to 7L).map(i => i -> (i - 1)).toMap)
    val e = intercept[IllegalStateException](run(chain, Seq(1L), maxRounds = 2))
    assert(e.getMessage.contains("inflated"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "Sssp" && nc.limit === 2)
        // (reached nodes, Σd) after round 2: nodes 1..3 at 0 + 1 + 2
        assert(nc.lastProbe === Seq((3L, 3L)))
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
  }

  test("randomized parity with sequential Dijkstra") {
    val rnd = new scala.util.Random(73)
    for (trial <- 1 to 3) {
      val edges = (1 to 100).map { _ =>
        val a = rnd.nextInt(25).toLong
        val b = rnd.nextInt(25).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
        .map { case (a, b) => (a, b, rnd.nextInt(9).toLong + 1L) }
      val seeds = Seq(rnd.nextInt(25).toLong)
      val got = run(edges, seeds, maxRounds = 30)
      // reference: textbook Dijkstra on the symmetric adjacency
      val adj = (edges ++ edges.map(e => (e._2, e._1, e._3)))
        .groupBy(_._1).map { case (k, es) => k -> es.map(e => (e._2, e._3)) }
      val dist = scala.collection.mutable.HashMap(seeds.map(_ -> 0L): _*)
      val pq = scala.collection.mutable.PriorityQueue(
        seeds.map(s => (0L, s)): _*)(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (d == dist(v))
          adj.getOrElse(v, Nil).foreach { case (u, w) =>
            if (dist.getOrElse(u, Long.MaxValue) > d + w) {
              dist(u) = d + w; pq.enqueue((d + w, u))
            }
          }
      }
      assert(got === dist.toMap, s"trial $trial")
    }
  }
}

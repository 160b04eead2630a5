package graft

import graft.ops.Msf

/** MSF goldens: hand forests, the tie-broken total order, multi-round
  * chain merges, and randomized parity against a sequential Kruskal
  * with the identical (w, a, b) order — the unrolled-Borůvka oracle
  * only replays one fixed graph. */
class MsfSpec extends SparkSpec {

  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], maxRounds: Int = 20) =
    Msf.run(edges.toDF("a", "b", "w"), maxRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long =
      if (parent.getOrElse(x, x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edges.sortBy { case (a, b, w) => (w, a, b) }.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None
      else { parent(math.max(ra, rb)) = math.min(ra, rb); Some((a, b, w)) }
    }.toSet
  }

  test("triangle: the heaviest edge is excluded") {
    val out = run(Seq((1L, 2L, 5L), (2L, 3L, 7L), (1L, 3L, 9L)))
    assert(out === Set((1L, 2L, 5L), (2L, 3L, 7L)))
  }

  test("equal weights break by (a, b): the unique tie-broken forest") {
    // all weights equal on a triangle: (1,2) then (1,3) win by id order
    val out = run(Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L)))
    assert(out === Set((1L, 2L, 5L), (1L, 3L, 5L)))
  }

  test("forest spans each component separately; isolated pairs stay apart") {
    val out = run(Seq((1L, 2L, 1L), (2L, 3L, 2L), (8L, 9L, 1L)))
    assert(out === Set((1L, 2L, 1L), (2L, 3L, 2L), (8L, 9L, 1L)))
  }

  test("binary-tournament weights need a second round; maxRounds=1 throws") {
    // round 1 merges {1,2} and {3,4}; the (2,3) bridge needs round 2
    val g = Seq((1L, 2L, 1L), (3L, 4L, 2L), (2L, 3L, 100L))
    assert(run(g) === g.toSet)
    val e = intercept[IllegalStateException](run(g, maxRounds = 1))
    assert(e.getMessage.contains("partial forest"))
    e match {
      case nc: graft.ops.Iterate.NotConverged =>
        assert(nc.op === "Msf" && nc.limit === 1)
        // the last probe counts the cross-component edges still left
        assert(nc.lastProbe.nonEmpty && nc.lastProbe.head._1 > 0L)
      case other => fail(s"expected Iterate.NotConverged, got $other")
    }
  }

  test("randomized parity with sequential Kruskal under the same order") {
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 3) {
      val edges = (1 to 120).map { _ =>
        val a = rnd.nextInt(30).toLong
        val b = rnd.nextInt(30).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
        .map { case (a, b) => (a, b, rnd.nextInt(20).toLong + 1L) }
      assert(run(edges) === kruskal(edges), s"trial $trial")
    }
  }
}

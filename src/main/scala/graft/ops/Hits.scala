package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg JACM'99) over a directed /
  * bipartite edge list — the query-independent companion to
  * [[PageRank]]: where PageRank ranks by global endorsement mass, HITS
  * splits the roles, scoring *referrers* (hubs: buyers with broad,
  * well-endorsed baskets; crawl pages linking to good content) and
  * *referenced* items (authorities) by mutual reinforcement.
  *
  * ALL-INTEGER arithmetic so an oracle replays it exactly: scores live
  * in `[0, scale]`; one iteration is
  *   h(c)  = Σ_{(c,p)∈E} a(p),   then rescale h ← (h·scale) div max(h)
  *   a(p)  = Σ_{(c,p)∈E} h(c),   then rescale a ← (a·scale) div max(a)
  * Floor division on non-negative operands — bit-identical in any
  * engine (Spark `div` ≡ DuckDB `//`). The max-rescale replaces the
  * classic L2 normalization: same fixpoint direction, but exactly
  * representable (an L2 norm's sqrt can't hash cross-engine).
  *
  * Scale shape: each half-round is one equi-join of the score vector
  * to the edge list + one map-side-combined sum; the 1-row max frame
  * rides a broadcast cross join. Shuffle is O(edges) per round — the
  * Pregel cost. Each new score frame passes [[Iterate.loopBarrier]]:
  * it is referenced twice per round (the sum AND its own max), which
  * without the barrier doubles the logical plan per round. The edge
  * list, read every round, passes it once up front.
  *
  * Overflow headroom: Σ a ≤ max_degree·scale and the rescale
  * multiplies by `scale` once more — `degree·scale² ≤ 9.2e18` holds up
  * to a billion-edge hub at the default scale of 10⁴. */
object Hits {

  /** @param edges (hub, auth) pairs, deduplicated by the caller if
    *              multiplicity must not weight the scores
    * @return (hubScores, authScores): (`id`, `score`) each, covering
    *         every node that appears in `edges` on that side */
  def run(edges: DataFrame, iterations: Int = 2,
      scale: Long = 10000L): (DataFrame, DataFrame) = {
    require(iterations >= 1 && scale >= 1, "iterations and scale must be positive")
    val spark = edges.sparkSession
    import spark.implicits._

    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    Iterate.loop("Hits", iterations) { l =>
      l.stage("edges")
      val e = Iterate.loopBarrier(edges.select($"hub", $"auth"))
      var a = Iterate.loopBarrier(
        e.select($"auth").distinct().withColumn("a", lit(scale)))
      // one half-round: per `key`, Σ of the scores joined on `on`,
      // rescaled to max = scale. The raw sums persist for the half-round:
      // each is read twice (the rescale AND its own max); loopBarrier
      // materializes eagerly, so the persist lifetime is exactly this block
      def half(scores: DataFrame, on: String, key: String, out: String) = {
        val raw = e.join(scores, on).groupBy(col(key))
          .agg(sum(col(scores.columns.last)).as("s")).persist(lvl)
        try Iterate.loopBarrier(raw.crossJoin(broadcast(raw.agg(max($"s").as("m"))))
          .select(col(key), expr(s"(s * $scale) div m").as(out)))
        finally raw.unpersist()
      }
      var h: DataFrame = null
      for (_ <- 1 to iterations) {
        l.round(a, e)
        h = half(a, "auth", "hub", "h")
        a = half(h, "hub", "auth", "a")
      }
      (h.select($"hub".as("id"), $"h".as("score")),
        a.select($"auth".as("id"), $"a".as("score")))
    }
  }
}

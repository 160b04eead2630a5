package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Personalized PageRank over a WEIGHTED edge list — topic-sensitive
  * relevance from a seed set (Haveliwala WWW'02): teleport mass returns
  * only to the SEEDS, so ranks measure proximity to the seed
  * neighborhood rather than global centrality. The curation uses next
  * to [[Bfs]]: BFS gives hop distance from flagged documents, PPR gives
  * a weighted influence score that discounts long/weak paths — the
  * soft version of the same blast-radius question.
  *
  * ALL-INTEGER arithmetic (the [[PageRank]] determinism contract) so
  * the oracle replays it exactly: with rank scale `scale`, seed count
  * |S|, damping `dampBp`:
  *   contrib(e) = (r(src) · w(e)) div W(src)     (W = Σ out-weights)
  *   r'(v)      = base·[v ∈ S] + (dampBp · Σ contrib) div 10000
  *   base       = ((10000 − dampBp) · (scale div |S|)) div 10000
  * Weights must be positive integers (e.g. quantized cosine q4 — the
  * transition probability is weight-proportional). Floor division on
  * non-negative operands only. Sink nodes absorb mass as in the
  * simplified classic formulation.
  *
  * Scale shape: identical per-round cost to PageRank — one rank⋈edges
  * equi-join + one map-side-combined sum — with one PPR-specific
  * improvement: the rank vector is FILTERED to r > 0 before the join,
  * so early rounds touch only the seed neighborhood (frontier-sized,
  * like BFS) instead of every node; mass can only exist where a path
  * from a seed exists. The rank vector is carried between rounds
  * through [[Iterate.loopBarrier]] (flat lineage, superseded rounds
  * freed), deterministic job count. Output keeps only r > 0 rows (the
  * reachable-from-seeds set; an unreachable node's rank is identically
  * zero, and at 100-TB graph sizes materializing those rows is pure
  * waste). Empty seed set: empty result. */
object PersonalizedPageRank {

  /** @param edges (src, dst, w) directed weighted edges, w > 0 integer */
  def run(edges: DataFrame, seeds: DataFrame, iterations: Int = 3,
      scale: Long = 1000000000L, dampBp: Int = 8500): DataFrame = {
    require(iterations >= 1 && dampBp >= 0 && dampBp <= 10000)
    val spark = edges.sparkSession
    import spark.implicits._

    Iterate.loop("PersonalizedPageRank", iterations) { l =>
      // read every iteration — a barrier, so an expensive upstream (the
      // near-dup self-join) materializes once instead of once per round.
      // The out-weight total is LOOP-INVARIANT: merged onto the edge list
      // ONCE instead of re-joining live⋈wtot⋈edges per round. e itself
      // feeds BOTH sides of the merge.
      l.stage("edges")
      val e = Iterate.loopBarrier(
        edges.select($"src", $"dst", $"w").where($"w" > 0))
      val eW = Iterate.loopBarrier(e.join(
        e.groupBy($"src").agg(sum($"w").as("wtot")), "src"))
      l.stage("seeds")
      val (s, nS) = Iterate.loopBarrierCount(
        seeds.select(seeds.columns.head).toDF("id").distinct())
      if (nS == 0) s.select($"id", lit(0L).as("rank"))
      else {
        val r0 = scale / nS
        val base = ((10000L - dampBp) * r0) / 10000L
        var ranks = s.select($"id", lit(r0).as("r"))
        for (_ <- 1 to iterations) {
          l.round(ranks, eW, s)
          val live = ranks.where($"r" > 0)
          val contribs = live
            .join(eW, live("id") === eW("src"))
            .select($"dst", expr("(r * w) div wtot").as("c"))
            .groupBy($"dst").agg(sum($"c").as("cs"))
          ranks = Iterate.loopBarrier(contribs.select($"dst".as("id"), $"cs")
            .join(s.withColumn("_seed", lit(1)), Seq("id"), "full_outer")
            .select($"id",
              (when($"_seed".isNotNull, lit(base)).otherwise(lit(0L)) +
                expr(s"($dampBp * coalesce(cs, 0L)) div 10000")).as("r"))
            .where($"r" > 0))
        }
        ranks.select($"id", $"r".as("rank"))
      }
    }
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge list — the iterative-graph
  * operator next to connected components (`ext.Dedup.resolveComponents`),
  * used on document graphs (near-dup / citation / link edges) to rank
  * canonical or influential members.
  *
  * ALL-INTEGER arithmetic so the oracle replays it exactly: ranks are
  * scaled to `scale` units; one iteration is
  *   contrib(e)  = r(src) div out_deg(src)            (integer div)
  *   r'(v)       = base + (dampBp · Σ contrib) div 10000
  * with `base = ((10000 − dampBp) · (scale div n)) div 10000`. Floor
  * division on non-negative operands — bit-identical in any engine.
  * Sink nodes (out-degree 0) absorb mass like the classic simplified
  * formulation; isolated nodes settle at `base`.
  *
  * Scale shape: each of the K iterations is ONE equi-join of the rank
  * vector (n rows) to the edge list on `src` + one map-side-combined
  * sum on `dst` — shuffle is O(edges) per round, the textbook Pregel
  * cost. The rank vector is carried between rounds through
  * [[Iterate.loopBarrier]] (flat lineage, measured stats, superseded
  * rounds freed). K is a parameter, not a convergence loop:
  * deterministic job count, no driver-side data. Empty node set:
  * empty result. */
object PageRank {

  def run(edges: DataFrame, nodes: DataFrame, iterations: Int = 4,
      scale: Long = 1000000000L, dampBp: Int = 8500): DataFrame = {
    require(iterations >= 1 && dampBp >= 0 && dampBp <= 10000)
    val spark = nodes.sparkSession
    import spark.implicits._

    Iterate.loop("PageRank", iterations) { l =>
      // e feeds BOTH sides of the eDeg merge below, so an expensive
      // upstream (near-dup self-join edges) materializes once, not twice.
      // Out-degree is LOOP-INVARIANT: merge it onto the edge list ONCE
      // (two operations keyed the same way share one exchange) instead of
      // re-joining ranks⋈deg⋈edges every round. Per round this drops one node-scale⋈edge-scale join; the
      // merged list is the same width class (src, dst, out_deg).
      l.stage("edges")
      val e = Iterate.loopBarrier(edges.select($"src", $"dst"))
      val eDeg = Iterate.loopBarrier(e.join(
        e.groupBy($"src").agg(count(lit(1)).as("out_deg")), "src"))
      l.stage("nodes")
      val (ids, n) = Iterate.loopBarrierCount(nodes.select($"id").distinct())
      if (n == 0) ids.select($"id", lit(0L).as("rank"))
      else {
        val r0 = scale / n
        val base = ((10000L - dampBp) * r0) / 10000L
        var ranks = ids.withColumn("r", lit(r0))
        for (_ <- 1 to iterations) {
          l.round(ranks, eDeg, ids)
          val contribs = ranks
            .join(eDeg, ranks("id") === eDeg("src"))
            .select($"dst", expr("r div out_deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("s"))
          ranks = Iterate.loopBarrier(ids
            .join(contribs, ids("id") === contribs("dst"), "left")
            .select($"id", (lit(base) +
              expr(s"($dampBp * coalesce(s, 0L)) div 10000")).as("r")))
        }
        ranks.select($"id", $"r".as("rank"))
      }
    }
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA, Raghavan et al. 2007) over an
  * edge list — the lightweight community-detection operator next to
  * PageRank (influence) and connected components (reachability):
  * components finds *any* connection, LPA finds the densely-knit
  * groups inside one component.
  *
  * Deterministic by construction (the usual LPA randomness is replaced
  * with total orders), so an independent engine replays it exactly:
  *  - every node starts labeled with its own id;
  *  - each round, a node adopts the label carried by MOST of its
  *    in-neighbors, ties broken toward the SMALLEST label;
  *  - a node with no in-edges keeps its previous label;
  *  - rounds are a fixed parameter (deterministic job count), not a
  *    convergence loop — the caller picks the diameter-ish horizon.
  *
  * Scale shape (the PageRank contract): each round is ONE equi-join of
  * the n-row label vector to the edge list on `src`, a map-side-combined
  * (dst, label) count, and an argmax aggregate — shuffle is O(edges)
  * per round; the label vector is carried between rounds through
  * [[Iterate.loopBarrier]] so lineage stays flat. The argmax is
  * `max(struct(count, −label))`, an associative reduction — no per-dst
  * window, no whole-group shuffle beyond the count's own exchange. */
object LabelProp {

  def run(edges: DataFrame, nodes: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = nodes.sparkSession
    import spark.implicits._

    Iterate.loop("LabelProp", iterations) { l =>
      l.stage("edges")
      val e = Iterate.loopBarrier(edges.select($"src", $"dst"))
      l.stage("nodes")
      var labels = Iterate.loopBarrier(
        nodes.select($"id").distinct().withColumn("lab", $"id"))
      for (_ <- 1 to iterations) {
        l.round(labels, e)
        val adopted = labels
          .join(e, labels("id") === e("src"))
          .groupBy($"dst", $"lab").agg(count(lit(1)).as("c"))
          .groupBy($"dst")
          .agg(max(struct($"c", (-$"lab").as("nl"))).as("m"))
          .select($"dst", (-$"m.nl").as("newlab"))
        labels = Iterate.loopBarrier(labels
          .join(adopted, labels("id") === adopted("dst"), "left")
          .select($"id", coalesce($"newlab", $"lab").as("lab")))
      }
      labels.select($"id", $"lab")
    }
  }
}

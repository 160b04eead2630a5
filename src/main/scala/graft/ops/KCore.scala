package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core decomposition by iterative peeling — the graph-density
  * operator next to PageRank / label propagation / connected components:
  * repeatedly delete every node whose degree in the CURRENT graph is
  * below k until none remains. The survivors (the k-core) are the
  * standard "dense kernel" selector on near-dup / interaction / citation
  * graphs: a cluster of documents each similar to ≥ k others is template
  * spam to a curation pipeline, while a node with high GLOBAL degree but
  * low core membership is a hub touching many shallow neighbors.
  *
  * Takes a SYMMETRIZED directed edge list with distinct rows (both
  * (u,v) and (v,u) present, the repo's graph-operator input convention),
  * so degree(v) = count of rows with src = v. Self-loops are dropped up
  * front (a self-loop would let an isolated node carry itself into any
  * core). Returns `(node, deg)` — the surviving nodes with their degree
  * INSIDE the core (≥ k by construction). Edgeless input nodes never
  * appear: with k ≥ 1 they are never in a core.
  *
  * Scale shape: each distributed round is ONE map-side-combined degree
  * aggregate (shuffle = distinct endpoints, not edges) + two hash
  * semi-joins of the edge list against the shrinking survivor set; the
  * edge list only ever SHRINKS, so per-round cost falls monotonically.
  * Peeling has a LONG tail — a path-shaped fringe peels one hop per
  * round — so once the edge list is ≤ `localFinishEdges` (a bounded
  * driver materialization, the [[graft.ext.Dedup.resolveComponents]]
  * local-finish pattern) one in-memory bucket peel replaces the
  * remaining cluster barriers with exact-identical output (parity
  * spec-pinned). Distributed rounds are bounded by `maxIter` and the
  * loop THROWS on non-convergence rather than returning a superset of
  * the core. The edge list is carried between rounds through
  * [[Iterate.loopBarrier]] (flat lineage, superseded rounds freed); its
  * count rides the barrier's own job.
  */
object KCore {

  def run(edges: DataFrame, k: Int, maxIter: Int = 30,
      localFinishEdges: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    require(localFinishEdges >= 0,
      s"localFinishEdges must be >= 0, got $localFinishEdges")
    val spark = edges.sparkSession
    import spark.implicits._

    Iterate.loop("KCore", maxIter, s"edges are still above " +
        s"localFinishEdges=$localFinishEdges; raise maxIter or localFinishEdges") { l =>
      l.stage("edges")
      var (cur, nEdges) = Iterate.loopBarrierCount(
        edges.select($"src", $"dst").where($"src" =!= $"dst"))
      var converged = false
      while (!converged && nEdges > localFinishEdges) {
        l.round(cur)
        val alive = cur.groupBy($"src").agg(count(lit(1)).as("_d"))
          .where($"_d" >= k)
          .select($"src".as("_n"))
        val (next, nNext) = Iterate.loopBarrierCount(cur
          .join(alive, cur("src") === $"_n", "left_semi")
          .join(alive, cur("dst") === $"_n", "left_semi"))
        // node removal always removes its edges, so a stable edge count
        // IS the fixpoint (k >= 1: every tracked node has deg >= 1)
        converged = nNext == nEdges
        cur = next
        nEdges = nNext
      }
      if (converged) cur.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      else { // local finish: exact bucket peel over the collected remnant
        val nodeType = cur.schema("src").dataType
        val rows = cur.collect()
        val deg = scala.collection.mutable.HashMap.empty[Any, Long]
        val adj = scala.collection.mutable.HashMap
          .empty[Any, scala.collection.mutable.ArrayBuffer[Any]]
        rows.foreach { r =>
          val (s, d) = (r.get(0), r.get(1))
          deg.update(s, deg.getOrElse(s, 0L) + 1L)
          adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
        }
        val removed = scala.collection.mutable.HashSet.empty[Any]
        val queue = scala.collection.mutable.Queue.empty[Any]
        deg.foreach { case (n, c) => if (c < k) queue.enqueue(n) }
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          if (!removed.contains(v)) {
            removed += v
            adj.getOrElse(v, Nil).foreach { u =>
              if (!removed.contains(u)) {
                val c = deg(u) - 1L
                deg.update(u, c)
                if (c < k) queue.enqueue(u)
              }
            }
          }
        }
        val out = deg.iterator
          .filter { case (n, _) => !removed.contains(n) }
          .map { case (n, c) => Row(n, c) }.toSeq
        val schema = StructType(Seq(
          StructField("node", nodeType), StructField("deg", LongType)))
        spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
      }
    }
  }
}

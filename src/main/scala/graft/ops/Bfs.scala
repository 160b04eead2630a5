package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance — the reachability-with-depth operator
  * next to the existing graph family (components = reachability only,
  * PageRank = stationary weight, k-core = density, LPA = groups): every
  * node reachable from a SEED SET gets its minimum hop count, up to a
  * caller-bounded radius. The standard curation uses: "how far does
  * contamination spread through the near-dup graph from the flagged
  * documents", "which nodes sit within 2 hops of a known-spam cluster",
  * crawl-frontier depth audits.
  *
  * Input convention matches [[KCore]] / LabelProp: a SYMMETRIZED
  * directed edge list with distinct rows ((u,v) and (v,u) both present).
  * `seeds` is a one-column frame of node ids; duplicate seeds are
  * deduped, and a seed with no edges still appears at hops = 0 (its
  * distance to itself is zero regardless of degree). Unreachable nodes
  * are ABSENT — absence is the "infinite distance" encoding, so the
  * result joins back as a left join + null test.
  *
  * Scale shape (the Pregel frontier loop, relationally): each hop is
  * ONE hash join of the CURRENT FRONTIER against the edge list, one
  * frontier-side dedup, and one anti-join against the visited set —
  * cost tracks the frontier size, which on bounded-degree graphs rises
  * then COLLAPSES (most BFS work is 2-3 hops on near-dup graphs), never
  * the full node set per round. The visited set is carried between
  * rounds through [[Iterate.loopBarrier]] (flat lineage — no
  * exponential plan growth across rounds) and rounds are bounded by
  * `maxHops`, so the loop needs no convergence guard: the hop budget IS
  * the bound. On a 1000-executor cluster the frontier join is
  * AQE-broadcastable whenever the frontier is small (hop 1 and the tail
  * hops), and the anti-join keys are already the join keys — one
  * shuffle family per round on the node id.
  */
object Bfs {

  /** @param edges symmetrized distinct (src, dst) edge list
    * @param seeds one-column frame of starting node ids (column name
    *              is irrelevant; the first column is taken)
    * @param maxHops maximum radius to explore (rounds are bounded by
    *                this, so it doubles as the convergence bound)
    * @return (node, hops) — minimum hop distance, hops in [0, maxHops]
    */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._

    frontierLoop("Bfs", edges.select($"src", $"dst").where($"src" =!= $"dst"),
        Nil, 0, maxHops)(_ =>
      seeds.select(seeds.columns.head).toDF("node").distinct()
        .select($"node", lit(0L).as("hops")))
  }

  /** The frontier loop [[run]] and [[boundedDistances]] share:
    * `start(e)` is the reached set — (keys…, node, hop) — at hop `hop0`;
    * each round adds the unreached, non-root neighbours of the last
    * frontier at the next hop. The reached set is referenced twice per
    * hop (anti-join + union), hence barriers; frontier emptiness rides
    * each barrier's own job. */
  private def frontierLoop(op: String, edges: DataFrame, keys: Seq[String],
      hop0: Int, maxHops: Int)(start: DataFrame => DataFrame): DataFrame =
    Iterate.loop(op, maxHops - hop0) { l =>
      l.stage("edges")
      val e = Iterate.loopBarrier(edges)
      l.stage("start")
      var (reached, nNew) = Iterate.loopBarrierCount(start(e))
      val at = (keys :+ "node").map(col)
      val hopCol = reached.columns.last
      var frontier = reached.select(at: _*)
      while (nNew > 0 && l.rounds < maxHops - hop0) {
        val hop = hop0 + 1 + l.round(reached, frontier, e)
        val (next, n) = Iterate.loopBarrierCount(
          frontier.join(e, frontier("node") === e("src"))
            // dedup BEFORE the anti-join: a frontier node with fan-in f
            // would otherwise probe the reached set f times
            .select(keys.map(frontier(_)) :+ e("dst").as("node"): _*).distinct()
            .where(keys.foldLeft(lit(true))((c, k) => c && col(k) =!= col("node")))
            .join(reached, keys :+ "node", "left_anti")
            .select(at :+ lit(hop.toLong).as(hopCol): _*))
        nNew = n
        if (nNew > 0) {
          reached = Iterate.loopBarrier(reached.unionByName(next))
          frontier = next.select(at: _*)
        }
      }
      reached
    }

  /** Bounded-radius HARMONIC CENTRALITY (Marchiori & Latora 2000;
    * Boldi & Vigna 2014 for the web-graph form): per node,
    * Σ 1∕d(node, other) over every other node within `maxHops` —
    * the centrality that handles disconnected graphs natively
    * (unreachable = contributes 0, no infinite-distance patching),
    * which is exactly the near-dup-graph situation (many components).
    * Scores are EXACT integers: Σ ⌊10⁶∕d⌋ per reached node (q6), so
    * the oracle replays them bit-for-bit.
    *
    * The hop bound is the scale contract: exact harmonic centrality is
    * all-pairs BFS (O(V·E) — Brandes-style, infeasible at corpus
    * scale); bounded-radius harmonic is the standard production
    * substitute because influence beyond a few hops is both tiny
    * (1∕d-weighted) and semantically weak on similarity graphs. Cost
    * per round is one (root, node)-keyed frontier×edges join + one
    * anti-join against the known-distance set — the pair frame is
    * bounded by the k-hop neighborhood sizes (cluster-bounded on
    * near-dup graphs), never |V|². Same loopBarrier discipline as
    * [[run]] (the distance set is referenced twice per round).
    *
    * Input convention matches [[run]]: symmetrized distinct edges.
    * Nodes with no edges are absent (their harmonic is 0 by
    * definition — join back with a left join as for [[run]]). */
  def harmonic(edges: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    boundedDistances(edges, maxHops).groupBy($"root")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div d")).as("harmonic_q6"))
      .select($"root".as("id"), $"n_reached", $"harmonic_q6")
  }

  /** Bounded ECCENTRICITY per node — max hop distance to anything
    * reached within `maxHops` (a LOWER BOUND on true eccentricity when
    * the radius truncates; on similarity graphs whose components fit
    * inside the bound it is exact) — plus the reach count. The
    * min/max over this frame are the graph-audit radius and diameter
    * lower bounds a curation dashboard tracks round over round
    * ("did dedup fragment the near-dup graph?"). Shares [[harmonic]]'s
    * frontier BFS and its disconnected-native contract (unreachable
    * pairs simply don't contribute; edgeless nodes are absent). */
  def eccentricity(edges: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    boundedDistances(edges, maxHops).groupBy($"root")
      .agg(count(lit(1)).as("n_reached"), max($"d").as("ecc_hops"))
      .select($"root".as("id"), $"n_reached", $"ecc_hops")
  }

  /** The shared bounded all-pairs frontier BFS: (root, node, d) for
    * every ordered pair within `maxHops` hops, d ≥ 1. */
  private def boundedDistances(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"maxHops must be in 1..8, got $maxHops")
    val spark = edges.sparkSession
    import spark.implicits._
    frontierLoop("Bfs.distances", edges.select($"src", $"dst")
        .where($"src" =!= $"dst" && $"src".isNotNull && $"dst".isNotNull)
        .distinct(), Seq("root"), 1, maxHops)(e =>
      e.select($"src".as("root"), $"dst".as("node"), lit(1L).as("d")))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka's method — the graph-summarization
  * operator that completes the family (components = reachability, MST =
  * the CHEAPEST skeleton of each component): on a near-dup graph with
  * distance weights the MSF is the single-linkage dendrogram backbone
  * (cutting it at a threshold IS single-linkage clustering), and the
  * lightest way to visualize/estimate cluster structure without all
  * pairs.
  *
  * Edges carry a STRICT deterministic total order (w, a, b) — with it
  * the MSF is unique (the tie-broken Kruskal forest), which is what
  * makes the operator hash-gateable across engines.
  *
  * Borůvka round (the distributed-friendly MST: every component acts at
  * once, no global sort, no sequential union-find):
  *   1. relabel edges by current component; drop intra-component edges
  *   2. every component selects its MINIMUM incident edge (by the total
  *      order) — ≤ one edge per component, so ≤ n−1 forest edges total
  *   3. selected edges merge components: connected components over the
  *      contracted (component-id) graph via [[graft.ext.Dedup.resolveComponents]]
  *      — the selected graph's chains can be Θ(components) long (a path
  *      with increasing weights makes every pointer face left), so the
  *      merge needs a real CC pass, not one hash-min step
  * Components at least halve per round ⇒ ≤ log₂(n) rounds; the guard
  * THROWS at `maxRounds` rather than returning a partial forest.
  *
  * Scale shape: per round two hash joins to relabel (edge list never
  * grows, cross-component edges only SHRINK), one component-keyed
  * window top-1 (partial-ordered, no global sort), and a CC pass over
  * the CONTRACTED graph (component-count-sized, geometrically
  * shrinking — the cheap side of the round). Every frame a round hands
  * on (forest, mapping, crossing edges) passes [[Iterate.loopBarrier]]
  * (flat lineage AND flat plans, superseded rounds freed). */
object Msf {

  /** @param edges canonical undirected weighted edges (a, b, w) with
    *              a < b, one row per edge, Long node ids, w > 0
    * @return the unique tie-broken MSF as (a, b, w) */
  def run(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    import spark.implicits._

    Iterate.loop("Msf", maxRounds, "refusing to return a partial forest") { l =>
      l.stage("edges")
      val e = Iterate.loopBarrier(
        edges.select($"a", $"b", $"w").where($"a" < $"b"))
      val nodes = e.select($"a".as("n")).unionByName(e.select($"b".as("n")))
        .distinct()
      // comp is referenced TWICE per round (both edge endpoints), so it
      // must be a checkpoint barrier, not a plain persist — the logical
      // plan otherwise doubles per round (see Iterate)
      var comp = Iterate.loopBarrier(nodes.select($"n", $"n".as("c")))
      var forest = e.limit(0)
      // the cross-component edges under the current labels, counted by
      // the barrier job; none left IS the fixpoint
      def crossing(comp: DataFrame): (DataFrame, Long) = {
        val ca = comp.select($"n".as("_na"), $"c".as("ca"))
        val cb = comp.select($"n".as("_nb"), $"c".as("cb"))
        Iterate.loopBarrierCount(
          e.join(ca, $"a" === $"_na").join(cb, $"b" === $"_nb")
            .where($"ca" =!= $"cb")
            .select($"a", $"b", $"w", $"ca", $"cb"))
      }
      var (rel, nRel) = crossing(comp)
      while (nRel > 0) {
        l.round(comp, forest, rel, e)
        val tch = rel.select($"ca".as("tc"), $"w", $"a", $"b", $"ca", $"cb")
          .unionByName(
            rel.select($"cb".as("tc"), $"w", $"a", $"b", $"ca", $"cb"))
        // min edge per component as an AGGREGATE (lexicographic struct
        // min ≡ the former row_number()=1 over orderBy(w, a, b)), not a
        // window: min is map-side combinable, so a GIANT component's
        // incident-edge list collapses to partial minima on the map
        // side instead of being sorted whole in one window task — the
        // hot-component analogue of the low-cardinality-window fix
        val (sel, selN) = Iterate.loopBarrierCount(tch
          .groupBy($"tc")
          .agg(min(struct($"w", $"a", $"b", $"ca", $"cb")).as("_m"))
          .select($"_m.a".as("a"), $"_m.b".as("b"), $"_m.w".as("w"),
            $"_m.ca".as("ca"), $"_m.cb".as("cb"))
          .distinct())
        forest = Iterate.loopBarrier(
          forest.unionByName(sel.select($"a", $"b", $"w")))
        // merge the contracted graph: selected edges over component
        // ids. The contracted edge list is ≤ one edge per component
        // and components at least halve per round, so it is usually
        // BOUNDED-driver-small: finish the merge with the same
        // union-find resolveComponents itself local-finishes with
        // (min-id roots ≡ the distributed min-label fixpoint — the
        // accepted bounded-materialization pattern), skipping that
        // operator's edge/label barrier setup (~8 driver jobs per
        // Borůvka round spent re-barriering a KB-sized frame; guide
        // §5). Above the bound, the fully distributed pass as before.
        comp = Iterate.loopBarrier(
          if (selN <= graft.ext.Dedup.componentsLocalFinishEdges) {
            val mapping = Iterate.minIdRoots(sel.select($"ca", $"cb"))
            val mapDf = spark.createDataFrame(mapping).toDF("_oc", "_nc")
            comp.join(broadcast(mapDf), comp("c") === $"_oc", "left")
              .select($"n", coalesce($"_nc", $"c").as("c"))
          } else {
            val merged = graft.ext.Dedup.resolveComponents(
              sel.select($"ca".as("cid"))
                .unionByName(sel.select($"cb".as("cid"))),
              sel.select($"ca".as("id_a"), $"cb".as("id_b")), idCol = "cid")
            comp.join(
                merged.select($"cid".as("_oc"), $"component_id".as("_nc")),
                comp("c") === $"_oc", "left")
              .select($"n", coalesce($"_nc", $"c").as("c"))
          })
        val (nextRel, n) = crossing(comp)
        rel = nextRel
        nRel = n
      }
      forest
    }
  }
}

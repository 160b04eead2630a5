package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-truss decomposition — [[KCore]]'s EDGE-density sibling (Cohen
  * 2008): repeatedly delete every edge contained in fewer than k − 2
  * triangles of the CURRENT graph until none remains. Where the k-core
  * keeps nodes with enough neighbors, the k-truss keeps edges with
  * enough MUTUAL neighbors — the standard community-backbone selector
  * (a 3-truss is exactly "every edge closes at least one triangle",
  * which strips pendant links and chains off near-dup clusters while
  * keeping their dense interiors intact).
  *
  * Takes the repo's symmetrized distinct edge convention and works
  * internally on canonical a < b edges. Returns `(a, b, support)` —
  * the surviving canonical edges with their triangle count inside the
  * truss (≥ k − 2 by construction).
  *
  * Scale shape (r12): supports are computed ONCE — one wedge join
  * (edges ⋈ edges on the shared lower endpoint, b < c: the orientation
  * that counts every triangle exactly once, the [[Triangles]]
  * discipline) plus one map-side-combined count — and then MAINTAINED
  * DECREMENTALLY through the peel, the distributed form of the
  * PKT peeling discipline (Kabir & Madduri, "Parallel k-truss
  * decomposition on multicore systems", HPEC 2017): a round drops the
  * frontier `support < k − 2`, enumerates only the triangles INCIDENT
  * to dropped edges (frontier ⋈ adjacency ⋈ adjacency — frontier-sized,
  * not graph-sized), and decrements the surviving edges they close.
  * The r11 form re-ran the full wedge join every round of every phase —
  * the dominant cost on dense graphs, where the m10 scale gate measured
  * decompose at 42 s; one support pass + cheap cascades is the shape
  * that survives 100× (the wedge join is paid exactly once however
  * deep the peel goes). Rounds are [[Iterate.loopBarrier]]-truncated,
  * cardinalities are carried in driver variables (one count per round,
  * nothing recounted), and `maxIter` guards each level with a THROW on
  * non-convergence — never a superset answer.
  */
object KTruss {

  /** Triangle count per canonical edge. Wedges are enumerated in
    * DEGREE-ORDERED orientation (the [[Triangles]] discipline, Schank &
    * Wagner 2005): each edge points from its (deg, id)-smaller endpoint
    * to the larger, so wedge volume is O(m^1.5) total — id-orientation
    * (the r11 form) costs Σ C(outdeg_id, 2), which a single low-id HUB
    * blows up to C(deg_hub, 2) even on a triangle-free graph (a 100k
    * star = 5·10⁹ wedges; KTrussSpec pins a 30k-star canary that hangs
    * under any regression to id-order). Found triangles map back to
    * canonical a < b edges, so the output — and every truss hash — is
    * orientation-invariant. */
  private def support(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val both = e.select($"a".as("u"), $"b".as("v"))
      .unionByName(e.select($"b".as("u"), $"a".as("v")))
    val deg = both.groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))
    val oriented = both
      .join(deg.toDF("u", "_du"), "u")
      .join(deg.toDF("v", "_dv"), "v")
      .where(struct($"_du", $"u") < struct($"_dv", $"v"))
      .select($"u".as("src"), $"v".as("dst"), $"_dv".as("_dd"))
    val tri = oriented.select($"src", $"dst".as("x"), $"_dd".as("_dx"))
      .join(oriented.select($"src", $"dst".as("y"), $"_dd".as("_dy")),
        Seq("src"))
      .where(struct($"_dx", $"x") < struct($"_dy", $"y"))
      .join(oriented.select($"src".as("x"), $"dst".as("y")), Seq("x", "y"),
        "left_semi")
      .select($"src", $"x", $"y")
    def canon(p: Column, q: Column): Column =
      struct(least(p, q).as("a"), greatest(p, q).as("b"))
    tri.select(explode(array(canon($"src", $"x"), canon($"src", $"y"),
        canon($"x", $"y"))).as("_e"))
      .select($"_e.a".as("a"), $"_e.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("support"))
  }

  /** `(a, b, sup)` for EVERY canonical edge, including sup = 0 — the
    * one wedge join the whole decremental peel runs. */
  private def supportsOf(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.join(support(e), Seq("a", "b"), "left_outer")
      .select($"a", $"b", coalesce($"support", lit(0L)).as("sup"))
  }

  /** Attach each endpoint's INITIAL degree as carried columns
    * `(_da, _db)` — one rollup + two joins, paid once per decompose
    * (not once per round): the cascade's sparser-endpoint orientation
    * then reads a projection instead of re-ranking the shrinking
    * graph. Initial-degree orientation is the standard PKT choice —
    * the ordering is a COST heuristic (the adjacency semi-join decides
    * membership), so degree drift during the peel can only cost time,
    * never triangles, and a star's hub stays the hub however many of
    * its edges have dropped. */
  private def withDeg(cur: DataFrame): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    val deg = cur.select($"a".as("u")).unionByName(cur.select($"b".as("u")))
      .groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))
    cur.join(deg.toDF("a", "_da"), "a")
      .join(deg.toDF("b", "_db"), "b")
      .select($"a", $"b", $"sup", $"_da", $"_db")
  }

  /** Decremental cascade: from `cur0` (`(a, b, sup, _da, _db)` —
    * supports VALID for exactly this edge set, endpoint degrees
    * attached once by [[withDeg]]) to the fixpoint where every
    * remaining edge has `sup ≥ minSup`. Each round drops the frontier,
    * enumerates the triangles of the current graph incident to ≥ 1
    * dropped edge — frontier ⋈ symmetric adjacency ⋈ adjacency, deduped
    * on the sorted vertex triple so a triangle losing two edges at once
    * still subtracts ONE — and decrements the surviving edges of each
    * lost triangle. Cardinality is carried arithmetically (nCur −
    * frontier size): one count per round, one barrier per DROPPING
    * round. With `keepDropped` the dropped frontiers come back too,
    * newest first — each a frame over its round's barriered `cur`,
    * which [[Iterate.loop]] therefore keeps. */
  private def cascade(cur0: DataFrame, n0: Long, minSup: Long,
      maxIter: Int, keepDropped: Boolean): (DataFrame, Long, List[DataFrame]) =
    Iterate.loop("KTruss", maxIter, "raise maxIter") { l =>
      val spark = cur0.sparkSession
      import spark.implicits._
      var cur = cur0
      var nCur = n0
      var dropped = List.empty[DataFrame]
      // frontier size for rounds ≥ 2 rides the previous round's barrier
      // (a `sup < minSup` flag summed during materialization; a separate
      // d.count() would be one more job over just-checkpointed blocks).
      // Round 1 counts for real: cur0 comes from a previous level whose
      // threshold was lower.
      var nDFused: Option[Long] = None
      var done = false
      while (!done) {
        l.round(cur :: dropped: _*)
        val d = cur.where($"sup" < minSup)
        val nD = nDFused.getOrElse(d.count())
        if (nD == 0L) done = true
        else {
          if (keepDropped) dropped = d :: dropped
          val adj = cur.select($"a".as("u"), $"b".as("w"))
            .unionByName(cur.select($"b".as("u"), $"a".as("w")))
          // candidate third vertices come from each dropped edge's
          // SPARSER endpoint (by the carried initial degrees — a pure
          // projection, zero per-round jobs): expanding from the denser
          // side would cost deg(hub) rows per dropped hub edge — the same
          // skew the degree-ordered wedge enumeration in [[support]]
          // exists to kill
          val dOriented = d.select(
            when($"_da" <= $"_db", $"a").otherwise($"b").as("u"),
            when($"_da" <= $"_db", $"b").otherwise($"a").as("v"))
          val lost = dOriented
            .join(adj, Seq("u"))
            .join(adj.select($"u".as("v"), $"w"), Seq("v", "w"), "left_semi")
            .select(sort_array(array($"u", $"v", $"w")).as("_t"))
            .distinct()
            .select($"_t"(0).as("x"), $"_t"(1).as("y"), $"_t"(2).as("z"))
          val edges3 = lost.select($"x".as("a"), $"y".as("b"))
            .unionByName(lost.select($"x".as("a"), $"z".as("b")))
            .unionByName(lost.select($"y".as("a"), $"z".as("b")))
          val decr = edges3
            .join(d.select($"a", $"b"), Seq("a", "b"), "left_anti")
            .groupBy($"a", $"b").agg(count(lit(1)).as("_d"))
          val (bar, st) = Iterate.loopBarrierProbe(
            cur.join(d.select($"a", $"b"), Seq("a", "b"), "left_anti")
              .join(decr, Seq("a", "b"), "left_outer")
              .select($"a", $"b",
                ($"sup" - coalesce($"_d", lit(0L))).as("sup"),
                $"_da", $"_db")
              .withColumn("_dr", $"sup" < minSup), Seq("_dr"))
          cur = bar.drop("_dr")
          nDFused = Some(st(0)._2)
          nCur -= nD
        }
      }
      (cur, nCur, dropped)
    }

  /** One full peel to the k-truss fixpoint over canonical (a, b)
    * edges — the r11 wedge-join-per-round form, kept (with
    * [[decomposePeel]]) as the independent in-JVM oracle for the
    * decremental rewrite. Returns the converged `(a, b, support)`
    * frame (barriered) and its cardinality. */
  private def peel(e0: DataFrame, n0: Long, k: Int,
      maxIter: Int): (DataFrame, Long) =
    Iterate.loop("KTruss.peel", maxIter, "raise maxIter") { l =>
      val spark = e0.sparkSession
      import spark.implicits._
      var e = e0
      var nPrev = n0
      var fix: Option[(DataFrame, Long)] = None
      while (fix.isEmpty) {
        l.round(e)
        val (kept, nKept) = Iterate.loopBarrierCount(
          e.join(support(e), Seq("a", "b"), "left_outer")
            .select($"a", $"b",
              coalesce($"support", lit(0L)).as("support"))
            .where($"support" >= k - 2))
        if (nKept == nPrev) fix = Some((kept, nKept))
        else { nPrev = nKept; e = kept.select($"a", $"b") }
      }
      fix.get
    }

  /** The canonical edges with supports and degrees attached — the
    * cascade's input — and their count, which rides the barrier job
    * (sup is never null — coalesced). */
  private def supported(edges: DataFrame): (DataFrame, Long) = {
    val (cur, st) = Iterate.loopBarrierProbe(
      withDeg(supportsOf(Iterate.loopBarrier(canonical(edges)))), Seq("sup"))
    (cur, st(0)._1)
  }

  private def canonical(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select($"src".as("a"), $"dst".as("b"))
      .where($"a" < $"b").distinct()
  }

  def run(edges: DataFrame, k: Int, maxIter: Int = 20): DataFrame = {
    require(k >= 3, s"k must be >= 3 for a meaningful truss, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val spark = edges.sparkSession
    import spark.implicits._
    val (cur0, n0) = supported(edges)
    val (fix, _, _) = cascade(cur0, n0, (k - 2).toLong, maxIter,
      keepDropped = false)
    fix.select($"a", $"b", $"sup".as("support"))
  }

  /** Full truss DECOMPOSITION: the trussness t(e) = max k such that
    * edge e survives the k-truss peel, for every canonical edge (every
    * edge has t ≥ 2 — the 2-truss is the whole graph), SATURATED at
    * `maxK`: survivors of the maxK-peel are labeled maxK whatever
    * their true (deeper) trussness. This is the readout a curation
    * dashboard wants — "how deep in the community backbone does this
    * near-dup edge sit" — and the saturation is what makes it
    * well-defined on DENSE graphs: a near-clique cluster of size s has
    * trussness s, and peeling a 100-TB similarity graph to level
    * s ≈ cluster size answers nothing the maxK level didn't (the
    * round-10 scale gate hit exactly this: constant-size ~200-node
    * clusters at m10 → 1.99M edges with trussness ≈ 200).
    *
    * Shape (r12): ONE wedge join computes supports, then the levels
    * k = 3..maxK run as a single [[cascade]] chain — supports carry
    * across levels because a level's fixpoint supports ARE valid
    * inputs to the next level's threshold (the edge set is unchanged
    * between levels; only the bar rises). Edges dropped at level k are
    * labeled k − 1 from the cascade's dropped frontiers; maxK-survivors label
    * maxK. Per-level cost beyond the shared support pass is
    * frontier-sized, not graph-sized. (Measured against the r11
    * peeling form at the m10 scale corpus: 42 s → see ROUND_NOTES r12;
    * an intermediate local-h-index attempt — Sariyüce et al.'s local
    * nucleus fixpoint — lost at 144 s because it re-joins the FULL
    * 131M-row triangle list every iteration, so it was discarded.) */
  def decompose(edges: DataFrame, maxK: Int = 8,
      maxIter: Int = 20): DataFrame = {
    require(maxK >= 3, s"maxK must be >= 3, got $maxK")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val spark = edges.sparkSession
    import spark.implicits._
    var (cur, nCur) = supported(edges)
    var k = 3
    var labeled = List.empty[DataFrame]
    while (nCur > 0 && k <= maxK) {
      val lbl = (k - 1).toLong
      val (kept, nKept, dropped) = cascade(cur, nCur, (k - 2).toLong,
        maxIter, keepDropped = true)
      labeled = dropped.map(_.select($"a", $"b", lit(lbl).as("trussness"))) :::
        labeled
      cur = kept
      nCur = nKept
      k += 1
    }
    if (nCur > 0) // saturate: maxK-peel survivors are "at least maxK"
      labeled = cur.select($"a", $"b", lit(maxK.toLong).as("trussness")) ::
        labeled
    if (labeled.isEmpty) // empty graph: empty labeling, correct schema
      cur.select($"a", $"b", lit(2L).as("trussness"))
    else labeled.reduce(_ unionByName _)
  }

  /** The r11 peeling form of [[decompose]] — successive k = 3..maxK
    * [[peel]]s, a full wedge join per round. Kept as the independent
    * in-JVM oracle for the decremental rewrite (KTrussSpec pins
    * equality on random graphs);
    * the driver-side DuckDB oracle replays peeling too, so the shipped
    * query is double-covered. */
  private[graft] def decomposePeel(edges: DataFrame, maxK: Int = 8,
      maxIter: Int = 20): DataFrame = {
    require(maxK >= 3, s"maxK must be >= 3, got $maxK")
    val spark = edges.sparkSession
    import spark.implicits._
    var (cur, nCur) = Iterate.loopBarrierCount(canonical(edges))
    var k = 3
    var labeled = List.empty[DataFrame]
    while (nCur > 0 && k <= maxK) {
      val (kept, nKept) = peel(cur, nCur, k, maxIter)
      labeled = Iterate.loopBarrier(
        cur.join(kept, Seq("a", "b"), "left_anti")
          .select($"a", $"b", lit((k - 1).toLong).as("trussness"))) :: labeled
      cur = kept.select($"a", $"b")
      nCur = nKept
      k += 1
    }
    if (nCur > 0) // saturate: maxK-peel survivors are "at least maxK"
      labeled = Iterate.loopBarrier(
        cur.select($"a", $"b", lit(maxK.toLong).as("trussness"))) :: labeled
    if (labeled.isEmpty) // empty graph: empty labeling, correct schema
      cur.select($"a", $"b", lit(2L).as("trussness"))
    else labeled.reduce(_ unionByName _)
  }
}

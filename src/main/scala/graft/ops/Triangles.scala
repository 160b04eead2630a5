package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected edge list — the classic
  * multi-way self-join with a skew story: enumerating wedges from every
  * node costs Σ deg(v)² (a single celebrity node explodes it), while
  * orienting each edge from its (degree, id)-SMALLER endpoint to the
  * larger caps out-degrees so the wedge count is O(m^1.5) total — the
  * standard bound (Schank & Wagner 2005; the MapReduce form is Suri &
  * Vassilvitskii WWW'11). No global rank is materialized: the
  * lexicographic (deg, id) tuple IS the total order, so there is no
  * single-partition sort anywhere.
  *
  * Each triangle is found exactly once (its orientation is acyclic),
  * then credited to all three corners. Three hash joins, all on node
  * keys — nothing else. */
object Triangles {

  /** `pairs`: one row per undirected edge, (id_a, id_b), id_a ≠ id_b,
    * no duplicates in either direction. Returns (id, n_triangles) for
    * every node in ≥ 1 triangle. */
  def perNode(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    val both = graft.ext.Similarity.symmetrize(pairs, "u", "v")
    val deg = both.groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))

    // orient: (deg, id)-smaller endpoint -> larger
    val withDeg = both
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = withDeg
      .where(struct($"du", $"u") < struct($"dv", $"v"))
      .select($"u".as("src"), $"v".as("dst"), $"dv".as("ddst"))

    // wedges from each source's out-neighborhood, ordered to dedupe
    val e1 = oriented.select($"src", $"dst".as("b"), $"ddst".as("db"))
    val e2 = oriented.select($"src", $"dst".as("c"), $"ddst".as("dc"))
    val wedges = e1.join(e2, "src")
      .where(struct($"db", $"b") < struct($"dc", $"c"))
    // close the wedge with the oriented (b, c) edge
    val tri = wedges.join(
      oriented.select($"src".as("b"), $"dst".as("c")), Seq("b", "c"))

    tri.select(explode(array($"src", $"b", $"c")).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient (Watts & Strogatz 1998) per node,
    * exact basis points: lcc_bp = ⌊10⁴·2·T(v) ∕ (deg(v)·(deg(v)−1))⌋
    * for deg ≥ 2, 0 otherwise — how close each node's neighborhood is
    * to a clique, the per-node readout on top of [[perNode]]'s
    * triangle counts. Every node with ≥ 1 edge is returned (nodes in
    * no triangle at T = 0), so the left join against the triangle
    * counts is on the degree table, which is aggregate-sized. */
  def localClustering(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val both = graft.ext.Similarity.symmetrize(pairs, "id", "v")
    val deg = both.groupBy($"id").agg(count(lit(1)).as("degree"))
    deg.join(perNode(pairs), Seq("id"), "left")
      .withColumn("n_triangles", coalesce($"n_triangles", lit(0L)))
      .withColumn("lcc_bp",
        when($"degree" < 2, lit(0L)).otherwise(
          expr("(10000 * 2 * n_triangles) div (degree * (degree - 1))")))
  }
}

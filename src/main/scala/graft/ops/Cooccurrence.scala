package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ext.ScopedPersist

/** Bipartite → unipartite co-occurrence projection: from (hub, item)
  * edges, the item–item graph weighted by shared-hub count — the
  * co-purchase / co-click / co-citation graph builder that feeds
  * similarity ("customers also bought"), clustering, and the graph
  * operators ([[PageRank]], [[Hits]], components).
  *
  * The projection is inherently quadratic in hub degree (a hub of
  * degree d mints C(d, 2) pairs), so hubs above `maxDegree` are
  * DROPPED, not truncated — the standard stop-hub rule (a customer who
  * buys everything links everything to everything and carries no
  * signal, exactly like a stop-gram in [[graft.ext.Contamination]]'s
  * maxDf cap). The cap bounds per-hub work at C(maxDegree, 2) BEFORE
  * the self-join, so the worst case is maxDegree·|edges| pair rows —
  * linear in the input for a fixed cap — and a single hot hub can
  * never detonate the shuffle.
  *
  * Scale shape: dedup → degree census (one map-side-combined count) →
  * semi-filter → one hub-keyed self-join → one map-side-combined pair
  * count. Pairs are emitted canonically (item_a < item_b), so no
  * distinct pass is needed.
  *
  * NOTE (r13): r12 replaced the self-join with a per-hub collect_list
  * + in-row i<j explode to keep raw pair rows out of the exchange, but
  * its supporting A/B ran with the ObjectHashAggregate sort-fallback
  * threshold raised to 65536 — a setting that was itself measured and
  * REJECTED (see LocalSession) — so under the default threshold the
  * collect aggregation sort-fell-back per partition and the operator
  * ran 2.7–3.3× SLOWER than this self-join (driver r12: 6.5–7.7 s vs
  * r11's 2.44 s at sf0.1; r13 re-A/B under the default threshold:
  * self-join 2.6 s vs explode 5.0–8.5 s min-of-2). Restored. */
object Cooccurrence {

  def project(edges: DataFrame, maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select($"hub", $"item").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy($"hub").agg(count(lit(1)).as("_d"))
    // kept is read by BOTH self-join sides; materialize it, then free
    // the raw edge cache (kept's cache carries the result from here)
    val kept = e.join(deg.where($"_d" <= maxDegree).select($"hub"), "hub")
      .persistScoped
    kept.count()
    e.unpersist()
    kept.select($"hub", $"item".as("item_a"))
      .join(kept.select($"hub", $"item".as("item_b")), "hub")
      .where($"item_a" < $"item_b")
      .groupBy($"item_a", $"item_b")
      .agg(count(lit(1)).as("n_shared"))
  }
}

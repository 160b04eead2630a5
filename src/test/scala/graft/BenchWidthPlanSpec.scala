package graft

import org.apache.spark.sql.DataFrame

import graft.queries._

/** Bench-width plan audit (VERDICT r12 item 4): the r12 regression — a
  * global scan-widening repartition that fired ONLY when
  * `spark.sql.shuffle.partitions` was large (the driver's local[32]
  * bench config) — was invisible to every plan suite because they all
  * run at the shared test session's shuffle.partitions=4. This suite
  * re-plans scan-shaped light queries at the bench width (32) and
  * asserts the Exchange count does NOT depend on the width, so a global
  * scan-path change can never again ship visible only to the bench.
  * It also pins the ONE width-dependent behavior that is intentional:
  * [[Tables.loadWide]]'s explicit opt-in widening for document-cascade
  * operators fires at bench width and self-disables at test width.
  */
class BenchWidthPlanSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length

  private def atWidth[A](n: Int)(f: => A): A = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("light queries plan the same exchange count at test and bench width") {
    val qs: Seq[(String, () => DataFrame)] = Seq(
      "s5_scan_filter_project" ->
        (() => FilterQueries.scanFilterProject(spark, sfDir)),
      "q1_pricing_summary" -> (() => TpchQueries.q1(spark, sfDir)),
      "q6_forecast_revenue" -> (() => TpchQueries.q6(spark, sfDir)),
      "w3_rank_topk" -> (() => WindowQueries.rankTopk(spark, sfDir)),
      "u1_union_inputs" -> (() => SortSetQueries.unionInputs(spark, sfDir)))
    qs.foreach { case (name, mk) =>
      val at4 = atWidth(4)(exchanges(mk()))
      val at32 = atWidth(32)(exchanges(mk()))
      assert(at4 === at32,
        s"$name plans $at32 exchanges at bench width vs $at4 at test width")
    }
    // s5 is scan-filter-project + one output sort: exactly the one
    // range exchange at bench width, never a scan-widening repartition
    atWidth(32) {
      assert(exchanges(FilterQueries.scanFilterProject(spark, sfDir)) === 1)
    }
  }

  test("loadWide widens only when the scan is far narrower than the " +
      "shuffle width") {
    // sf0.001 documents is a single-row-group file: 1 scan partition
    atWidth(32) {
      assert(Tables.loadWide(spark, sfDir, "documents")
        .rdd.getNumPartitions === 32)
    }
    atWidth(4) {
      assert(Tables.loadWide(spark, sfDir, "documents")
        .rdd.getNumPartitions === 1)
    }
  }

  test("near-dup kernel spreads a one-partition scan to the task slots " +
      "at any shuffle width") {
    // sf0.001 embeddings is a single-row-group file: 1 scan partition,
    // so without the spread every pair would be scored in one task
    val emb = Tables.load(spark, sfDir, "embeddings")
    val slots = spark.sparkContext.defaultParallelism
    assert(emb.rdd.getNumPartitions < slots)
    def kernel = graft.ext.Similarity.cosineNearDup(emb, 0.3)
    val at4 = atWidth(4)(exchanges(kernel))
    val at32 = atWidth(32)(exchanges(kernel))
    assert(at4 === at32,
      s"cosineNearDup plans $at32 exchanges at bench width vs $at4 at test width")
    atWidth(32) {
      val edges = graft.ops.Iterate.loopBarrier(
        graft.ext.Similarity.symmetrize(kernel, "src", "dst"))
      assert(edges.rdd.getNumPartitions === slots)
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import graft.ext.Dedup
import graft.ops._
import graft.streaming.StreamingIngest

/** [[Iterate.loop]]: release of superseded rounds,
  * the enclosing call site restored on exit, the typed round-limit
  * error — and the loops built on it on empty and edgeless input. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def site = spark.sparkContext.getLocalProperty("callSite.short")

  test("superseded rounds are freed: PageRank holds as many cached RDDs " +
      "after 8 rounds as after 2") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val nodes = (1L to 5L).toDF("id")
    // RDD ids only grow, so counting the cached ones above a fresh id
    // sees exactly what this run left behind
    def held(iterations: Int): (Int, DataFrame) = {
      val mark = sc.emptyRDD[Int].id
      val out = PageRank.run(edges, nodes, iterations)
      out.collect()
      (sc.getRDDStorageInfo.count(_.id > mark), out)
    }
    val (n2, out2) = held(2)
    val (n8, out8) = held(8)
    assert(n8 === n2, s"8 rounds hold $n8 cached RDDs, 2 rounds hold $n2")
    // only the rank vector the result reads stays
    assert(n2 === 1)
    assert(out2.count() === 5L && out8.count() === 5L)
  }

  test("an inner loop leaves the enclosing loop's round call site in place") {
    val before = site
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageNames.add(e.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(listener)
    try Iterate.loop("Outer", 2) { o =>
      o.round()
      assert(site === "Outer.round 0")
      Iterate.loop("Inner", 3) { i =>
        i.round(); i.round()
        assert(site === "Inner.round 1")
      }
      assert(site === "Outer.round 0")
      spark.sparkContext.parallelize(1 to 4).count()
    } finally {
      var waited = 0
      while (!stageNames.contains("Outer.round 0") && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(stageNames.contains("Outer.round 0"),
      s"stage names seen: $stageNames")
    assert(site === before)
  }

  test("an exhausted round limit throws NotConverged with op, limit and " +
      "the last probe, and restores the call site") {
    val before = site
    val e = intercept[Iterate.NotConverged] {
      Iterate.loop("Spin", 2, "raise the limit") { l =>
        while (true) {
          l.round()
          Iterate.loopBarrierCount((1L to 3L).toDF("x"))
        }
      }
    }
    assert(e.op === "Spin" && e.limit === 2)
    assert(e.lastProbe === Seq((3L, 3L)))
    assert(e.getMessage.contains("did not converge in 2 rounds"))
    assert(e.getMessage.contains("raise the limit"))
    assert(e.isInstanceOf[IllegalStateException])
    assert(site === before)
  }

  test("PageRank and PPR on zero-row input return an empty frame with the " +
      "output schema") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val pr = PageRank.run(noEdges, Seq.empty[Long].toDF("id"))
    assert(pr.columns.toSeq === Seq("id", "rank") && pr.isEmpty)
    val ppr = PersonalizedPageRank.run(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"),
      Seq.empty[Long].toDF("id"))
    assert(ppr.columns.toSeq === Seq("id", "rank") && ppr.isEmpty)
    // nodes but no edges: every node settles at the teleport base
    val base = ((10000L - 8500L) * (1000000000L / 3)) / 10000L
    assert(PageRank.run(noEdges, (1L to 3L).toDF("id"))
      .collect().map(_.getLong(1)).toSeq === Seq(base, base, base))
    // seeds but no edges: only the seeds hold mass
    assert(PersonalizedPageRank.run(
        Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"),
        Seq(7L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ===
      Seq(7L -> ((10000L - 8500L) * 1000000000L) / 10000L))
  }

  test("the other loops on zero-edge input") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noWEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val nodes = (1L to 3L).toDF("id")
    val seeds = Seq(2L).toDF("id")
    def pairs(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs(LabelProp.run(noEdges, nodes)) ===
      Set(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(KCore.run(noEdges, k = 1).isEmpty)
    assert(KCore.run(noEdges, k = 1, localFinishEdges = 0L).isEmpty)
    val (h, a) = Hits.run(Seq.empty[(Long, Long)].toDF("hub", "auth"))
    assert(h.isEmpty && a.isEmpty)
    assert(pairs(Bfs.run(noEdges, seeds, maxHops = 3)) === Set(2L -> 0L))
    assert(Bfs.harmonic(noEdges, maxHops = 3).isEmpty)
    assert(pairs(Sssp.run(noWEdges, seeds)) === Set(2L -> 0L))
    assert(Msf.run(Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")).isEmpty)
    assert(KTruss.run(noEdges, k = 3).isEmpty)
    assert(KTruss.decompose(noEdges).isEmpty)
    assert(pairs(Dedup.resolveComponents((1L to 3L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"), localFinishEdges = 0L)
      .select("doc_id", "component_id")) === Set(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(pairs(StreamingIngest.sequentialGreedy(
        Seq((1L, 0L)).toDF("_nid", "dup_of"),
        Seq.empty[(Long, Long)].toDF("_oid", "_nid"),
        (1L to 3L).toDF("_nid"))) === Set(1L -> 0L))
  }
}

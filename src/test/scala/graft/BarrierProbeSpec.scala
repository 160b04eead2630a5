package graft

import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** Pins [[graft.ops.Iterate.loopBarrierProbe]] (r13): the barrier whose
  * materialization job also computes the caller's convergence probe.
  * The contract the iterative operators (sssp, resolveComponents,
  * ktruss) rely on: the returned frame is row-identical to a plain
  * loopBarrier of the same input, and each probed column reports
  * exactly (non-null count, Σ value) with booleans summed as 0/1 —
  * i.e. the same values the former per-round probe aggregates
  * computed. */
class BarrierProbeSpec extends SparkSpec {
  import spark.implicits._

  test("probe reports (non-null count, sum) per long column") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 20L), (3L, null), (4L, -5L))
      .toDF("id", "d")
    val (frame, st) = Iterate.loopBarrierProbe(df, Seq("id", "d"))
    assert(st(0) === ((4L, 10L))) // id: 4 non-null, Σ = 10
    assert(st(1) === ((3L, 25L))) // d: null skipped, Σ = 10+20-5
    // the frame itself is the barriered input, rows intact
    assert(frame.count() === 4L)
    assert(frame.agg(sum($"id")).head.getLong(0) === 10L)
  }

  test("boolean probe sums change flags as 0/1 — the any-changed probe") {
    val df = Seq((1L, true), (2L, false), (3L, true)).toDF("id", "ch")
    val (frame, st) = Iterate.loopBarrierProbe(df, Seq("ch"))
    assert(st(0) === ((3L, 2L)))
    assert(frame.where($"ch").count() === 2L)
  }

  test("empty frame probes to (0, 0) and an empty barrier") {
    val df = Seq((1L, 1L)).toDF("id", "d").where($"id" < 0)
    val (frame, st) = Iterate.loopBarrierProbe(df, Seq("d"))
    assert(st(0) === ((0L, 0L)))
    assert(frame.count() === 0L)
    assert(frame.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(0))
  }

  test("probe frame ≡ plain loopBarrier frame on a shuffled aggregate") {
    val base = spark.range(1000)
      .select(($"id" % 37).as("k"), $"id".as("v"))
      .groupBy($"k").agg(sum($"v").as("s"))
    val plain = Iterate.loopBarrier(base)
    val (probed, st) = Iterate.loopBarrierProbe(base, Seq("s"))
    assert(st(0)._1 === 37L)
    assert(probed.unionByName(plain).except(
      probed.intersect(plain)).count() === 0L)
    assert(plain.count() === probed.count())
  }

  test("non-long/boolean probe column fails loudly") {
    val df = Seq((1L, "x")).toDF("id", "s")
    val e = intercept[IllegalArgumentException] {
      Iterate.loopBarrierProbe(df, Seq("s"))
    }
    assert(e.getMessage.contains("need long/boolean"))
  }
}

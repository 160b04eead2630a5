package graft

import org.apache.spark.sql.functions._
import graft.ops.BloomJoin

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bloom-prefilter join is exactly the plain inner join (randomized keys)") {
    val rnd = new scala.util.Random(7)
    // big side: keys over a wide range incl. negatives; small side: a
    // sparse subset plus keys that match nothing
    val big = (1 to 5000).map(i => (rnd.nextInt(4000) - 2000, i)).toDF("k", "payload")
    val small = (1 to 120).map(i => (rnd.nextInt(6000) - 3000, s"v$i")).toDF("k", "tag")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "tag").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val got = asSet(BloomJoin.innerJoin(big, small, "k", fpp = 0.01))
    val want = asSet(big.join(small, Seq("k")))
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("false-positive rate on a disjoint probe set is near the configured fpp") {
    val build = (1 to 20000).map(i => i).toDF("k")
    val probe = (100001 to 140000).map(i => i).toDF("k") // fully disjoint
    val f = BloomJoin.build(build, "k", expectedItems = 20000, fpp = 0.01)
    val passed = BloomJoin.prefilter(probe, "k", f).count()
    val rate = passed.toDouble / 40000
    // generous bound: 3x the target fpp still proves the filter filters
    assert(rate < 0.03, s"observed fp rate $rate")
    // and the filter is not degenerate (rejects the vast majority)
    assert(passed < 1200, s"passed=$passed")
  }

  test("every build key passes its own filter (no false negatives, mixed types)") {
    val build = Seq("alpha", "beta", "gamma", null, "", "δδδ").toDF("s")
    val f = BloomJoin.build(build, "s", expectedItems = 6, fpp = 0.05)
    assert(BloomJoin.prefilter(build, "s", f).count() === 6)
  }

  test("plan: bloom predicate filters the big side BELOW the join, inside codegen") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = Tables.load(spark, sfDir, "orders")
      .where($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("l_orderkey"))
    val f = BloomJoin.build(ord, "l_orderkey", expectedItems = 400)
    // force the shuffle-join shape the operator exists for (at real
    // scale the build side is too big to broadcast as rows)
    val joined = BloomJoin.prefilter(li, "l_orderkey", f)
      .join(ord.hint("merge"), Seq("l_orderkey"))
    // materialize so AQE finalizes stages — codegen collapse happens per
    // stage; the pre-execution adaptive plan shows no '*(n)' markers
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // the probe predicate exists, and sits in a codegen'd Filter (the
    // '*(n)' prefix marks whole-stage-codegen fusion) below the join
    assert(plan.contains("bloom_contains"), plan)
    val filterLine = plan.linesIterator.find(_.contains("bloom_contains")).get
    assert(filterLine.contains("*("), filterLine)
    val joinIdx = plan.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    val bloomIdx = plan.linesIterator.indexWhere(_.contains("bloom_contains"))
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      s"bloom filter should be in the join's subtree: join@$joinIdx bloom@$bloomIdx\n$plan")
    // and it actually prunes: far fewer rows reach the join than the scan
    val total = li.count()
    val surviving = BloomJoin.prefilter(li, "l_orderkey", f).count()
    assert(surviving < total / 2, s"$surviving of $total survived")
  }

  test("optimalParams match the standard bloom sizing formulas") {
    val (m, k) = BloomJoin.optimalParams(1000000, 0.01)
    // textbook: ~9.585 bits/key, k ~ 7
    assert(m >= 9500000 && m <= 9700000, s"m=$m")
    assert(k === 7, s"k=$k")
    assert(m % 64 === 0)
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Layout

class LayoutSpec extends SparkSpec {

  test("dynamic partition pruning: a dim filter prunes the partitioned fact at runtime") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dpp").toString + "/fact"
    // partitioned fact: 8 partitions, values only in the key column's dir
    val fact = (1 to 800).map(i => (i.toLong, s"P${i % 8}", i * 1.5))
      .toDF("id", "ccgp_project_id", "v")
    fact.write.partitionBy("ccgp_project_id").parquet(dir)
    // the dim must be a real source: a local Seq is constant-folded to a
    // LocalRelation, which swallows the Filter node DPP keys off
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString + "/dim"
    Seq(("P3", "keep"), ("P5", "keep"), ("P6", "drop"))
      .toDF("ccgp_project_id", "tag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // at toy scale the stats-based benefit estimate vetoes DPP (the
    // whole fact is KBs); disable the estimate — at 100 TB the real
    // stats make the same decision this flag forces here
    val statsKey = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val prev = spark.conf.get(statsKey)
    spark.conf.set(statsKey, "false")
    try {
      val joined = spark.read.parquet(dir)
        .join(dim.where($"tag" === "keep"), Seq("ccgp_project_id"))
      assert(joined.count() === 200)
      val plan = joined.queryExecution.executedPlan.toString
      // the fact scan's partition filter is a RUNTIME subquery fed by
      // the dim — the 100-TB fact reads 2 of 8 partitions without a
      // static predicate ever being written
      assert(plan.contains("dynamicpruning"), plan)
    } finally spark.conf.set(statsKey, prev)
  }

  test("salted join equals the plain join (inner and left)") {
    import spark.implicits._
    // skewed big side: one hot key
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i))
      .toDF("key", "v")
    val small = Seq(("HOT", "h"), ("cold10", "c10"), ("missing", "m"))
      .toDF("key", "label")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("key"), jt)
        .select("key", "v", "label").collect().map(_.toString).sorted
      val salted = Layout.saltedJoin(big, small, "key", 8, jt)
        .select("key", "v", "label").collect().map(_.toString).sorted
      assert(plain.sameElements(salted), s"mismatch for $jt")
    }
  }

  test("salted join rejects right/full outer (replicas would surface)") {
    import spark.implicits._
    val big = Seq(("k", 1)).toDF("key", "v")
    val small = Seq(("k", "l"), ("unmatched", "u")).toDF("key", "label")
    for (jt <- Seq("right", "full", "full_outer"))
      assertThrows[IllegalArgumentException](
        Layout.saltedJoin(big, small, "key", 4, jt))
  }

  test("done-marker gate: marker appears only after the write succeeds; log sink writes lines") {
    import graft.io.Sinks
    val dir = Files.createTempDirectory("graft-marker").toString
    val marker = s"$dir/stage_done.txt"
    assert(!Sinks.markerExists(spark, marker))
    // failing write: no marker
    assertThrows[RuntimeException](
      Sinks.withDoneMarker(spark, marker) { throw new RuntimeException("boom") })
    assert(!Sinks.markerExists(spark, marker))
    // succeeding write: marker gates downstream
    Sinks.withDoneMarker(spark, marker) {
      Sinks.writeLog(spark, Seq("Found 2 reads.", "Found 1 samples."), s"$dir/log")
    }
    assert(Sinks.markerExists(spark, marker))
    val lines = spark.read.text(s"$dir/log").collect().map(_.getString(0)).toSet
    assert(lines === Set("Found 2 reads.", "Found 1 samples."))
  }

  private def withConfs[T](kvs: Seq[(String, String)])(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge join at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConfs(confs) {
      // 90% of the fact lands on key 0 — the canonical hot-key join
      val big = spark.range(0, 40000)
        .select(when($"id" % 10 =!= 0, lit(0L)).otherwise($"id").as("key"),
          concat(lit("p"), $"id".cast("string"), lit("x" * 64)).as("pad"))
      val dim = spark.range(0, 40000).select($"id".as("key"),
        concat(lit("label"), $"id".cast("string")).as("label"))
      // the join must be the terminal shuffle consumer: a groupBy after
      // it REQUIRES hash partitioning, and OptimizeSkewedJoin refuses to
      // break a required distribution (it would force a re-shuffle) —
      // exactly why real pipelines end skew-prone joins before re-keying
      val joined = big.join(dim, "key")
      assert(joined.collect().length === 40000)
      // the runtime plan really split the skewed partition: the final
      // adaptive plan marks the shuffle reads / SMJ as skew-handled
      // (executedPlan.toString stops at the AQE wrapper; explainString
      // renders the final plan once isFinalPlan=true)
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.toLowerCase.contains("skew"),
        s"no skew-split marker in the adaptive plan:\n$plan")
      // correctness cross-check through the re-keying consumer shape too
      val rows = big.join(dim, "key").groupBy($"key")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows(0L) === 36001L)      // 36000 remapped + id 0 itself
      assert(rows.size === 4000)       // key 0 + the 3999 surviving ids
    }
  }

  test("zvalue kernel == naive interleave; aligned prefix blocks nest") {
    import graft.functions.ZOrderKernel
    def naive(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(11)
    val pts = Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (1L, 0L)) ++
      (1 to 500).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    pts.foreach { case (x, y) =>
      val z = ZOrderKernel.zvalue(x, y, 16)
      assert(z === naive(x, y, 16), s"($x,$y)")
      // the curve's defining property: truncating 2k z-bits == the
      // z-value of the k-bit-truncated point, so every aligned
      // 2^j x 2^j square is one contiguous z range
      (1 to 16).foreach { k =>
        assert((z >>> (2 * (16 - k))) ===
          ZOrderKernel.zvalue(x >>> (16 - k), y >>> (16 - k), k), s"($x,$y) k=$k")
      }
    }
  }

  test("hilbert kernel: bijective on the grid, consecutive distances are " +
      "ALWAYS grid neighbors (the property Morton lacks), base quadrant order") {
    import graft.functions.HilbertKernel
    // bits=1: the defining U shape (0,0)->(0,1)->(1,1)->(1,0)
    assert(HilbertKernel.xy2d(1, 0L, 0L) === 0L)
    assert(HilbertKernel.xy2d(1, 0L, 1L) === 1L)
    assert(HilbertKernel.xy2d(1, 1L, 1L) === 2L)
    assert(HilbertKernel.xy2d(1, 1L, 0L) === 3L)
    // bits=4: a bijection 16x16 -> [0, 256)
    val d2xy = (for (x <- 0L until 16L; y <- 0L until 16L)
      yield HilbertKernel.xy2d(4, x, y) -> ((x, y))).toMap
    assert(d2xy.size === 256 && d2xy.keys.min === 0L && d2xy.keys.max === 255L)
    // adjacency: every step along the curve moves exactly one grid cell
    (0L until 255L).foreach { d =>
      val (x1, y1) = d2xy(d); val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1, s"step $d")
    }
    // coordinates above the grid mask down (the ZValue masking contract)
    assert(HilbertKernel.xy2d(4, 16L + 3L, 32L + 7L) ===
      HilbertKernel.xy2d(4, 3L, 7L))
  }

  test("hilbert3 kernel: bijective on the cube, steps are grid neighbors, coords mask") {
    import graft.functions.Hilbert3Kernel
    // bits=3: a bijection 8x8x8 -> [0, 512)
    val d2xyz = (for (x <- 0L until 8L; y <- 0L until 8L; z <- 0L until 8L)
      yield Hilbert3Kernel.xyz2d(3, x, y, z) -> ((x, y, z))).toMap
    assert(d2xyz.size === 512 && d2xyz.keys.min === 0L && d2xyz.keys.max === 511L)
    // adjacency: every curve step moves exactly one grid cell (L1 = 1)
    (0L until 511L).foreach { d =>
      val (x1, y1, z1) = d2xyz(d); val (x2, y2, z2) = d2xyz(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) === 1,
        s"step $d: ($x1,$y1,$z1) -> ($x2,$y2,$z2)")
    }
    // the curve starts at the origin
    assert(Hilbert3Kernel.xyz2d(3, 0L, 0L, 0L) === 0L)
    // coordinates above the grid mask down
    assert(Hilbert3Kernel.xyz2d(3, 8L + 3L, 16L + 5L, 24L + 7L) ===
      Hilbert3Kernel.xyz2d(3, 3L, 5L, 7L))
  }
}

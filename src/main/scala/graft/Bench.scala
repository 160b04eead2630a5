package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR on local[32], times the write of its whole result
  * to the `noop` sink, and prints ONE JSON line.
  *
  * A short warm-up (tiny scan + agg + join) pays the JIT/codegen cost
  * before timing so per-query numbers reflect steady-state throughput,
  * which is what a long-running cluster job sees. Queries above the
  * re-run threshold are timed twice and the artifact records the MIN
  * (plus both raws under "runs") — the contention guard that keeps a
  * one-off host-load spike out of the committed numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession.build(cpus)

    // 1-minute load average from /proc/loadavg — recorded before and
    // after the sweep so a contention-inflated artifact is
    // self-describing (three of the first seven official bench runs
    // were distorted 5-80x by host load and had to be re-proven by hand)
    def loadAvg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = loadAvg()

    // warm-up: scan + shuffle agg + broadcast join through codegen.
    // Its measured time is ALSO recorded — constant work, so any swing
    // between runs is host noise, not engine cost.
    val warmupSec = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      val li = Tables.load(spark, sfDir, "lineitem").limit(10000)
      val p = Tables.load(spark, sfDir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("l_returnflag").agg(sum("l_quantity")).count()
      (System.nanoTime() - t0) / 1e9
    }

    // dev loop: SPARK_GRAFT_ONLY=q1,q2 times a subset without the full sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // CONTENTION GUARD: a host-load spike landing on one query turns
    // into a 5-80x lie in a committed artifact (it happened in 4 of the
    // first 8 official runs). Any query whose first timing exceeds the
    // re-run threshold is timed a SECOND time and the artifact records
    // the min — a spike would have to hit the same query twice to
    // survive. Both raw timings ride in a "runs" map so the artifact
    // stays self-describing. Threshold default 2.5 s: every observed
    // spike was far above it, and the legitimately-expensive tail it
    // re-runs costs ~1 extra minute over a 344-query sweep.
    val rerunSec = sys.env.get("SPARK_GRAFT_RERUN_SEC")
      .map(_.toDouble).getOrElse(2.5)
    def timeOnce(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      // the noop sink materializes every output column and row, as a real
      // sink would; `.count()` let Catalyst prune both
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        false }
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, ok)
    }
    val results = selected.map { case (name, fn) =>
      val (dt1, ok1) = timeOnce(name, fn)
      // a FAILED re-run must not contribute a time-to-fail min — keep
      // the first (successful) timing — but it must not be INVISIBLE
      // either: an intermittent failure is exactly what a committed
      // artifact needs to disclose (flagged per-query + stderr)
      var rerunFailed = false
      val runs =
        if (ok1 && dt1 > rerunSec) {
          val (dt2, ok2) = timeOnce(name, fn)
          if (ok2) Seq(dt1, dt2)
          else { rerunFailed = true; Seq(dt1) }
        } else Seq(dt1)
      val dt = runs.min
      // progress to stderr (stdout carries only the one JSON line): a
      // wedged run shows WHERE it stopped instead of dying silently
      System.err.println(f"[bench] $name%-28s $dt%8.2f s" +
        (if (!ok1) "  ERR"
         else if (rerunFailed) "  RERUN-FAILED (flaky: first run ok, re-run errored)"
         else if (runs.size > 1) f"  (runs: ${runs.map(r => f"$r%.2f").mkString(", ")})"
         else ""))
      (name, dt, ok1, runs, rerunFailed)
    }
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // A failed query records the -1 sentinel, NOT its time-to-fail — a
    // time-to-fail in the queries map reads as a (usually flattering)
    // legitimate timing. Failures are also excluded from the total and
    // counted in the trailer so a broken build can't look fast.
    val qs = results.map { case (k, v, ok, _, _) =>
      "\"" + k + "\":" + (if (ok) sec(v) else "-1") }.mkString("{", ",", "}")
    val reruns = results.filter(_._4.size > 1).map { case (k, _, _, runs, _) =>
      "\"" + k + "\":[" + runs.map(sec).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // queries whose guard re-run FAILED after a clean first run: the
    // recorded timing is legitimate but the query is flaky — the
    // artifact must say so rather than present a clean success
    val rerunFailures = results.filter(_._5).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val good = results.filter(_._3)
    val nFailed = results.size - good.size
    val total = if (good.nonEmpty) good.map(_._2).sum else 0.0
    val loadAfter = loadAvg()
    val hostMeta = s""""warmup_sec":${sec(warmupSec)},"load_before":${sec(loadBefore)},"load_after":${sec(loadAfter)}"""
    val full =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"runs":$reruns,"failures":$nFailed,"rerun_failures":$rerunFailures,$hostMeta,"sf":"$sfDir"}"""
    // The harness keeps only the last ~2000 chars of stdout, which cuts
    // an 85-query JSON line mid-stream. Three outputs, most durable
    // first: (1) the full line goes to a file (committed per round as
    // BENCH_LOCAL_r*.json), (2) the full line prints for anyone reading
    // complete stdout, (3) a compact trailer prints LAST — short enough
    // to survive any tail truncation, so a line-wise JSON parse always
    // finds a valid record.
    // default detail name is PER-CONFIG (r13 measurement-logistics fix:
    // in r12 an 8-core run overwrote the 32-core run's BENCH_LOCAL.json,
    // so the driver's per-query comparison came up empty — VERDICT item 3;
    // timing methodology unchanged)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_LOCAL_c$cpus.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))
    println(full)
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"failures":$nFailed,$hostMeta,"detail":"$outPath"}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the single-JVM local[N] entry points
  * (Bench / Verify).
  *
  * Two hardenings beyond the obvious settings, both learned from a bench
  * run that died mid-flight at sf0.1:
  *
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark 4 gives each
  *    session an isolated artifact classloader; on executors it resolves
  *    generated-code symbols by fetching candidate class bytes over the
  *    driver's RPC file channel. In a busy local[32] JVM those fetches
  *    intermittently stall for ~10 s (and once wedged a whole-stage
  *    compile behind the codegen KeyLock until the executor's heartbeats
  *    lapsed and it killed itself). A single-session batch JVM gets
  *    nothing from isolation — the application classpath IS the session
  *    — so turn it off.
  *  - generous heartbeat/network timeouts: driver and executor share the
  *    JVM here, so a long GC pause stalls both sides at once; the
  *    defaults (10 s beats, 60 missed max) convert one bad pause into
  *    executor suicide mid-benchmark.
  */
object LocalSession {
  def build(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // custom SQL functions + the SimilarityPruning optimizer rule —
      // the same config-only install a cluster deployment would use
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Shuffle blocks and localCheckpoint spills go to spark.local.dir;
      // the sandbox's /tmp sits on a shared virtual disk whose
      // throttling stalls write-heavy stages for tens of seconds
      // (measured: identical queries swinging 3 s ↔ 68 s with idle CPU
      // — guide §7.4's "blocked on I/O" signature). Use the RAM-backed
      // tmpfs when present AND roomy (ADVICE r12: tmpfs is a silent
      // memory ceiling, so require ≥ 16 GiB usable before defaulting to
      // it — a bench-SF shuffle footprint is well under that, and a
      // host whose tmpfs is nearly full falls back to /tmp instead of
      // failing mid-stage), exactly as a cluster deploy points local
      // dirs at fast node-local disks; override via SPARK_LOCAL_DIRS.
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (sys.env.contains("SPARK_LOCAL_DIRS")) sys.env("SPARK_LOCAL_DIRS")
        else if (shm.isDirectory && shm.getUsableSpace >= 16L * 1024 * 1024 * 1024)
          "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir", "/tmp")
      })
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // NOTE (r12 optimization, measured and rejected): raising
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold from
      // its default 128 looked attractive for the collect_list/
      // collect_set operators, but A/B at sf0.1 showed the big-state
      // aggregates (n-gram token lists) run 4.6× MORE task CPU under a
      // large object hash map than under the sort-based fallback
      // (ext_dedup_ngram_capped: 62 → 282 CPU-seconds) — the default
      // stays.
      // Plan STRINGS are rendered per AQE stage materialization even with
      // the UI off; with literal-heavy expressions (inlined centroids /
      // hyperplanes) the default ~2 GiB cap let one render dominate a
      // whole benchmark query. 256 KiB is plenty for debugging.
      .config("spark.sql.maxPlanStringLength", "262144")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

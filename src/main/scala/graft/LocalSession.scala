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

  /** Entries in Spark's compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100, an LRU). One
    * pass of a recurring query list compiles its whole working set, and
    * at 100 entries every warm pass of the `ccgp_etl` panel evicted what
    * it was about to reuse (103 of 131 classes compiled again). Per-pass
    * working sets on the benchmark corpus: 111 classes for the
    * `ccgp_etl` panel, 268 for the full `ccgp_etl` list, 256 for
    * `iterative_wide` and 251 for `text_cascade`; 1000 holds the
    * largest with 3.7× margin, and all three lists together. Verify's
    * single pass over every query never repeats one, so no cap would
    * help it; a bounded cap keeps the classes it retains bounded. */
  val codegenCacheEntries = 1000

  /** Settings every graft session takes, the test session included.
    * Static confs (extensions, the codegen cache) bind on the first
    * session of a JVM and later builders cannot change them, so the
    * test session reads them from here instead of restating them.
    * `nanosAsLong` (a TIMESTAMP(NANOS) column reads as int64 nanos) is
    * set once here rather than per `events` read in [[Tables.load]]: it
    * is part of the schema-cache stamp there, so flipping it mid-session
    * inferred every table read before the flip again. */
  val shared: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // custom SQL functions + the SimilarityPruning optimizer rule —
    // the same config-only install a cluster deployment would use
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries.toString,
    // The cache is keyed by generated source. With the codegen stage id
    // in the class name, one pipeline compiles again whenever AQE numbers
    // its stage differently, which follows the order that shuffle stages
    // finish in (j12_reconcile_both's two aggregations swap ids 5 and 6
    // between a cold and a warm pass), and equal pipelines of different
    // queries never share a class.
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Task threads of a graft main's session: `SPARK_GRAFT_CPUS`, or 32
    * (the bench host's width) when unset. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `/dev/shm/<name>` when the RAM-backed tmpfs is present and has at
    * least 16 GiB usable (ADVICE r12: tmpfs is a silent memory ceiling,
    * so a nearly full one falls back instead of failing mid-write),
    * otherwise the JVM tmpdir. */
  def fastDir(name: String): String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.getUsableSpace >= 16L * 1024 * 1024 * 1024)
      s"/dev/shm/$name"
    else System.getProperty("java.io.tmpdir", "/tmp")
  }

  def build(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Shuffle blocks and localCheckpoint spills go to spark.local.dir;
      // the sandbox's /tmp sits on a shared virtual disk whose
      // throttling stalls write-heavy stages for tens of seconds
      // (measured: identical queries swinging 3 s ↔ 68 s with idle CPU
      // — guide §7.4's "blocked on I/O" signature). Use the roomy
      // RAM-backed tmpfs (a bench-SF shuffle footprint is well under
      // 16 GiB), exactly as a cluster deploy points local dirs at fast
      // node-local disks; override via SPARK_LOCAL_DIRS.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", fastDir("graft-spark")))
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
      .config(shared ++ extra)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

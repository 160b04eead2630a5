package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.{LocalSession, SparkEntry}

/** One benchmark run in one JVM: one client in a closed loop, so the next
  * query starts only after the previous result has been fully written.
  *
  * It builds a session and runs the panel: pass 0 is cold, pass 1 lets
  * the JIT settle (it runs measurably slower than the passes after it),
  * and passes 2, 3, ... are warm. Passes repeat until `seconds` have
  * passed since the cold pass began, and at least two are warm. Then it
  * writes every panel result as parquet for the oracle check. Each query
  * is built with `SparkEntry.queries(name)(spark, corpus)` and
  * materialized with the `noop` sink.
  *
  * With trace=1 the cold pass and every other warm pass run with a
  * [[Tracer]] attached; the untraced warm passes in between give the
  * tracing overhead from the same JVM.
  *
  * Arguments are key=value pairs: mode (setup|run), corpus, cpus,
  * partitions, seconds, trace (0|1), panel (comma list), scratch (dir
  * whose growth per pass is reported), check (dir for the oracle
  * outputs), result (file the JSON result is written to). mode=setup
  * only builds the session, to sample set-up time.
  */
object Harness {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val spark = LocalSession.build(kv("cpus"),
      Map("spark.sql.shuffle.partitions" -> kv("partitions")))
    val out = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> System.currentTimeMillis())
    if (kv("mode") == "run") out ++= new Run(spark, kv).apply()
    Files.writeString(Paths.get(kv("result")), json.writeValueAsString(out))
    spark.stop()
  }
}

private final class Run(spark: SparkSession, kv: Map[String, String]) {
  private val corpus = kv("corpus")
  private val panel = kv("panel").split(',').toSeq
  private val traced = kv("trace") == "1"
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val errors = mutable.LinkedHashMap[String, String]()
  private var attempted = 0
  private var failed = 0

  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def now(): Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  private var lastId = 0
  private def newId(): Int = { lastId += 1; lastId }

  def apply(): Map[String, Any] = {
    val start = now()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val spans = mutable.ArrayBuffer[Span]()
    def runPass(): Unit = {
      val i = passes.size
      val (rec, sp) = pass(i, traced && i % 2 == 0)
      passes += rec; spans ++= sp
    }
    runPass()
    while (passes.size < 4 || now() - start < kv("seconds").toDouble * 1000)
      runPass()
    val end = now()
    val peakRssMb = vmHwmMb()
    val checkErrors = check(Paths.get(kv("check")))
    Map(
      "passes" -> passes,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "check_errors" -> checkErrors,
      "spans" -> (Span(0, -1, "workload", "workload", start, end) +: spans)
        .map(s => Seq(s.id, s.parent, s.kind, s.name, s.start, s.end)))
  }

  /** Runs the panel once. Returns the pass record and, when traced, its
    * spans down to stages. */
  private def pass(index: Int, traceThis: Boolean): (Map[String, Any], Seq[Span]) = {
    if (traceThis) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val scratchBefore = dirBytes(Paths.get(kv("scratch")))
    val passId = newId()
    val spans = mutable.ArrayBuffer[Span]()
    val trackers = mutable.ArrayBuffer[QueryPlanningTracker]()
    def span[T](kind: String, name: String, parent: Int)(body: Int => T): T = {
      val id = newId()
      val t0 = now()
      try body(id) finally spans += Span(id, parent, kind, name, t0, now())
    }
    // the span id rides on every job the phase submits
    def tag(id: Int): Unit = sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    val querySeconds = panel.map { name =>
      val q0 = now()
      span("query", name, passId) { qId =>
        attempted += 1
        try {
          val df = span("build", name, qId) { id =>
            tag(id); SparkEntry.queries(name)(spark, corpus)
          }
          span("run", name, qId) { id =>
            tag(id); df.write.format("noop").mode("overwrite").save()
          }
          if (traceThis) trackers += df.queryExecution.tracker
        } catch { case NonFatal(e) => fail(name, e) }
        finally {
          sc.setLocalProperty(Tracer.SpanKey, null)
          // operators persist internally: no query may inherit another's cache
          spark.catalog.clearCache()
        }
      }
      name -> (now() - q0) / 1000
    }
    val t1 = now()
    val passName = Seq("cold", "settle").lift(index).getOrElse(s"warm$index")
    spans += Span(passId, 0, "pass", passName, t0, t1)
    val rec = mutable.LinkedHashMap[String, Any](
      "index" -> index, "traced" -> traceThis, "wall_s" -> (t1 - t0) / 1000,
      "scratch_bytes_left" -> (dirBytes(Paths.get(kv("scratch"))) - scratchBefore),
      "query_s" -> querySeconds.toMap)
    if (!traceThis) return (rec.toMap, Nil)
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
    val (layers, perQuery, traceSpans) = Layers(spans.toSeq, trackers.toSeq, tracer.take())
    rec("layers") = layers + ("compute.busy_cores" -> layers("compute.run_s") * 1000 / (t1 - t0))
    rec("per_query") = perQuery
    (rec.toMap, spans.toSeq ++ traceSpans)
  }

  private def fail(name: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[perfbench] $name failed: $e")
    errors.getOrElseUpdate(name, String.valueOf(e).take(2000))
  }

  /** Writes every panel result as one parquet file per query plus the
    * panel's oracle SQL, the layout `scripts/check.py` reads. Returns the
    * queries that threw. */
  private def check(dir: Path): Map[String, String] = {
    Files.createDirectories(dir)
    val threw = panel.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, corpus).coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(name).toString)
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] check $name failed: $e")
        Some(name -> String.valueOf(e).take(2000))
      } finally spark.catalog.clearCache()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => panel.contains(k) }
    Files.writeString(dir.resolve("oracle_sql.json"), Harness.json.writeValueAsString(oracles))
    threw.toMap
  }

  private def dirBytes(p: Path): Long =
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

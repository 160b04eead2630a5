package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Guards on the recurring cost of the perfbench `ccgp_etl` timed panel:
  * once a session has run a query, running it again must not re-learn
  * what the driver already knows, neither a table schema nor a
  * generated class. Such work inflates every pass's per-query fixed
  * cost. */
class BuildJobsSpec extends SparkSpec {

  // perfbench/run.py, WORKLOADS("ccgp_etl")("panel")
  private val panel = Seq(
    "f1_coord_clean", "f3_date_clean", "j3_substring_linkage",
    "j12_reconcile_both", "a1_project_summary", "s15_scd2_merge",
    "j31_interval_native", "s1_xlsx_roundtrip", "s18_snapshot_roundtrip")

  /** A scan over a [[graft.io.SnapshotTable]] data directory (`v=<n>-a<nonce>`). */
  private val snapshotScan = """(?m)^Location: .*/v=\d+-a[0-9a-f]{8}""".r

  private def inferenceStages(log: JobLog): Seq[String] =
    log.stageNames.filter(_.startsWith("parquet at Tables.scala"))

  test("a second build of each ccgp_etl panel query infers no table schema " +
      "and reads back no snapshot it wrote") {
    val found = panel.flatMap { q =>
      SparkEntry.queries(q)(spark, sfDir)
      val (_, log) = JobLog.of(spark)(SparkEntry.queries(q)(spark, sfDir))
      val stages = log.jobs.flatten
      inferenceStages(log).map(s => s"$q: schema inference ($s)") ++
      // the only job a snapshot write submits is the write itself
      stages.filter(s => s.details.contains("SnapshotTable$.writeAttempt(") &&
          !s.details.startsWith("org.apache.spark.sql.DataFrameWriter."))
        .map(s => s"$q: job inside the snapshot write (${s.name})") ++
      log.sqlPlans.flatMap(snapshotScan.findFirstIn)
        .map(l => s"$q: snapshot data read back ($l)")
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("reading events leaves the session's parquet settings alone: tables " +
      "loaded before it are not inferred again after it") {
    // a fresh session starts from the settings the session was built with
    val fresh = spark.newSession()
    SparkEntry.queries("j12_reconcile_both")(fresh, sfDir)
    SparkEntry.queries("a15_pivot")(fresh, sfDir)
    val (_, log) = JobLog.of(fresh)(SparkEntry.queries("j12_reconcile_both")(fresh, sfDir))
    assert(inferenceStages(log).isEmpty, log.stageNames)
  }

  test("a warm pass over the ccgp_etl panel compiles no generated class") {
    // the cache cap is a static conf: the test session must carry
    // production's settings, the cap included
    LocalSession.shared.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    // one pass as the benchmark runs it: full materialization, and no
    // query inherits another's cache
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      panel.foreach { q =>
        try SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally spark.catalog.clearCache()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val cold = compiles()
    assert(compiles() === 0L, s"warm pass recompiled (cold pass compiled $cold)")
  }
}

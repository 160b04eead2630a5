package graft

/** Guard against metadata jobs in query construction: once a session has
  * built a query, building it again must not re-learn what the driver
  * already knows. Covers the perfbench `ccgp_etl` timed panel, whose
  * per-query fixed cost such jobs inflate. */
class BuildJobsSpec extends SparkSpec {

  // perfbench/run.py, WORKLOADS("ccgp_etl")("panel")
  private val panel = Seq(
    "f1_coord_clean", "f3_date_clean", "j3_substring_linkage",
    "j12_reconcile_both", "a1_project_summary", "s15_scd2_merge",
    "j31_interval_native", "s1_xlsx_roundtrip", "s18_snapshot_roundtrip")

  /** A scan over a [[graft.io.SnapshotTable]] data directory (`v=<n>-a<nonce>`). */
  private val snapshotScan = """(?m)^Location: .*/v=\d+-a[0-9a-f]{8}""".r

  test("a second build of each ccgp_etl panel query infers no table schema " +
      "and reads back no snapshot it wrote") {
    val found = panel.flatMap { q =>
      SparkEntry.queries(q)(spark, sfDir)
      val (_, log) = JobLog.of(spark)(SparkEntry.queries(q)(spark, sfDir))
      val stages = log.jobs.flatten
      stages.map(_.name).filter(_.startsWith("parquet at Tables.scala"))
        .map(s => s"$q: schema inference ($s)") ++
      // the only job a snapshot write submits is the write itself
      stages.filter(s => s.details.contains("SnapshotTable$.writeAttempt(") &&
          !s.details.startsWith("org.apache.spark.sql.DataFrameWriter."))
        .map(s => s"$q: job inside the snapshot write (${s.name})") ++
      log.sqlPlans.flatMap(snapshotScan.findFirstIn)
        .map(l => s"$q: snapshot data read back ($l)")
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}

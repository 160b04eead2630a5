package graft

import java.nio.file.Files
import org.apache.spark.sql.Row

/** Declared queries on zero-row tables: a global aggregate over no rows
  * answers as SQL does — `count` is 0, `sum`/`max` are NULL, an
  * integer division by a zero count is NULL, and ROLLUP/CUBE keep their
  * grand-total row. The tables are zero-row
  * copies of sf0.001 with the same schemas. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    Seq("customer", "orders", "lineitem", "part", "documents", "events").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(emptyDir))
    finally super.afterAll()

  private def run(query: String): Seq[Row] =
    SparkEntry.queries(query)(spark, emptyDir).collect().toSeq

  test("ext_ab_srm on empty input: n = 0, chi2_q6 NULL") {
    assert(run("ext_ab_srm") === Seq(Row(0L, 2L, null)))
  }

  test("ext_digit_uniformity on empty input: n = 0, chi2_q6 NULL") {
    assert(run("ext_digit_uniformity") === Seq(Row(0L, 10L, null)))
  }

  test("ext_ri_audit on empty input: every count is 0 and RI holds") {
    assert(run("ext_ri_audit") ===
      Seq("lineitem_orders", "lineitem_part", "orders_customer")
        .map(r => Row(r, 0L, 0L, 0L, 0L, 0L, true)))
  }

  test("ext_filter_funnel on empty input: 0 docs, kept tokens 0, total tokens NULL") {
    assert(run("ext_filter_funnel") ===
      Seq(Row("_kept", 0L, 0L), Row("_total", 0L, null)))
  }

  test("a12_rollup and a17_cube on empty input: SQL's one grand-total row") {
    assert(run("a12_rollup") === Seq(Row("ALL", "ALL", 0L, null)))
    assert(run("a17_cube") === Seq(Row("ALL", "ALL", 0L, null)))
  }

  test("ext_skew_report on empty input: n_keys = 0, the rest NULL") {
    assert(run("ext_skew_report") === Seq(Row(0L, null, null, null, null)))
  }

  test("ext_chi_square on empty input: n NULL, df = (0 - 1)(0 - 1) = 1, chi2_q6 NULL") {
    assert(run("ext_chi_square") === Seq(Row(null, 1L, null)))
  }

  test("ext_sketch_quantile on empty input: one row, every quantile NULL") {
    assert(run("ext_sketch_quantile") === Seq(Row(null, null, null, null, null, null)))
  }

  test("ev15_ab_lift_ci on empty input: no resamples, lift and interval NULL") {
    assert(run("ev15_ab_lift_ci") === Seq(Row(null, 0L, null, null)))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipelines.CoordinateUpdate

class CoordinateUpdateSpec extends SparkSpec {

  import spark.implicits._

  test("SQL registration: custom expressions callable from spark.sql") {
    val r = spark.sql(
      """SELECT fuzz_ratio('this is a test', 'this is a test!') AS fr,
        |       dms_to_decimal('33°51''N') AS dd,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp""".stripMargin)
      .collect()(0)
    assert(r.getAs[Int]("fr") === 97)
    assert(math.abs(r.getAs[Double]("dd") - (33 + 51.0 / 60)) < 1e-9)
    assert(r.getAs[Double]("dp") === 11.0)
  }

  test("coordinate merge on composite key; unmatched rows reported") {
    val samples = Seq(
      ("s1", "P1", "old_lat", null.asInstanceOf[String]),
      ("s1", "P2", "keep", null.asInstanceOf[String]),  // same name, other project
      ("s2", "P1", null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("sample_name", "ccgp_project_id", "lat", "township")
    val coords = Seq(
      ("s1", "P1", "32.5", "true", "false", "T1"),
      ("zz", "P9", "40.0", "false", "false", "T9")) // no such sample
      .toDF("sample_name", "ccgp_project_id", "lat", "protected_coords",
        "exclude", "township")

    val (updated, unmatched) = CoordinateUpdate(samples, coords)
    val rows = updated.collect()
      .map(r => (r.getAs[String]("sample_name"), r.getAs[String]("ccgp_project_id")) -> r).toMap
    // composite key: only (s1, P1) updated; (s1, P2) untouched
    assert(rows(("s1", "P1")).getAs[String]("lat") === "32.5")
    assert(rows(("s1", "P1")).getAs[String]("protected_coords") === "TRUE")  // upper-normalized
    assert(rows(("s1", "P1")).getAs[String]("township") === "T1")
    assert(rows(("s1", "P2")).getAs[String]("lat") === "keep")
    assert(rows(("s2", "P1")).getAs[String]("lat") === null)
    assert(updated.count() === 3)  // no phantom inserts from coords
    // unmatched coord row reported
    assert(unmatched.select("sample_name").as[String].collect().toSeq === Seq("zz"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.Geo

/** F21/F22 goldens (create_sheets_TEST3.py:424-500,573-607,622-713). */
class GeoSpec extends SparkSpec {

  import spark.implicits._

  test("offline reverse geocode: state hit, invalid coords, miss fallback") {
    val df = Seq(
      ("a", "37.0", "-120.0"),    // California box
      ("b", "44.0", "-121.0"),    // Oregon box
      ("c", "NaN", "NaN"),        // invalid
      ("d", "bogus", "-120.0"),   // unparseable
      ("e", "51.0", "0.0"))       // no box -> reference fallback
      .toDF("k", "lat", "long")
    val out = Geo.withReverseGeocode(df, "lat", "long")
      .collect().map(r => r.getAs[String]("k") -> r.getAs[String]("geo_resolved")).toMap
    assert(out("a") === "USA:California")
    assert(out("b") === "USA:Oregon")
    assert(out("c") === "not provided")
    assert(out("d") === "not provided")
    assert(out("e") === "USA:California,")  // trailing comma: reference's miss fallback
  }

  test("geocode preserves row multiplicity and tolerates map columns") {
    // regression: the old join+groupBy(all columns) collapsed identical
    // rows into one and threw on any non-groupable column
    val df = Seq(
      ("a", "37.0", "-120.0", Map("k" -> "v")),
      ("a", "37.0", "-120.0", Map("k" -> "v")),   // exact duplicate row
      ("b", "44.0", "-121.0", Map.empty[String, String]))
      .toDF("k", "lat", "long", "extra")
    val out = Geo.withReverseGeocode(df, "lat", "long").collect()
    assert(out.length === 3)
    assert(out.count(r => r.getAs[String]("k") == "a" &&
      r.getAs[String]("geo_resolved") == "USA:California") === 2)
  }

  test("masking keeps pre-existing descriptions on open rows") {
    // regression: when(...) with no otherwise nulled every open row's
    // description; the reference leaves non-protected rows untouched
    val df = Seq(
      ("p1", "36.0", "-119.0", "TRUE", "FALSE", "T1", "R1", "S1", "loc", "field notes"),
      ("o1", "36.0", "-119.0", "FALSE", "FALSE", "T2", "R2", "S2", "loc", "keep me"))
      .toDF("sample_name", "lat", "long", "protected_coords", "exclude",
        "township", "range", "section", "geo_loc_name", "description")
    val out = Geo.maskProtectedCoords(Geo.withReverseGeocode(df, "lat", "long"))
      .collect().map(r => r.getAs[String]("sample_name") ->
        r.getAs[String]("description")).toMap
    assert(out("p1") === Geo.HiddenMessage)
    assert(out("o1") === "keep me")
  }

  test("masking cascade: (T,T) hides, (T,F) masks to township-range-section, open passes") {
    val df = Seq(
      // protected+exclude: fully hidden
      ("s1", "36.0", "-119.0", "TRUE", "TRUE", "T1", "R1", "S1", "Near creek"),
      // protected only: geo_loc becomes "USA:State, T-R-S", hidden msg
      ("s2", "36.0", "-119.0", "TRUE", "FALSE", "T2", "R2", "S2", "Near creek"),
      // open with real coords and existing geo_loc
      ("s3", "36.0", "-119.0", "FALSE", "FALSE", "T3", "R3", "S3", "Near creek"),
      // open with existing == "missing": overwritten by geocode
      ("s4", "44.0", "-121.0", null, null, null, null, null, "missing"),
      // open with NaN coords
      ("s5", "NaN", "NaN", "", "", null, null, null, ""))
      .toDF("sample_name", "lat", "long", "protected_coords", "exclude",
        "township", "range", "section", "geo_loc_name")

    val out = Geo.maskProtectedCoords(
        Geo.withReverseGeocode(df, "lat", "long"))
      .collect().map(r => r.getAs[String]("sample_name") -> r).toMap

    val s1 = out("s1")
    assert(s1.getAs[String]("lat_lon") === "not provided")
    assert(s1.getAs[String]("description") === Geo.HiddenMessage)

    val s2 = out("s2")
    assert(s2.getAs[String]("geo_loc_name") === "USA:California, T2-R2-S2")
    assert(s2.getAs[String]("description") === Geo.HiddenMessage)
    assert(s2.isNullAt(s2.fieldIndex("lat_lon")))

    val s3 = out("s3")
    assert(s3.getAs[String]("lat_lon") === "36.0,-119.0")
    assert(s3.getAs[String]("geo_loc_name") === "USA:California, Near creek")
    assert(s3.isNullAt(s3.fieldIndex("description")))

    val s4 = out("s4")
    assert(s4.getAs[String]("geo_loc_name") === "USA:Oregon")  // 'missing' overwritten
    assert(s4.getAs[String]("lat_lon") === "44.0,-121.0")

    val s5 = out("s5")
    assert(s5.getAs[String]("lat_lon") === "not provided")
    assert(s5.getAs[String]("geo_loc_name") === "not provided")
  }

  test("radiusJoin ≡ naive cross-join filter on random points; duplicate-free") {
    val rnd = new scala.util.Random(19)
    val a = (1L to 150L).map(i =>
      (i, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 60 - 30))
      .toDF("a_id", "a_lat", "a_lon")
    val b = (1L to 120L).map(i =>
      (i, rnd.nextDouble() * 60 - 30, rnd.nextDouble() * 60 - 30))
      .toDF("b_id", "b_lat", "b_lon")
    val got = Geo.radiusJoin(a, b, "a_lat", "a_lon", "b_lat", "b_lon", 3.0)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = a.crossJoin(b)
      .where(($"a_lat" - $"b_lat") * ($"a_lat" - $"b_lat") +
        ($"a_lon" - $"b_lon") * ($"a_lon" - $"b_lon") <= 9.0)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.distinct.length, "each pair exactly once")
    assert(got.toSet === want.toSet)
    assert(got.length === want.length)
  }

  test("radiusJoin plan: hash join on the grid cell, never a nested loop") {
    val a = spark.range(20).select($"id".as("a_id"),
      ($"id" * 1.5).as("a_lat"), ($"id" * 0.7).as("a_lon"))
    val b = spark.range(20).select($"id".as("b_id"),
      ($"id" * 1.1).as("b_lat"), ($"id" * 0.9).as("b_lon"))
    val plan = Geo.radiusJoin(a, b, "a_lat", "a_lon", "b_lat", "b_lon", 2.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
    assert(plan.contains("HashJoin"), plan)
  }
}

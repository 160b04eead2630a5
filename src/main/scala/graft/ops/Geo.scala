package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F21/F22 — offline reverse geocoding + protected-coordinates masking
  * cascade (SURVEY §2.8, hard part 4).
  *
  * The reference calls Nominatim per row (create_sheets_TEST3.py:622-713);
  * the engine has no network, so the provider is a state bounding-box
  * lookup — same output grammar (`"{country}:{state}"`, `"not provided"`
  * for invalid coords, `"USA:California,"` trailing-comma fallback on a
  * miss), deterministic. The dimension is tiny and static, so the lookup
  * compiles to a chained `when` expression: fully narrow, codegen'd, zero
  * shuffle, and — unlike a join-then-regroup — it cannot change row
  * multiplicity or choke on non-groupable (map) columns.
  */
object Geo {

  val HiddenMessage = "Precise location made hidden for sensitive species."

  /** Coarse state bounding boxes for the CCGP's geographic domain
    * (western US + a couple of controls). (state, latMin, latMax,
    * longMin, longMax) — derived from public USGS state extents. */
  val stateBoxes: Seq[(String, Double, Double, Double, Double)] = Seq(
    ("California", 32.53, 42.01, -124.48, -114.13),
    ("Oregon", 42.00, 46.30, -124.60, -116.46),
    ("Nevada", 35.00, 42.00, -120.01, -114.04),
    ("Arizona", 31.33, 37.00, -114.82, -109.04),
    ("Washington", 45.54, 49.00, -124.85, -116.92),
    ("Idaho", 42.00, 49.00, -117.24, -111.04),
    ("Utah", 37.00, 42.00, -114.05, -109.04),
    ("Texas", 25.84, 36.50, -106.65, -93.51))

  /** The geocode grammar as a single narrow expression over parsed
    * coordinates. Ambiguous box overlaps resolve to the first state in
    * declaration order (deterministic); invalid/NaN → "not provided";
    * miss → "USA:California," (reference fallback,
    * create_sheets_TEST3.py:694). */
  def geocodeExpr(lat: Column, long: Column,
      boxes: Seq[(String, Double, Double, Double, Double)] = stateBoxes): Column = {
    val best = boxes.foldRight(lit(null).cast("string")) {
      case ((state, latMin, latMax, longMin, longMax), acc) =>
        when(lat.between(latMin, latMax) && long.between(longMin, longMax),
          lit(state)).otherwise(acc)
    }
    when(lat.isNull || long.isNull || isnan(lat) || isnan(long),
        lit("not provided"))
      .when(best.isNotNull, concat(lit("USA:"), best))
      .otherwise(lit("USA:California,"))
  }

  /** F21 — offline reverse geocode: adds `geo_resolved` from (lat, long)
    * string columns. Pure per-row expression: preserves row multiplicity
    * exactly (the reference geocodes each row independently) and imposes
    * no constraint on the rest of the schema. */
  def withReverseGeocode(df: DataFrame, latCol: String, longCol: String,
      out: String = "geo_resolved"): DataFrame =
    df.withColumn(out,
      geocodeExpr(col(latCol).try_cast("double"), col(longCol).try_cast("double")))

  /** F22 — protected-coords masking cascade
    * (create_sheets_TEST3.py:424-500,573-607). Requires string columns
    * lat/long ("NaN" for missing), protected_coords/exclude
    * (TRUE/FALSE/null), township/range/section, geo_loc_name, and a
    * `geo_resolved` column from [[withReverseGeocode]]. Produces/updates
    * `lat_lon`, `geo_loc_name`, `description`. */
  def maskProtectedCoords(df: DataFrame): DataFrame = {
    val prot = coalesce(upper(col("protected_coords").cast("string")), lit(""))
    val excl = coalesce(upper(col("exclude").cast("string")), lit(""))
    val bothTrue = prot === "TRUE" && excl === "TRUE"
    val protOnly = prot === "TRUE" && excl === "FALSE"
    val open = (prot === "FALSE" && excl === "FALSE") ||
      (prot === "NAN" && excl === "NAN") || (prot === "" && excl === "")

    val latLonOpen = when(col("lat") === "NaN" && col("long") === "NaN", "not provided")
      .otherwise(concat_ws(",", col("lat"), col("long")))
    val trs = concat_ws("-", col("township"), col("range"), col("section"))
    val existing = col("geo_loc_name")
    val geoStr = col("geo_resolved")

    df
      .withColumn("lat_lon",
        when(bothTrue, lit("not provided"))
          .when(open, latLonOpen)
          .otherwise(lit(null).cast("string")))
      .withColumn("description",
        // the reference only WRITES description for protected rows
        // (create_sheets_TEST3.py:451-500); open rows keep whatever
        // description they already carry
        when(bothTrue || protOnly, lit(HiddenMessage))
          .otherwise(if (df.columns.contains("description")) col("description")
                     else lit(null).cast("string")))
      .withColumn("geo_loc_name",
        when(protOnly, concat(geoStr, lit(", "), trs))
          .when(open && existing.isNotNull && existing =!= "" && geoStr =!= "not provided",
            when(existing === "missing", geoStr)
              .otherwise(concat(geoStr, lit(", "), existing)))
          .when(open, geoStr)
          .otherwise(existing))
  }

  /** Spatial RADIUS join — all (left, right) pairs within `radiusDeg`
    * in coordinate space — via GRID BUCKETING, the 2-D analogue of
    * [[RangeJoin]]'s interval quantization: Spark plans a bare distance
    * predicate as a nested loop (O(|L|·|R|)); bucketing makes it an
    * equi join.
    *
    *  - each LEFT point owns its single cell `(⌊lon/r⌋, ⌊lat/r⌋)`;
    *  - each RIGHT point explodes to its 3×3 cell NEIGHBORHOOD;
    *  - hash-join on the cell, then the exact distance filter.
    *
    * COMPLETE (a pair within r differs by ≤ 1 cell per axis, so the
    * right copy in the left point's cell exists) and DUPLICATE-FREE
    * without a distinct (the left point has ONE cell; the right side's
    * nine copies land in nine distinct cells, so each qualifying pair
    * meets exactly once). Cost: 9 exploded rows per right point —
    * constant fan-out, not data-dependent.
    *
    * The distance is squared EUCLIDEAN in degrees, emitted as
    * `dist2_q6 = ⌊10⁶·((Δlat)² + (Δlon)²)⌋` — pure +/−/× on doubles,
    * bit-deterministic in any engine (no trig: a haversine refinement
    * is a drop-in predicate swap at the filter, but libm sin/cos are
    * not cross-engine bit-stable, so the oracle-checked form stays
    * algebraic; at production the filter's last mile can afford the
    * approximation of its choice). Callers pre-normalize longitude
    * wrap-around (±180°) if their domain needs it. */
  def radiusJoin(left: DataFrame, right: DataFrame,
      latL: String, lonL: String, latR: String, lonR: String,
      radiusDeg: Double): DataFrame = {
    require(radiusDeg > 0.0, s"radiusDeg must be > 0, got $radiusDeg")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"left and right must not share column names, both have: $shared")
    val r = lit(radiusDeg)
    val l = left
      .withColumn("_cx", floor(col(lonL) / r))
      .withColumn("_cy", floor(col(latL) / r))
    val rt = right
      .withColumn("_dx", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("_dy", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("_cx", floor(col(lonR) / r) + col("_dx"))
      .withColumn("_cy", floor(col(latR) / r) + col("_dy"))
      .drop("_dx", "_dy")
    val dlat = col(latL) - col(latR)
    val dlon = col(lonL) - col(lonR)
    l.join(rt, Seq("_cx", "_cy"))
      .where(dlat * dlat + dlon * dlon <= r * r)
      .withColumn("dist2_q6",
        floor((dlat * dlat + dlon * dlon) * lit(1000000.0)).cast("long"))
      .drop("_cx", "_cy")
  }
}

package graft

import graft.ops.Moments

/** Co-moment statistics goldens: hand-computed exact values, degenerate
  * variance guards, and bit-reproducibility across partitionings (the
  * property Spark's own double-reducing `corr` does not have). */
class MomentsSpec extends SparkSpec {

  import spark.implicits._

  test("perfect line: corr exactly 1, slope/intercept exact") {
    val df = Seq((1L, 2L * 1 + 3), (2L, 2L * 2 + 3), (3L, 2L * 3 + 3),
      (4L, 2L * 4 + 3)).map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Moments.corrOls(df, "g", "x", "y").head
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 1000000L) // corr = 1.0 exactly
    assert(r.getLong(3) === 2000000L) // slope = 2.0
    assert(r.getLong(4) === 3000000L) // intercept = 3.0
  }

  test("anti-correlated and degenerate groups") {
    val rows =
      (1L to 5L).map(x => ("anti", x, 100L - 10L * x)) ++
        (1L to 4L).map(_ => ("constx", 7L, 3L)) ++ // zero x-variance
        (1L to 4L).map(x => ("consty", x, 5L)) // zero y-variance
    val out = Moments.corrOls(rows.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out("anti")._1 === Some(-1000000L))
    assert(out("anti")._2 === Some(-10000000L))
    assert(out("constx") === ((None, None, None)))
    // constant y: corr undefined (null) but the fit is the flat line y=5
    assert(out("consty")._1 === None)
    assert(out("consty")._2 === Some(0L))
    assert(out("consty")._3 === Some(5000000L))
  }

  test("bit-identical across partitionings (exact integer co-moments)") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 5000).map(_ =>
      ("g" + rnd.nextInt(4), rnd.nextInt(24).toLong, rnd.nextInt(500).toLong))
    val a = Moments.corrOls(rows.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val b = Moments.corrOls(rows.toDF("g", "x", "y").repartition(17), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(a === b)
  }

  test("gramMoments: exact integer moments of a planted multi-feature model") {
    // y = 7 + 2*x0 - 3*x1 + x2 on a deterministic integer grid
    val rows = for {
      x0 <- 0L to 5L; x1 <- 0L to 4L; x2 <- 0L to 3L
    } yield ("g", x0, x1, x2, 7L + 2 * x0 - 3 * x1 + x2)
    val df = rows.toDF("g", "x0", "x1", "x2", "y")
    val m = Moments.gramMoments(df, "g", Seq("x0", "x1", "x2"), "y")
    // exact integer moments: spot-check against direct sums
    val r = m.head
    assert(r.getAs[Long]("n") === rows.size.toLong)
    assert(r.getAs[Long]("sy") === rows.map(_._5).sum)
    assert(r.getAs[Long]("g0_1") === rows.map(t => t._2 * t._3).sum)
    assert(r.getAs[Long]("sxy2") === rows.map(t => t._4 * t._5).sum)
  }

  test("simpsonsFlag: a constructed paradox flags every group; aligned data does not") {
    import spark.implicits._
    // within each group y falls in x; pooled, the high-x group sits
    // higher overall, so the pooled trend RISES - the textbook reversal
    val paradox = Seq(
      ("a", 1L, 9L), ("a", 2L, 8L),
      ("b", 8L, 22L), ("b", 9L, 21L)).toDF("g", "x", "y")
    val got = Moments.simpsonsFlag(paradox, "g", "x", "y").collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("slope_sign"),
        r.getAs[Long]("pooled_sign"), r.getAs[Boolean]("reversal")))).toMap
    assert(got === Map("a" -> ((-1L, 1L, true)), "b" -> ((-1L, 1L, true))))
    val aligned = Seq(
      ("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 3L), ("b", 4L, 5L))
      .toDF("g", "x", "y")
    val ok = Moments.simpsonsFlag(aligned, "g", "x", "y").collect()
    assert(ok.forall(!_.getAs[Boolean]("reversal")))
    // zero-variance group: sign 0, never a reversal
    val flat = Seq(("a", 1L, 5L), ("a", 1L, 7L), ("b", 1L, 1L), ("b", 2L, 2L))
      .toDF("g", "x", "y")
    val fz = Moments.simpsonsFlag(flat, "g", "x", "y").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("slope_sign")).toMap
    assert(fz("a") === 0L)
  }
}

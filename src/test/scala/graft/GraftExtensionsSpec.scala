package graft

/** The config-only installation path: the shared test session is built
  * with `spark.sql.extensions=graft.plans.GraftExtensions` (a STATIC
  * conf — it must ride the first session of the JVM, so it lives in
  * TestSpark's builder), and the custom expressions must resolve from
  * pure SQL with no Scala registration call.
  *
  * The assertions run in a `newSession()`: extension-injected functions
  * are re-applied to every session cloned from the context. */
class GraftExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions installs dms_to_decimal / fuzz_ratio / dot_product for SQL") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT dms_to_decimal('40°26''15"S') AS dd,
        |       fuzz_ratio('kitten', 'kitten') AS fr,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       zvalue(3L, 5L, 16) AS z,
        |       hilbert_d(1L, 0L, 1) AS hd,
        |       zvalue3(1L, 1L, 1L, 4) AS z3,
        |       hilbert_d3(0L, 0L, 0L, 3) AS h3
        |""".stripMargin.replace('\n', ' ')).collect().head
    assert(math.abs(row.getDouble(0) - -(40 + 26 / 60.0 + 15 / 3600.0)) < 1e-9)
    assert(row.getInt(1) === 100)
    assert(row.getDouble(2) === 11.0)
    // x=3 (bits 0,1 -> even positions 0,2), y=5 (bits 0,2 -> odd 1,5): 100111b
    assert(row.getLong(3) === 39L)
    // (1,0) is the LAST cell of the 2x2 Hilbert U
    assert(row.getLong(4) === 3L)
    // (1,1,1) interleaves to bits 0,1,2 set
    assert(row.getLong(5) === 7L)
    // the 3-D curve starts at the origin
    assert(row.getLong(6) === 0L)
  }
}

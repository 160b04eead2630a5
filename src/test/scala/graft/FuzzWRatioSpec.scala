package graft

import graft.functions.{CustomExpressions, WRatioKernel}
import org.apache.spark.sql.functions._

/** The production FuzzWRatio kernel against the test-side WRatioRef —
  * two INDEPENDENT transcriptions of the public rapidfuzz algorithm, so
  * a slip in either (a scale constant, a rounding mode, a window bound)
  * shows up as a randomized mismatch here. */
class FuzzWRatioSpec extends SparkSpec {

  import spark.implicits._

  private val rnd = new scala.util.Random(42L)

  private def randomString(maxLen: Int): String = {
    val alphabet = "abcXYZ019 _-./äé中"
    val n = rnd.nextInt(maxLen + 1)
    (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("kernel == independent reference on 2000 random string pairs") {
    val pairs = (1 to 2000).map { _ =>
      // mix comparable and disparate lengths so all three WRatio
      // branches (1.5 / 8 length-ratio cuts) are exercised
      (randomString(12), randomString(if (rnd.nextBoolean()) 12 else 80))
    }
    val mismatches = pairs.flatMap { case (a, b) =>
      val got = WRatioKernel.wratio(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      val want = WRatioRef.wratio(a, b)
      if (got != want) Some(s"'$a' vs '$b': kernel=$got ref=$want") else None
    }
    assert(mismatches.isEmpty, mismatches.take(5).mkString("\n"))
  }

  test("expression surface: codegen path, SQL registration, null propagation") {
    val df = Seq(
      ("samp_a1", "samp_a1_R1.fq.gz"),
      ("abc", "abc"),
      (null.asInstanceOf[String], "x"))
      .toDF("a", "b")
    val out = df.select(CustomExpressions.fuzz_wratio($"a", $"b").as("w"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(out(1) === Some(100))
    assert(out(2) === None) // null input → null, not 0
    assert(out(0) === Some(WRatioRef.wratio("samp_a1", "samp_a1_R1.fq.gz")))
    val sql = spark.sql("SELECT fuzz_wratio('abc', 'abd') AS w").collect()(0).getInt(0)
    assert(sql === WRatioRef.wratio("abc", "abd"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.Scd2

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = lit(s).cast("timestamp")

  private def hist(rows: (Long, String, Double, String, Option[String], Boolean)*) =
    rows.toDF("k", "seg", "bal", "vf", "vt", "cur")
      .select($"k", $"seg", $"bal", $"vf".cast("timestamp").as("valid_from"),
        $"vt".cast("timestamp").as("valid_to"), $"cur".as("is_current"))

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select($"k", $"seg", $"bal", $"valid_from".cast("string"),
        $"valid_to".cast("string"), $"is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), Option(r.getString(4)), r.getBoolean(5))).toSet

  private val T0 = "2024-01-01 00:00:00"
  private val T1 = "2024-06-01 00:00:00"
  private val T2 = "2024-09-01 00:00:00"

  test("change closes + opens; unchanged and absent keys pass through; new key inserts") {
    val h = hist(
      (1L, "A", 10.0, T0, None, true),   // will change
      (2L, "B", 20.0, T0, None, true),   // re-delivered unchanged
      (3L, "C", 30.0, T0, None, true))   // absent from batch
    val ch = Seq((1L, "A2", 11.0), (2L, "B", 20.0), (9L, "N", 90.0))
      .toDF("k", "seg", "bal")
    val out = Scd2.merge(h, ch, Seq("k"), Seq("seg", "bal"), ts(T1))
    assert(collect(out) === Set(
      (1L, "A", 10.0, T0, Some(T1), false),
      (1L, "A2", 11.0, T1, None, true),
      (2L, "B", 20.0, T0, None, true),
      (3L, "C", 30.0, T0, None, true),
      (9L, "N", 90.0, T1, None, true)))
  }

  test("idempotent: re-applying the same batch is a no-op") {
    val h = hist((1L, "A", 10.0, T0, None, true), (3L, "C", 30.0, T0, None, true))
    val ch = Seq((1L, "A2", 11.0)).toDF("k", "seg", "bal")
    val once = Scd2.merge(h, ch, Seq("k"), Seq("seg", "bal"), ts(T1))
    val twice = Scd2.merge(once, ch, Seq("k"), Seq("seg", "bal"), ts(T2))
    assert(collect(twice) === collect(once))
  }

  test("two batches chain intervals; closed history is never rewritten") {
    val h = hist((1L, "A", 10.0, T0, None, true))
    val b1 = Seq((1L, "B", 11.0)).toDF("k", "seg", "bal")
    val b2 = Seq((1L, "C", 12.0)).toDF("k", "seg", "bal")
    val out = Scd2.merge(
      Scd2.merge(h, b1, Seq("k"), Seq("seg", "bal"), ts(T1)),
      b2, Seq("k"), Seq("seg", "bal"), ts(T2))
    assert(collect(out) === Set(
      (1L, "A", 10.0, T0, Some(T1), false),
      (1L, "B", 11.0, T1, Some(T2), false),
      (1L, "C", 12.0, T2, None, true)))
    // as-of reconstruction picks exactly one row per key at any time
    def at(t: String) = collect(Scd2.asOf(out, ts(t)))
    assert(at("2024-03-01 00:00:00").map(_._2) === Set("A"))
    assert(at(T1).map(_._2) === Set("B"))        // boundary: from <= ts < to
    assert(at("2025-01-01 00:00:00").map(_._2) === Set("C"))
  }

  test("null-safe change detection: null -> value and value -> null are changes") {
    val h = hist((1L, "A", 10.0, T0, None, true))
      .withColumn("seg", when($"k" === 1, lit(null: String)).otherwise($"seg"))
    val ch = Seq((1L, "X", 10.0)).toDF("k", "seg", "bal")
    val out = Scd2.merge(h, ch, Seq("k"), Seq("seg", "bal"), ts(T1))
    val rows = out.collect()
    assert(rows.length === 2)
    assert(out.where($"is_current" && $"seg" === "X").count() === 1)
    // and value -> null
    val ch2 = ch.withColumn("seg", lit(null: String))
    val out2 = Scd2.merge(out, ch2, Seq("k"), Seq("seg", "bal"), ts(T2))
    assert(out2.where($"is_current" && $"seg".isNull).count() === 1)
    assert(out2.count() === 3)
  }

  test("invariants on the real query: one current per key, no overlap, chains touch") {
    val df = graft.queries.MergeQueries.scd2Merge(spark, sfDir)
    assert(df.groupBy($"c_custkey").agg(
        sum(when($"is_current", 1).otherwise(0)).as("n"))
      .where($"n" =!= 1).count() === 0)
    // closed rows' valid_to equals the successor's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_custkey").orderBy($"valid_from")
    val chained = df.withColumn("nxt", lead($"valid_from", 1).over(w))
    assert(chained.where($"valid_to".isNotNull && !($"valid_to" <=> $"nxt"))
      .count() === 0)
  }

  test("plan: the outcome fan-out's Generate runs inside whole-stage codegen") {
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("s15_scd2_merge")(spark, sfDir)
    df.collect() // AQE fixes its final plan, codegen stages included, on execution
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    // the operators one codegen stage fuses: its subtree down to its inputs
    def fused(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(fused)
    })
    val all = nodes(df.queryExecution.executedPlan)
    val generates = all.collect { case g: GenerateExec => g }
    val inCodegen = all.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    assert(generates.nonEmpty, df.queryExecution.executedPlan)
    generates.foreach(g => assert(inCodegen.exists(_ eq g),
      s"interpreted Generate:\n${df.queryExecution.executedPlan}"))
  }
}

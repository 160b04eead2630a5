package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIngest
import org.apache.spark.sql.Column

class StreamingSpec extends SparkSpec {

  implicit class Interp(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming corpus filter matches batch: stateless narrow ops stream as-is") {
    // filterCorpus is a pure narrow pass (no aggregation, no state), so
    // the SAME operator drops into readStream unchanged — the property
    // that makes scan-speed quality filtering valid on a live firehose
    import graft.ext.TextStats
    val docs = Tables.load(spark, sfDir, "documents")
    val landing = tmpDir("graft-docs-landing")
    docs.write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema).parquet(landing)
    val q = TextStats.filterCorpus(stream).writeStream
      .outputMode("append")
      .format("memory").queryName("filtered_docs")
      .start()
    try q.processAllAvailable() finally q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"keep", concat_ws("|", $"reasons").as("rs"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    val got = asMap(spark.table("filtered_docs"))
    val want = asMap(TextStats.filterCorpus(docs))
    assert(got === want)
    assert(want.values.exists(_._1) && want.values.exists(!_._1))
  }

  test("stream-stream interval join matches batch; batch plan is never a nested loop") {
    val ev = Tables.load(spark, sfDir, "events")
    val landing = tmpDir("graft-landing-ssj")
    ev.write.mode("overwrite").parquet(landing)
    val schema = spark.read.parquet(landing).schema

    def sides(df: org.apache.spark.sql.DataFrame) = (
      df.where($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts")),
      df.where($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts")))

    // streaming: BOTH sides read as streams — the true stream-stream join
    val (sv, sc) = sides(spark.readStream.schema(schema).parquet(landing))
    val q = StreamingIngest
      .intervalJoin(sv, sc, "user_id", "view_ts", "click_ts", "6 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try q.processAllAvailable() finally q.stop()

    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"view_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bv, bc) = sides(ev)
    val batch = StreamingIngest
      .intervalJoin(bv, bc, "user_id", "view_ts", "click_ts", "6 hours")
    val got = asSet(spark.table("ssj"))
    val want = asSet(batch)
    assert(got === want)
    assert(want.nonEmpty)
    // scale pin: the equi key must carry the join — range stays residual
    val phys = batch.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
  }

  test("grid quantile sketch maintains EXACTLY under streaming aggregation (mergeable relation)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vals = (1 to 500).map(i => (i * 37 % 99).toDouble + (i % 7) * 0.25)
    val (b1, b2) = vals.splitAt(230)
    val input = MemoryStream[Double]
    // the sketch IS a streaming aggregation: bucket counts in Update mode
    val q = graft.ext.Frequency.gridQuantileSketch(input.toDF().toDF("v"), "v", 5.0)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sketch_stream").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // Update mode emits a bucket row per batch it changed in; the last
    // (max cnt — counts are monotone) row per bucket is current
    val streamed = spark.table("sketch_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    val batch = graft.ext.Frequency.gridQuantileSketch(
        vals.toDF("v"), "v", 5.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }
}

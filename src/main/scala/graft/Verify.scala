package graft
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly (sfDir, outDir) = full dump)
    val only = args.drop(2).toSet
    val spark = LocalSession.build(LocalSession.cpus)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // A query can pass while one of its jobs fails (a stage nothing reads
    // any more); count failed jobs per query for a stderr line. Jobs that
    // an operator submits from another thread carry the query's property.
    val sc = spark.sparkContext
    val queryKey = "graft.verify.query"
    val jobQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val failedJobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(queryKey)))
          .foreach(jobQuery.put(e.jobId, _))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobQuery.remove(e.jobId)).filter(_ => e.jobResult != JobSucceeded)
          .foreach(failedJobs.merge(_, 1, _ + _))
    })
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      sc.setLocalProperty(queryKey, name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Fail LOUD: a broken query must show up as an artifact, not vanish
    // from the compare (round 6's regression was invisible exactly
    // because errors only went to stderr). `_failed.json` maps each
    // failed query name to its error; empty object when all green.
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(2000))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    // Exit 0 even on failures — a nonzero exit could make the driver skip
    // the DuckDB compare for the queries that DID dump; the artifact and
    // the stderr banner are the loud part.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.keys.mkString(", "))
    spark.stop() // delivers every queued listener event first
    failedJobs.forEach((name, n) =>
      System.err.println(s"[verify] $name: $n job(s) failed"))
  }
}

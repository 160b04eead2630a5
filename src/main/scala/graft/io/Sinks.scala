package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Sinks S9/S13 (SURVEY §2.1): artifact TSV/CSV writers and the atomic
  * parquet swap the merge sinks rely on.
  *
  * The reference writes one flat file per artifact (create_sheets.py:
  * 114-119,159-161); `single=true` coalesces to one part — correct for
  * dashboard/submission artifacts, intentionally NOT the default for
  * data-scale tables. */
object Sinks {

  /** S9 — delimited artifact write (header, custom sep). Returns the
    * final file path when single=true. */
  def writeDelimited(df: DataFrame, path: String, sep: String = "\t",
      single: Boolean = true): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("sep", sep).option("header", "true")
      .csv(path)
  }

  /** JSONL corpus export (the [[Sources.readJsonl]] counterpart):
    * partitioned by default — a training corpus export is data-scale,
    * one file per task is the shape downstream shard loaders want. */
  def writeJsonl(df: DataFrame, path: String,
      single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** S14 — done-marker gate (Snakemake `touch(...)`,
    * download_reads.smk:45,60,86): run the write action, then create the
    * zero-byte marker only after it succeeded. Downstream stages gate on
    * [[markerExists]]; a crashed write leaves no marker, so the stage
    * re-runs — the same at-least-once contract as the reference's
    * checkpoint files. */
  def withDoneMarker(spark: org.apache.spark.sql.SparkSession,
      marker: String)(write: => Unit): Unit = {
    write
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(marker), true).close()
  }

  def markerExists(spark: org.apache.spark.sql.SparkSession,
      marker: String): Boolean =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(marker))

  /** S14 — step-log sink (update_reads_by_lane.py:179-209 writes a
    * per-lane log file): one text file of log lines. Driver-composed
    * lines, single file by design — logs are artifacts, not data. */
  def writeLog(spark: org.apache.spark.sql.SparkSession,
      lines: Seq[String], path: String): Unit = {
    import spark.implicits._
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(path)
  }

}

package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Central access to the driver-generated test tables (TESTDATA.md).
  *
  * Every [[SparkEntry.queries]] entry receives `(spark, sfDir)` and resolves
  * tables through here, so the scan is always a parquet scan Catalyst can
  * push filters/projections into.  At 100 TB these would be partitioned /
  * bucketed catalog tables; the access path (named table -> DataFrame) is
  * the same.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has been generated as both TIMESTAMP(NANOS) (which
      // Spark's vectorized reader rejects without the legacy long
      // fallback, set for every session in LocalSession.shared) and
      // plain timestamp[us]; branch on what the footer actually decodes
      // to instead of hard-coding one generation.
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = parquet(spark, s"$sfDir/$name.parquet")
      (raw.schema("ts").dataType match {
        case LongType =>
          // TIMESTAMP(NANOS) read as raw int64 nanos: truncate to micros
          // (same truncation DuckDB applies casting TIMESTAMP_NS->TIMESTAMP).
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // session timezone is pinned to UTC everywhere (LocalSession /
          // test fixtures), so this cast is value-identical and keeps a
          // single downstream type for window/asof/range arithmetic.
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      })
    } else {
      parquet(spark, s"$sfDir/$name.parquet")
    }

  /** What a path's inferred schema depends on: every leaf file's
    * (path, length, modification time), plus the nanos-as-long switch,
    * which decides whether a TIMESTAMP(NANOS) column infers as a long. */
  private final case class Stamp(files: Seq[(String, Long, Long)], nanosAsLong: String)

  private val schemas = scala.collection.concurrent.TrieMap.empty[String, (Stamp, StructType)]

  /** `spark.read.parquet(path)` without the schema-inference job on a
    * path whose files are unchanged since it was last inferred: the
    * schema is a function of the file footers, so a matching stamp
    * reads with the schema already known, and a changed stamp infers
    * again and replaces the entry. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Iterator.unfold(fs.listFiles(p, true))(it =>
      if (it.hasNext) Some((it.next(), it)) else None)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq.sorted
    val stamp = Stamp(files,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    schemas.get(path) match {
      case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(path, (stamp, df.schema))
        df
    }
  }
}

/** One declared engine operator: the Spark implementation plus (optionally)
  * the equivalent DuckDB SQL the driver uses as a correctness oracle.
  * Column names/aliases MUST match between the two (driver sorts columns by
  * name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryGroup {
  def defs: Seq[QueryDef]
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap
  final def oracles: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}

package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Sources S1–S4 (SURVEY §2.1): submitter-sheet readers with the
  * reference's header-discovery and row/column-drop semantics.
  *
  * Excel isn't readable offline (no spark-excel jar) — fixtures are
  * pre-converted to CSV/TSV (SURVEY S1 note); the reader reproduces the
  * row/col-drop semantics on the converted form.
  *
  * Scale note: the header probe reads only the head of the file on the
  * driver (bounded lines); the body parse is a distributed line map.
  * Submitter sheets are inherently small; the same reader works on a
  * directory of thousands of them via a path glob.
  */
object Sources {

  /** P3 — schema sanitation (parse.py:271-272): drop duplicate column
    * names (keep first) and `Unnamed*` columns. */
  def sanitizeColumns(df: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val keep = df.schema.fields.zipWithIndex.filter { case (f, _) =>
      if (seen.contains(f.name) || f.name.startsWith("Unnamed")) false
      else { seen += f.name; true }
    }.map(_._2).toSet
    val cols = df.columns.zipWithIndex.collect {
      case (c, i) if keep.contains(i) => org.apache.spark.sql.functions.col(s"`$c`")
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** S2 — TSV with header discovery (parse.py:145-151,233-236): the
    * header is the first line whose tab-split contains `marker`; lines
    * above are junk; `encoding_errors="ignore"` ≈ permissive UTF-8. All
    * columns read as strings (dtype=str). */
  def readTsvHeaderProbe(spark: SparkSession, path: String,
      marker: String = "*sample_name"): DataFrame = {
    val rdd = spark.sparkContext.textFile(path).zipWithIndex()
    val headerIdx = rdd
      .filter { case (line, _) => line.split("\t", -1).contains(marker) }
      .map(_._2)
      .reduce(math.min)
    val header = rdd.filter(_._2 == headerIdx).first()._1.split("\t", -1)
    val n = header.length
    val rows = rdd.filter(_._2 > headerIdx).map { case (line, _) =>
      val cells = line.split("\t", -1).padTo(n, "").take(n)
      Row.fromSeq(cells.map(c => if (c.isEmpty) null else c).toIndexedSeq)
    }
    val schema = StructType(header.map(h => StructField(h, StringType, nullable = true)))
    sanitizeColumns(spark.createDataFrame(rows, schema))
  }

  /** S1 — minicore sheet reader on the CSV-converted form
    * (parse.py:163-175): header row 0, then DROP the first two data rows
    * (info + example) and the first column (sample number); keep only
    * rows with a SampleID*; drop all-null rows. All strings. */
  def readMinicoreCsv(spark: SparkSession, path: String,
      idCol: String = "SampleID*"): DataFrame = {
    val rdd = spark.sparkContext.textFile(path).zipWithIndex()
    val header = rdd.filter(_._2 == 0L).first()._1.split(",", -1).drop(1)
    val n = header.length
    val rows = rdd.filter(_._2 > 2L).map { case (line, _) =>
      val cells = line.split(",", -1).drop(1).padTo(n, "").take(n)
      Row.fromSeq(cells.map(c => if (c.isEmpty) null else c).toIndexedSeq)
    }
    val schema = StructType(header.map(h => StructField(h, StringType, nullable = true)))
    val df = sanitizeColumns(spark.createDataFrame(rows, schema))
    import org.apache.spark.sql.functions._
    df.where(col(s"`$idCol`").isNotNull)
      .where(coalesce(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).isNotNull)
  }

  /** S3 — species→project lookup scan (parse.py:111-121): CSV with
    * header `Species-project,Genus,GenusSpeciesSuborVar`. */
  def readSpeciesProjects(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .toDF("project_id", "genus", "genus_species")

  /** JSONL corpus ingestion with corrupt-line QUARANTINE — the format
    * LLM training corpora actually ship in. The schema is EXPLICIT
    * (never inferred: inference is a second full scan and a schema
    * lottery at 100 TB), the read is PERMISSIVE, and any malformed
    * line lands verbatim in `_corrupt_record` instead of failing the
    * job — split it off with [[splitCorrupt]] and route it to a
    * quarantine sink, so one truncated shard never kills an ingest. */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not predeclare _corrupt_record")
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType, nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** CSV ingestion with corrupt-row quarantine — the CSV twin of
    * [[readJsonl]]: explicit schema (no inference scan), PERMISSIVE
    * parse, malformed rows land verbatim in `_corrupt_record` instead
    * of failing the job. Spark's PERMISSIVE CSV semantics (pinned in
    * IoFormatsSpec): a field that fails its declared type nulls the
    * WHOLE row's typed columns and records the raw line; fields of a
    * clean row parse normally. Split with [[splitCorrupt]]. */
  def readCsvQuarantine(spark: SparkSession, path: String,
      schema: StructType, header: Boolean = true): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not predeclare _corrupt_record")
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType, nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("header", header.toString)
      .csv(path)
  }

  /** Split a [[readJsonl]] frame into (clean rows without the marker
    * column, quarantined raw lines). The parsed frame is persisted
    * first — Spark refuses to filter raw file scans on the internal
    * corrupt column alone (SPARK-21610), and the barrier also stops
    * the two branches re-parsing the corpus twice; its lifetime is the
    * rule on [[graft.ext.CacheScope]]. */
  def splitCorrupt(df: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    import graft.ext.ScopedPersist
    val parsed = df.persistScoped
    val clean = parsed.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = parsed.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, bad)
  }
}

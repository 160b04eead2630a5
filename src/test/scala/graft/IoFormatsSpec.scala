package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Sinks, Sources}

/** Interchange-format coverage the oracle gate can't express (I/O
  * shape): JSONL ingest with corrupt-line quarantine, JSONL round-trip,
  * and ORC round-trip with predicate pushdown — the formats an LLM
  * corpus actually arrives and leaves in. (Avro's Spark datasource jar
  * is not resolvable offline — same standing limitation as the Excel
  * reader; ORC is built in.) */
class IoFormatsSpec extends SparkSpec {

  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  test("readJsonl: malformed lines quarantine verbatim, clean rows parse, job survives") {
    val dir = Files.createTempDirectory("jsonl").toFile
    val f = new java.io.File(dir, "part0.jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr"}""",
      """{"doc_id": 3, "text": "truncated""", // malformed
      """not json at all""")
    Files.write(f.toPath, String.join("\n", lines: _*).getBytes("UTF-8"))

    val raw = Sources.readJsonl(spark, f.getAbsolutePath, docSchema)
    val (clean, bad) = Sources.splitCorrupt(raw)
    val got = clean.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "hello world", "en"), (2L, "bonjour", "fr")))
    val quarantined = bad.collect().map(_.getString(0)).toSet
    assert(quarantined === Set("""{"doc_id": 3, "text": "truncated""", "not json at all"))
    // schema guard: predeclared marker column is rejected
    intercept[IllegalArgumentException](
      Sources.readJsonl(spark, f.getAbsolutePath,
        docSchema.add("_corrupt_record", StringType)))
  }

  test("readCsvQuarantine: a malformed FIELD nulls out, the row's clean " +
      "fields still parse, and the raw line lands in quarantine") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("name", StringType)))
    val df = Sources.readCsvQuarantine(spark,
      "/root/repo/src/test/resources/fixtures/ledger_corrupt.csv", schema)
    val rows = df.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(2),
      Option(r.getString(3)))).toSet
    assert(rows === Set(
      (1L, Some(10L), "alpha", None),
      (2L, None, "beta", Some("2,xx,beta")),
      (3L, Some(30L), "gamma", None),
      (4L, None, "delta", Some("4,12.5,delta")),
      (5L, Some(50L), "epsilon", None),
      (6L, None, "zeta", Some("6,fifty,zeta")),
      (7L, Some(70L), "eta", None)))
    val (clean, bad) = Sources.splitCorrupt(df)
    assert(clean.count() === 4L && bad.count() === 3L)
  }

  test("JSONL round-trip preserves values; ORC round-trip preserves schema and pushes predicates") {
    val docs = Tables.load(spark, sfDir, "documents").limit(50).cache()
    val base = Files.createTempDirectory("fmt").toFile.getAbsolutePath

    Sinks.writeJsonl(docs, s"$base/docs_jsonl")
    val backJ = Sources.readJsonl(spark, s"$base/docs_jsonl",
      StructType(docs.schema.fields))
    val (cleanJ, badJ) = Sources.splitCorrupt(backJ)
    assert(badJ.count() === 0)
    assert(cleanJ.select(docs.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSet ===
      docs.collect().map(_.toSeq).toSet)

    docs.write.mode("overwrite").orc(s"$base/docs_orc")
    val backO = spark.read.orc(s"$base/docs_orc")
    assert(backO.schema === docs.schema)
    assert(backO.collect().map(_.toSeq).toSet === docs.collect().map(_.toSeq).toSet)
    // predicate + projection reach the ORC reader, same as parquet
    val plan = backO.where($"lang" === "en").select($"doc_id", $"lang")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") && plan.contains("lang"), plan)
    assert(!plan.contains("n_chars"), plan) // pruned column never read
  }

  test("parquet bloom filters: present in the footer for the declared column only; point lookup stays exact") {
    val dir = Files.createTempDirectory("bloom").toString
    val df = Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    graft.io.Layout.writeWithBloom(df, dir, Seq("l_partkey"), ndv = 1000L)
    // footer audit through parquet-mr (on the classpath with Spark)
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.getAbsolutePath), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val part = cols.find(_.getPath.toDotString == "l_partkey").get
      val order = cols.find(_.getPath.toDotString == "l_orderkey").get
      assert(part.getBloomFilterOffset > 0, "bloom missing on l_partkey")
      assert(order.getBloomFilterOffset <= 0,
        "bloom unexpectedly written for an undeclared column")
    } finally reader.close()
    // the lookup answers exactly as the unfiltered source
    val key = df.select(min($"l_partkey")).head.getLong(0)
    val got = spark.read.parquet(dir).where($"l_partkey" === key).count()
    val want = df.where($"l_partkey" === key).count()
    assert(got === want && want > 0)
  }

  test("bloom round trip over a zero-row lineitem returns no rows") {
    val dir = Files.createTempDirectory("bloom-empty").toString
    Tables.load(spark, sfDir, "lineitem").limit(0)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = graft.queries.SourceQueries.bloomRoundTrip(spark, dir)
    assert(got.columns.toSeq ===
      Seq("l_orderkey", "l_partkey", "l_linenumber", "quantity"))
    assert(got.isEmpty)
  }

  test("round-trip queries built in turn keep only the open build's scratch dirs") {
    import scala.jdk.CollectionConverters._
    val root = Files.createDirectories(graft.io.Scratch.root)
    // the root may be the JVM tmpdir, which other code writes to as well
    def entries(): Set[java.nio.file.Path] = {
      val s = Files.list(root)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_s")).toSet
      finally s.close()
    }
    var previous = Set.empty[java.nio.file.Path]
    Seq("s1_xlsx_roundtrip" -> "graft_s1", "s18_snapshot_roundtrip" -> "graft_s18",
        "s1_xlsx_roundtrip" -> "graft_s1").foreach { case (q, prefix) =>
      val before = entries()
      SparkEntry.queries(q)(spark, sfDir).collect()
      val made = entries() -- before
      // one flat dir per Scratch.dir call, named after its prefix
      assert(made.size === 1 && made.forall(_.getFileName.toString.startsWith(prefix)),
        s"$q made $made")
      assert(previous.forall(Files.notExists(_)), s"$q's build left $previous")
      previous = made
    }
  }
}

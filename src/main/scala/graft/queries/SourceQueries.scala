package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, min, regexp_replace, round}
import graft.{QueryDef, QueryGroup}
import graft.io.Sources

/** S2/S4 — file-reader operators checked against DuckDB reading the SAME
  * fixture file from disk: the Spark side runs the header-probing reader
  * (junk preamble lines), the oracle uses read_csv with an explicit skip. */
object SourceQueries extends QueryGroup {

  private val fixturePath =
    "/root/repo/src/test/resources/fixtures/samples_non_minicore.tsv"

  def headerProbeTsv(spark: SparkSession, dir: String): DataFrame =
    Sources.readTsvHeaderProbe(spark, fixturePath)
      .select($"`*sample_name`", $"`*organism`", $"`*collection_date`",
        $"`*geo_loc_name`", $"`*tissue`")
      .orderBy($"`*sample_name`")

  private val headerProbeTsvSql =
    s"""SELECT "*sample_name", "*organism", "*collection_date",
       |       "*geo_loc_name", "*tissue"
       |FROM read_csv('$fixturePath', delim='\t', skip=2, header=true,
       |              all_varchar=true)
       |ORDER BY "*sample_name"""".stripMargin

  /** S1 — NATIVE .xlsx round trip against the relational oracle: the
    * nation dimension exports through the sheet sink (driver-side —
    * spreadsheets are metadata-sized) and scans back through the
    * dependency-free zip+StAX reader; values must survive bit-exact.
    * The oracle reads the same rows straight from the parquet, so the
    * gate covers BOTH the writer and the reader. */
  def xlsxRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val nation = graft.Tables.load(spark, dir, "nation")
      .orderBy($"n_nationkey").collect()
    val tmpDir = graft.io.Scratch.dir("graft_s1").toFile
    graft.io.Xlsx.writeXlsx(new java.io.File(tmpDir, "nation.xlsx"),
      Seq(Seq("n_nationkey", "n_name", "n_regionkey")) ++
        nation.map(r => Seq(r.get(0).toString, r.getString(1),
          r.get(2).toString)))
    // read back through the DataSource V2 connector — the gate drives
    // the full format("graft-xlsx") path (XlsxSpec pins ≡ readXlsx)
    spark.read.format("graft-xlsx").load(tmpDir.getAbsolutePath)
      .select($"n_nationkey".cast("int").as("n_nationkey"), $"n_name",
        $"n_regionkey".cast("int").as("n_regionkey"))
      .orderBy($"n_nationkey")
  }

  private val xlsxRoundTripSql =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** S25 — footer-stats audit ([[graft.io.Layout.footerStats]]):
    * lineitem re-laid-out one file per l_returnflag partition, then
    * per-partition row counts and l_orderkey min/max read from parquet
    * FOOTERS ONLY; the oracle recomputes the identical numbers from
    * the data, so the gate proves the stats a pruning reader would
    * trust are the truth. */
  def footerStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.io.Scratch.dir("graft_s25").toFile
    graft.Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_orderkey")
      .repartition($"l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag")
      .parquet(tmp.getAbsolutePath)
    graft.io.Layout.footerStats(spark, tmp.getAbsolutePath, "l_orderkey")
      .select(regexp_replace($"part_dir", "^l_returnflag=", "").as("l_returnflag"),
        $"n_rows", $"min_val".as("min_okey"), $"max_val".as("max_okey"))
      .orderBy($"l_returnflag")
  }

  private val footerStatsSql =
    """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
      |       min(l_orderkey)::BIGINT AS min_okey,
      |       max(l_orderkey)::BIGINT AS max_okey
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** S17 — bloom-layout round trip: lineitem re-written through
    * [[graft.io.Layout.writeWithBloom]] on the part key, then a point
    * lookup against the bloom-bearing copy must answer exactly as the
    * oracle over the original parquet. The key is the SMALLEST part
    * key, derived from the data (deterministic at any SF). */
  def bloomRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_linenumber", $"l_quantity")
    val tmp = graft.io.Scratch.dir("graft_s17").toFile
    graft.io.Layout.writeWithBloom(li, tmp.getAbsolutePath,
      Seq("l_partkey"), ndv = 200000L)
    // null on an empty table: `= NULL` then matches no row, as in SQL
    val key = li.agg(min($"l_partkey")).head.get(0)
    spark.read.parquet(tmp.getAbsolutePath)
      .where($"l_partkey" === key)
      .select($"l_orderkey", $"l_partkey", $"l_linenumber",
        round($"l_quantity", 2).as("quantity"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val bloomRoundTripSql =
    """SELECT l_orderkey, l_partkey, l_linenumber,
      |       round(l_quantity, 2) AS quantity
      |FROM lineitem
      |WHERE l_partkey = (SELECT min(l_partkey) FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S18 — snapshot-table round trip: documents land as an overwrite
    * base plus an append version, read back as the latest committed
    * snapshot — the gate covers version resolution, the commit log, and
    * the multi-directory read against the plain relational oracle. */
  def snapshotRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars")
    val tmp = graft.io.Scratch.dir("graft_s18").toString
    graft.io.SnapshotTable.write(docs.where($"doc_id" < 100),
      tmp, "overwrite")
    graft.io.SnapshotTable.write(
      docs.where($"doc_id" >= 100 && $"doc_id" < 200), tmp, "append")
    graft.io.SnapshotTable.read(spark, tmp)
      .orderBy($"doc_id")
  }

  private val snapshotRoundTripSql =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** S20 — incremental aggregate maintenance: orders land in two
    * snapshot versions, the per-custkey count/sum state refreshes
    * after EACH append (the second refresh folds only the delta), and
    * the final state must equal the plain one-shot aggregate. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(spark, dir, "orders")
      .select($"o_custkey", $"o_orderkey")
    val src = graft.io.Scratch.dir("graft_s20src").toString
    val st = graft.io.Scratch.dir("graft_s20st").toString
    graft.io.SnapshotTable.write(orders.where($"o_orderkey" % 2 === 0),
      src, "overwrite")
    graft.io.SnapshotTable.refreshAgg(spark, src, st,
      Seq("o_custkey"), "o_orderkey")
    graft.io.SnapshotTable.write(orders.where($"o_orderkey" % 2 === 1),
      src, "append")
    graft.io.SnapshotTable.refreshAgg(spark, src, st,
      Seq("o_custkey"), "o_orderkey")
    graft.io.SnapshotTable.read(spark, st).orderBy($"o_custkey")
  }

  private val incrementalAggSql =
    """SELECT o_custkey, count(*)::BIGINT AS n,
      |       sum(o_orderkey)::BIGINT AS total
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** SQL-surface end-to-end: one `spark.sql` statement over temp views
    * using the config-injected `zvalue` SQL function (the
    * GraftExtensions seam live in the GATE, not just in specs) plus
    * CTE + window + join — the "SQL-only user" path a thrift-server
    * deployment exercises. The oracle rebuilds zvalue with shift/mask
    * arithmetic. */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.load(spark, dir, "orders").createOrReplaceTempView("g_orders")
    graft.Tables.load(spark, dir, "customer").createOrReplaceTempView("g_customer")
    spark.sql(
      """WITH z AS (
        |  SELECT o_custkey, o_orderkey,
        |         zvalue(o_orderkey & 65535, o_custkey & 65535, 16) AS z
        |  FROM g_orders),
        |r AS (
        |  SELECT o_custkey, o_orderkey, z,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY z DESC, o_orderkey) AS rn
        |  FROM z)
        |SELECT c.c_custkey, c.c_mktsegment, r.o_orderkey, r.z
        |FROM r JOIN g_customer c ON r.o_custkey = c.c_custkey
        |WHERE r.rn = 1
        |ORDER BY c.c_custkey""".stripMargin)
  }

  private val sqlSurfaceSql =
    """WITH z AS (
      |  SELECT o_custkey, o_orderkey,
      |         list_sum(list_transform(range(0, 16), i ->
      |           ((((o_orderkey & 65535) >> i) & 1) << (2*i))
      |           + ((((o_custkey & 65535) >> i) & 1) << (2*i + 1))
      |         ))::BIGINT AS z
      |  FROM orders),
      |r AS (
      |  SELECT o_custkey, o_orderkey, z,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY z DESC, o_orderkey) AS rn
      |  FROM z)
      |SELECT c.c_custkey, c.c_mktsegment, r.o_orderkey, r.z
      |FROM r JOIN customer c ON r.o_custkey = c.c_custkey
      |WHERE r.rn = 1
      |ORDER BY c.c_custkey""".stripMargin

  private val corruptCsvPath =
    "/root/repo/src/test/resources/fixtures/ledger_corrupt.csv"

  /** S21 — PERMISSIVE CSV with corrupt-row quarantine: a field that
    * fails its declared type nulls out while the raw line lands in the
    * quarantine column; clean fields of the same row still parse
    * (Spark's PERMISSIVE contract, pinned in IoFormatsSpec). The oracle
    * re-derives corruption from the raw text with the same integer
    * grammar. */
  def csvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.functions.{coalesce, lit}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("name", StringType)))
    Sources.readCsvQuarantine(spark, corruptCsvPath, schema)
      .select($"id", $"qty", $"name",
        $"_corrupt_record".isNotNull.as("is_corrupt"),
        coalesce($"_corrupt_record", lit("")).as("raw"))
      .orderBy($"id")
  }

  private val csvQuarantineSql =
    s"""SELECT id::BIGINT AS id,
       |       CASE WHEN regexp_matches(qty, '^-?[0-9]+$$')
       |            THEN qty::BIGINT END AS qty,
       |       name,
       |       NOT regexp_matches(qty, '^-?[0-9]+$$') AS is_corrupt,
       |       CASE WHEN regexp_matches(qty, '^-?[0-9]+$$') THEN ''
       |            ELSE id || ',' || qty || ',' || name END AS raw
       |FROM read_csv('$corruptCsvPath', header=true, all_varchar=true)
       |ORDER BY id""".stripMargin

  /** S22 — JSONL round trip: documents export through the JSONL sink
    * (the corpus interchange format) and scan back through the
    * schema-explicit PERMISSIVE reader; text with arbitrary content
    * must survive JSON escaping bit-exact. Oracle reads the same rows
    * straight from the parquet, so the gate covers writer AND reader. */
  def jsonlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val tmp = graft.io.Scratch.dir("graft_s22").toFile
    graft.io.Sinks.writeJsonl(docs, tmp.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    Sources.readJsonl(spark, tmp.getAbsolutePath, schema)
      .drop("_corrupt_record")
      .orderBy($"doc_id")
  }

  private val jsonlRoundTripSql =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** S27 — SCHEMA EVOLUTION round trip: two parquet generations of the
    * same table (gen 2 grew an `acct_cents` column) read back through
    * `mergeSchema` — the widened schema applies to both, gen-1 rows
    * null-filling the new column. The append-only schema-growth path
    * every long-lived dataset walks. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.load(spark, dir, "customer")
    val tmp = graft.io.Scratch.dir("graft_s27").toFile
    c.where($"c_custkey" % 2 === 1)
      .select($"c_custkey", $"c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmp/gen=1")
    c.where($"c_custkey" % 2 === 0)
      .select($"c_custkey", $"c_mktsegment",
        expr("cast(round(c_acctbal * 100) as bigint)").as("acct_cents"))
      .write.mode("overwrite").parquet(s"$tmp/gen=2")
    spark.read.option("mergeSchema", "true").parquet(tmp.getAbsolutePath)
      .select($"c_custkey", $"c_mktsegment", $"acct_cents",
        $"gen".cast("long").as("gen"))
      .orderBy($"c_custkey")
  }

  private val schemaEvolutionSql =
    """SELECT c_custkey, c_mktsegment,
      |       CASE WHEN c_custkey % 2 = 0
      |            THEN round(c_acctbal * 100)::BIGINT END AS acct_cents,
      |       CASE WHEN c_custkey % 2 = 0 THEN 2 ELSE 1 END::BIGINT AS gen
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** S23 — ORC round trip: the lineitem measure columns through the
    * columnar interchange sibling of parquet. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
    val tmp = graft.io.Scratch.dir("graft_s23").toFile
    li.write.mode("overwrite").orc(tmp.getAbsolutePath)
    spark.read.orc(tmp.getAbsolutePath)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_quantity", 2).as("quantity"), $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val orcRoundTripSql =
    """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS quantity,
      |       l_returnflag
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("sql1_sql_surface", sqlSurface, Some(sqlSurfaceSql)),
    QueryDef("s21_csv_quarantine", csvQuarantine, Some(csvQuarantineSql)),
    QueryDef("s22_jsonl_roundtrip", jsonlRoundTrip, Some(jsonlRoundTripSql)),
    QueryDef("s27_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
    QueryDef("s23_orc_roundtrip", orcRoundTrip, Some(orcRoundTripSql)),
    QueryDef("s20_incremental_agg", incrementalAgg, Some(incrementalAggSql)),
    QueryDef("s18_snapshot_roundtrip", snapshotRoundTrip, Some(snapshotRoundTripSql)),
    QueryDef("s2_header_probe_tsv", headerProbeTsv, Some(headerProbeTsvSql)),
    QueryDef("s1_xlsx_roundtrip", xlsxRoundTrip, Some(xlsxRoundTripSql)),
    QueryDef("s25_footer_stats", footerStatsQ, Some(footerStatsSql)),
    QueryDef("s17_bloom_roundtrip", bloomRoundTrip, Some(bloomRoundTripSql)))
}

package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout helpers for the 100 TB deployment (SURVEY §4.1):
  * `samples`/`reads` partitioned by `ccgp_project_id` so per-project
  * pipelines (`create_sheets -p <pid>` shape) prune at the source, and
  * a deterministic salting helper for skewed join keys.
  */
object Layout {

  /** Write a table partitioned by the project key: a `-p <pid>` scan
    * then reads exactly one directory (partition pruning; dynamic
    * partition pruning covers the join-driven case). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String = "ccgp_project_id"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Salted equi join for skewed keys: the big side gets a deterministic
    * per-row salt in [0, n); the small side is replicated n times; the
    * join key becomes (key, salt) so one hot key spreads across n
    * partitions. Semantics identical to big ⋈ small on `key` for the
    * SUPPORTED join types only: inner, left (outer/semi/anti), cross.
    * Right/full outer are rejected — every replica of an unmatched
    * small-side row would surface as its own output row. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "cross", "left", "leftouter",
        "leftsemi", "leftanti").contains(normalized),
      s"saltedJoin does not preserve '$joinType' semantics: replicated " +
        "small-side rows each surface for right/full outer joins")
    val salted = big.withColumn("_salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(nSalts)))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Bucketed layout for co-located joins: hash-bucket + sort BY THE
    * JOIN KEY at write time, so two tables bucketed the same way join
    * with ZERO exchanges — the shuffle is paid once when the table is
    * written, then amortized over every subsequent join/aggregate on
    * that key. THE layout decision for a 100-TB fact table that joins
    * its biggest dimension daily: neither side fits a broadcast and an
    * every-query shuffle of the fact is the dominant cost. Registered
    * through the catalog (bucket metadata lives there; a bare parquet
    * path has nowhere to record it). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Parquet BLOOM FILTERS on point-lookup columns: each row group
    * carries a bloom of the column's values, so an equality predicate
    * skips row groups whose bloom rejects the key WITHOUT decoding the
    * column — the layout lever for needle-in-haystack lookups on a
    * 100-TB table where min/max statistics are useless (high-cardinality
    * unsorted ids span every row group's range). `ndv` sizes the filter
    * (expected distinct values per row group — overshooting just costs
    * bytes, undershooting costs false positives).
    *
    * Dictionary encoding is DISABLED on the bloom columns: parquet-mr
    * silently skips the bloom when a column stays fully
    * dictionary-encoded (the dictionary already filters exactly), so a
    * small test table would "lose" its bloom — and a column you
    * declared here is one whose cardinality defeats dictionaries at
    * real scale anyway. Declaring it makes the layout deterministic. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
      ndv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "need at least one bloom column")
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    w.parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ⌈totalBytes / targetBytes⌉ files. The operational pressure-valve
    * every long-lived 100-TB table needs — streaming sinks, partitioned
    * upserts, and per-batch merges all accrete KB-scale files until
    * task scheduling and footer reads dominate scan time.
    *
    * `coalesce`, NOT `repartition`: compaction reduces file count, and
    * coalesce does it with ZERO shuffle — each output task just reads
    * several input files end-to-end. (repartition would round-robin
    * every row through an exchange to achieve the same file count; use
    * it only if pathological input skew must be rebalanced, which a
    * compaction of same-schema small files doesn't exhibit.) Returns
    * (filesBefore, bytesBefore, filesAfter). */
  def compactFiles(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): (Int, Long, Int) = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    def dataFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hp).toIndexedSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
    }
    val before = dataFiles(inPath)
    val bytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath).coalesce(nOut)
      .write.mode("overwrite").parquet(outPath)
    (before.size, bytes, dataFiles(outPath).size)
  }

  /** Z-order clustering for write layout: range-partition + sort by the
    * Morton z-value of two columns so each output file covers a compact
    * box in BOTH dimensions — parquet min/max footer stats then prune
    * scans filtered on either column (single-column sort only prunes
    * its own column). One range exchange, one in-partition sort; the
    * curve itself is a narrow codegen expression
    * ([[graft.functions.ZValue]]). Columns are masked to `bits` low
    * bits (callers with wider domains bucket/scale first). */
  def zorderBy(df: DataFrame, c1: String, c2: String, bits: Int = 16,
      numFiles: Int = 64): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val mask = (1L << bits) - 1
    val z = toColumn(graft.functions.ZValue(
      toExpr(col(c1).cast("long").bitwiseAND(mask)),
      toExpr(col(c2).cast("long").bitwiseAND(mask)), bits))
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }

  /** Hilbert clustering — [[zorderBy]] with the tighter curve
    * ([[graft.functions.HilbertD]]): consecutive curve positions are
    * always grid neighbors (no Morton diagonal jumps), so each output
    * file's min/max rectangle is tighter and stats pruning cuts more.
    * Same plan shape: one range exchange, one in-partition sort, the
    * curve a narrow codegen expression. */
  def hilbertBy(df: DataFrame, c1: String, c2: String, bits: Int = 16,
      numFiles: Int = 64): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val mask = (1L << bits) - 1
    val h = toColumn(graft.functions.HilbertD(
      toExpr(col(c1).cast("long").bitwiseAND(mask)),
      toExpr(col(c2).cast("long").bitwiseAND(mask)), bits))
    df.withColumn("_h", h)
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
  }

  /** 3-D Hilbert clustering ([[graft.functions.HilbertD3]]) — training-
    * data layouts cluster on THREE keys at once (source, lang, quality
    * bucket); the 2-D curve forces one of them out of the clustering,
    * the 3-D curve keeps all three with the same bijectivity/adjacency
    * guarantees. Same plan shape as [[hilbertBy]]. */
  def hilbertBy3(df: DataFrame, c1: String, c2: String, c3: String,
      bits: Int = 10, numFiles: Int = 64): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val mask = (1L << bits) - 1
    val h = toColumn(graft.functions.HilbertD3(
      toExpr(col(c1).cast("long").bitwiseAND(mask)),
      toExpr(col(c2).cast("long").bitwiseAND(mask)),
      toExpr(col(c3).cast("long").bitwiseAND(mask)), bits))
    df.withColumn("_h", h)
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
  }

  /** Per-partition-directory row counts and min/max of a LONG column
    * read from parquet FOOTERS ONLY — the data-skipping audit: exactly
    * what a stats-pruning reader knows without touching one data page
    * (the write-side complement of the PushedFilters/DPP evidence in
    * LayoutSpec). The oracle gate recomputes the same numbers from the
    * data, so a footer that lies (or a writer that stops producing
    * stats) fails loudly.
    *
    * Scale shape: the driver does one bounded recursive LISTING; the
    * footer reads — one metadata fetch per file — fan out over the
    * cluster via parallelize + reduceByKey per directory. */
  def footerStats(spark: SparkSession, dir: String, column: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits.newProductEncoder

    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        files += st.getPath.getParent.getName -> st.getPath.toString
    }
    val sconf = new SerializableHadoopConf(conf)
    val stats = spark.sparkContext
      .parallelize(files.toSeq, math.max(1, math.min(files.size, 32)))
      .map { case (part, f) =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), sconf.value))
        try {
          val blocks = r.getFooter.getBlocks.asScala
          val rows = blocks.map(_.getRowCount).sum
          val mm = blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == column)
              .map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty)
              .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
          }
          (part, (rows, mm.map(_._1).min, mm.map(_._2).max))
        } finally r.close()
      }
      .reduceByKey((a: (Long, Long, Long), b: (Long, Long, Long)) =>
        (a._1 + b._1, math.min(a._2, b._2), math.max(a._3, b._3)))
      .map { case (part, (rows, mn, mx)) => (part, rows, mn, mx) }
    spark.createDataFrame(stats).toDF("part_dir", "n_rows", "min_val", "max_val")
  }
}

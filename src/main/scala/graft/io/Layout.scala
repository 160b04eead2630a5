package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout helpers for the 100 TB deployment (SURVEY §4.1): a
  * deterministic salting helper for skewed join keys, bloom-filtered
  * writes for point lookups, and a footer-only stats audit.
  */
object Layout {

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

package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Iterate

/** The storage under [[Iterate.loopBarrier]]: each barrier keeps its
  * rows as length-prefixed UnsafeRow bytes in ~1 MiB chunks, sized by
  * summing the chunk lengths. Pins that every column type the loops
  * carry comes back as it went in (NULLs included), that a partition
  * spills over chunk boundaries and an oversized row gets a chunk of
  * its own, that the leaf's `sizeInBytes` is 4 × the exact packed
  * bytes, and that a superseded round's chunks leave the block
  * manager. `BarrierProbeSpec` pins the empty barrier (0 bytes). */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  private val chunkBytes = 1 << 20

  /** Chunk lengths of each partition of the barrier under `frame`. */
  private def chunks(frame: DataFrame): Seq[Seq[Int]] =
    packed(frame).mapPartitions(it => Iterator.single(it.map(_.length).toList))
      .collect().toSeq

  private def packed(frame: DataFrame): RDD[Array[Byte]] =
    GraftSqlShim.barrierRdd(frame).dependencies.head.rdd
      .asInstanceOf[RDD[Array[Byte]]]

  private def sizeInBytes(frame: DataFrame): BigInt =
    frame.queryExecution.optimizedPlan.stats.sizeInBytes

  private def cached(id: Int): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == id)

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private val types = Seq[(String, DataType, Seq[Any])](
    ("long", LongType, Seq(Long.MinValue, -1L, 0L, Long.MaxValue)),
    ("int", IntegerType, Seq(Int.MinValue, 0, 7, Int.MaxValue)),
    ("double", DoubleType, Seq(-1.5, 0.0, 1e-300, Double.MaxValue)),
    ("boolean", BooleanType, Seq(true, false, true, false)),
    ("string", StringType, Seq("", "a", "ünïcode", "x" * 300)),
    ("array<float>", ArrayType(FloatType), Seq(Seq.empty[Float],
      Seq(1.5f, -2.25f), Seq(0f), Seq.tabulate(64)(_.toFloat))),
    ("struct", StructType(Seq(StructField("x", IntegerType),
        StructField("y", StringType))),
      Seq(Row(1, "a"), Row(null, "b"), Row(3, null), Row(4, "d" * 40))))

  types.foreach { case (name, dt, values) =>
    test(s"$name column round-trips with a NULL") {
      val rows = (values :+ null).zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
      val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("id", LongType), StructField("v", dt))))
      val frame = Iterate.loopBarrier(in)
      assert(frame.schema === in.schema)
      assert(sorted(frame) === rows)
      // operators that buffer rows copy them off the reused row
      assert(sorted(frame.groupBy($"id").agg(first($"v").as("v"))) === rows)
    }
  }

  test("the probe equals a count and a sum over the input") {
    val in = spark.range(0, 5000, 1, 4)
      .select($"id", when($"id" % 7 === 0, lit(null)).otherwise($"id" * 3).as("d"),
        ($"id" % 3 === 0).as("b"))
    val (_, st) = Iterate.loopBarrierProbe(in, Seq("d", "b"))
    val want = in.agg(count($"d"), sum($"d"), count($"b"),
      sum($"b".cast("long"))).head
    assert(st.toSeq === Seq((want.getLong(0), want.getLong(1)),
      (want.getLong(2), want.getLong(3))))
  }

  test("sizeInBytes is 4x the packed bytes, which are exact") {
    // one long column: an 8-byte null bitset, an 8-byte slot and a
    // 4-byte length prefix per row
    val frame = Iterate.loopBarrier(spark.range(0, 1000, 1, 3).toDF("id"))
    assert(chunks(frame).flatten.sum === 1000 * 20)
    assert(sizeInBytes(frame) === BigInt(4 * 1000 * 20))
  }

  test("a partition spans several chunks, none past the chunk size") {
    val in = spark.range(0, 40000, 1, 1)
      .select($"id", concat(lit("row-"), $"id".cast("string"), lit("x" * 40)).as("s"))
    val frame = Iterate.loopBarrier(in)
    val parts = chunks(frame)
    assert(parts.size === 1 && parts.head.size >= 2, s"chunks $parts")
    assert(parts.head.forall(_ <= chunkBytes))
    assert(frame.count() === 40000L)
    assert(frame.agg(sum(length($"s"))).head.getLong(0) ===
      in.agg(sum(length($"s"))).head.getLong(0))
  }

  test("a row larger than a chunk gets a chunk of its own") {
    val big = "y" * (chunkBytes + 100)
    val rows = Seq(Row(0L, "a"), Row(1L, big), Row(2L, "b"))
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    val frame = Iterate.loopBarrier(in)
    val lens = chunks(frame).flatten
    assert(lens.size === 3 && lens(1) > chunkBytes, s"chunks $lens")
    assert(sorted(frame) === rows)
  }

  test("a superseded round's packed chunks leave the block manager") {
    val df = spark.range(0, 100, 1, 2).toDF("id")
    Iterate.loop("Barrier", 3) { l =>
      l.round()
      val first = Iterate.loopBarrier(df)
      val id = packed(first).id
      assert(cached(id))
      l.round()
      assert(!cached(id))
    }
  }
}

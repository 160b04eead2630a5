package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // the production session's settings, static confs included: they
      // bind on the FIRST session of the JVM, so this one must carry them
      .config(LocalSession.shared)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sf0001

  // every suite shares the session: a frame a suite left cached (its own
  // fixtures, or an operator's internal persist) would turn a later
  // suite's scan of the same table into an InMemoryTableScan
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach(_.catalog.clearCache())
    finally super.afterAll()
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** A query build owns what it materializes (the rule on
  * [[graft.ext.CacheScope]]): its persists, the loop barriers its result
  * reads and its scratch dirs live while the caller consumes the frame,
  * and go when the next build starts on the same thread. */
class LifetimeSpec extends SparkSpec {

  private def sc = spark.sparkContext

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Cached relations a plan, analyzed afresh, reads. */
  private def cachedReads(plan: LogicalPlan): Int =
    GraftSqlShim.ofRows(spark, plan).queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r }.size

  /** The top-level scratch dirs a frame's files lie in. */
  private def scratchDirs(df: DataFrame): Set[Path] = {
    val root = graft.io.Scratch.root
    df.inputFiles.map(f => Paths.get(new java.net.URI(f)))
      .filter(_.startsWith(root))
      .map(p => root.resolve(root.relativize(p).getName(0))).toSet
  }

  /** What one consumed build holds. */
  private case class Held(query: String, rdds: Set[Int], dirs: Set[Path],
      plan: LogicalPlan)

  test("a query build owns its persists, barriers and scratch dirs until " +
      "the next build starts") {
    val order = Seq("s18_snapshot_roundtrip", "ext_pagerank", "ext_dedup_minhash_lsh")
    val want = order.map(q => q -> rows(SparkEntry.queries(q)(spark, sfDir))).toMap
    var prev: Option[Held] = None
    order.foreach { q =>
      val before = sc.getPersistentRDDs.keySet
      val df = SparkEntry.queries(q)(spark, sfDir)
      prev.foreach { p =>
        val rdds = p.rdds & sc.getPersistentRDDs.keySet
        assert(rdds.isEmpty, s"${p.query}'s RDDs $rdds outlived the build of $q")
        assert(cachedReads(p.plan) === 0,
          s"${p.query}'s cached relations outlived the build of $q")
        val dirs = p.dirs.filter(Files.exists(_))
        assert(dirs.isEmpty, s"${p.query}'s scratch dirs $dirs outlived the build of $q")
      }
      df.write.format("noop").mode("overwrite").save()
      val held = Held(q, sc.getPersistentRDDs.keySet.toSet -- before,
        scratchDirs(df), df.queryExecution.logical)
      // nothing the frame reads is freed early
      assert(rows(df) === want(q), q)
      q match {
        case "s18_snapshot_roundtrip" => assert(held.dirs.nonEmpty)
        case "ext_pagerank" => assert(held.rdds.nonEmpty)
        case _ => assert(held.rdds.nonEmpty && cachedReads(held.plan) > 0)
      }
      prev = Some(held)
    }
  }

  test("building ext_ktruss and writing it to noop submits no failed job") {
    val (_, log) = JobLog.of(spark) {
      SparkEntry.queries("ext_ktruss")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    assert(log.failedJobs.isEmpty, log.failedJobs.mkString("\n", "\n", ""))
  }
}

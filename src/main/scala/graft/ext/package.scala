package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

package object ext {
  /** Session-free `$"colName"` interpolator (mirrors spark.implicits). */
  implicit class ColInterpolator(private val sc: StringContext) extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** The one persist spelling graft operators use: MEMORY_AND_DISK,
    * with the lifetime the rule on [[CacheScope]] gives it. */
  private[graft] implicit class ScopedPersist(private val df: DataFrame) extends AnyVal {
    def persistScoped: DataFrame = CacheScope.persist(df)
  }

  /** The one spread rule, for operators whose per-row work dwarfs their
    * scan (tokenizing cascades, pair scoring): a table that arrives as
    * fewer partitions than task slots (one row group) would run the whole
    * operator in a few tasks, so it is hash-partitioned on `key` (a
    * deterministic column: retries reproduce the split) to
    * `defaultParallelism`. Any other input comes back unchanged, and so
    * does one whose count takes a job to learn: a stream has none, and a
    * plan with an exchange or a subquery, also inside a cache it scans,
    * would run those stages (and is at shuffle width already). */
  private[graft] def spreadToSlots(df: DataFrame, key: String): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (!df.isStreaming && jobFree(df.queryExecution.executedPlan) &&
        df.rdd.getNumPartitions < slots) df.repartition(slots, col(key))
    else df
  }

  private def jobFree(plan: SparkPlan): Boolean = !plan.exists {
    case _: Exchange | _: AdaptiveSparkPlanExec => true
    case s: InMemoryTableScanExec => !jobFree(s.relation.cachedPlan)
    case p => p.subqueries.nonEmpty
  }
}

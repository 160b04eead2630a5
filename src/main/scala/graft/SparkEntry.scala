package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.CacheScope
import graft.queries.{AggQueries, AnnotationQueries, EventQueries, FilterQueries, ExtQueries, FunctionQueries, JoinQueries, LinkageQueries, MergeQueries, RetrievalQueries, SortSetQueries, SourceQueries, StatQueries, TpchQueries, WindowQueries, GeoQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator declared done in SURVEY.md §2 has a [[queries]] entry
  * (Spark implementation) and, where SQL-expressible, an [[oracleSql]]
  * entry (equivalent DuckDB SQL over the same parquet tables). Column
  * names are aliased identically on both sides — the driver sorts columns
  * by name before hashing values.
  */
object SparkEntry {

  private val groups: Seq[QueryGroup] = Seq(
    AggQueries, AnnotationQueries, EventQueries, FilterQueries, ExtQueries, FunctionQueries, JoinQueries, LinkageQueries, GeoQueries, MergeQueries, RetrievalQueries, SortSetQueries, SourceQueries, StatQueries, TpchQueries, WindowQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.projectSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * is a query build that owns what it materializes, until the next
    * build starts on the same thread (the rule on
    * [[graft.ext.CacheScope]]). So a caller must not read one query's
    * frame after it starts another build on the same thread: build,
    * consume, then build the next. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> ((spark: SparkSession, dir: String) => CacheScope.build(fn(spark, dir)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap
}

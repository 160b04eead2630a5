package graft

import java.nio.file.{Files, Path, StandardCopyOption}

/** [[Tables.load]] learns a table's schema once per file state: a second
  * load of unchanged files submits no Spark job, and a file rewritten in
  * place is inferred again. */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  /** Writes `df` as the single parquet file `<dir>/<name>.parquet`,
    * replacing whatever file was there. */
  private def writeTable(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val staged = Files.createTempDirectory("graft-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val part = staged.toFile.listFiles().filter(_.getName.startsWith("part-")).head.toPath
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged table submits no Spark job") {
    val dir = Files.createTempDirectory("graft-tables")
    Files.copy(java.nio.file.Paths.get(sfDir, "nation.parquet"),
      dir.resolve("nation.parquet"))
    val (first, cold) = JobLog.of(spark)(Tables.load(spark, dir.toString, "nation"))
    assert(cold.jobs.nonEmpty, "the first load infers the schema with a job")
    val (second, warm) = JobLog.of(spark)(Tables.load(spark, dir.toString, "nation"))
    assert(warm.jobs.isEmpty, s"second load submitted jobs: ${warm.stageNames}")
    assert(second.schema === first.schema)
    assert(second.collect().toSet === first.collect().toSet)
  }

  test("a table rewritten in place with a new schema loads with the new schema") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(Seq((1L, "a")).toDF("id", "x"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("id", "x"))
    writeTable(Seq((2L, 2.5, "b")).toDF("id", "y", "z"), dir, "t")
    val reloaded = Tables.load(spark, dir.toString, "t")
    assert(reloaded.columns.toSeq === Seq("id", "y", "z"))
    assert(reloaded.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq === Seq((2L, 2.5, "b")))
  }
}

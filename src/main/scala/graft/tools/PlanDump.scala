package graft.tools

/** Optimization-round evidence capture: write `explain("formatted")` for
  * named gate queries to files (`plans/r21/<query>_<tag>.txt`), so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <tag> <dataDir> q1 q2 ..."
  *
  * Queries whose registered function trains/collects eagerly (the
  * iterative trainers) return a LocalRelation-backed frame; for those the
  * dump still records the returned frame's plan — the per-round job plans
  * are captured separately where an optimization targets them.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <outDir> <tag> <dataDir> <query>...")
    val (outDir, tag, dir) = (args(0), args(1), args(2))
    val names = args.drop(3)
    val spark = graft.Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"),
        txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/${q}_$tag.txt")
      graft.CacheScope.releaseAll()
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}

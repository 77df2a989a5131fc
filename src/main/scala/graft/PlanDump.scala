package graft


/** Optimization-round tooling: dump `explain("formatted")` for declared
  * queries WITHOUT executing them, so plan claims in the optimization
  * round's log are checkable against committed artifacts (the
  * `plans/rNN/` before/after text files). Usage:
  *
  *   tools/run_class.sh graft.PlanDump <sfDir> <outDir> q_a,q_b[,...]
  *
  * Same session as [[Bench]] ([[Sessions.local]] at $SPARK_GRAFT_CPUS
  * cores) so the dumped plan is the plan the bench times. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt,
      java.nio.file.Files.createTempDirectory("graft-plan-wh").toString)
    CacheConfig.current = CacheConfig(sparkCacheDir =
      java.nio.file.Files.createTempDirectory("graft-plan-cache").toString + "/")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"$n.txt"),
        txt.getBytes("UTF-8"))
      println(s"WROTE $n (${txt.length} chars)")
    }
    spark.stop()
  }
}

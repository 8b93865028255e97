package graft.tools

/** Dev loop: dump `.explain("formatted")` for a list of queries to
  * per-query files (the judge-facing plan evidence under plans/rNN/), and
  * optionally time each with min-of-N in the same JVM so before/after
  * comparisons share one session's JIT/codegen state.
  *
  * `runMain graft.tools.PlanDump <outDir> <suffix> [--time=N] [--sf=DIR] q1 q2 ...`
  * writes `<outDir>/<q><suffix>.txt`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val reps = args.find(_.startsWith("--time=")).map(_.drop(7).toInt).getOrElse(0)
    val sfDir = args.find(_.startsWith("--sf=")).map(_.drop(5))
      .getOrElse("/root/testdata/sf0.1")
    val names = args.drop(2).filterNot(_.startsWith("--"))
    val spark = graft.GraftSession("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def cleanup(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.PrintWriter(s"$outDir/$name$suffix.txt")
      try f.println(plan) finally f.close()
      cleanup()
      if (reps > 0) {
        spark.sparkContext.setJobDescription(name)
        var rows = 0L
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          rows = fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          cleanup()
          dt
        }
        val ts = times.map(t => f"$t%.3f").mkString(",")
        println(f"TIMED $name rows=$rows%d min=${times.min}%.3f times=[$ts]")
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}

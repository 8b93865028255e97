package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entry point (the data-directory
  * CLIs, Verify, Bench, PlanDump) and the test suites build their
  * session here, so a test-time plan is the bench-time plan.
  *
  * The UTC session timezone and `nanosAsLong` are what
  * [[graft.core.Tables.load]] needs to normalise every `events.ts`
  * parquet layout (TIMESTAMP(NANOS), timestamp[us] read as NTZ) to an
  * exact tz-aware timestamp. Shuffle partitions follow the core count
  * the master resolved to.
  */
object GraftSession {

  /** `SPARK_MASTER` (a deployment setting) wins; else
    * `local[$SPARK_GRAFT_CPUS]`; else every local core.
    */
  def defaultMaster(env: Map[String, String]): String =
    env.get("SPARK_MASTER")
      .orElse(env.get("SPARK_GRAFT_CPUS").map(n => s"local[$n]"))
      .getOrElse("local[*]")

  def apply(appName: String,
      master: String = defaultMaster(sys.env)): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark
  }
}

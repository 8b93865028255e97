package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run measured. `metrics` are the end-to-end figures of an
  * untraced window, `layers` the per-layer figures of a traced run, and
  * `details` workload-specific figures that are printed but not gated.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layers(n) = (v, unit)
  def detail(n: String, v: Double, unit: String): Unit = details(n) = (v, unit)

  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", " ") + "\""
  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${str(k)}:{\"value\":$num,\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},""" +
      s""""layers":${obj(layers)},"details":${obj(details)},""" +
      s""""errors":${errors.map(str).mkString("[", ",", "]")}}"""
}

/** Entry point of the benchmark JVM; `perfbench/run.py` starts it.
  *
  * {{{
  * perfbench.Main --workload dashboard --run-dir <dir> --seconds 5 \
  *   --trace 0 --seed 1 --out <result.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = Runtime.getRuntime.availableProcessors
    val scratch = runDir.resolve("spark")
    Files.createDirectories(scratch)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Result
    try workload match {
      case "dashboard" | "export" | "append" =>
        val serving = new Serving(spark, runDir, seconds, seed, out)
        try serving.workload(workload, trace) finally serving.finish()
      case "pipeline" =>
        new Pipeline(spark, runDir, seconds, seed, out).run(trace)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        out.errors += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
        out.failed = math.max(1, out.failed)
        out.attempted = math.max(out.attempted, out.failed)
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a("out")), out.json)
      spark.stop()
    }
    // HTTP client and server pools hold non-daemon threads
    System.exit(0)
  }
}

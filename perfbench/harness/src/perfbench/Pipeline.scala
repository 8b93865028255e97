package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

object Pipeline {
  /** The fixed subset of driver queries, each with a DuckDB oracle, mapped
    * to the module it mainly exercises. No driver query calls
    * graft.streaming directly; "streaming" is the events-stream family.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q_text_repetition" -> "functions", "q_ann_ivfpq" -> "ann",
    "q_dedup_index" -> "operators", "q_image_thumbnail" -> "multimodal",
    "q_seq_idxroute" -> "seq", "q_events_funnel" -> "streaming",
    "q_window_rank" -> "relational")

  /** Queries whose first call builds a persisted index: preprocessing. */
  val Persisted: Seq[String] = Seq("q_dedup_index", "q_seq_idxroute")

  val Modules: Seq[String] = Queries.map(_._2).distinct
}

/** `pipeline`: one driver thread runs the subset in passes over seeded
  * tables. Every result is materialized in full — every column, in result
  * order — into a parquet file that the DuckDB oracle check reads after
  * the run (perfbench/tables.py); `count()` is never the timed body.
  */
final class Pipeline(spark: SparkSession, runDir: Path, seconds: Double,
    seed: Long, out: Result) {
  import Pipeline._

  private val defs = SparkEntry.queries
  private val runs = new ConcurrentHashMap[String, AtomicInteger]()
  private var attempted = 0L

  private def writeOracle(): Unit = {
    val node = Check.mapper.createObjectNode()
    val sql = SparkEntry.oracleSql
    Queries.foreach { case (q, _) => node.put(q, sql(q)) }
    Files.writeString(runDir.resolve("oracle_sql.json"), node.toString)
  }

  private def copyTables(name: String): Path = {
    val dst = runDir.resolve(name)
    Files.createDirectories(dst)
    Files.list(runDir.resolve("tables")).iterator().asScala.foreach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    dst
  }

  private def cleanup(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Persisted-index preprocessing of a fresh table directory. */
  private def preprocess(dir: Path): Double = {
    val t0 = System.nanoTime()
    Persisted.foreach(q => defs(q)(spark, dir.toString).write.format("noop").mode("overwrite").save())
    cleanup()
    (System.nanoTime() - t0) / 1e9
  }

  /** One query, materialized into its next result file; returns seconds. */
  private def runQuery(q: String, module: String, dir: Path, layers: Option[Layers]): Double = {
    val n = runs.computeIfAbsent(q, _ => new AtomicInteger).incrementAndGet()
    val path = runDir.resolve("results").resolve(q).resolve(n.toString).toString
    attempted += 1
    val t0 = System.nanoTime()
    def body(): Unit = defs(q)(spark, dir.toString).write.parquet(path)
    layers match {
      case Some(l) => l.tracer.span(s"pipeline.$module")(l.grouped(s"bench:$module:exec")(body()))
      case None => body()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    cleanup()
    dt
  }

  private def pass(dir: Path, layers: Option[Layers]): Seq[(String, String, Double)] =
    Queries.map { case (q, m) => (q, m, runQuery(q, m, dir, layers)) }

  /** Whole passes, at least two, until `seconds` have passed; (per-query
    * times of each pass, elapsed seconds). Two passes take longer than the
    * usual `seconds`, so every run holds the same number of them.
    */
  private def window(dir: Path, layers: Option[Layers]): (Seq[Seq[(String, String, Double)]], Double) = {
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[Seq[(String, String, Double)]]
    var n = 0
    while (n < 2 || System.nanoTime() - t0 < seconds * 1e9) {
      passes += pass(dir, layers)
      n += 1
    }
    (passes.result(), (System.nanoTime() - t0) / 1e9)
  }

  /** qps of the fastest whole pass, and latency quantiles over each
    * query's fastest run: min-of-N, because a burst of CPU steal on a
    * shared host inflates one pass, rarely all of them.
    */
  private def report(passes: Seq[Seq[(String, String, Double)]],
      prefix: String, put: (String, Double, String) => Unit): Unit = {
    val lat = passes.flatten.groupBy(_._1).values.map(_.map(_._3).min * 1000).toSeq
    put(prefix + "qps", Queries.size / passes.map(_.map(_._3).sum).min, "1/s")
    put(prefix + "latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
    put(prefix + "latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
  }

  def run(trace: Boolean): Unit = {
    writeOracle()
    val setups = (0 until (if (trace) 1 else 2)).map(i => copyTables(s"tables-$i"))
      .map(d => d -> preprocess(d))
    out.metric("setup_s", Stats.quantile(setups.map(_._2), 0.5), "s")
    for (((_, s), i) <- setups.zipWithIndex) out.detail(s"setup_${i + 1}_s", s, "s")
    val dir = setups.last._1
    pass(dir, None) // warm-up; its answers are checked too
    // peak_rss_mb covers the window only, not the preprocessing
    out.detail("peak_rss_before_window_mb", Host.peakRssMb(), "MB")
    out.detail("peak_rss_window_only", if (Host.resetPeakRss()) 1 else 0, "flag")
    val cpu0 = Host.snapshot()
    val (passes, elapsed) = window(dir, None)
    out.detail("window_s", elapsed, "s")
    val (steal, busy) = Host.shares(cpu0, Host.snapshot())
    report(passes, "", out.metric)
    out.metric("peak_rss_mb", Host.peakRssMb(), "MB")
    out.detail("samples", passes.flatten.size, "count")
    out.detail("batch_s", Stats.quantile(passes.map(_.map(_._3).sum), 0.5), "s")
    for ((p, i) <- passes.zipWithIndex) out.detail(s"pass_${i + 1}_s", p.map(_._3).sum, "s")
    for ((q, _) <- Queries)
      out.detail(s"latency_p50_ms.$q", Stats.quantile(passes.flatten.filter(_._1 == q).map(_._3 * 1000), 0.5), "ms")
    out.detail("host.steal_pct", steal, "%")
    out.detail("host.cpu_busy_pct", busy, "%")
    if (trace) {
      out.layer("host.steal_pct", steal, "%")
      out.layer("host.cpu_busy_pct", busy, "%")
      val layers = new Layers(spark)
      val (tPasses, _) = window(dir, Some(layers))
      report(tPasses, "traced.", out.detail)
      out.layer("trace.overhead_qps", out.details("traced.qps")._1 - out.metrics("qps")._1, "1/s")
      out.layer("trace.overhead_p50_ms",
        out.details("traced.latency_p50_ms")._1 - out.metrics("latency_p50_ms")._1, "ms")
      moduleLayers(tPasses)
      layers.listener.drain()
      val ops = tPasses.flatten.size.toDouble
      val s = layers.listener.total(g => Modules.exists(m => g == s"bench:$m:exec"))
      Exec.report(s, ops, out)
      out.layer("exec.task_cpu_ms", s.cpuNs.get / 1e6 / ops, "ms")
      val rows = Queries.map { case (q, _) =>
        spark.read.parquet(runDir.resolve("results").resolve(q).resolve("1").toString).count()
      }.sum * tPasses.size
      out.layer("exec.rows_read_per_row_returned", s.recordsRead.get.toDouble / math.max(1L, rows), "ratio")
      // the serving layers of the same traced run, on the seeded SILO data
      val serving = new Serving(spark, runDir, seconds, seed, out)
      try serving.layersOnly(layers) finally serving.finish()
      layers.finish(runDir, out)
    }
    out.attempted += attempted
  }

  private def moduleLayers(passes: Seq[Seq[(String, String, Double)]]): Unit =
    for (m <- Modules)
      out.layer(s"pipeline.${m}_s",
        Stats.quantile(passes.map(_.filter(_._2 == m).map(_._3).sum), 0.5), "s")

  /** The pipeline.* figures in a traced run of a serving workload: the
    * subset once after its preprocessing, answers checked as well.
    */
  def layers(layers: Layers): Unit = {
    writeOracle()
    val dir = copyTables("tables-probe")
    preprocess(dir)
    moduleLayers(Seq(pass(dir, Some(layers))))
    out.attempted += attempted
  }
}

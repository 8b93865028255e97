package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import graft.core.Database
import graft.lang.{Parser, Planner}
import graft.seq.{Mutations, SequenceModel}
import graft.sources.NdjsonIngest

/** The per-layer half of a traced serving run: the mix replayed in
  * process with a span around each layer call (Spark work attributed by
  * job group), and single-layer probes on the served data directory.
  * `ownExec` says whether the mix is the run's own workload, whose Spark
  * work the exec.* figures describe.
  */
final class Probes(spark: SparkSession, serving: Serving, dir: Path,
    layers: Layers, out: Result, ownExec: Boolean) {

  private val tracer = layers.tracer
  private val listener = layers.listener

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[T](span: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(span)(layers.grouped(s"bench:probe:$span")(body))
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def medianOf(reps: Int, span: String)(body: => Any): Double =
    Stats.quantile((0 until reps).map(_ => timed(span)(body)._2), 0.5)

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private final case class Rec(op: Op, parseMs: Double, planMs: Double,
      catalystMs: Double, execMs: Double, rows: Long) {
    def totalMs: Double = parseMs + planMs + catalystMs + execMs
  }

  def run(traced: Seq[Sample], ops: Seq[Op], port: Int): Unit = {
    val input = serving.inputs(dir)
    val stateDir = Some(dir.resolve("state").toString)
    // ---- core: load the live state (the catalog the replay plans against)
    val (catalog, loadedS) = timed("core.build_loaded")(
      Database.build(spark, dir.toString, input, stateDir))
    out.layer("core.build_loaded_s", loadedS, "s")

    // ---- lang + exec: the mix replayed in process -------------------------
    // one query of each kind
    val recs = serving.oneOfEachKind(ops).map { op =>
      val t0 = System.nanoTime()
      val expr = tracer.span("lang.parse")(Parser.parse(op.text))
      val t1 = System.nanoTime()
      val df = tracer.span("lang.plan")(layers.grouped(s"bench:${op.kind}:plan")(
        new Planner(catalog).planTable(expr).df))
      val t2 = System.nanoTime()
      tracer.span("lang.catalyst")(df.queryExecution.executedPlan)
      val t3 = System.nanoTime()
      val n = tracer.span("exec.run")(layers.grouped(s"bench:${op.kind}:exec")(
        df.collect().length.toLong))
      Rec(op, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        (System.nanoTime() - t3) / 1e6, n)
    }
    listener.drain()
    def med(f: Rec => Double) = Stats.quantile(recs.map(f), 0.5)
    out.layer("lang.parse_ms", med(_.parseMs), "ms")
    out.layer("lang.plan_ms", med(_.planMs), "ms")
    out.layer("lang.catalyst_ms", med(_.catalystMs), "ms")
    def execFor(kinds: Set[String], suffix: String): Unit = {
      val mine = recs.filter(r => kinds.contains(r.op.kind))
      val s = listener.total(g => kinds.exists(k => g.startsWith(s"bench:$k:")))
      val n = math.max(1, mine.size).toDouble
      out.layer(s"exec.task_cpu_ms$suffix", s.cpuNs.get / 1e6 / n, "ms")
      out.layer(s"exec.rows_read_per_row_returned$suffix",
        s.recordsRead.get.toDouble / math.max(1L, mine.map(_.rows).sum), "ratio")
      if (suffix.isEmpty) Exec.report(s, n, out)
    }
    if (ownExec) execFor(ops.map(_.kind).toSet, "")
    execFor(Set("nuc_rare"), ".nuc_rare")
    execFor(Set("nuc_common"), ".nuc_common")

    // ---- server: HTTP latency minus the in-process cost of the same query
    val ok = traced.filter(_.ok)
    val overhead = recs.groupBy(_.op.id).toSeq.flatMap { case (id, rs) =>
      val http = ok.filter(_.op.id == id).map(_.totalNs / 1e6)
      if (http.isEmpty) None
      else Some(Stats.quantile(http, 0.5) - Stats.quantile(rs.map(_.totalMs), 0.5))
    }
    out.layer("server.overhead_ms", Stats.quantile(overhead, 0.5), "ms")
    for (r <- recs) out.detail(s"replay_ms.${r.op.id}", r.totalMs, "ms")

    // ---- sources + seq: single-layer probes over the served input ---------
    val (schema, _) = Database.inputSchema(spark, dir.toString)
    val paths = input.split(",").toSeq
    out.layer("sources.ndjson_scan_s", medianOf(2, "sources.ndjson_scan")(
      noop(NdjsonIngest.read(spark, paths, schema))), "s")
    val ref = Database.parseReferenceGenomes(spark,
      dir.resolve("reference_genomes.json").toString)._1("main")
    // the call Database.build makes at ingest, offset column included
    def diffed = SequenceModel.diff(
      NdjsonIngest.read(spark, paths, schema)
        .withColumn("__seq", col("main.sequence")),
      "__seq", ref, Set("N"), offset = coalesce(col("main.offset"), lit(0)),
      prefix = "main_")
    out.layer("seq.diff_s", medianOf(2, "seq.diff")(noop(diffed)), "s")
    out.layer("seq.mutations_s", medianOf(2, "seq.mutations")(
      Mutations.mutations(diffed, ref, 0.05, "main_").collect()), "s")

    // ---- core: an append build on a copy of the served state ---------------
    val copy = dir.resolveSibling(dir.getFileName.toString + "-append-probe")
    Files.walk(dir).iterator().asScala.toSeq.foreach(f =>
      Files.copy(f, copy.resolve(dir.relativize(f).toString)))
    Files.copy(java.nio.file.Paths.get(serving.batches(paths.size - 1)),
      copy.resolve("append-%06d.ndjson".format(paths.size)))
    out.layer("core.build_append_s", timed("core.build_append")(Database.build(
      spark, copy.toString, serving.inputs(copy), Some(copy.resolve("state").toString)))._2, "s")
    val inputBytes = paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum
    out.layer("core.state_bytes_per_input_byte",
      bytesUnder(dir.resolve("state")).toDouble / inputBytes, "ratio")
    val indexLayers = Option(dir.resolve("state").resolve("index").toFile.listFiles())
      .getOrElse(Array()).toSeq.flatMap { d =>
        val meta = new java.io.File(d, "meta.json")
        if (!meta.isFile) None
        else Option(Check.mapper.readTree(meta).get("layers")).map(_.size)
      }.sum
    out.layer("core.index_layers", indexLayers, "count")
  }
}

/** The exec.* figures of a set of job groups, per operation. */
object Exec {
  def report(s: ExecStats, ops: Double, out: Result): Unit = {
    out.layer("exec.run_ms", s.runNs.get / 1e6 / ops, "ms")
    out.layer("exec.jobs", s.jobs.get / ops, "count")
    out.layer("exec.tasks", s.tasks.get / ops, "count")
    out.layer("exec.gc_ms", s.gcMs.get / ops, "ms")
    out.layer("exec.input_mb", s.inputBytes.get / 1e6 / ops, "MB")
    out.layer("exec.shuffle_mb", s.shuffleBytes.get / 1e6 / ops, "MB")
    out.layer("exec.spill_mb", s.spillBytes.get / 1e6 / ops, "MB")
  }
}

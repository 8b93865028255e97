package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.server.QueryServer
import graft.tools.{Append, Preprocess, Serve}

/** One request of a mix: a query id, its text, and the response format. */
final case class Op(id: String, kind: String, text: String, arrow: Boolean)

/** One completed request. `state` is the data version it was checked
  * against (the number of committed append batches).
  */
final case class Sample(op: Op, startNs: Long, ttfbNs: Long, totalNs: Long,
    bytes: Long, ok: Boolean, state: Int)

/** The serving side, driven only through graft's public entry points:
  * Preprocess.run, Serve.boot, Append.run and POST /query. Every answer
  * is checked against the generator's truth for the data version the
  * response reports.
  */
final class Serving(spark: SparkSession, runDir: Path, seconds: Double,
    seed: Long, out: Result) {

  private val truth: JsonNode = Check.mapper.readTree(runDir.resolve("truth.json").toFile)
  private val rowsAt: Seq[Long] = truth.get("rows").elements().asScala.map(_.asLong).toSeq
  private val countQuery = truth.get("count_query").asText
  private val expectById: Map[String, JsonNode] =
    (truth.get("dashboard").elements().asScala.map(q => q.get("id").asText -> q.get("states")) ++
      truth.get("export").elements().asScala.map(q =>
        q.get("id").asText -> Check.mapper.createArrayNode().add(q.get("expect")))).toMap
  val dashboardOps: Seq[Op] = truth.get("dashboard").elements().asScala.map(q =>
    Op(q.get("id").asText, q.get("kind").asText, q.get("text").asText, arrow = false)).toSeq
  /** Large results: metadata of most rows and reconstructed sequences,
    * alternating NDJSON and Arrow.
    */
  val exportOps: Seq[Op] = {
    val qs = truth.get("export").elements().asScala.toSeq
    def op(i: Int, arrow: Boolean) =
      Op(qs(i).get("id").asText, qs(i).get("kind").asText, qs(i).get("text").asText, arrow)
    Seq(op(0, false), op(1, true), op(0, true), op(1, false))
  }
  private val cores = Runtime.getRuntime.availableProcessors
  val clients: Int = math.min(4, cores)
  /** Whole passes a measured window holds at least. One pass of the mix
    * takes about as long as the usual `seconds`, so with one the window
    * would flip between one and two passes from run to run.
    */
  private val WindowPasses = 2

  private val errors = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong
  private val failed = new AtomicLong

  def finish(): Unit = {
    out.attempted += attempted.get
    out.failed += failed.get
    errors.asScala.take(20).foreach(out.errors += _)
  }

  // ---- data directories and server lifecycle -----------------------------

  def copyData(name: String): Path = {
    val dst = runDir.resolve(name)
    Files.createDirectories(dst)
    Files.list(runDir.resolve("data")).iterator().asScala.foreach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    dst
  }

  def batches: Seq[String] = Files.list(runDir.resolve("batches")).iterator().asScala
    .map(_.toString).toSeq.sorted

  /** The served input: input.ndjson plus the committed append files. */
  def inputs(dir: Path): String = {
    val appends = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("append-\\d+\\.ndjson")).toSeq.sorted
    (Seq("input.ndjson") ++ appends).map(n => dir.resolve(n).toString).mkString(",")
  }

  private def boot(dir: Path): QueryServer =
    Serve.boot(spark, Map("dataDirectory" -> dir.toString, "api.port" -> "0"),
      accessSink = _ => ())

  private def countIs(r: Resp, state: Int): Boolean =
    r.status == 200 && Check.ndjsonRows(r.body).headOption
      .flatMap(_.get("n")).contains(rowsAt(state).toDouble)

  /** Poll until the server answers the row count of the base data. */
  private def awaitReady(s: QueryServer): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (true) {
      val r = Http.post(s.boundPort, countQuery)
      if (countIs(r, 0)) return
      if (r.status != 503 && r.status != 200)
        throw new IllegalStateException(s"server answered ${r.status}: " +
          new String(r.body, "UTF-8").take(300))
      if (System.nanoTime() > deadline) throw new IllegalStateException("server never ready")
      Thread.sleep(10)
    }
  }

  /** Fresh preprocess plus server start until the first correct answer,
    * `reps` times; returns the seconds of each, those of the last
    * preprocess alone, and the last server and its directory, which stay up.
    */
  def setup(reps: Int): (Seq[Double], Double, QueryServer, Path) = {
    var last: (QueryServer, Path) = null
    var preprocess = 0.0
    val times = (0 until reps).map { i =>
      val dir = copyData(s"setup-$i")
      val t0 = System.nanoTime()
      Preprocess.run(spark, Map("dataDirectory" -> dir.toString))
      preprocess = (System.nanoTime() - t0) / 1e9
      val s = boot(dir)
      awaitReady(s)
      val dt = (System.nanoTime() - t0) / 1e9
      if (last != null) last._1.stop()
      last = (s, dir)
      dt
    }
    (times, preprocess, last._1, last._2)
  }

  /** Boot on existing state until the first correct answer. */
  def restart(dir: Path): Double = {
    val t0 = System.nanoTime()
    val s = boot(dir)
    try awaitReady(s) finally s.stop()
    (System.nanoTime() - t0) / 1e9
  }

  // ---- requests ------------------------------------------------------------

  /** Send one request and check its answer against the truth for the data
    * version the response reports.
    */
  def request(port: Int, op: Op, tracer: Tracer): Sample = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val (ok, r, state) = try {
      val r = tracer.span("server.request")(Http.post(port, op.text, op.arrow))
      // the data version is "<input files>:<hash>"; files = 1 + appends
      val state = r.version.takeWhile(_ != ':').toIntOption.map(_ - 1).getOrElse(-1)
      val states = expectById(op.id)
      val why =
        if (r.status != 200) Some(s"HTTP ${r.status}: " + new String(r.body, "UTF-8").take(200))
        else if (state < 0 || state >= states.size()) Some(s"unknown data version ${r.version}")
        else Check.compare(states.get(state), Check.rows(r))
      why.foreach(w => errors.add(s"${op.id}${if (op.arrow) " (arrow)" else ""}: $w"))
      (why.isEmpty, r, state)
    } catch {
      case e: Exception =>
        errors.add(s"${op.id}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        (false, Resp(0, "", "", Array.emptyByteArray, 0L, System.nanoTime() - t0), -1)
    }
    if (!ok) failed.incrementAndGet()
    Sample(op, t0, r.ttfbNs, r.totalNs, r.body.length.toLong, ok, state)
  }

  /** A closed loop of `n` clients: each sends its next request when the
    * previous one has been answered. Requests come from one shared sequence
    * of permutations of `ops` (fixed per `salt`, the same for every seed),
    * and the window ends at the first pass boundary after `passes` whole
    * passes and `secs` seconds (or at `stop()`), so every window holds whole
    * passes of the mix; with `secs` = 0 it is exactly `passes` passes.
    */
  def closedLoop(port: Int, n: Int, ops: Seq[Op], passes: Int, secs: Double, tracer: Tracer,
      salt: Int, stop: () => Boolean = () => false): (Seq[Sample], Double) = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val start = System.nanoTime()
    val deadline = start + (secs * 1e9).toLong
    val lastEnd = new AtomicLong(start)
    val lock = new Object
    var next = 0
    var closed = false
    val order = scala.collection.mutable.Map.empty[Int, IndexedSeq[Op]]
    // (request number, request), or None once the window is over
    def take(): Option[(Int, Op)] = lock.synchronized {
      if (!closed && next % ops.size == 0 && next >= passes * ops.size &&
          System.nanoTime() >= deadline) closed = true
      if (closed || stop()) None
      else {
        val p = order.getOrElseUpdate(next / ops.size,
          new scala.util.Random(salt * 100 + next / ops.size).shuffle(ops).toIndexedSeq)
        next += 1
        Some((next - 1, p((next - 1) % ops.size)))
      }
    }
    val threads = (0 until n).map { c =>
      new Thread(() => {
        var item = take()
        while (item.isDefined) {
          val (i, op) = item.get
          val s = tracer.withRequest(salt * 1000000L + i + 1)(request(port, op, tracer))
          samples.add(s)
          lastEnd.accumulateAndGet(s.startNs + s.totalNs, math.max)
          item = take()
        }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.asScala.toSeq, (lastEnd.get - start) / 1e9)
  }

  def oneOfEachKind(ops: Seq[Op]): Seq[Op] =
    ops.groupBy(o => (o.kind, o.arrow)).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)

  /** qps and latency quantiles of a window's correct answers. */
  def report(samples: Seq[Sample], elapsed: Double, prefix: String,
      put: (String, Double, String) => Unit): Unit = {
    val lat = samples.filter(_.ok).map(_.totalNs / 1e6)
    put(prefix + "qps", lat.size / math.max(elapsed, 1e-9), "1/s")
    put(prefix + "latency_p50_ms", Stats.quantile(lat, 0.5), "ms")
    put(prefix + "latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
  }

  // ---- the serving workloads -----------------------------------------------

  /** `dashboard`: min(4, cores) clients over the mix; `export`: one client
    * downloading large results; `append`: two clients over the mix while
    * one writer commits seeded batches beside them.
    */
  def workload(name: String, trace: Boolean): Unit = {
    val (n, ops) = name match {
      case "dashboard" => (clients, dashboardOps)
      case "export" => (1, exportOps)
      case "append" => (math.min(2, cores), dashboardOps)
    }
    // a traced run reports per-layer figures only: one set-up suffices
    val (setups, preprocess, server, dir) = setup(if (trace) 1 else 2)
    try {
      out.metric("setup_s", Stats.quantile(setups, 0.5), "s")
      for ((s, i) <- setups.zipWithIndex) out.detail(s"setup_${i + 1}_s", s, "s")
      val port = server.boundPort
      // restart is measured in traced runs only: it costs a boot per run
      if (trace) out.detail("restart_s", restart(dir), "s")
      val w0 = System.nanoTime()
      closedLoop(port, n, ops, 1, 0, Tracer.off, 3) // JIT and codegen warm-up
      out.detail("warmup_s", (System.nanoTime() - w0) / 1e9, "s")
      // peak_rss_mb covers the window only, not the set-up's preprocessing
      out.detail("peak_rss_before_window_mb", Host.peakRssMb(), "MB")
      out.detail("peak_rss_window_only", if (Host.resetPeakRss()) 1 else 0, "flag")
      val cpu0 = Host.snapshot()
      val (samples, elapsed) =
        if (name == "append") withWriter(port, dir, "", None)(stop =>
          closedLoop(port, n, ops, WindowPasses, seconds, Tracer.off, 1, stop))
        else closedLoop(port, n, ops, WindowPasses, seconds, Tracer.off, 1)
      val (steal, busy) = Host.shares(cpu0, Host.snapshot())
      report(samples, elapsed, "", out.metric)
      out.metric("peak_rss_mb", Host.peakRssMb(), "MB")
      val ok = samples.filter(_.ok)
      out.detail("samples", samples.size, "count")
      out.detail("window_s", elapsed, "s")
      out.detail("ttfb_p50_ms", Stats.quantile(ok.map(_.ttfbNs / 1e6), 0.5), "ms")
      out.detail("mb_per_s", ok.map(_.bytes).sum / 1e6 / math.max(elapsed, 1e-9), "MB/s")
      for ((kind, ks) <- ok.groupBy(_.op.kind))
        out.detail(s"latency_p50_ms.$kind", Stats.quantile(ks.map(_.totalNs / 1e6), 0.5), "ms")
      out.detail("host.steal_pct", steal, "%")
      out.detail("host.cpu_busy_pct", busy, "%")
      if (trace) {
        out.layer("host.steal_pct", steal, "%")
        out.layer("host.cpu_busy_pct", busy, "%")
        val layers = new Layers(spark)
        val (tSamples, tElapsed) =
          if (name == "append") withWriter(port, dir, "traced.", Some(layers))(stop =>
            closedLoop(port, n, ops, WindowPasses, seconds, layers.tracer, 2, stop))
          else closedLoop(port, n, ops, WindowPasses, seconds, layers.tracer, 2)
        report(tSamples, tElapsed, "traced.", out.detail)
        out.layer("trace.overhead_qps", out.details("traced.qps")._1 - out.metrics("qps")._1, "1/s")
        out.layer("trace.overhead_p50_ms",
          out.details("traced.latency_p50_ms")._1 - out.metrics("latency_p50_ms")._1, "ms")
        // the dashboard mix's own traced requests, when this run has them
        val mixSamples =
          if (name == "export") closedLoop(port, clients, dashboardOps, 1, 0, layers.tracer, 4)._1 else tSamples
        servingLayers(layers, server, dir, mixSamples, preprocess, ownExec = true)
        // how much of the end-to-end figures one pass of per-row sequence
        // work makes up at this scale
        out.detail("share.seq_diff_of_setup",
          out.layers("seq.diff_s")._1 / out.metrics("setup_s")._1, "ratio")
        out.detail("share.seq_mutations_of_p90",
          out.layers("seq.mutations_s")._1 * 1000 / out.metrics("latency_p90_ms")._1, "ratio")
        new Pipeline(spark, runDir, seconds, seed, out).layers(layers)
        layers.finish(runDir, out)
      }
    } finally server.stop()
  }

  /** The per-layer figures of the serving side in a traced run of the
    * `pipeline` workload: one set-up, one traced pass of the mix.
    */
  def layersOnly(layers: Layers): Unit = {
    val (_, preprocess, server, dir) = setup(1)
    try {
      val traced = closedLoop(server.boundPort, clients, dashboardOps, 1, 0, layers.tracer, 2)._1
      servingLayers(layers, server, dir, traced, preprocess, ownExec = false)
    } finally server.stop()
  }

  /** In-process replay and layer probes, one pass of the export requests,
    * and one commit; `traced` are traced HTTP requests of the mix.
    */
  private def servingLayers(layers: Layers, server: QueryServer, dir: Path,
      traced: Seq[Sample], preprocessS: Double, ownExec: Boolean): Unit = {
    val port = server.boundPort
    out.layer("core.build_fresh_s", preprocessS, "s")
    new Probes(spark, this, dir, layers, out, ownExec).run(traced, dashboardOps, port)
    val ex = exportOps.map(op => request(port, op, layers.tracer)).filter(_.ok)
    out.layer("server.ttfb_ms", Stats.quantile(ex.map(_.ttfbNs / 1e6), 0.5), "ms")
    out.layer("server.stream_ms", Stats.quantile(ex.map(s => (s.totalNs - s.ttfbNs) / 1e6), 0.5), "ms")
    out.layer("server.bytes_per_response",
      if (ex.isEmpty) 0.0 else ex.map(_.bytes).sum.toDouble / ex.size, "bytes")
    out.layer("server.export_mb_per_s",
      ex.map(_.bytes).sum / 1e6 / math.max(1e-9, ex.map(_.totalNs).sum / 1e9), "MB/s")
    // one commit, made visible by the writer's own polling, then the mix
    // once more against the grown data
    withWriter(port, dir, "probe.", Some(layers), commits = 1)(stop => {
      while (!stop()) Thread.sleep(20)
      (Nil, 0.0)
    })
    out.layer("tools.append_commit_s", out.details("probe.append_commit_s")._1, "s")
    out.layer("core.append_visible_s", out.details("probe.visible_s")._1, "s")
    layers.listener.drain()
    out.layer("sources.append_validate_s",
      layers.listener.total(_ == "bench:append:commit").runNs.get / 1e9 /
        math.max(1.0, out.details("probe.commits")._1), "s")
    val after = closedLoop(port, 1, oneOfEachKind(dashboardOps), 1, 0, Tracer.off, 5)._1.filter(_.ok)
    out.layer("server.append_reader_p50_ms", Stats.quantile(after.map(_.totalNs / 1e6), 0.5), "ms")
    out.layer("server.info_ms", Stats.quantile((0 until 20).map(_ =>
      layers.tracer.span("server.info")(Http.get(port, "/info")).totalNs / 1e6), 0.5), "ms")
  }

  /** Run `body` with the writer beside it: it commits the next seeded
    * batch with Append.run, waits until a request sees the new data
    * version and row count (`visible`), and repeats, at most `commits`
    * times. `body` gets a stop signal: the batches are done.
    */
  private def withWriter(port: Int, dir: Path, prefix: String, layers: Option[Layers],
      commits: Int = Int.MaxValue)(
      body: (() => Boolean) => (Seq[Sample], Double)): (Seq[Sample], Double) = {
    val commitS = new ConcurrentLinkedQueue[Double]()
    val visibleS = new ConcurrentLinkedQueue[Double]()
    @volatile var done = false
    @volatile var readersDone = false
    val writer = new Thread(() => {
      try {
        val base = Files.list(dir).iterator().asScala
          .count(_.getFileName.toString.matches("append-\\d+\\.ndjson"))
        batches.drop(base).take(commits).iterator.takeWhile(_ => !readersDone)
          .zipWithIndex.foreach { case (b, i) =>
            val state = base + i + 1
            val t0 = System.nanoTime()
            def commit() = Append.run(spark, Map("dataDirectory" -> dir.toString, "appendFile" -> b))
            layers match {
              case Some(l) => l.tracer.span("tools.append_run")(l.grouped("bench:append:commit")(commit()))
              case None => commit()
            }
            val t1 = System.nanoTime()
            commitS.add((t1 - t0) / 1e9)
            attempted.incrementAndGet()
            var seen = false
            while (!seen && System.nanoTime() - t1 < 60L * 1000000000L) {
              val r = Http.post(port, countQuery)
              seen = r.version.takeWhile(_ != ':') == (state + 1).toString && countIs(r, state)
              if (!seen) Thread.sleep(5)
            }
            if (!seen) throw new IllegalStateException(s"commit $state not visible after 60 s")
            visibleS.add((System.nanoTime() - t1) / 1e9)
          }
      } catch {
        case e: Exception =>
          errors.add(s"append writer: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed.incrementAndGet()
      } finally done = true
    }, "bench-writer")
    writer.start()
    val res = try body(() => done) finally { readersDone = true; writer.join() }
    out.detail(prefix + "append_commit_s", Stats.quantile(commitS.asScala.toSeq, 0.5), "s")
    out.detail(prefix + "visible_s", Stats.quantile(visibleS.asScala.toSeq, 0.5), "s")
    out.detail(prefix + "commits", commitS.size, "count")
    res
  }
}

object Stats {
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

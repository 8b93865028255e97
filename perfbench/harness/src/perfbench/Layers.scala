package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Spark work per job group, summed from task-end events. */
final class ExecStats {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runNs = new AtomicLong      // job submission to job end
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def add(o: ExecStats): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get)
    runNs.addAndGet(o.runNs.get); cpuNs.addAndGet(o.cpuNs.get)
    gcMs.addAndGet(o.gcMs.get); inputBytes.addAndGet(o.inputBytes.get)
    recordsRead.addAndGet(o.recordsRead.get)
    shuffleBytes.addAndGet(o.shuffleBytes.get)
    spillBytes.addAndGet(o.spillBytes.get)
  }
}

/** One ended Spark job: its group, submission time (epoch ms) and run time. */
final case class Job(group: String, startMs: Long, runNs: Long)

/** Attributes every Spark job, and the tasks of its stages, to the job
  * group it was submitted under. The benchmark tags in-process work with
  * `bench:<kind>:<phase>#<n>` (see Layers.grouped); the server tags its
  * own with `http-query-<uuid>`.
  */
final class ExecListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  val byGroup = new ConcurrentHashMap[String, ExecStats]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  private def stats(g: String) = byGroup.computeIfAbsent(g, _ => new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    stats(g).jobs.incrementAndGet()
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
      stats(g).runNs.addAndGet((e.time - t0) * 1000000L)
      jobs.add(Job(g, t0, (e.time - t0) * 1000000L))
    }
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrDefault(e.stageId, "none"))
      s.tasks.incrementAndGet()
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Wait until every started job has been reported ended (the listener
    * bus is asynchronous), at most `ms` milliseconds.
    */
  def drain(ms: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + ms
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (started.get == ended.get) stable += 1 else stable = 0
    }
  }

  /** Sum of the groups whose name, without its `#<n>` tag, satisfies `p`. */
  def total(p: String => Boolean): ExecStats = {
    val t = new ExecStats
    byGroup.asScala.foreach { case (g, s) => if (p(g.takeWhile(_ != '#'))) t.add(s) }
    t
  }
}

/** One recorded call into a layer. */
final case class Span(id: Int, parent: Int, name: String, request: Long,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ns: Long = endNs - startNs
}

/** In-memory span recorder: spans stay in memory until the run ends and
  * are written out then. Parent links follow the calling thread's stack.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def withRequest[T](req: Long)(body: => T): T = {
    val prev = request.get
    request.set(req)
    try body finally request.set(prev)
  }

  def currentId: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = currentId
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, request.get, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Each span's duration minus its children's. */
  def ownNs: Map[Int, Long] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    all.map(s => s.id -> math.max(0L, s.ns - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** The spans as NDJSON, each with the Spark job time attributed to it. */
  def write(path: java.nio.file.Path, execNs: Map[Int, Long]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""exec_ns":${execNs.getOrElse(s.id, 0L)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** Host CPU accounting from /proc/stat: steal and busy shares between two
  * snapshots, so a steal storm can be told apart from a regression.
  */
object Host {
  final case class Cpu(busy: Long, steal: Long, total: Long)

  def snapshot(): Cpu = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).getOrElse("cpu 0 0 0 0 0 0 0 0")
    val f = line.split("\\s+").drop(1).map(_.toLong)
    def at(i: Int) = if (i < f.length) f(i) else 0L
    // user nice system idle iowait irq softirq steal
    val idle = at(3) + at(4)
    val steal = at(7)
    val total = (0 until math.min(f.length, 8)).map(at).sum
    Cpu(total - idle - steal, steal, total)
  }

  def shares(a: Cpu, b: Cpu): (Double, Double) = {
    val dt = math.max(1L, b.total - a.total).toDouble
    (100.0 * (b.steal - a.steal) / dt, 100.0 * (b.busy - a.busy) / dt)
  }

  /** Reset this process's VmHWM to its current resident set (Linux
    * clear_refs 5), so a later peakRssMb() covers only what follows;
    * false when the kernel refuses it.
    */
  def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: java.io.IOException => false }

  /** Peak resident set of this JVM, from /proc/self/status VmHWM. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** The traced half of a run: one span recorder and one Spark listener,
  * registered for the rest of the run.
  */
final class Layers(spark: org.apache.spark.sql.SparkSession) {
  val tracer = new Tracer(true)
  val listener = new ExecListener
  spark.sparkContext.addSparkListener(listener)
  /** Listener event time (epoch ms) to the tracer's nanoTime base. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val tags = new AtomicInteger
  /** Job group tag -> the span it was set under. */
  private val spanOfGroup = new ConcurrentHashMap[String, Integer]()

  /** Run `body` with its Spark jobs tagged `group#<n>`, a tag of its own
    * that ties them to the enclosing span.
    */
  def grouped[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val tag = s"$group#${tags.incrementAndGet()}"
    spanOfGroup.put(tag, tracer.currentId)
    sc.setJobGroup(tag, group)
    try body finally sc.clearJobGroup()
  }

  /** Run intervals of the ended jobs, in the tracer's time base, by job
    * group; a job outside any group is a group of its own.
    */
  private def jobsByGroup: Seq[(String, Seq[(Long, Long)])] =
    listener.jobs.asScala.toSeq.zipWithIndex.map { case (j, i) =>
      val start = j.startMs * 1000000L - epochNs
      (if (j.group == "none") s"none#$i" else j.group, (start, start + j.runNs))
    }.groupMap(_._1)(_._2).toSeq

  /** Wall time of the Spark work the harness started under each span: the
    * union of the run intervals of the jobs in the groups set under it,
    * clipped to the span (the jobs of one query can overlap, so their run
    * times do not add up).
    */
  private def ownExecNs(spans: Seq[Span], groups: Seq[(String, Seq[(Long, Long)])]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    groups.flatMap { case (g, iv) =>
      Option(spanOfGroup.get(g)).map(_.intValue).filter(byId.contains).map(_ -> iv)
    }.groupMap(_._1)(_._2).map { case (id, ivs) =>
      id -> covered(ivs.flatten, byId(id).startNs, byId(id).endNs)
    }
  }

  /** Wall time of the server's Spark work in the traced requests: the union
    * of the run intervals of each server group (`http-query-<uuid>`, or a
    * single job outside any group) whose first job starts while a
    * `server.*` span is open, summed over the groups. A group serves one
    * request, so the sum is the requests' Spark time; the groups carry no
    * request id, so it is not split by request.
    */
  private def serverExecNs(spans: Seq[Span], groups: Seq[(String, Seq[(Long, Long)])]): Long = {
    val requests = spans.filter(_.layer == "server")
    groups.filterNot(g => spanOfGroup.containsKey(g._1)).map { case (_, iv) =>
      val first = iv.map(_._1).min
      if (requests.exists(r => r.startNs <= first && first < r.endNs))
        covered(iv, Long.MinValue, Long.MaxValue)
      else 0L
    }.sum
  }

  /** Length of the union of `[start, end)` intervals within `[lo, hi)`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s, e) <- iv.sortBy(_._1)) {
      val (a, b) = (math.max(s, reach), math.min(e, hi))
      if (b > a) { total += b - a; reach = b }
    }
    total
  }

  /** Self time per layer and the spans, written next to the run. A span's
    * self time is its duration minus its children's and minus the Spark
    * work attributed to it, which counts as `exec` instead; the server's
    * Spark work comes off the `server` layer as a whole.
    */
  def finish(runDir: java.nio.file.Path, out: Result): Unit = {
    listener.drain()
    spark.sparkContext.removeSparkListener(listener)
    val spans = tracer.spans.asScala.toSeq
    val own = tracer.ownNs
    val groups = jobsByGroup
    val execNs = ownExecNs(spans, groups).map { case (id, ns) => id -> math.min(ns, own(id)) }
    val byLayer = spans.groupMapReduce(_.layer)(s => own(s.id) - execNs.getOrElse(s.id, 0L))(_ + _)
    val server = math.min(serverExecNs(spans, groups), byLayer.getOrElse("server", 0L))
    val self = byLayer.updatedWith("server")(_.map(_ - server))
      .updatedWith("exec")(e => Some(e.getOrElse(0L) + execNs.values.sum + server))
    for (l <- Layers.Names) out.layer(s"self.${l}_ms", self.getOrElse(l, 0L) / 1e6, "ms")
    out.detail("server.spark_ms", server / 1e6, "ms")
    tracer.write(runDir.resolve("spans.ndjson"), execNs)
  }
}

object Layers {
  /** The layers spans are recorded for: graft's modules as the benchmark
    * calls into them.
    */
  val Names = Seq("lang", "exec", "seq", "sources", "core", "server", "tools", "pipeline")
}

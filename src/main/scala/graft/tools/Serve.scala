package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.Database
import graft.server.QueryServer

/** Standalone serve CLI — the analog of the reference's `rhydb api`
  * entry point (app/src/api.cpp:36) with its runtime-config layering
  * (src/silo/config/runtime_config.cpp, config/source/): the effective
  * config is built as defaults < default-runtime-config file <
  * runtime-config file < environment < command line, with
  * reference-identical key names where the surface matches.
  *
  * {{{
  * graft.tools.Serve --data-directory /data --api-port 8081
  * GRAFT_API_PORT=8082 graft.tools.Serve --runtime-config runtime.yaml
  * }}}
  *
  * Key paths (YAML form; CLI `--api-max-queued-http-connections`, env
  * `GRAFT_API_MAX_QUEUED_HTTP_CONNECTIONS` derive mechanically, exactly
  * like the reference's CommandLineArguments/EnvironmentVariables
  * `configKeyPathToString`):
  *   - `dataDirectory` — dir holding `database_config.yaml`,
  *     `reference_genomes.json`, `input.ndjson[.zst|.xz]` (preprocessing
  *     input; persisted indexes land under `<dataDirectory>/state`)
  *   - `api.port` (default 8081, like the reference)
  *   - `api.maxQueuedHttpConnections` — request dispatch bound
  *   - `api.estimatedStartupTimeInMinutes` — 503 Retry-After while loading
  *   - `api.softMemoryLimit` — MB; the monitor requests GC above it
  *   - `api.accessLog` — per-request log lines (bool)
  *   - `api.memoryMonitorSeconds` — periodic heap/RSS gauge
  *   - `query.materializationCutoff` — Arrow rows per RecordBatch
  *   - `query.timeoutInSeconds` — per-batch-wait cancellation deadline
  *
  * The server starts BEFORE the database loads (503 + Retry-After until
  * the first build commits — error_request_handler.cpp:30-44) and
  * hot-swaps when the input files change (the directory-watcher
  * contract: the supplier re-fingerprints the input per request and
  * rebuilds only on change).
  *
  * Deployment envelope: a serve process and any concurrent WRITERS
  * (another serve, a library appender, the maintenance loop) must share
  * one POSIX filesystem — the commit coordination is advisory file
  * locks plus atomic renames ([[graft.core.DirLock]] has the full
  * contract and the object-storage caveat). Read-only replicas may
  * point anywhere the layer dirs are visible.
  */
object Serve {

  /** The recognized dotted key paths (YAML form). */
  val Keys: Seq[String] = Seq(
    "dataDirectory", "runtimeConfig", "defaultRuntimeConfig",
    "api.port", "api.maxQueuedHttpConnections",
    "api.estimatedStartupTimeInMinutes", "api.softMemoryLimit",
    "api.accessLog", "api.accessLogFile", "api.accessLogMaxBytes",
    "api.memoryMonitorSeconds",
    "query.materializationCutoff", "query.timeoutInSeconds",
    // periodic self-tending (≙ the reference's directory-watcher
    // sidecar, app/src/silo_directory_watcher.cpp): compact long
    // version chains, gc unreferenced layers, sync registered ANN
    // feeds — see [[Maintenance]]
    "maintenance.intervalSeconds", "maintenance.maxLayers",
    "maintenance.retainCommits")

  // a shared runtime_config.yaml may carry append/preprocess keys —
  // skip them instead of failing (see KeyedConfig.tolerate)
  private val config = new KeyedConfig(Keys,
    boolKeys = Set("api.accessLog"),
    tolerate = Append.Keys.toSet ++ Preprocess.Keys.toSet,
    defaults = Map("api.port" -> "8081"))

  def parseArgs(args: Seq[String]): Map[String, String] =
    config.parseArgs(args)
  def parseYamlFile(path: String): Map[String, String] =
    config.parseYamlFile(path)

  def resolve(args: Seq[String], env: Map[String, String]): Map[String, String] =
    config.resolve(args, env)

  /** Map the resolved settings onto [[QueryServer.ServerConfig]];
    * `accessSink` receives access-log/monitor lines when enabled.
    */
  def serverConfig(m: Map[String, String],
      accessSink: String => Unit = line => println(s"[access] $line"))
      : QueryServer.ServerConfig = {
    val base = QueryServer.ServerConfig()
    QueryServer.ServerConfig(
      arrowBatchRows = m.get("query.materializationCutoff").map(_.trim.toInt)
        .getOrElse(base.arrowBatchRows),
      timeoutSeconds = m.get("query.timeoutInSeconds").map(_.trim.toLong)
        .getOrElse(base.timeoutSeconds),
      maxConnections = m.get("api.maxQueuedHttpConnections").map(_.trim.toInt)
        .getOrElse(base.maxConnections),
      estimatedStartupEnd = m.get("api.estimatedStartupTimeInMinutes")
        .map(min => java.time.Instant.now()
          .plus(java.time.Duration.ofMinutes(min.trim.toLong))),
      accessLog =
        if (m.get("api.accessLog").exists(_.trim.toBoolean)) Some(accessSink)
        else None,
      memoryMonitorSeconds = m.get("api.memoryMonitorSeconds").map(_.trim.toLong),
      softMemoryLimitMb = m.get("api.softMemoryLimit").map(_.trim.toLong))
  }

  /** The input NDJSON under the data directory (plain or compressed). */
  private def inputPath(dataDir: String): String =
    Seq("input.ndjson", "input.ndjson.zst", "input.ndjson.xz")
      .map(n => new java.io.File(dataDir, n))
      .find(_.isFile)
      .map(_.getPath)
      .getOrElse(sys.error(
        s"no input.ndjson[.zst|.xz] under data directory $dataDir"))

  /** The FULL current input set as a comma-separated list: the original
    * input plus every `append-*.ndjson[.zst|.xz]` committed by the
    * append CLI ([[Append]] — ≙ the reference's `rhydb append` writing a
    * new data version next to the existing state). Resolved per
    * fingerprint/build call so a running server picks appends up on its
    * normal hot-swap path.
    */
  private val warnedLooseAppend =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[tools] def currentInput(dataDir: String): String = {
    val numbered = "append-(\\d+)\\.ndjson(\\.zst|\\.xz)?".r
    (Seq(inputPath(dataDir)) ++
      Option(new java.io.File(dataDir).list()).getOrElse(Array())
        .flatMap {
          // NUMERIC order by the parsed sequence (with the name as a
          // tiebreak for same-seq different-suffix leftovers): a
          // lexicographic sort would place append-1000000 before
          // append-999999 once seq outgrows the %06d padding, silently
          // breaking the naming's implied chronological order
          case n @ numbered(d, _) => Some((d.toLong, n))
          // the pre-round-15 loose shape (append-backfill.ndjson,
          // append-1-fix.ndjson.zst): an existing deployment's data
          // must keep serving on upgrade, never silently vanish from
          // the input set — loose names order AFTER every numbered
          // commit (they predate the numeric contract), lexicographic
          // among themselves, with a warning so the operator renames
          case n if n.startsWith("append-") &&
              (n.endsWith(".ndjson") || n.endsWith(".ndjson.zst") ||
                n.endsWith(".ndjson.xz")) =>
            // warn ONCE per distinct name: currentInput runs on every
            // hot-swap poll, and a deployment keeping a legacy-named
            // file would otherwise spam one line per poll forever
            if (warnedLooseAppend.add(n))
              System.err.println(s"[serve] append file '$n' does not " +
                "match append-<seq>.ndjson[.zst|.xz]; serving it after " +
                "all numbered commits (rename to restore explicit ordering)")
            Some((Long.MaxValue, n))
          case _ => None
        }
        .sortBy { case (seq, n) => (seq, n) }
        .map { case (_, n) => new java.io.File(dataDir, n).getPath })
      .mkString(",")
  }

  /** A synchronized access-log sink appending to `path`, rotating to
    * `path.1` once the live file reaches `maxBytes` (one rotated
    * generation — bounded disk for the reference's long-running
    * deployment shape; operators tail the live file). Writes are
    * open-append-close per line: crash-safe, and access-log volume is
    * request-bounded, never row-bounded.
    */
  def rotatingSink(path: String, maxBytes: Long): String => Unit = {
    val lock = new Object
    line => lock.synchronized {
      val p = java.nio.file.Paths.get(path)
      try {
        if (java.nio.file.Files.exists(p) &&
            java.nio.file.Files.size(p) >= maxBytes)
          java.nio.file.Files.move(p, java.nio.file.Paths.get(path + ".1"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.writeString(p, line + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch {
        // the log must never take the server down
        case t if scala.util.control.NonFatal(t) =>
          System.err.println(s"[serve] access-log write failed: ${t.getMessage}")
      }
    }
  }

  /** Boot the server from resolved settings: starts listening
    * immediately (503 + Retry-After until the first catalog build
    * commits), loads in the background, hot-swaps on input change.
    * Returns the running server; the caller owns `stop()`.
    */
  def boot(spark: SparkSession, m: Map[String, String],
      accessSink: String => Unit = line => println(s"[access] $line"))
      : QueryServer = {
    val dataDir = m.getOrElse("dataDirectory",
      sys.error("dataDirectory is required (--data-directory <dir>)"))
    inputPath(dataDir) // fail fast when the base input is missing
    val inner = QueryServer.cachedSupplier(
      // the input set is re-resolved per fingerprint/build: an appended
      // `append-*.ndjson` commit changes the fingerprint and hot-swaps
      // exactly like an edited input file
      () => Database.inputFingerprint(spark, currentInput(dataDir)),
      _ => Database.build(spark, dataDir, currentInput(dataDir),
        stateDir = Some(new java.io.File(dataDir, "state").getPath)))
    @volatile var bootFailure: Option[Throwable] = None
    @volatile var ready = false
    val supplier: () => (graft.lang.Planner.Catalog, String) = () => {
      bootFailure.foreach(t => throw new IllegalStateException(
        s"database load failed: ${t.getMessage}", t))
      if (!ready) throw new QueryServer.UninitializedCatalog
      inner()
    }
    val port = m.get("api.port").map(_.trim.toInt).getOrElse(8081)
    // `api.accessLogFile` routes the access log to a size-rotated file
    // instead of the caller's sink (stdout by default)
    val sink: String => Unit = m.get("api.accessLogFile") match {
      case Some(f) => rotatingSink(f,
        m.get("api.accessLogMaxBytes").map(_.trim.toLong)
          .getOrElse(10L * 1024 * 1024))
      case None => accessSink
    }
    // /info surfaces the newest persisted maintenance-tick report (the
    // reference's watcher surfaces data-version progression through the
    // API header the same way) — present whenever any tick ever ran,
    // whether by this server's timer or an operator's manual pass
    val server = new QueryServer(supplier, port,
      serverConfig(m, sink).copy(
        infoExtra = Some(() => Maintenance.lastReportLine(dataDir))))
    server.start()
    // periodic maintenance rides the server's lifetime on a daemon
    // thread; a tick failure logs and retries next interval — it can
    // never take the server down (Maintenance.tick guards per target)
    m.get("maintenance.intervalSeconds").map(_.trim.toLong).foreach { iv =>
      Maintenance.start(spark, dataDir, iv,
        maxLayers = m.get("maintenance.maxLayers").map(_.trim.toInt)
          .getOrElse(8),
        retainCommits = m.get("maintenance.retainCommits")
          .map(_.trim.toInt).getOrElse(2))
    }
    // the loader RETRIES until the first build commits: a transient
    // failure (input still being copied, flaky storage) must not poison
    // the server forever — each attempt's failure is surfaced on stderr
    // AND through the supplier (500s carry the message) until a later
    // attempt succeeds and the normal hot-swap takes over
    val loader = new Thread(() => {
      try {
        while (!ready) {
          // NonFatal only: an OutOfMemoryError (or other fatal) must
          // crash the loader loudly, not silently retry forever; an
          // interrupt (shutdown) exits the loop instead of being
          // swallowed by the catch
          try { inner(); bootFailure = None; ready = true }
          catch {
            case t if scala.util.control.NonFatal(t) =>
              bootFailure = Some(t)
              System.err.println(s"[serve] database load failed " +
                s"(retrying in 10s): ${t.getMessage}")
              Thread.sleep(10000)
          }
        }
      } catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }, "graft-serve-bootstrap")
    loader.setDaemon(true)
    loader.start()
    server
  }

  def main(args: Array[String]): Unit =
    config.main(args, "Serve",
      "HTTP query API over a data directory") { (spark, m) =>
      val server = boot(spark, m)
      println(s"[serve] listening on port ${server.boundPort}")
      // serve until killed; the JDK server threads are non-daemon anyway
      Thread.currentThread().join()
    }
}

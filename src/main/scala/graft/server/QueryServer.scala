package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Sort}
import graft.lang.Planner
import graft.lang.Planner.{Catalog, QueryError}
import graft.lang.{Lexer, Parser}

/** HTTP query surface (reference: app/src/query_handler.cpp,
  * request_handler_factory.cpp:45-59, lineage_definition_handler.cpp):
  *   GET  /health                      → 200 {"status":"ok"}
  *   GET  /info                        → DB metadata (tables, data version)
  *   GET  /lineageDefinition/{column}  → the column's lineage YAML
  *   POST /query                       → SaneQL body → NDJSON / Arrow IPC
  * Responses carry the `data-version` header (≙ DataVersion hot-swap
  * contract) and echo `X-Request-Id`; /query additionally reports
  * `result-ordering` — the JSON-serialized sort keys of the plan's root
  * (query_handler.cpp:62-65, query_plan.cpp:16-29). Invalid queries → 400
  * with the typed planner/parser message; runtime failures → 500; queries
  * exceeding the timeout (reference DEFAULT_TIMEOUT_TWO_MINUTES) are
  * cancelled via the Spark job group and → 500, mirroring
  * query_plan.cpp:111-123.
  *
  * Results stream via `toLocalIterator` — bounded memory on the server,
  * backpressure to Spark (≙ the reference's ThrottledBatchReslicer /
  * materialization cutoff).
  *
  * `catalogSupplier` is re-invoked PER REQUEST: a supplier backed by
  * versioned tables re-resolves their `latest` pointers, so a version
  * appended while the server runs is visible to the next query with the
  * new `data-version` header and NO restart — the Spark analog of the
  * reference's directory-watcher hot swap (silo_directory_watcher.cpp,
  * database.h:89-96; the storage side is already atomic,
  * NdjsonIngest.scala pointer-flip contract). Each request resolves ONCE
  * and keeps that snapshot for its whole response.
  */
final class QueryServer(catalogSupplier: () => (Catalog, String),
    port: Int, config: QueryServer.ServerConfig) {

  /** Pre-config signature kept for callers tuning only the timeout. */
  def this(catalogSupplier: () => (Catalog, String), port: Int,
      timeoutSeconds: Long) =
    this(catalogSupplier, port,
      QueryServer.ServerConfig(timeoutSeconds = timeoutSeconds))

  /** Fixed-catalog convenience (tests, static datasets). */
  def this(catalog: Catalog, dataVersion: String, port: Int = 0,
      timeoutSeconds: Long = 120) =
    this(() => (catalog, dataVersion), port,
      QueryServer.ServerConfig(timeoutSeconds = timeoutSeconds))

  private def timeoutSeconds: Long = config.timeoutSeconds

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // producers get an UNBOUNDED pool, request dispatch a BOUNDED one
  // (reference ApiOptions::max_connections, runtime_config.h:15): with one
  // shared bounded pool, maxConnections parked handlers would starve the
  // producers they wait on — requests past the bound queue at the HTTP
  // layer instead, and each admitted request still gets its producer
  // thread immediately.
  private val pool = Executors.newCachedThreadPool()
  private val handlerPool = Executors.newFixedThreadPool(config.maxConnections)

  def boundPort: Int = server.getAddress.getPort

  /** The current data version for error/metadata paths — never throws
    * (a failing supplier must still produce a well-formed error body).
    */
  private def currentVersion: String =
    try catalogSupplier()._2 catch { case _: Throwable => "" }

  /** The response's request id: the client's `X-Request-Id` when sent, a
    * fresh UUID otherwise — EVERY response carries one (reference
    * request_id_handler.cpp:24-32). Generated ONCE per exchange:
    * respond(), header pre-set paths, and the access log must all see
    * the SAME id for one request. NOT an exchange attribute — the JDK
    * server's get/setAttribute delegates to the CONTEXT-wide map shared
    * by every exchange on that path, so one request's id would leak to
    * all of them (caught by HttpCorpusSpec's concurrency case). A weak
    * identity map keyed by the exchange leaks nothing and crosses
    * nothing.
    */
  private val requestIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[HttpExchange, String]())
  private def requestId(ex: HttpExchange): String =
    requestIds.computeIfAbsent(ex, _ =>
      Option(ex.getRequestHeaders.getFirst("X-Request-Id"))
        .filter(_.nonEmpty) // an empty client header is as good as none
        .getOrElse(java.util.UUID.randomUUID().toString))

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json",
      dataVersion: Option[String] = None): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("data-version",
      dataVersion.getOrElse(currentVersion))
    ex.getResponseHeaders.set("X-Request-Id", requestId(ex))
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** 503 + Retry-After hint while the database is still loading
    * (reference error_request_handler.cpp:30-44 + the
    * computeRetryAfterHintForStartupTime shape).
    */
  private def respondUnavailable(ex: HttpExchange): Unit = {
    val retry = config.estimatedStartupEnd.flatMap { end =>
      val secs = java.time.Duration
        .between(java.time.Instant.now(), end).getSeconds
      if (secs > 0) Some(secs) else None
    }
    retry.foreach(s => ex.getResponseHeaders.set("Retry-After", s.toString))
    val msg = "Database not initialized yet." +
      retry.map(s => s" Please try again after $s seconds.").getOrElse("")
    respond(ex, 503,
      s"""{"error":"Service Temporarily Unavailable","message":"$msg"}""")
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** NDJSON sink (reference: exec_node/ndjson_sink.cpp): one JSON object
    * per row, dates rendered `YYYY-MM-DD`, nulls explicit.
    */
  private def toNdjson(df: DataFrame): Iterator[String] = {
    val schema = df.schema
    df.toLocalIterator().asScala.map { row =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        val v =
          if (row.isNullAt(i)) "null"
          else f.dataType.typeName match {
            case "string" => "\"" + jsonEscape(row.getString(i)) + "\""
            case "date" | "timestamp" | "timestamp_ntz" =>
              "\"" + row.get(i).toString.take(10) + "\""
            case "array" | "struct" | "map" => "\"" + jsonEscape(row.get(i).toString) + "\""
            case _ => row.get(i).toString
          }
        "\"" + jsonEscape(f.name) + "\":" + v
      }.mkString("{", ",", "}")
    }
  }

  /** The plan's root ordering, serialized exactly like the reference's
    * serializeResultOrdering (query_plan.cpp:16-29): a JSON array of
    * {field, order, nullPlacement} objects, `[]` for unordered results.
    * Limit/offset wrappers preserve their child's ordering, matching
    * Acero's fetch-node ordering passthrough.
    */
  private[server] def resultOrdering(df: DataFrame): String = {
    def topSort(p: LogicalPlan): Seq[SortOrder] = p match {
      case g: GlobalLimit => topSort(g.child)
      case l: LocalLimit => topSort(l.child)
      case o: Offset => topSort(o.child)
      case s: Sort if s.global => s.order
      case _ => Nil
    }
    topSort(df.queryExecution.analyzed).map { so =>
      val field = so.child match {
        case a: Attribute => a.name
        case Alias(_, n) => n
        case e => e.sql
      }
      val dir = if (so.direction == Ascending) "ascending" else "descending"
      val np = if (so.nullOrdering == NullsFirst) "atStart" else "atEnd"
      s"""{"field":"${jsonEscape(field)}","order":"$dir","nullPlacement":"$np"}"""
    }.mkString("[", ",", "]")
  }

  private implicit class IterShim[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** Streaming-queue protocol: the producer signals HeadersReady once the
    * FIRST Spark batch materialized (so runtime failures still surface as
    * clean 500s), then byte chunks, then StreamEnd; StreamErr at any
    * point carries a producer failure.
    */
  private case object HeadersReady
  private case object StreamEnd
  private final case class StreamErr(t: Throwable)
  /** Thrown inside the producer when the writer aborted — unwinds any
    * sink (ArrowStreamWriter, the NDJSON loop) without masking as error.
    */
  private final class StreamAborted extends RuntimeException("stream aborted")

  /** Chunk coalescing size for the streaming queue: the default 64 KiB ×
    * a 64-deep queue bounds buffered response data at 4 MiB per in-flight
    * query; both knobs are runtime config ([[QueryServer.ServerConfig]]).
    */
  private val ChunkBytes = config.chunkBytes

  private def setQueryHeaders(ex: HttpExchange, contentType: String,
      ordering: String, dataVersion: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("data-version", dataVersion)
    ex.getResponseHeaders.set("result-ordering", ordering)
    ex.getResponseHeaders.set("X-Request-Id", requestId(ex))
  }

  /** Stream a response body with CHUNKED transfer: a bounded queue of
    * byte chunks between the Spark-side producer (`produce`, runs under a
    * cancellable job group and writes into a coalescing OutputStream) and
    * the response writer keeps driver memory O(queue), never O(result) —
    * the reference's ThrottledBatchReslicer shape for BOTH content types
    * (ndjson_sink.cpp AND arrow_ipc_sink.h; query_handler.cpp:67-83).
    * The timeout is per BATCH WAIT (query_plan.cpp:111-123): a stall (or
    * runtime failure) before the first batch is still a clean 500 — the
    * producer signals HeadersReady only after forcing the first batch; a
    * stall mid-stream cancels the jobs and terminates the chunked body
    * (headers are out), via `midStreamErrorChunk` when the content type
    * can carry an in-band marker (NDJSON error row), by truncation
    * otherwise (an Arrow IPC stream missing its end-of-stream marker is
    * reader-detectable).
    */
  private def streamChunked(ex: HttpExchange, df: DataFrame,
      contentType: String, ordering: String, dataVersion: String,
      midStreamErrorChunk: Option[String => Array[Byte]])(
      produce: (DataFrame, java.io.OutputStream, () => Unit) => Unit): Unit = {
    val spark = df.sparkSession
    // named after the request id, so a job links back to its request;
    // the unique suffix keeps two requests sending the same
    // X-Request-Id from ever cancelling each other's jobs
    val group = s"http-query-${requestId(ex)}-${java.util.UUID.randomUUID()}"
    val queue = new java.util.concurrent.LinkedBlockingQueue[AnyRef](
      config.queueDepth)
    // writer-side abort signal: a disconnected client must unblock a
    // producer parked on a full queue (a plain put would leak the pool
    // thread AND the running Spark jobs forever)
    val dead = new java.util.concurrent.atomic.AtomicBoolean(false)
    pool.submit(new Runnable {
      def run(): Unit = {
        spark.sparkContext.setJobGroup(group, "http /query", interruptOnCancel = true)
        // offer-loop everywhere (chunks AND markers): a dead writer with a
        // full queue must never park this thread; once aborted, unwind the
        // producing sink via StreamAborted
        var aborted = false
        def put(v: AnyRef): Unit = {
          while (!aborted && !queue.offer(v, 1, TimeUnit.SECONDS))
            aborted = dead.get
          if (aborted) throw new StreamAborted
        }
        val out = new java.io.OutputStream {
          private val buf = new java.io.ByteArrayOutputStream(ChunkBytes)
          private var lastFlush = System.nanoTime()
          // flush on size OR age: a slow-but-healthy producer (seconds per
          // partition, small rows) must still surface a chunk per write
          // burst, or the writer's per-batch-wait timeout would read the
          // silence as a stall and abort live Spark jobs
          private def due(): Boolean = buf.size >= ChunkBytes ||
            System.nanoTime() - lastFlush > 1_000_000_000L
          override def write(b: Int): Unit = {
            buf.write(b); if (due()) flush()
          }
          override def write(b: Array[Byte], off: Int, len: Int): Unit = {
            buf.write(b, off, len); if (due()) flush()
          }
          override def flush(): Unit = {
            lastFlush = System.nanoTime()
            if (buf.size > 0) { val chunk = buf.toByteArray; buf.reset(); put(chunk) }
          }
        }
        try {
          produce(df, out, () => put(HeadersReady))
          out.flush()
          put(StreamEnd)
        } catch {
          case _: StreamAborted => () // writer gone: jobs already cancelled
          case t: Throwable =>
            try put(StreamErr(t)) catch { case _: StreamAborted => () }
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    def abort(): Unit = {
      dead.set(true)
      spark.sparkContext.cancelJobGroup(group)
    }
    def nextOrNull(): AnyRef = queue.poll(timeoutSeconds, TimeUnit.SECONDS)
    nextOrNull() match {
      case null =>
        abort()
        throw new RuntimeException(
          s"Request timed out, no batch within $timeoutSeconds seconds.")
      case StreamErr(t) => throw t
      case HeadersReady =>
        // EVERYTHING from the header send onward sits inside the
        // abort-guarded try: a client vanishing exactly at
        // sendResponseHeaders would otherwise skip abort() and leave the
        // producer (and its Spark jobs) running forever
        try {
          setQueryHeaders(ex, contentType, ordering, dataVersion)
          ex.sendResponseHeaders(200, 0) // chunked
          val out = ex.getResponseBody
          var done = false
          while (!done) nextOrNull() match {
            case chunk: Array[Byte] => out.write(chunk)
            case StreamEnd => done = true
            case other => // timeout or producer failure mid-stream: cancel
              // the jobs and TERMINATE VISIBLY — headers are out, so a 500
              // is impossible, but an in-band error marker (where the
              // format has one) keeps the truncation detectable instead of
              // a clean-looking body
              abort()
              val msg = other match {
                case StreamErr(t) =>
                  Option(t.getMessage).getOrElse(t.getClass.getName)
                case _ => s"no batch within $timeoutSeconds seconds"
              }
              midStreamErrorChunk.foreach(f => out.write(f(msg)))
              done = true
          }
        } catch {
          // client went away mid-stream: headers are already out, so a 500
          // is impossible and a rethrow would only make handleQuery's
          // catch-all attempt a SECOND sendResponseHeaders (a secondary
          // exception out of the handler thread) — stop the producer and
          // the jobs, swallow the write failure
          case _: Throwable => abort()
        } finally ex.close()
      case other =>
        abort()
        throw new IllegalStateException(s"stream protocol violation: $other")
    }
  }

  /** NDJSON producer for [[streamChunked]]: forces the first batch before
    * releasing the headers, then writes row-per-line.
    */
  private def produceNdjson(df: DataFrame, out: java.io.OutputStream,
      headersReady: () => Unit): Unit = {
    val it = toNdjson(df)
    val _ = it.hasNext // force the first Spark batch: runtime failure → 500
    headersReady()
    while (it.hasNext) out.write((it.next() + "\n").getBytes(UTF_8))
  }

  private def handleQuery(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val wantsArrow = Option(ex.getRequestHeaders.getFirst("Accept"))
      .exists(_.contains("application/vnd.apache.arrow.stream"))
    try {
      // resolve ONCE per request: this query runs against a consistent
      // catalog snapshot and reports the version it actually read
      val (catalog, dataVersion) = catalogSupplier()
      val df = Planner.plan(body, catalog)
      val ordering = resultOrdering(df)
      if (wantsArrow && ArrowSink.supports(df.schema))
        // Arrow IPC batches stream straight to the chunked response — no
        // O(result) driver buffer on this path either; a mid-stream
        // failure truncates the stream before its end-of-stream marker,
        // which every IPC reader reports
        streamChunked(ex, df, "application/vnd.apache.arrow.stream",
          ordering, dataVersion, midStreamErrorChunk = None)(
          ArrowSink.writeChunked(_, _, _, config.arrowBatchRows))
      else
        streamChunked(ex, df, "application/x-ndjson", ordering, dataVersion,
          midStreamErrorChunk = Some(msg =>
            (s"""{"__streamError":"${jsonEscape(msg)}"}""" + "\n")
              .getBytes(UTF_8)))(produceNdjson)
    } catch {
      case _: QueryServer.UninitializedCatalog => respondUnavailable(ex)
      case e @ (_: QueryError | _: Parser.ParseError | _: Lexer.LexError) =>
        respond(ex, 400,
          s"""{"error":"Bad request","message":"${jsonEscape(e.getMessage)}"}""")
      // anything else is a runtime failure — answer 500 instead of
      // leaving the exchange hanging (reference error_request_handler.cpp:
      // catch-all → Internal Server Error)
      case e: Throwable =>
        respond(ex, 500,
          s"""{"error":"Internal Server Error","message":"${
            jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
    }
  }

  /** GET /lineageDefinition/{column} — echo the column's lineage
    * definition YAML (reference: lineage_definition_handler.cpp:25-58).
    */
  private def handleLineageDefinition(ex: HttpExchange): Unit = {
    val column = ex.getRequestURI.getPath
      .stripPrefix("/lineageDefinition").stripPrefix("/")
    def bad(msg: String): Unit =
      respond(ex, 400, s"""{"error":"Bad request","message":"${jsonEscape(msg)}"}""")
    if (ex.getRequestMethod != "GET") respond(ex, 405, """{"error":"GET only"}""")
    else if (column.isEmpty || column.contains("/"))
      bad(s"Expected exactly one path segment after /lineageDefinition")
    else try {
      val (catalog, dataVersion) = catalogSupplier()
      catalog.lineageYaml.get(column) match {
        case Some(yaml) =>
          respond(ex, 200, yaml, "application/yaml", Some(dataVersion))
        case None =>
          val exists = catalog.tables.get("default")
            .exists(_.columns.contains(column))
          if (!exists) bad(s"The column $column does not exist in this instance.")
          else bad(s"The column $column does not have a lineageIndex defined.")
      }
    } catch {
      case _: QueryServer.UninitializedCatalog => respondUnavailable(ex)
      // a failing supplier must still produce a well-formed 500, not an
      // exception out of the handler (which closes the connection bodyless)
      case e: Throwable =>
        respond(ex, 500, s"""{"error":"Internal Server Error","message":"${
          jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
    }
  }

  /** Access-log decorator (reference logging_request_handler.cpp:20-32):
    * wraps a handler so every completed exchange emits ONE line —
    * `method path status durationMicros requestId` — on the configured
    * sink. The id is the memoized per-exchange one, so the log line and
    * the response header always agree.
    */
  private def logged(h: com.sun.net.httpserver.HttpHandler)
      : com.sun.net.httpserver.HttpHandler = config.accessLog match {
    case None => h
    case Some(sink) => (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      try h.handle(ex)
      finally {
        val us = (System.nanoTime() - t0) / 1000
        // getResponseCode is -1 if the handler never sent headers (a
        // hard handler crash) — log it as such rather than guessing
        sink(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath} " +
          s"${ex.getResponseCode} ${us}us ${requestId(ex)}")
      }
    }
  }

  /** Linux RSS in MB via /proc/self/status (reference memory_monitor.cpp
    * reads the same counter); None off-Linux or on read failure.
    */
  private def rssMb: Option[Long] = scala.util.Try {
    val line = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .stream().filter(_.startsWith("VmRSS")).findFirst()
    if (line.isPresent) Some(line.get.replaceAll("[^0-9]", "").toLong / 1024)
    else None
  }.toOption.flatten

  private var monitor: Option[java.util.concurrent.ScheduledExecutorService] = None

  private def startMemoryMonitor(): Unit = config.memoryMonitorSeconds.foreach { every =>
    val sink = config.accessLog.getOrElse((s: String) => System.err.println(s))
    val sched = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-memory-monitor"); t.setDaemon(true); t
    })
    sched.scheduleAtFixedRate(() => {
      // scheduleAtFixedRate CANCELS all later runs after an uncaught
      // exception — one failing sink write (rotated log, closed stream)
      // must not silently kill the gauge and the soft-limit GC forever
      try {
        val rt = Runtime.getRuntime
        val heapUsed = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
        val heapMax = rt.maxMemory() / (1024 * 1024)
        val tp = handlerPool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
        val rss = rssMb
        val over = for (limit <- config.softMemoryLimitMb; r <- rss if r > limit)
          yield limit
        sink(s"memory heapUsedMb=$heapUsed heapMaxMb=$heapMax" +
          rss.map(r => s" rssMb=$r").getOrElse("") +
          s" activeRequests=${tp.getActiveCount} queuedRequests=${tp.getQueue.size}" +
          over.map(l => s" softLimitMb=$l exceeded, requesting gc").getOrElse(""))
        // the malloc_trim analog: give memory back when the soft limit is hit
        if (over.isDefined) System.gc()
      } catch { case scala.util.control.NonFatal(_) => () }
    }, every, every, TimeUnit.SECONDS)
    monitor = Some(sched)
  }

  def start(): Unit = {
    // catch-all 404 for unknown paths, mirroring the reference's
    // NotFoundHandler JSON shape (app/src/not_found_handler.cpp:20-22) —
    // the JDK server would otherwise close with a bodyless plain 404
    server.createContext("/", logged((ex: HttpExchange) =>
      respond(ex, 404, s"""{"error":"Not found","message":"Resource ${
        jsonEscape(ex.getRequestURI.toString)} does not exist"}""")))

    server.createContext("/health", logged((ex: HttpExchange) =>
      respond(ex, 200, """{"status":"ok"}""")))

    server.createContext("/info", logged((ex: HttpExchange) =>
      try {
        val (catalog, dataVersion) = catalogSupplier()
        val tables = catalog.tables.keys.toSeq.sorted
          .map(t => "\"" + t + "\"").mkString("[", ",", "]")
        val maint = config.infoExtra.flatMap(f =>
          try f() catch { case scala.util.control.NonFatal(_) => None })
          // the supplier's value is spliced VERBATIM into the response —
          // a torn maintenance-log line (crash mid-append, rotation race)
          // must drop the field, not corrupt the whole /info JSON.
          // FAIL_ON_TRAILING_TOKENS: without it a torn line that is a
          // valid JSON prefix plus garbage (`{"a":1}{"a":` from two
          // interleaved writers) parses as the first object and the raw
          // string still corrupts the splice; readTree also returns a
          // non-throwing MissingNode for whitespace-only input, so
          // require a concrete value node too
          .filter(v => scala.util.Try(
            QueryServer.strictJsonMapper.readTree(v))
            .toOption.exists(n => !n.isMissingNode))
          .map(v => s""","maintenance":$v""").getOrElse("")
        respond(ex, 200,
          s"""{"dataVersion":"$dataVersion","tables":$tables$maint}""",
          dataVersion = Some(dataVersion))
      } catch {
        case _: QueryServer.UninitializedCatalog => respondUnavailable(ex)
        // a failing supplier → well-formed 500, not a bodyless close
        case e: Throwable =>
          respond(ex, 500, s"""{"error":"Internal Server Error","message":"${
            jsonEscape(Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
      }))

    server.createContext("/lineageDefinition", logged(handleLineageDefinition(_)))

    server.createContext("/query", logged((ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
      else handleQuery(ex)
    }))

    // a null executor runs every exchange on the single dispatcher
    // thread — concurrent queries would serialize at the HTTP layer even
    // though Spark-side work is pooled; dispatch handlers on the bounded
    // pool (maxConnections concurrent requests, the rest queue)
    server.setExecutor(handlerPool)
    server.start()
    startMemoryMonitor()
  }

  def stop(): Unit = {
    server.stop(0); handlerPool.shutdownNow(); pool.shutdownNow()
    monitor.foreach(_.shutdownNow())
  }
}

object QueryServer {

  /** Shared strict JSON validator for values spliced verbatim into
    * server responses: one immutable-after-config ObjectMapper (thread-
    * safe for reads; also avoids a per-request construction) with
    * FAIL_ON_TRAILING_TOKENS so a valid-prefix-plus-garbage torn line
    * is rejected whole.
    */
  private[server] val strictJsonMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    m
  }

  /** Runtime-tunable serving limits (reference: runtime_config.h:19-25 —
    * the operator-facing materialization cutoff and soft memory limit).
    * `chunkBytes × queueDepth` bounds the buffered response bytes per
    * in-flight query (the soft-memory-limit analog); `arrowBatchRows` is
    * the Arrow IPC materialization cutoff (rows per RecordBatch);
    * `timeoutSeconds` is the per-batch-wait cancellation deadline
    * (reference DEFAULT_TIMEOUT_TWO_MINUTES, query_plan.cpp:111-123).
    */
  /** `accessLog`, when set, receives one line per completed request —
    * `method path status durationMicros requestId` (reference
    * app/src/logging_request_handler.cpp:20-32: wraps every handler,
    * logs method/URI/status/duration). `memoryMonitorSeconds` starts a
    * periodic gauge of heap/RSS and request-pool depth on the same sink
    * (reference app/src/memory_monitor.cpp); when `softMemoryLimitMb` is
    * also set and the RSS exceeds it, the monitor requests a GC — the
    * JVM analog of the reference's malloc_trim under its
    * api.softMemoryLimit (runtime_config.cpp).
    */
  final case class ServerConfig(
      chunkBytes: Int = 64 * 1024,
      queueDepth: Int = 64,
      arrowBatchRows: Int = ArrowSink.BatchRows,
      timeoutSeconds: Long = 120,
      maxConnections: Int = 64,
      estimatedStartupEnd: Option[java.time.Instant] = None,
      accessLog: Option[String => Unit] = None,
      memoryMonitorSeconds: Option[Long] = None,
      softMemoryLimitMb: Option[Long] = None,
      // extra /info payload, resolved per request: a JSON VALUE string
      // (object/string/number) surfaced under "maintenance" — serve
      // wires the newest persisted maintenance-tick report here so an
      // operator can see whether compaction keeps up without shell
      // access. None (or a throwing supplier) omits the field.
      infoExtra: Option[() => Option[String]] = None) {
    require(chunkBytes > 0 && queueDepth > 0 && arrowBatchRows > 0 &&
      timeoutSeconds >= 0 && maxConnections > 0 &&
      memoryMonitorSeconds.forall(_ > 0) && softMemoryLimitMb.forall(_ > 0),
      s"serving limits must be positive: $this")
  }

  /** Thrown by a `catalogSupplier` whose database is still loading: every
    * endpoint answers 503 with the reference's body and a `Retry-After`
    * hint from `estimatedStartupEnd` (error_request_handler.cpp:30-44,
    * UninitializedDatabaseException → HTTP_SERVICE_UNAVAILABLE).
    */
  final class UninitializedCatalog extends
    RuntimeException("Database not initialized yet.")

  /** A catalog supplier that probes the data version per request (cheap:
    * a pointer read) but re-BUILDS the catalog only when the version
    * actually changed — the hot-swap contract without paying catalog
    * construction per request. `version()` should read the versioned
    * tables' committed pointers (e.g. `NdjsonIngest.commits(dir).last`);
    * `build(v)` constructs the catalog for that version.
    *
    * Thread-safe and single-flight: a cache hit takes no lock; a miss
    * takes one lock, re-reads the version and re-checks the cache under
    * it, so requests arriving during a swap wait for the one build of the
    * new version instead of each running their own (concurrent builds of
    * one version would write the same index layer dir); a request that
    * waited on the lock serves the version current when it got it.
    * Single-flight holds within this process only: another process
    * rebuilding the same data directory is not coordinated here.
    *
    * A commit can land BETWEEN `version()` and `build(v)` — an unpinned
    * build (one reading `latest` pointers) would then hold newer data than
    * its label, and a client using the `data-version` header for
    * read-your-writes would see fresh rows attributed to a stale version.
    * So the build is re-checked: if `version()` moved while building, the
    * build reruns against the newer version (bounded retries; under
    * sustained churn the newest build is served under the PRE-build label —
    * the header may then UNDERSTATE freshness, never overstate it, which
    * keeps header-polling clients correct).
    */
  def cachedSupplier(version: () => String,
      build: String => Catalog): () => (Catalog, String) = {
    val cache =
      new java.util.concurrent.atomic.AtomicReference[(String, Catalog)]()
    val buildLock = new Object
    () => {
      val seen = version()
      val hit = cache.get
      if (hit != null && hit._1 == seen) (hit._2, seen)
      else buildLock.synchronized {
        var v = version()
        var out: (Catalog, String) = null
        var attempts = 0
        while (out == null) {
          val cur = cache.get
          if (cur != null && cur._1 == v) out = (cur._2, v)
          else {
            val c = build(v)
            val after = version()
            attempts += 1
            if (after == v || attempts >= 4) {
              cache.set((v, c))
              out = (c, v)
            } else v = after
          }
        }
        out
      }
    }
  }
}

package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._
import graft.lang.Planner.Catalog
import graft.server.QueryServer

class QueryServerSpec extends SparkSpec {
  import spark.implicits._

  lazy val table = Seq(
    ("k1", "Switzerland", 25), ("k2", "Switzerland", 40), ("k3", "Germany", 30))
    .toDF("primary_key", "country", "age")

  val lineageYaml = "schemaVersion: 1\nlineages:\n  - lineage: A\n"
  lazy val srv: QueryServer = {
    val s = new QueryServer(
      Catalog(Map("default" -> table),
        lineageYaml = Map("country" -> lineageYaml)),
      "v42")
    s.start(); s
  }
  lazy val http = HttpClient.newHttpClient()
  def url(p: String) = URI.create(s"http://127.0.0.1:${srv.boundPort}$p")

  def post(path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(url(path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("X-Request-Id", "req-7").build(),
      HttpResponse.BodyHandlers.ofString())

  def get(path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(url(path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("health and info endpoints") {
    val health = get("/health")
    assert(health.body() === """{"status":"ok"}""")
    // no client X-Request-Id → the server GENERATES one (reference
    // request_id_handler.cpp:24-32 — every response carries an id)
    val gen = health.headers().firstValue("X-Request-Id")
    assert(gen.isPresent)
    assert(java.util.UUID.fromString(gen.get()) != null)
    val info = get("/info")
    assert(info.body().contains("\"dataVersion\":\"v42\""))
    assert(info.body().contains("\"default\""))
  }

  test("unknown path → reference-shaped JSON 404, not a bodyless close") {
    val r = get("/no/such/resource")
    assert(r.statusCode() === 404)
    assert(r.body() ===
      """{"error":"Not found","message":"Resource /no/such/resource does not exist"}""")
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/json"))
  }

  test("POST /query runs SaneQL and streams NDJSON with headers") {
    val r = post("/query",
      "default.filter(country = 'Switzerland').groupBy({count := count()})")
    assert(r.statusCode() === 200)
    assert(r.body().trim === """{"count":2}""")
    assert(r.headers().firstValue("data-version").get() === "v42")
    assert(r.headers().firstValue("X-Request-Id").get() === "req-7")
    assert(r.headers().firstValue("Content-Type").get() === "application/x-ndjson")
  }

  test("a request's Spark jobs run in a job group named after its " +
    "X-Request-Id, unique per request") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def send() = http.send(HttpRequest.newBuilder(url("/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({n := count()}, {country}).orderBy({country})"))
        .header("X-Request-Id", "probe-42").build(),
        HttpResponse.BodyHandlers.ofString())
      // the same client id twice: two groups, so cancelling one request's
      // group can never cancel the other's jobs
      assert(send().statusCode() === 200)
      assert(send().statusCode() === 200)
      def mine = groups.asScala.filter(_.startsWith("http-query-probe-42-")).toSet
      val deadline = System.currentTimeMillis() + 10000
      while (mine.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(mine.size === 2, groups.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("row-per-line NDJSON with nulls and ordering") {
    val r = post("/query", "default.project({primary_key, age}).orderBy({desc(age)}).limit(2)")
    assert(r.body().trim.split("\n").toSeq ===
      Seq("""{"primary_key":"k2","age":40}""", """{"primary_key":"k3","age":30}"""))
  }

  test("Arrow IPC response when Accept requests it") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val r = http.send(HttpRequest.newBuilder(url("/query"))
      .POST(HttpRequest.BodyPublishers.ofString(
        "default.project({primary_key, age}).orderBy({primary_key})"))
      .header("Accept", "application/vnd.apache.arrow.stream").build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("Content-Type").get()
      === "application/vnd.apache.arrow.stream")
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.size() === 2)
      var rows = 0
      val keys = scala.collection.mutable.ArrayBuffer[String]()
      while (reader.loadNextBatch()) {
        rows += root.getRowCount
        val kv = root.getVector(0).asInstanceOf[org.apache.arrow.vector.VarCharVector]
        (0 until root.getRowCount).foreach(i => keys += new String(kv.get(i), "UTF-8"))
      }
      assert(rows === 3)
      assert(keys.toSeq === Seq("k1", "k2", "k3"))
    } finally { reader.close(); alloc.close() }
  }

  test("Arrow sink round-trips nested list/struct results") {
    // the reference's arrow_ipc_sink streams EVERY result shape —
    // mutations()/insertions()-style nested outputs included; scalars-only
    // support would silently fall back to NDJSON for those
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", Seq((3, "T"), (7, "G")), Seq(1, 2), 0.25f),
      ("b", Seq.empty[(Int, String)], Seq.empty[Int], -1.5f))
      .toDF("id", "muts", "missing", "score")
      .withColumn("muts", expr(
        "transform(muts, m -> named_struct('pos', m._1, 'sym', m._2))"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.000006")))
    assert(graft.server.ArrowSink.supports(df.schema))
    val bos = new java.io.ByteArrayOutputStream()
    graft.server.ArrowSink.write(df, bos)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(
      new java.io.ByteArrayInputStream(bos.toByteArray), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      assert(reader.loadNextBatch())
      assert(root.getRowCount === 2)
      val muts = root.getVector("muts")
      val l0 = muts.getObject(0).asInstanceOf[java.util.List[_]]
      assert(l0.size === 2)
      val m0 = l0.get(0).asInstanceOf[java.util.Map[String, AnyRef]]
      assert(m0.get("pos") === 3)
      assert(m0.get("sym").toString === "T")
      val m1 = l0.get(1).asInstanceOf[java.util.Map[String, AnyRef]]
      assert(m1.get("pos") === 7)
      assert(m1.get("sym").toString === "G")
      assert(muts.getObject(1).asInstanceOf[java.util.List[_]].isEmpty)
      val miss0 = root.getVector("missing").getObject(0)
        .asInstanceOf[java.util.List[_]]
      assert(miss0.asScala.toSeq === Seq(1, 2))
      assert(root.getVector("score").getObject(1) === -1.5f)
      val micros = root.getVector("ts").asInstanceOf[
        org.apache.arrow.vector.TimeStampMicroTZVector].get(0)
      assert(micros === java.sql.Timestamp.valueOf("2024-01-02 03:04:05.000006")
        .toInstant.toEpochMilli * 1000L + 6L)
      assert(!reader.loadNextBatch())
    } finally { reader.close(); alloc.close() }
  }

  test("Arrow responses stream chunked with bounded memory; values intact") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import org.apache.spark.sql.functions._
    // a result spanning many ArrowSink batches (4096 rows each)
    val big = spark.range(50000).select(
      concat(lit("k"), col("id")).as("primary_key"),
      lit("CH").as("country"), col("id").cast("int").as("age"))
    val s = new QueryServer(Catalog(Map("default" -> big)), "v-arrow")
    s.start()
    try {
      def arrowReq(q: String) = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(q))
        .header("Accept", "application/vnd.apache.arrow.stream").build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val r = arrowReq("default.project({primary_key, age}).orderBy({age})")
      assert(r.statusCode() === 200)
      // CHUNKED: no Content-Length — the server never materialized the
      // IPC body (the old path buffered the whole stream in a byte array)
      assert(r.headers().firstValue("Content-Length").isEmpty)
      assert(r.headers().firstValue("Transfer-encoding").orElse("chunked")
        === "chunked")
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(r.body()), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        var rows = 0L; var batches = 0; var sum = 0L
        while (reader.loadNextBatch()) {
          batches += 1; rows += root.getRowCount
          val ages = root.getVector("age")
            .asInstanceOf[org.apache.arrow.vector.IntVector]
          (0 until root.getRowCount).foreach(i => sum += ages.get(i))
        }
        assert(rows === 50000)
        assert(batches > 1, "expected multiple IPC batches") // streamed
        assert(sum === 49999L * 50000 / 2)
      } finally { reader.close(); alloc.close() }
      // empty result: a VALID empty IPC stream (schema + end-of-stream)
      val e = arrowReq("default.filter(age < 0)")
      assert(e.statusCode() === 200)
      val alloc2 = new RootAllocator()
      val rd2 = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(e.body()), alloc2)
      try {
        assert(rd2.getVectorSchemaRoot.getSchema.getFields.size() === 3)
        assert(!rd2.loadNextBatch())
      } finally { rd2.close(); alloc2.close() }
    } finally s.stop()
  }

  test("client disconnect mid-Arrow-stream cancels the producer") {
    import org.apache.spark.sql.functions._
    val big = spark.range(300000).select(
      concat(lit("k"), col("id")).as("primary_key"),
      col("id").cast("int").as("age"))
    val s = new QueryServer(Catalog(Map("default" -> big)), "v-big")
    s.start()
    try {
      val body = "default.project({primary_key, age})"
      val sock = new java.net.Socket("127.0.0.1", s.boundPort)
      val os = sock.getOutputStream
      os.write((s"POST /query HTTP/1.1\r\nHost: t\r\n" +
        s"Accept: application/vnd.apache.arrow.stream\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body").getBytes("UTF-8"))
      os.flush()
      val in = sock.getInputStream
      val buf = new Array[Byte](4096)
      assert(in.read(buf) > 0)
      sock.setSoLinger(true, 0) // RST on close: a genuinely abrupt client
      sock.close()
      // the producer must notice and the server keeps serving
      val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({count := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.body().trim === """{"count":300000}""")
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000 // generous: host shows bursty CPU steal
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    } finally s.stop()
  }

  test("NDJSON responses stream chunked; empty results send no body") {
    // non-empty: chunked transfer (no Content-Length) — the server never
    // materializes the whole response, so driver memory stays O(queue)
    val r = post("/query", "default.project({primary_key}).orderBy({primary_key})")
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("Content-Length").isEmpty)
    assert(r.headers().firstValue("Transfer-encoding").orElse("chunked") === "chunked")
    assert(r.body().trim.split("\n").length === 3)
    // empty result: 200 with an empty body, headers intact
    val e = post("/query", "default.filter(country = 'Nowhere')")
    assert(e.statusCode() === 200)
    assert(e.body() === "")
    assert(e.headers().firstValue("Content-Type").get() === "application/x-ndjson")
    assert(e.headers().firstValue("data-version").get() === "v42")
  }

  test("concurrent queries stream independently with correct results") {
    import java.util.concurrent.{Executors, TimeUnit}
    val exec = Executors.newFixedThreadPool(8)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    (1 to 16).foreach { i =>
      exec.submit(new Runnable {
        def run(): Unit = {
          val q =
            if (i % 2 == 0) "default.filter(country = 'Switzerland').groupBy({count := count()})"
            else "default.groupBy({count := count()})"
          val r = post("/query", q)
          results.add((i, r.body().trim))
        }
      })
    }
    exec.shutdown()
    assert(exec.awaitTermination(60, TimeUnit.SECONDS))
    assert(results.size === 16)
    results.forEach { case (i, body) =>
      val expect = if (i % 2 == 0) """{"count":2}""" else """{"count":3}"""
      assert(body === expect, s"request $i")
    }
  }

  test("client disconnect mid-stream cancels the producer; server stays healthy") {
    import org.apache.spark.sql.functions._
    // a result far larger than the stream queue + socket buffers
    val big = spark.range(300000).select(
      concat(lit("k"), col("id")).as("primary_key"),
      lit("Switzerland").as("country"), col("id").cast("int").as("age"))
    val s = new QueryServer(Catalog(Map("default" -> big)), "v-big")
    s.start()
    try {
      val body = "default.project({primary_key})"
      val sock = new java.net.Socket("127.0.0.1", s.boundPort)
      val os = sock.getOutputStream
      os.write(
        (s"POST /query HTTP/1.1\r\nHost: t\r\nContent-Length: ${body.length}\r\n\r\n$body")
          .getBytes("UTF-8"))
      os.flush()
      // read a little of the stream, then vanish abruptly
      val in = sock.getInputStream
      val buf = new Array[Byte](4096)
      assert(in.read(buf) > 0)
      sock.setSoLinger(true, 0) // RST on close: a genuinely abrupt client
      sock.close()
      // the producer must notice (write failure → abort → job cancel) and
      // the server must keep serving other requests
      val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({count := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.body().trim === """{"count":300000}""")
      // all Spark jobs for the aborted stream drain within the grace window
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000 // generous: host shows bursty CPU steal
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    } finally s.stop()
  }

  test("data-version hot swap: appended versions visible without restart") {
    import graft.sources.NdjsonIngest
    // a versioned on-disk table: the supplier re-resolves the `latest`
    // pointer per request (reference: silo_directory_watcher.cpp swaps
    // DataVersions under a running server, database.h:89-96)
    val dir = java.nio.file.Files.createTempDirectory("srvswap").toString + "/t"
    NdjsonIngest.appendVersion(
      Seq(("k1", 10)).toDF("primary_key", "age"), dir, "primary_key")
    val supplier = () => (
      Catalog(Map("default" -> NdjsonIngest.readLatest(spark, dir))),
      "commit-" + NdjsonIngest.commits(dir).last)
    val s = new QueryServer(supplier, 0, 120)
    s.start()
    try {
      def query() = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({count := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      val r1 = query()
      assert(r1.body().trim === """{"count":1}""")
      assert(r1.headers().firstValue("data-version").get() === "commit-1")
      // append WHILE the server runs — no restart, no re-construction
      NdjsonIngest.appendDelta(
        Seq(("k2", 20)).toDF("primary_key", "age"), dir, "primary_key")
      val r2 = query()
      assert(r2.body().trim === """{"count":2}""")
      assert(r2.headers().firstValue("data-version").get() === "commit-2")
      // /info reports the swapped version too
      val info = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/info")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(info.body().contains("\"dataVersion\":\"commit-2\""))
    } finally s.stop()
  }

  test("maintenance: long chains (plain AND merged, via the _pk " +
    "breadcrumb) compact and gc WHILE SERVING — results stay correct " +
    "across the swap") {
    import graft.sources.NdjsonIngest
    import graft.tools.Maintenance
    val root = java.nio.file.Files.createTempDirectory("srvmaint").toString
    val dir = s"$root/tables/t"
    (1 to 10).foreach { i =>
      val df = Seq((s"k$i", i * 10)).toDF("primary_key", "age")
      if (i == 1) NdjsonIngest.appendVersion(df, dir, "primary_key")
      else NdjsonIngest.appendDelta(df, dir, "primary_key")
    }
    // a merge-on-read sibling under the layer cap: left alone by
    // compact (too short) but still tended by gc
    val mdir = s"$root/tables/m"
    NdjsonIngest.appendVersion(Seq(("a", 1)).toDF("pk", "v"), mdir, "pk")
    NdjsonIngest.upsertDelta(Seq(("a", 2)).toDF("pk", "v"), mdir, "pk")
    // a LONG merge-on-read sibling: the chain's _pk breadcrumb lets the
    // layout-blind loop fold it through the pk-aware merged compactor
    val ldir = s"$root/tables/lm"
    NdjsonIngest.appendVersion(
      Seq(("x", 0), ("y", 0)).toDF("pk", "v"), ldir, "pk")
    (1 to 6).foreach(i => NdjsonIngest.upsertDelta(
      Seq(("x", i)).toDF("pk", "v"), ldir, "pk"))
    NdjsonIngest.deleteDelta(Seq("y").toDF("pk"), ldir, "pk")
    val supplier = () => (
      Catalog(Map("default" -> NdjsonIngest.readLatest(spark, dir))),
      "commit-" + NdjsonIngest.commits(dir).last)
    // wired like Serve.boot: /info surfaces the newest persisted tick
    val s = new QueryServer(supplier, 0,
      QueryServer.ServerConfig(timeoutSeconds = 120,
        infoExtra = Some(() => Maintenance.lastReportLine(root))))
    s.start()
    try {
      def query() = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """default.groupBy({count := count()})""")).build(),
        HttpResponse.BodyHandlers.ofString())
      def info() = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/info")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val before = query()
      assert(before.body().trim === """{"count":10}""")
      assert(before.headers().firstValue("data-version").get()
        === "commit-10")
      // no tick has ever run: /info carries no maintenance field yet
      assert(!info().body().contains("\"maintenance\""))
      assert(Maintenance.discoverChains(root).toSet === Set(ldir, mdir, dir))
      val report = Maintenance.tick(spark, root,
        maxLayers = 4, retainCommits = 1)
      assert(report.failed.isEmpty, report.failed.toString)
      // the forced tick persisted a report line, and /info surfaces it
      assert(Maintenance.lastReportLine(root).isDefined)
      val infoBody = info().body()
      assert(infoBody.contains("\"maintenance\":{"), infoBody)
      assert(infoBody.contains("\"compacted\":2"), infoBody)
      assert(report.compacted.toSet === Set(dir, ldir))
      assert(NdjsonIngest.latestLayers(dir).length === 1)
      // gc reclaimed the superseded append layers (10 dead under t;
      // the short merged sibling keeps both its live layers)
      assert(report.gced.getOrElse(dir, 0) === 10)
      assert(NdjsonIngest.latestLayers(mdir).length === 2)
      // the long merged chain folded to one tombstone-free snapshot
      // holding exactly the merged state
      assert(NdjsonIngest.latestLayers(ldir).length === 1)
      assert(NdjsonIngest.readLatest(spark, ldir)
        .as[(String, Int)].collect().toSet === Set(("x", 6)))
      // the server swapped to the compacted commit and answers
      // identically — readers never saw a torn chain
      val after = query()
      assert(after.body().trim === """{"count":10}""")
      assert(after.headers().firstValue("data-version").get()
        === "commit-11")
      // the TIMER path: more appends re-grow the chain past the cap;
      // the background loop compacts it within a few intervals
      (11 to 16).foreach { i =>
        NdjsonIngest.appendDelta(
          Seq((s"k$i", i * 10)).toDF("primary_key", "age"),
          dir, "primary_key")
      }
      val handle = Maintenance.start(spark, root, intervalSeconds = 1,
        maxLayers = 4, retainCommits = 1)
      try {
        // a CONCURRENT writer keeps committing while the timer loop
        // compacts and gcs the same chain — the per-table commit lock
        // serializes the read-modify-write cycles, so no append may
        // vanish from `latest` (the pre-lock lost-update window)
        @volatile var writerErr: Option[Throwable] = None
        val writer = new Thread(() => {
          try (17 to 40).foreach { i =>
            NdjsonIngest.appendDelta(
              Seq((s"k$i", i * 10)).toDF("primary_key", "age"),
              dir, "primary_key")
            Thread.sleep(50)
          } catch { case t: Throwable => writerErr = Some(t) }
        }, "maint-race-writer")
        writer.start()
        writer.join()
        writerErr.foreach(t => fail(s"concurrent writer died: $t", t))
        // every commit survived the interleaved compact/gc cycles...
        assert(query().body().trim === """{"count":40}""")
        // ...and the loop keeps the chain bounded (the tail appends may
        // legitimately sit under the cap, so wait for ≤ maxLayers, not 1)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (NdjsonIngest.latestLayers(dir).length > 4 &&
            System.nanoTime() < deadline)
          Thread.sleep(250)
        assert(NdjsonIngest.latestLayers(dir).length <= 4)
        assert(query().body().trim === """{"count":40}""")
      } finally handle.close()
    } finally s.stop()
  }

  test("maintenance: a registered ANN feed syncs on tick (bootstrap + " +
    "append visible to search)") {
    import graft.ann.AnnIndex
    import graft.sources.NdjsonIngest
    import graft.tools.Maintenance
    val root = java.nio.file.Files.createTempDirectory("srvmaintann").toString
    val tableDir = s"$root/emb"; val idxDir = s"$root/idx"
    val stateDir = s"$root/feedstate"
    val dim = 4
    def vec(id: Long): Array[Float] =
      Array.tabulate(dim)(i => math.sin(id * 7.0 + i).toFloat)
    def rows(ids: Seq[Long]) =
      ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")
    NdjsonIngest.appendVersion(rows(1L to 6L), tableDir, "vec_id")
    Maintenance.register(root, "emb", Maintenance.AnnFeedSpec(
      tableDir, idxDir, stateDir, "vec_id", "embedding",
      dim, cells = 2, m = 2, k = 4))
    val r1 = Maintenance.tick(spark, root)
    assert(r1.failed.isEmpty, r1.failed.toString)
    assert(r1.annSynced === Seq("emb"))
    // feed append → next tick encodes it → searchable
    NdjsonIngest.appendDelta(rows(Seq(7L)), tableDir, "vec_id")
    val r2 = Maintenance.tick(spark, root)
    assert(r2.failed.isEmpty, r2.failed.toString)
    val h = AnnIndex.load(spark, idxDir).get
    val emb = NdjsonIngest.readLatest(spark, tableDir)
    val probes = Seq((0L, vec(7L).map(_.toDouble)))
    val hits = AnnIndex.search(spark, h, emb, "vec_id", "embedding",
      probes, k = 1, nprobe = 2).select("n_id").collect()
    assert(hits.nonEmpty && hits.head.getLong(0) === 7L)
  }

  test("cachedSupplier rebuilds the catalog only when the version changes") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("srvcache").toString + "/t"
    NdjsonIngest.appendVersion(
      Seq(("k1", 10)).toDF("primary_key", "age"), dir, "primary_key")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val supplier = QueryServer.cachedSupplier(
      () => "commit-" + NdjsonIngest.commits(dir).last,
      _ => { builds.incrementAndGet()
        Catalog(Map("default" -> NdjsonIngest.readLatest(spark, dir))) })
    val s = new QueryServer(supplier, 0, 120)
    s.start()
    try {
      def query() = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({count := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(query().body().trim === """{"count":1}""")
      assert(query().body().trim === """{"count":1}""")
      assert(builds.get === 1) // same version → no rebuild per request
      NdjsonIngest.appendDelta(
        Seq(("k2", 20)).toDF("primary_key", "age"), dir, "primary_key")
      val r = query()
      assert(r.body().trim === """{"count":2}""")
      assert(r.headers().firstValue("data-version").get() === "commit-2")
      assert(builds.get === 2) // one rebuild for the new version
    } finally s.stop()
  }

  test("cachedSupplier re-builds when a commit lands mid-build (label skew)") {
    // a commit landing BETWEEN version() and the end of build() would make
    // an unguarded supplier serve the newer data labeled with the OLD
    // version; the supplier must detect the move and rebuild. Simulated by
    // a build that bumps the version counter once, mid-flight.
    val ver = new java.util.concurrent.atomic.AtomicInteger(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val bumpOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val supplier = QueryServer.cachedSupplier(
      () => "commit-" + ver.get,
      _ => {
        builds.incrementAndGet()
        if (bumpOnce.getAndSet(false)) ver.incrementAndGet() // mid-build commit
        Catalog(Map("v" ->
          Seq(("commit-" + ver.get, 0)).toDF("built_at", "x")))
      })
    val (cat, label) = supplier()
    assert(label === "commit-2")
    assert(builds.get === 2) // first build raced, second settled
    assert(cat.tables("v").select("built_at").as[String].head === "commit-2")
    val (_, l2) = supplier() // stable thereafter: cached, no rebuild
    assert(l2 === "commit-2")
    assert(builds.get === 2)
  }

  test("cachedSupplier builds once per version under concurrent requests") {
    // every request arriving while the new version builds must wait for
    // that one build: a build per request wrote the same index layer dir
    // from several threads at once
    val ver = new java.util.concurrent.atomic.AtomicInteger(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val supplier = QueryServer.cachedSupplier(
      () => "commit-" + ver.get,
      _ => {
        builds.incrementAndGet()
        Thread.sleep(300) // long enough for every request to arrive mid-build
        Catalog(Map.empty)
      })
    supplier()
    assert(builds.get === 1)
    ver.incrementAndGet()
    val start = new java.util.concurrent.CountDownLatch(1)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      labels.add(supplier()._2)
      ()
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(labels.asScala.toSeq === Seq.fill(8)("commit-2"))
    assert(builds.get === 2)
  }

  test("result-ordering header reports the plan's root sort keys") {
    // ordered (limit on top preserves the child ordering, like Acero's
    // fetch-node passthrough)
    val r = post("/query", "default.orderBy({desc(age), primary_key}).limit(2)")
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("result-ordering").get() ===
      """[{"field":"age","order":"descending","nullPlacement":"atEnd"},""" +
        """{"field":"primary_key","order":"ascending","nullPlacement":"atStart"}]""")
    // unordered → []
    val r2 = post("/query", "default.filter(age > 20)")
    assert(r2.headers().firstValue("result-ordering").get() === "[]")
  }

  test("GET /lineageDefinition/{column} echoes the YAML") {
    val ok = get("/lineageDefinition/country")
    assert(ok.statusCode() === 200)
    assert(ok.body() === lineageYaml)
    assert(ok.headers().firstValue("Content-Type").get() === "application/yaml")
    // a real column without a lineage index → 400 with the reference's message
    val noIdx = get("/lineageDefinition/age")
    assert(noIdx.statusCode() === 400)
    assert(noIdx.body().contains("does not have a lineageIndex defined"))
    // unknown column → 400
    val unknown = get("/lineageDefinition/nope")
    assert(unknown.statusCode() === 400)
    assert(unknown.body().contains("does not exist"))
  }

  test("serving limits are runtime config: non-default cutoffs drive " +
    "both response paths end-to-end") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import org.apache.spark.sql.functions._
    // tiny everything (reference runtime_config.h:19-25 — the operator
    // tunes materialization cutoff + memory limit without a rebuild):
    // 7-row Arrow batches, 256-byte chunks, a 2-deep queue
    val cfg = QueryServer.ServerConfig(
      chunkBytes = 256, queueDepth = 2, arrowBatchRows = 7,
      timeoutSeconds = 60)
    val rows = spark.range(100).select(
      concat(lit("k"), col("id")).as("primary_key"),
      col("id").cast("int").as("age"))
    val s = new QueryServer(() => (Catalog(Map("default" -> rows)), "v-cfg"),
      0, cfg)
    s.start()
    try {
      // Arrow path: the IPC stream must arrive in ≤7-row batches
      val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.project({primary_key, age}).orderBy({age})"))
        .header("Accept", "application/vnd.apache.arrow.stream").build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() === 200)
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(r.body()), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        var n = 0; var batches = 0
        while (reader.loadNextBatch()) {
          batches += 1
          assert(root.getRowCount <= 7,
            s"batch of ${root.getRowCount} rows exceeds the configured cutoff")
          n += root.getRowCount
        }
        assert(n === 100)
        assert(batches >= 15) // ceil(100/7)
      } finally { reader.close(); alloc.close() }
      // NDJSON path: 256-byte chunks through a 2-deep queue still deliver
      // every row exactly once
      val nd = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.project({age}).orderBy({age})")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(nd.statusCode() === 200)
      val ages = nd.body().trim.split("\n").map(_.trim)
      assert(ages.length === 100)
      assert(ages.head === """{"age":0}""" && ages.last === """{"age":99}""")
    } finally s.stop()
  }

  test("uninitialized database → 503 with Retry-After until the catalog " +
    "loads (reference startup contract)") {
    val ready = new java.util.concurrent.atomic.AtomicBoolean(false)
    val supplier: () => (Catalog, String) = () =>
      if (ready.get) (Catalog(Map("default" -> table)), "v-up")
      else throw new QueryServer.UninitializedCatalog
    val s = new QueryServer(supplier, 0, QueryServer.ServerConfig(
      estimatedStartupEnd =
        Some(java.time.Instant.now().plusSeconds(300))))
    s.start()
    try {
      def query() = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({count := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      val r = query()
      assert(r.statusCode() === 503)
      assert(r.body().contains("\"error\":\"Service Temporarily Unavailable\""))
      assert(r.body().contains("Database not initialized yet."))
      val retry = r.headers().firstValue("Retry-After")
      assert(retry.isPresent)
      assert(retry.get().toLong > 0 && retry.get().toLong <= 300)
      assert(r.body().contains(s"try again after ${retry.get()} seconds"))
      // /info is 503 too while loading
      val info = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/info")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(info.statusCode() === 503)
      // the catalog comes up: same server starts answering, no restart
      ready.set(true)
      val ok = query()
      assert(ok.statusCode() === 200)
      assert(ok.body().trim === """{"count":3}""")
    } finally s.stop()
  }

  test("maxConnections bounds concurrent dispatch without starving " +
    "producers: every queued request still completes") {
    import java.util.concurrent.{Executors, TimeUnit}
    // 2 admitted requests at a time, 12 in flight: each admitted handler
    // parks on its producer, which runs on the UNBOUNDED pool — a shared
    // bounded pool would deadlock-then-timeout here
    val s = new QueryServer(() => (Catalog(Map("default" -> table)), "v-mc"),
      0, QueryServer.ServerConfig(maxConnections = 2))
    s.start()
    try {
      val exec = Executors.newFixedThreadPool(12)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      (1 to 12).foreach { _ =>
        exec.submit(new Runnable {
          def run(): Unit = {
            val r = http.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
              .POST(HttpRequest.BodyPublishers.ofString(
                "default.groupBy({count := count()})")).build(),
              HttpResponse.BodyHandlers.ofString())
            results.add(r.body().trim)
          }
        })
      }
      exec.shutdown()
      assert(exec.awaitTermination(120, TimeUnit.SECONDS))
      assert(results.size === 12)
      results.forEach(b => assert(b === """{"count":3}"""))
    } finally s.stop()
  }

  test("query exceeding the timeout → 500, Spark jobs cancelled") {
    val s = new QueryServer(Catalog(Map("default" -> table)), "v42",
      timeoutSeconds = 0)
    s.start()
    try {
      val r = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "default.groupBy({c := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 500)
      assert(r.body().contains("timed out"))
    } finally s.stop()
  }

  test("runtime failure during execution → 500, not a hung exchange") {
    // an invalid regex is now a PLAN-time typed 400 (reference compiles the
    // RE2 up front, string_search.cpp) …
    val r = post("/query", "default.filter(country.like('[')).limit(1)")
    assert(r.statusCode() === 400)
    // … so provoke a genuine EXECUTION-time failure instead: a catalog
    // column that raises inside the executor on one of the rows
    import org.apache.spark.sql.functions.expr
    val bad = table.withColumn("boom", expr("assert_true(age < 30, 'runtime boom')"))
    val s = new QueryServer(Catalog(Map("default" -> bad)), "v42")
    s.start()
    try {
      val rr = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString("default.project({boom})"))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rr.statusCode() === 500)
    } finally s.stop()
  }

  test("invalid query → 400 with typed message") {
    val r = post("/query", "default.filter(nope = 1)")
    assert(r.statusCode() === 400)
    assert(r.body().contains("unknown column 'nope'"))
    val r2 = post("/query", "default.filter(")
    assert(r2.statusCode() === 400)
  }

  test("access log: one line per request — method, path, status, " +
    "duration, the SAME id the response carried; memory monitor gauges") {
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val s = new QueryServer(() => (Catalog(Map("default" -> table)), "v42"),
      port = 0, QueryServer.ServerConfig(
        accessLog = Some(l => { lines.add(l); () }),
        memoryMonitorSeconds = Some(1L)))
    s.start()
    try {
      def u(p: String) = URI.create(s"http://127.0.0.1:${s.boundPort}$p")
      val h = http.send(HttpRequest.newBuilder(u("/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val q = http.send(HttpRequest.newBuilder(u("/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({c := count()})"))
        .header("X-Request-Id", "log-me").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() === 200)
      val bad = http.send(HttpRequest.newBuilder(u("/nope")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() === 404)
      val deadline = System.nanoTime() + 15_000_000_000L
      def snap() = { import scala.jdk.CollectionConverters._
        lines.asScala.toSeq }
      while (System.nanoTime() < deadline &&
        (!snap().exists(_.startsWith("memory ")) || snap().count(!_.startsWith("memory ")) < 3))
        Thread.sleep(100)
      val access = snap().filterNot(_.startsWith("memory "))
      // GET /health with the server-generated id (same one the header got)
      val healthLine = access.find(_.startsWith("GET /health")).get
      assert(healthLine.endsWith(h.headers().firstValue("X-Request-Id").get()))
      assert(healthLine.matches("GET /health 200 \\d+us .+"), healthLine)
      // POST /query echoes the client id
      val queryLine = access.find(_.startsWith("POST /query")).get
      assert(queryLine.matches("POST /query 200 \\d+us log-me"), queryLine)
      // 404s log their status too
      assert(access.exists(_.matches("GET /nope 404 \\d+us .+")))
      // the periodic gauge (reference memory_monitor.cpp): heap + pool depth
      val gauge = snap().find(_.startsWith("memory ")).get
      assert(gauge.contains("heapUsedMb=") && gauge.contains("heapMaxMb=") &&
        gauge.contains("activeRequests="), gauge)
    } finally s.stop()
  }

  test("serve CLI: defaults < yaml < env < cli layering, then an " +
    "end-to-end boot — 503 while loading, 200 after, access log on") {
    import graft.tools.{KeyedConfig, Serve}
    // ---- layering (pure) ----
    assert(KeyedConfig.cliName("api.maxQueuedHttpConnections") ===
      "--api-max-queued-http-connections")
    assert(KeyedConfig.envName("api.maxQueuedHttpConnections") ===
      "GRAFT_API_MAX_QUEUED_HTTP_CONNECTIONS")
    val yaml = java.nio.file.Files.createTempFile("runtime", ".yaml")
    java.nio.file.Files.writeString(yaml,
      "api:\n  port: 9999\n  maxQueuedHttpConnections: 7\nquery:\n  timeoutInSeconds: 11\n")
    val resolved = Serve.resolve(
      Seq("--runtime-config", yaml.toString, "--api-port=0"),
      Map("GRAFT_QUERY_TIMEOUT_IN_SECONDS" -> "22"))
    assert(resolved("api.port") === "0") // cli beats yaml
    assert(resolved("query.timeoutInSeconds") === "22") // env beats yaml
    assert(resolved("api.maxQueuedHttpConnections") === "7") // yaml beats default
    val cfg = Serve.serverConfig(resolved)
    assert(cfg.maxConnections === 7 && cfg.timeoutSeconds === 22L)
    intercept[RuntimeException](Serve.parseArgs(Seq("--no-such-option", "1")))
    // ---- end-to-end boot from a data directory ----
    val base = "/root/reference/testBaseData/unitTestDummyDataset"
    val dataDir = java.nio.file.Files.createTempDirectory("servedata")
    Seq("database_config.yaml", "reference_genomes.json", "input.ndjson",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach(f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(base, f),
        dataDir.resolve(f)))
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val s = Serve.boot(spark, Map(
      "dataDirectory" -> dataDir.toString,
      "api.port" -> "0",
      "api.accessLog" -> "true",
      "api.estimatedStartupTimeInMinutes" -> "1"),
      accessSink = l => { lines.add(l); () })
    try {
      def u(p: String) = URI.create(s"http://127.0.0.1:${s.boundPort}$p")
      def postQ() = http.send(HttpRequest.newBuilder(u("/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "default.groupBy({c := count()})")).build(),
        HttpResponse.BodyHandlers.ofString())
      // the server listens IMMEDIATELY; until the background build commits
      // every endpoint answers 503 + Retry-After (the build takes seconds,
      // so the very first request reliably lands in the window)
      val early = postQ()
      assert(Seq(503, 200).contains(early.statusCode()))
      if (early.statusCode() == 503) {
        assert(early.body().contains("Database not initialized yet"))
        assert(early.headers().firstValue("Retry-After").isPresent)
      }
      val deadline = System.nanoTime() + 120_000_000_000L
      var r = postQ()
      while (r.statusCode() == 503 && System.nanoTime() < deadline) {
        Thread.sleep(250); r = postQ()
      }
      assert(r.statusCode() === 200, r.body())
      assert(r.body().trim.startsWith("{\"c\":"))
      // the CLI path wired the access log through ServerConfig
      import scala.jdk.CollectionConverters._
      assert(lines.asScala.exists(_.startsWith("POST /query")))
    } finally s.stop()
  }

  test("rotating access-log sink rolls to .1 at the size cap and never " +
    "grows unbounded") {
    import graft.tools.Serve
    val f = java.nio.file.Files.createTempDirectory("alog")
      .resolve("access.log")
    val sink = Serve.rotatingSink(f.toString, 64)
    (1 to 40).foreach(i => sink(s"POST /query 200 ${i}ms"))
    assert(java.nio.file.Files.exists(f))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(f.toString + ".1")))
    // live file stays under cap + one line; exactly one rotated gen
    assert(java.nio.file.Files.size(f) < 64 + 32)
    assert(java.nio.file.Files.readString(f).nonEmpty)
  }

  test("append CLI: batch validated then committed as append-<seq>; the " +
    "live server hot-swaps; duplicate pks abort with state untouched") {
    import graft.tools.{Append, KeyedConfig, Serve}
    // CLI/env spellings derive mechanically, like Serve's
    assert(KeyedConfig.cliName("appendFile") === "--append-file")
    assert(KeyedConfig.envName("appendFile") === "GRAFT_APPEND_FILE")
    assert(Append.resolve(Seq("--data-directory", "/x"),
      Map("GRAFT_APPEND_FILE" -> "/y")) ===
      Map("dataDirectory" -> "/x", "appendFile" -> "/y"))
    val base = "/root/reference/testBaseData/unitTestDummyDataset"
    val dataDir = java.nio.file.Files.createTempDirectory("appenddata")
    Seq("database_config.yaml", "reference_genomes.json", "input.ndjson",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach(f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(base, f),
        dataDir.resolve(f)))
    // the batch: two fresh-pk clones of the dataset's first record
    val first = java.nio.file.Files.readAllLines(
      dataDir.resolve("input.ndjson")).get(0)
    assert(first.contains("\"primaryKey\":\"key1\""))
    val batch = java.nio.file.Files.createTempFile("batch", ".ndjson")
    java.nio.file.Files.writeString(batch,
      first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyA1\"") +
        "\n" +
        first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyA2\"") +
        "\n")
    val s = Serve.boot(spark, Map(
      "dataDirectory" -> dataDir.toString, "api.port" -> "0"))
    try {
      def count(): (Int, Long) = {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "default.groupBy({c := count()})")).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), if (r.statusCode() == 200)
          r.body().trim.stripPrefix("{\"c\":").stripSuffix("}").toLong
        else -1L)
      }
      val deadline = System.nanoTime() + 120_000_000_000L
      var (code, n0) = count()
      while (code == 503 && System.nanoTime() < deadline) {
        Thread.sleep(250); val r = count(); code = r._1; n0 = r._2
      }
      assert(code === 200)
      // append THROUGH THE CLI while the server is live
      val (file, appended) = Append.run(spark, Map(
        "dataDirectory" -> dataDir.toString,
        "appendFile" -> batch.toString))
      assert(appended === 2L)
      assert(file === "append-000001.ndjson")
      assert(java.nio.file.Files.exists(dataDir.resolve(file)))
      // the server hot-swaps on its next fingerprint check — no restart
      var (c2, n2) = count()
      while ((c2 != 200 || n2 != n0 + 2) && System.nanoTime() < deadline) {
        Thread.sleep(250); val r = count(); c2 = r._1; n2 = r._2
      }
      assert(n2 === n0 + 2, s"hot swap after append: $n2 vs ${n0 + 2}")
      // a batch duplicating an EXISTING key (even one from a previous
      // append) aborts BEFORE committing anything — reference abort
      // semantics, incremental_preprocessing.md
      val dup = java.nio.file.Files.createTempFile("dup", ".ndjson")
      java.nio.file.Files.writeString(dup,
        first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyB1\"") +
          "\n" +
          first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyA2\"") +
          "\n")
      intercept[graft.sources.NdjsonIngest.DuplicatePrimaryKey] {
        Append.run(spark, Map("dataDirectory" -> dataDir.toString,
          "appendFile" -> dup.toString))
      }
      assert(!java.nio.file.Files.exists(
        dataDir.resolve("append-000002.ndjson")),
        "aborted append must leave the state untouched")
      assert(count()._2 === n0 + 2)
      // stdin path (no --append-file), like the reference's pipe form
      val (file2, n3) = Append.run(spark,
        Map("dataDirectory" -> dataDir.toString),
        stdin = () => new java.io.ByteArrayInputStream(
          (first.replace("\"primaryKey\":\"key1\"",
            "\"primaryKey\":\"keyC1\"") + "\n").getBytes("UTF-8")))
      assert(n3 === 1L && file2 === "append-000002.ndjson")
      var n4 = count()._2
      while (n4 != n0 + 3 && System.nanoTime() < deadline) {
        Thread.sleep(250); n4 = count()._2
      }
      assert(n4 === n0 + 3)
    } finally s.stop()
  }

  test("initialize → append → serve: an EMPTY validated data directory " +
    "fills incrementally and serves, like the reference's four-" +
    "subcommand workflow; preprocess warms the same state eagerly") {
    import graft.tools.{Append, Initialize, Preprocess, Serve}
    val base = "/root/reference/testBaseData/unitTestDummyDataset"
    val outDir = java.nio.file.Files.createTempDirectory("initdata")
      .resolve("d").toString
    // initialize assembles + validates the directory from config inputs
    // (reference key spellings; tree/lineage files keep their roles)
    val out = Initialize.run(spark, Initialize.resolve(Seq(
      "--input-directory", base,
      "--output-directory", outDir,
      "--lineage-definition-filenames", "test_lineage_definition.yaml",
      "--phylo-tree-filename", "phylogenetic_tree.nwk"), Map.empty))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "database_config.yaml")))
    assert(java.nio.file.Files.size(
      java.nio.file.Paths.get(out, "input.ndjson")) === 0L)
    // a bad config must fail the initialize itself, loudly
    intercept[RuntimeException] {
      Initialize.run(spark, Map(
        "inputDirectory" -> base, "outputDirectory" -> (outDir + "2"),
        "databaseConfig" -> "no_such_config.yaml"))
    }
    // append fills the empty directory (2 fresh records)
    val first = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(base, "input.ndjson")).get(0)
    val batch = java.nio.file.Files.createTempFile("initbatch", ".ndjson")
    java.nio.file.Files.writeString(batch,
      first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyI1\"") +
        "\n" +
        first.replace("\"primaryKey\":\"key1\"", "\"primaryKey\":\"keyI2\"") +
        "\n")
    val (_, appended) = Append.run(spark, Map(
      "dataDirectory" -> out, "appendFile" -> batch.toString))
    assert(appended === 2L)
    // preprocess builds the state eagerly (2 rows visible)
    val (rows, _) = Preprocess.run(spark, Map("dataDirectory" -> out))
    assert(rows === 2L)
    // preprocess is the lifecycle's cold start: superseded/orphaned
    // posting-index generations reclaim here (SeqIndex.gc contract) —
    // plant a crashed-rebuild orphan next to a committed generation
    // and re-run
    val idxDirs = Option(new java.io.File(out, "state/index").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
    assert(idxDirs.nonEmpty, "preprocess should persist posting indexes")
    val orphan = new java.io.File(idxDirs.head, "genDEADBEEF0000")
    assert(orphan.mkdir())
    val (rows2, _) = Preprocess.run(spark, Map("dataDirectory" -> out))
    assert(rows2 === 2L)
    assert(!orphan.exists(),
      "cold-start preprocess must reclaim unreferenced index generations")
    // and the server answers over the initialized + appended directory
    val s = Serve.boot(spark, Map("dataDirectory" -> out, "api.port" -> "0"))
    try {
      def count(): (Int, Long) = {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "default.groupBy({c := count()})")).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), if (r.statusCode() == 200)
          r.body().trim.stripPrefix("{\"c\":").stripSuffix("}").toLong
        else -1L)
      }
      val deadline = System.nanoTime() + 120_000_000_000L
      var (code, n) = count()
      while ((code != 200 || n != 2L) && System.nanoTime() < deadline) {
        Thread.sleep(250); val r = count(); code = r._1; n = r._2
      }
      assert(code === 200 && n === 2L)
    } finally s.stop()
  }

  test("a TORN maintenance log line (crash mid-append / rotation race) " +
    "drops the /info maintenance field instead of corrupting the JSON") {
    val torn = new QueryServer(
      () => (Catalog(Map("default" -> table)), "v1"), 0,
      QueryServer.ServerConfig(timeoutSeconds = 120,
        infoExtra = Some(() => Some("""{"at":"2026-08-1"""))))
    torn.start()
    try {
      val r = http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${torn.boundPort}/info")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(!r.body().contains("maintenance"), r.body())
      // the response still parses as JSON
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
      ()
    } finally torn.stop()
  }

  override def afterAll(): Unit = { srv.stop(); super.afterAll() }
}

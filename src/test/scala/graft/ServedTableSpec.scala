package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.core.Database
import graft.lang.Planner
import graft.lang.Planner.SeqIndex
import graft.sources.NdjsonIngest

/** The served `default` table persisted under `state/table`: what a
  * Fresh, Loaded and Append build write and read, on a self-contained
  * seeded data directory in the serve layout (state inside the data dir).
  */
class ServedTableSpec extends SparkSpec {

  private val Ref = "ACGTACGTACGTACGTACGTACGT"
  private val Gene = "MADSKLPQRS"
  private val Lineages = Seq("A", "A.1", "B", "B.1", "B.1.1")

  /** One NDJSON record. Position 5 carries T in 7 of 10 rows, so the
    * local reference adapts there; offsets cycle 2, 0 and absent.
    */
  private def record(i: Int): String = {
    val rnd = new java.util.Random(i * 7919L + 17)
    val s = Ref.toCharArray
    if (i % 10 < 7) s(4) = 'T'
    if (i % 3 == 0) s(12 + rnd.nextInt(10)) = 'G'
    if (i % 4 == 0) { s(9) = 'N'; s(10) = 'N' }
    if (i == 11) s(17) = 'C' // one rare mutation
    val seq = new String(s)
    val main =
      if (i == 13) "null"
      else {
        val ins = if (i % 5 == 0) "\"7:GG\"" else ""
        i % 3 match {
          case 0 => s"""{"sequence":"${seq.drop(2)}","offset":2,"insertions":[$ins]}"""
          case 1 => s"""{"sequence":"$seq","offset":0,"insertions":[$ins]}"""
          case _ => s"""{"sequence":"$seq","insertions":[$ins]}"""
        }
      }
    val g = Gene.toCharArray
    if (i % 4 == 1) g(2) = 'K'
    val aaIns = if (i % 6 == 0) "\"4:KK\"" else ""
    // an unknown lineage nulls out at ingest (treatUnknownLineagesAsNull)
    val lineage = if (i % 9 == 8) "Z.9" else Lineages(i % Lineages.size)
    val country = Seq("Germany", "France", "Spain")(i % 3)
    f"""{"primaryKey":"k$i%03d","date":"2021-0${1 + i % 9}-1${i % 10}",""" +
      s""""country":"$country","pango_lineage":"$lineage","age":${20 + i % 50},""" +
      s""""main":$main,"unaligned_main":"$seq",""" +
      s""""S":{"sequence":"${new String(g)}","insertions":[$aaIns]}}"""
  }

  private def dataDir(rows: Range): Path = {
    val d = Files.createTempDirectory("graft_served")
    Files.writeString(d.resolve("database_config.yaml"),
      """schema:
        |  instanceName: served
        |  metadata:
        |    - name: primaryKey
        |      type: string
        |    - name: date
        |      type: date
        |    - name: country
        |      type: string
        |    - name: pango_lineage
        |      type: string
        |      generateLineageIndex: lineage_definition.yaml
        |      treatUnknownLineagesAsNull: true
        |    - name: age
        |      type: int
        |  primaryKey: primaryKey
        |""".stripMargin)
    Files.writeString(d.resolve("lineage_definition.yaml"),
      "A: {}\nA.1:\n  parents:\n    - A\nB: {}\nB.1:\n  parents:\n    - B\n" +
        "B.1.1:\n  parents:\n    - B.1\n")
    Files.writeString(d.resolve("reference_genomes.json"),
      s"""{"nucleotideSequences":[{"name":"main","sequence":"$Ref"}],""" +
        s""""genes":[{"name":"S","sequence":"$Gene"}]}""")
    writeRows(d.resolve("input.ndjson"), rows)
    d
  }

  private def writeRows(p: Path, rows: Range): Unit =
    Files.writeString(p, rows.map(record).mkString("", "\n", "\n"))

  /** The serve/append input list: input.ndjson, then append-* in order. */
  private def inputs(d: Path): String =
    (Seq(d.resolve("input.ndjson").toString) ++
      Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("append-")).toSeq.sorted.map(d.resolve(_).toString))
      .mkString(",")

  private def state(d: Path) = d.resolve("state").toString
  private def tableDir(d: Path) = Database.tableDir(state(d))
  private def served(d: Path) = Database.build(spark, d.toString, inputs(d), Some(state(d)))
  /** The lazy NDJSON-derived catalog: no state dir, nothing persisted. */
  private def derived(d: Path) = Database.build(spark, d.toString, inputs(d))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameTable(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq)
    assert(rows(a) === rows(b))
  }

  // every query kind of the dashboard mix
  private val queries = Seq(
    "default.groupBy({n := count()}, {country}).orderBy({country})",
    "default.filter(between(age, 20, 60)).groupBy({n := count()}, {pango_lineage})",
    "default.filter(in(country, {'Germany', 'France'})).groupBy({n := count()}, {date})",
    "default.filter(lineage(pango_lineage, 'B', includeSublineages := true))" +
      ".groupBy({n := count()}, {country})",
    "default.filter(nucleotideEquals(position := 18, symbol := 'C', " +
      "sequenceName := 'main')).groupBy({n := count()})",
    "default.filter(nucleotideEquals(position := 5, symbol := 'T', " +
      "sequenceName := 'main')).groupBy({n := count()})",
    "default.mutations(minProportion := 0.05, sequenceNames := {main})",
    "default.filter(country = 'Germany').mutations(minProportion := 0.05, " +
      "sequenceNames := {main})",
    "default.aminoAcidMutations(minProportion := 0.05)",
    "default.insertions()",
    "default.aminoAcidInsertions()")

  private def jsonScans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] => s
    }

  /** Every dashboard query kind plans without a JSON scan against the
    * persisted catalog, and answers like the NDJSON-derived one.
    */
  private def assertServedFromTable(d: Path): Unit = {
    val cat = served(d)
    val lazyCat = derived(d)
    queries.foreach { q =>
      val df = Planner.plan(q, cat)
      assert(jsonScans(df).isEmpty, q)
      assert(rows(df) === rows(Planner.plan(q, lazyCat)), q)
    }
    // the detector is live: the NDJSON-derived plan does scan JSON
    assert(jsonScans(Planner.plan(queries(6), lazyCat)).nonEmpty)
  }

  test("the stored table equals the NDJSON-derived frame (offsets 0, 2 and " +
    "absent), and again after an Append") {
    val d = dataDir(0 until 40)
    val cat = served(d)
    assert(cat.sequences("default")("main").localRef.exists(_.charAt(4) == 'T'))
    assertSameTable(cat.tables("default"), derived(d).tables("default"))
    assert(cat.versionedDirs("default") === tableDir(d))
    // an appended batch keeps the majority at position 5, so the frozen
    // local reference is also what a from-scratch derivation adapts to
    writeRows(d.resolve("append-000001.ndjson"), 40 until 50)
    val appended = served(d)
    assert(NdjsonIngest.latestLayers(tableDir(d)).size === 2)
    assertSameTable(appended.tables("default"), derived(d).tables("default"))
    assert(appended.mutIndexes("default")("main").tableRows === 50L)
    assert(SeqIndex.readMeta(spark, s"${state(d)}/index/main").get.layers.size === 2)
  }

  test("no served plan scans JSON after a Loaded or an Append build") {
    val d = dataDir(0 until 40)
    served(d) // Fresh
    assertServedFromTable(d) // Loaded
    writeRows(d.resolve("append-000001.ndjson"), 40 until 48)
    assertServedFromTable(d) // the first build here is the Append
  }

  test("a Loaded build runs no Spark job over the NDJSON input") {
    val d = dataDir(0 until 30)
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    // the bus delivers in order: once a marker query's start arrives,
    // every earlier execution's has too
    def drained(): Seq[String] = {
      val marker = s"marker_${System.nanoTime()}"
      spark.range(1).selectExpr(s"id AS $marker").collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!plans.asScala.exists(_.contains(marker)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      val out = plans.asScala.toSeq
      plans.clear()
      out
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drained()
      served(d) // Fresh
      assert(drained().exists(_.contains("input.ndjson")),
        "the Fresh build reads the input (the check below is not vacuous)")
      served(d) // Loaded
      val loaded = drained()
      assert(loaded.nonEmpty)
      assert(!loaded.exists(_.contains("input.ndjson")), loaded.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a crash between the table commit and an index commit heals on the " +
    "next build; the table's crash-reconciled log survives a phantom commit") {
    val d = dataDir(0 until 30)
    served(d)
    val mainMeta = Paths.get(state(d), "index", "main", "meta.json")
    val before = Files.readString(mainMeta)
    writeRows(d.resolve("append-000001.ndjson"), 30 until 36)
    served(d) // Append: table layer, then each index layer
    // crash: the table committed its Append, `main`'s index meta did not
    // (its checksum sidecar goes too: it describes the newer meta)
    Files.writeString(mainMeta, before)
    Files.delete(mainMeta.resolveSibling(".meta.json.crc"))
    val healed = served(d)
    val tag = NdjsonIngest.latestTag(tableDir(d))
    val meta = SeqIndex.readMeta(spark, mainMeta.getParent.toString).get
    assert(meta.fingerprint === tag)
    assert(meta.tableRows === 36L)
    val q = queries(6)
    assert(rows(Planner.plan(q, healed)) === rows(Planner.plan(q, derived(d))))

    // a crash between the table's log entry and its pointer flip leaves a
    // phantom entry naming an unpointed layer; the next commit reconciles
    // it into a content-preserving compact entry
    val log = Paths.get(tableDir(d), "_log")
    val phantomSeq = NdjsonIngest.commits(tableDir(d)).last + 1
    val chain = NdjsonIngest.latestLayers(tableDir(d))
    Files.createDirectories(Paths.get(tableDir(d), "v99"))
    Files.writeString(log.resolve(phantomSeq.toString),
      (chain :+ "v99").mkString(",") + " phantom #kind=append")
    writeRows(d.resolve("append-000002.ndjson"), 36 until 40)
    val after = served(d)
    assert(Files.readString(log.resolve(phantomSeq.toString)).endsWith("#kind=compact"))
    assert(!NdjsonIngest.latestLayers(tableDir(d)).contains("v99"))
    assertSameTable(after.tables("default"), derived(d).tables("default"))

    // Preprocess (the cold start) reclaims dead generations and counts
    // from the committed stats
    val (n, _) = graft.tools.Preprocess.run(spark, Map("dataDirectory" -> d.toString))
    assert(n === 40L)
    val live = NdjsonIngest.latestLayers(tableDir(d)).toSet
    val layerDirs = Files.list(Paths.get(tableDir(d))).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("v\\d+")).toSet
    assert(layerDirs === live)
    assert(Files.list(Paths.get(tableDir(d), "_source")).count() === 1L)
  }

  test("a config edit forces Fresh for the table and every index dir") {
    val d = dataDir(0 until 30)
    served(d)
    val pointer = Paths.get(tableDir(d), "latest")
    val before = Files.readString(pointer)
    val idx = Seq("main", "S").map(n => Paths.get(state(d), "index", n).toString)
    val fps = idx.map(SeqIndex.readMeta(spark, _).get.fingerprint)
    served(d)
    assert(Files.readString(pointer) === before) // Loaded: nothing rewritten
    val cfg = d.resolve("database_config.yaml")
    Files.writeString(cfg, Files.readString(cfg) + "# edited\n")
    val cat = served(d)
    val after = Files.readString(pointer)
    assert(after.split(" ")(0) !== before.split(" ")(0)) // a new snapshot layer
    val tag = NdjsonIngest.latestTag(tableDir(d))
    assert(tag !== before.trim.split(" ").lift(1))
    idx.zip(fps).foreach { case (dir, fp) =>
      val m = SeqIndex.readMeta(spark, dir).get
      assert(m.fingerprint !== fp, dir)
      assert(m.fingerprint === tag, dir)
      assert(m.layers.size === 1, dir)
    }
    assertSameTable(cat.tables("default"), derived(d).tables("default"))
  }

  test("a maintenance tick leaves the served table alone under a live server") {
    val d = dataDir(0 until 30)
    val srv = graft.tools.Serve.boot(spark,
      Map("dataDirectory" -> d.toString, "api.port" -> "0"), _ => ())
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def count(): (Int, String) = {
        val r = http.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            "default.filter(nucleotideEquals(position := 5, symbol := 'T', " +
              "sequenceName := 'main')).groupBy({n := count()})")).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body().trim)
      }
      def await(want: String): Unit = {
        val deadline = System.currentTimeMillis() + 120000
        var last = count()
        while (last != (200, want) && System.currentTimeMillis() < deadline) {
          Thread.sleep(200); last = count()
        }
        assert(last === (200, want))
      }
      // position 5 carries T in 7 of 10 rows; row 13 has no sequence
      def tRows(r: Range) = s"""{"n":${r.count(i => i % 10 < 7 && i != 13)}}"""
      await(tRows(0 until 30))
      // a second layer (hot-swapped Append build), so the chain is
      // longer than the tick's maxLayers and its older layers are gc-able
      writeRows(d.resolve("append-000001.ndjson"), 30 until 40)
      await(tRows(0 until 40))
      assert(NdjsonIngest.latestLayers(tableDir(d)).size === 2)
      assert(!graft.tools.Maintenance.discoverChains(d.toString).contains(tableDir(d)))
      val report = graft.tools.Maintenance.tick(spark, d.toString,
        maxLayers = 1, retainCommits = 1, log = _ => ())
      assert(report.failed.isEmpty, report.failed)
      assert(!report.compacted.contains(tableDir(d)))
      assert(NdjsonIngest.latestLayers(tableDir(d)).size === 2)
      assert(count() === (200, tRows(0 until 40)))
    } finally srv.stop()
  }
}

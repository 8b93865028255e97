package graft.tools

import org.apache.spark.sql.SparkSession
import graft.sources.NdjsonIngest

/** Periodic self-tending for a long-running serve deployment — the
  * analog of the reference's directory-watcher sidecar
  * (app/src/silo_directory_watcher.cpp: the long-running server watches
  * its data directory and swaps new data versions in), extended to the
  * storage this engine actually accumulates: version chains grow one
  * layer per append, superseded layers linger after compaction, and a
  * feed-maintained ANN index drifts toward its imbalance watermark. An
  * operator should not have to cron three CLIs around the server; the
  * server tends its own state.
  *
  * One [[tick]] does, in order, for every discovered target under the
  * maintenance root:
  *  - COMPACT: a version chain longer than `maxLayers` folds into one
  *    snapshot layer — merge-free chains through
  *    [[NdjsonIngest.compactVersions]], upsert/tombstone chains
  *    through the pk-aware [[NdjsonIngest.compactMerged]] (the pk comes
  *    from the chain's own `_pk` breadcrumb; only a chain predating the
  *    breadcrumb is skipped, until any later commit records it);
  *  - GC: version dirs unreferenced by the latest pointer, the retained
  *    commit window, or a frozen snapshot pin are deleted
  *    ([[NdjsonIngest.gcVersions]] with [[graft.core.Snapshot.pins]] —
  *    `retainCommits` doubles as the drain window for in-flight readers
  *    of just-superseded pointers, so keep it ≥ 2 while serving);
  *  - ANN SYNC: every feed registration `<root>/ann-feeds/<name>.json`
  *    runs [[graft.ann.AnnIndex.syncFromFeed]] with
  *    `rebuildOnImbalance = true` — new vectors append as codes, and a
  *    tripped balance watermark retrains the NEXT GENERATION beside the
  *    live one with an atomic pointer flip (zero downtime);
  *  - CORPUS SYNC: every registration `<root>/corpus-feeds/<name>.json`
  *    runs [[graft.core.CorpusIndexes.sync]] — the text twin: MinHash +
  *    SimHash band chains and the materialized dedup cluster table stay
  *    in lockstep with the document table's change feed, O(batch) per
  *    tick with cluster-scoped delete repair.
  *
  * Every target is isolated: one failing table or index logs and moves
  * on — maintenance must never take the server down, and the next tick
  * retries naturally. All work happens between requests on a daemon
  * thread; readers keep whatever pointer they resolved (generation /
  * layer isolation), so queries stay correct across every swap.
  *
  * Deployment envelope: the tick's compactors and gc are pointer-
  * flipping WRITERS — they serialize against concurrent committers
  * through [[graft.core.DirLock]]'s advisory file locks, which assumes
  * every writer shares one POSIX filesystem (see that scaladoc for the
  * object-storage caveat). Failure posture is asymmetric on purpose:
  * thread-safety fails OPEN (any target's failure logs and moves on),
  * data-retention fails CLOSED (an unreadable feed cursor or registry
  * SKIPS gc for the affected dirs this tick rather than risk reclaiming
  * commits a registered consumer has not read).
  */
object Maintenance {

  /** A feed-maintained ANN index registration: everything
    * [[graft.ann.AnnIndex.syncFromFeed]] needs, as one JSON file under
    * `<root>/ann-feeds/`. Written once by whoever provisions the index
    * ([[register]]); read every tick.
    */
  final case class AnnFeedSpec(tableDir: String, indexDir: String,
      stateDir: String, idCol: String, vecCol: String,
      dim: Int, cells: Int, m: Int, k: Int,
      balanceFactor: Double = 4.0)

  /** Register an ANN feed for periodic maintenance (tmp+rename: a
    * crashed write never leaves a torn spec for the tick to trip on).
    */
  def register(root: String, name: String, spec: AnnFeedSpec): Unit = {
    val dir = java.nio.file.Paths.get(root, "ann-feeds")
    java.nio.file.Files.createDirectories(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("tableDir", spec.tableDir)
    node.put("indexDir", spec.indexDir)
    node.put("stateDir", spec.stateDir)
    node.put("idCol", spec.idCol)
    node.put("vecCol", spec.vecCol)
    node.put("dim", spec.dim)
    node.put("cells", spec.cells)
    node.put("m", spec.m)
    node.put("k", spec.k)
    node.put("balanceFactor", spec.balanceFactor)
    val tmp = dir.resolve(s".$name.json.tmp")
    java.nio.file.Files.writeString(tmp, mapper.writeValueAsString(node))
    java.nio.file.Files.move(tmp, dir.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A feed-maintained document-corpus index registration — everything
    * [[graft.core.CorpusIndexes.sync]] needs, as one JSON file under
    * `<root>/corpus-feeds/`.
    */
  final case class CorpusFeedSpec(tableDir: String, stateDir: String,
      idCol: String = "doc_id", srcCol: String = "source",
      textCol: String = "text")

  /** Register a document corpus for periodic index maintenance. */
  def registerCorpus(root: String, name: String,
      spec: CorpusFeedSpec): Unit = {
    val dir = java.nio.file.Paths.get(root, "corpus-feeds")
    java.nio.file.Files.createDirectories(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("tableDir", spec.tableDir)
    node.put("stateDir", spec.stateDir)
    node.put("idCol", spec.idCol)
    node.put("srcCol", spec.srcCol)
    node.put("textCol", spec.textCol)
    val tmp = dir.resolve(s".$name.json.tmp")
    java.nio.file.Files.writeString(tmp, mapper.writeValueAsString(node))
    java.nio.file.Files.move(tmp, dir.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def readCorpusSpec(
      p: java.nio.file.Path): Option[CorpusFeedSpec] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      if (node == null || !node.has("tableDir")) None
      else Some(CorpusFeedSpec(
        node.get("tableDir").asText, node.get("stateDir").asText,
        Option(node.get("idCol")).map(_.asText).getOrElse("doc_id"),
        Option(node.get("srcCol")).map(_.asText).getOrElse("source"),
        Option(node.get("textCol")).map(_.asText).getOrElse("text")))
    } catch { case _: java.io.IOException => None }

  private def readSpec(p: java.nio.file.Path): Option[AnnFeedSpec] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      if (node == null || !node.has("tableDir")) None
      else Some(AnnFeedSpec(
        node.get("tableDir").asText, node.get("indexDir").asText,
        node.get("stateDir").asText, node.get("idCol").asText,
        node.get("vecCol").asText, node.get("dim").asInt,
        node.get("cells").asInt, node.get("m").asInt, node.get("k").asInt,
        Option(node.get("balanceFactor")).map(_.asDouble).getOrElse(4.0)))
    } catch { case _: java.io.IOException => None }

  /** Version-chain table dirs under `root` (bounded walk): a chain dir
    * carries a `latest` pointer file and a `_log` dir. The walk never
    * descends into a discovered chain (its `v*` layer dirs can be
    * arbitrarily wide) or into `_`-prefixed internals. A Database build's
    * served table ([[graft.core.Database.tableDir]], a chain with
    * `_source` records) is skipped: a live catalog reads its layers, so
    * only the cold-start [[Preprocess]] may reclaim them.
    */
  def discoverChains(root: String, maxDepth: Int = 4): Seq[String] = {
    def walk(dir: java.io.File, depth: Int): Seq[String] = {
      if (depth > maxDepth || !dir.isDirectory) Nil
      else if (new java.io.File(dir, "latest").isFile &&
          new java.io.File(dir, "_log").isDirectory)
        if (new java.io.File(dir, "_source").isDirectory) Nil
        else Seq(dir.getPath)
      else Option(dir.listFiles()).getOrElse(Array())
        .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .sortBy(_.getName).toSeq
        .flatMap(walk(_, depth + 1))
    }
    walk(new java.io.File(root), 0)
  }

  /** What one tick did — sizes only, for the access/maintenance log. */
  final case class Report(compacted: Seq[String], gced: Map[String, Int],
      annSynced: Seq[String], failed: Seq[(String, String)],
      corpusSynced: Seq[String] = Nil)

  /** One maintenance pass over `root` (see the object doc for the
    * per-target semantics). Never throws: per-target failures land in
    * `Report.failed` and on `log`.
    */
  def tick(spark: SparkSession, root: String, maxLayers: Int = 8,
      retainCommits: Int = 2,
      log: String => Unit = l => System.err.println(s"[maintenance] $l"))
      : Report = {
    val compacted = Seq.newBuilder[String]
    val gced = Map.newBuilder[String, Int]
    val synced = Seq.newBuilder[String]
    val failed = Seq.newBuilder[(String, String)]
    def guard[T](what: String)(body: => T): Option[T] =
      try Some(body) catch {
        case t if scala.util.control.NonFatal(t) =>
          failed += what -> t.getMessage
          log(s"$what failed: ${t.getMessage}")
          None
      }
    // a registered feed's SOURCE table must never lose commits its
    // consumer has not read (readChanges over a gc'd range would fail
    // forever): gc retention widens to keep every commit past the
    // lowest registered cursor for that dir. Compaction stays safe
    // unconditionally — compact commits contribute nothing to the feed.
    // Failures FAIL CLOSED for the data (never the thread): each
    // cursor read sits in its own guard(), and an unreadable cursor
    // marks ITS table dir's floor unknown — gc for that dir SKIPS this
    // tick (an unknown floor can't bound retention; proceeding with
    // only retainCommits could permanently reclaim commits the
    // consumer has not read, and the table's own doc says a gc'd feed
    // range fails forever). Other dirs gc normally; an unreadable feed
    // REGISTRY (the spec listing itself) skips gc for every dir this
    // tick. The next tick retries — 'never throws, next tick retries'
    // stays the loop's contract.
    val feedFloor: Option[Map[String, Option[Long]]] =
      guard("feed-registry")(
        annFeedSpecs(root).map { case (n, s) =>
          (s"feed-cursor ann/$n", s.tableDir, s.stateDir) } ++
          corpusFeedSpecs(root).map { case (n, s) =>
            (s"feed-cursor corpus/$n", s.tableDir, s"${s.stateDir}/feed") })
        .map(_.map { case (what, dir, stateDir) =>
          dir -> guard(what)(
            graft.sources.ChangeFeedConsumer.cursor(stateDir))
        }.groupBy(_._1).map { case (d, xs) =>
          d -> (if (xs.exists(_._2.isEmpty)) None
                else Some(xs.flatMap(_._2).min))
        })
    discoverChains(root).foreach { dir =>
      // the WHOLE per-target body guards, chain discovery included: a
      // corrupt latest pointer or a chain dir deleted between discovery
      // and read must fail THIS target only — 'never throws, next tick
      // retries' is the loop's contract
      guard(s"compact $dir") {
        val chain = NdjsonIngest.latestLayers(dir)
        if (chain.length > maxLayers) {
          if (NdjsonIngest.chainMergeFree(dir, chain)) {
            if (NdjsonIngest.compactVersions(spark, dir, maxLayers))
              compacted += dir
          }
          else NdjsonIngest.pkOf(dir) match {
            // a merge-on-read chain folds through the pk-aware compactor
            // — the chain records its own pk (`_pk` breadcrumb), so the
            // loop needs no out-of-band configuration
            case Some(pk) =>
              if (NdjsonIngest.compactMerged(spark, dir, pk, maxLayers))
                compacted += dir
            case None => log(s"skip compact $dir: merge-on-read chain " +
              "predating the _pk breadcrumb (any later commit records it)")
          }
        }
      }
      guard(s"gc $dir") {
        val canon = new java.io.File(dir).getCanonicalPath
        val floors: Option[Seq[Option[Long]]] = feedFloor.map(_.collect {
          case (fd, cur)
              if new java.io.File(fd).getCanonicalPath == canon => cur
        }.toSeq)
        floors match {
          case None =>
            // feed registry unreadable → which dirs have consumers is
            // unknown → fail closed for every dir this tick
            log(s"skip gc $dir: feed registry unreadable (fail closed)")
          case Some(fl) if fl.contains(None) =>
            log(s"skip gc $dir: a registered feed's cursor is " +
              "unreadable (fail closed — retention can't be bounded)")
          case Some(fl) =>
            // >= (not >): readChanges(cursor, head] reads each commit's
            // layer diff against its PREDECESSOR's chain, so the cursor
            // commit's own log entry must survive too
            val retain = fl.flatten
              .map(cur => NdjsonIngest.commits(dir).count(_ >= cur))
              .foldLeft(retainCommits)(math.max)
            val dead = NdjsonIngest.gcVersions(dir, retain,
              pinned = graft.core.Snapshot.pins(root, dir))
            if (dead.nonEmpty) gced += dir -> dead.length
        }
      }
    }
    // after each sync, LENGTH-compact the index chains (no-ops under
    // the layer bound): an insert-only production feed otherwise grows
    // one layer per tick forever — the delete/upsert paths purge-
    // compact on their own, but nothing else bounds the happy path's
    // union width. Physical reclaim of the folded layers happens on
    // each consumer's own next-poll gc (their drain contract).
    annFeedSpecs(root).foreach { case (name, s) =>
      guard(s"ann-sync $name") {
        graft.ann.AnnIndex.syncFromFeed(spark, s.tableDir, s.indexDir,
          s.stateDir, s.idCol, s.vecCol, s.dim, s.cells, s.m, s.k,
          rebuildOnImbalance = true, balanceFactor = s.balanceFactor)
        graft.ann.AnnIndex.compactCodes(spark, s.indexDir)
        // generations superseded by ≥2 swaps have outlived any
        // pre-swap reader; reclaim them (keepLatest=2 drain window)
        graft.ann.AnnIndex.gcGenerations(s.indexDir)
        synced += name
      }
    }
    val corpusSynced = Seq.newBuilder[String]
    corpusFeedSpecs(root).foreach { case (name, s) =>
      guard(s"corpus-sync $name") {
        graft.core.CorpusIndexes.sync(spark, s.tableDir, s.stateDir,
          s.idCol, s.srcCol, s.textCol)
        graft.operators.DedupIndex.compact(spark, s"${s.stateDir}/minhash")
        graft.operators.SimHashIndex.compact(spark, s"${s.stateDir}/simhash")
        corpusSynced += name
      }
    }
    val report = Report(compacted.result(), gced.result(), synced.result(),
      failed.result(), corpusSynced.result())
    // tick history persists as one JSON line per tick in
    // `<root>/_maintenance.log` (size-rotated, one generation — the
    // access-log policy), so an operator can see whether compaction is
    // keeping up without scraping stderr; the serve /info endpoint
    // surfaces the newest line (the reference's watcher surfaces
    // data-version progression through the API header the same way).
    // Best-effort: a log-write failure must not fail the tick.
    try appendReportLine(root, reportJson(report))
    catch {
      case t if scala.util.control.NonFatal(t) =>
        log(s"maintenance-log write failed: ${t.getMessage}")
    }
    report
  }

  /** One tick Report as a single JSON line (stamped with wall time). */
  private[tools] def reportJson(r: Report): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("at", java.time.Instant.now().toString)
    node.put("compacted", r.compacted.size)
    node.put("gced", r.gced.values.sum)
    node.put("annSynced", r.annSynced.size)
    node.put("corpusSynced", r.corpusSynced.size)
    val fails = node.putArray("failed")
    r.failed.foreach { case (what, msg) =>
      fails.add(s"$what: ${Option(msg).getOrElse("")}") }
    mapper.writeValueAsString(node)
  }

  private def appendReportLine(root: String, line: String): Unit = {
    val p = java.nio.file.Paths.get(root, "_maintenance.log")
    if (java.nio.file.Files.exists(p) &&
        java.nio.file.Files.size(p) >= 1024 * 1024)
      java.nio.file.Files.move(p,
        java.nio.file.Paths.get(root, "_maintenance.log.1"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.writeString(p, line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** The newest persisted tick report line under `root`, if any ticks
    * ran — what serve's /info surfaces as `maintenance`.
    */
  def lastReportLine(root: String): Option[String] = {
    val p = java.nio.file.Paths.get(root, "_maintenance.log")
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).linesIterator
      .foldLeft(Option.empty[String])((_, l) => Some(l))
      .filter(_.nonEmpty)
  }

  private def feedFiles(root: String,
      sub: String): Seq[java.nio.file.Path] = {
    val feedDir = java.nio.file.Paths.get(root, sub)
    if (!java.nio.file.Files.isDirectory(feedDir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(feedDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".json")).sorted
    }
  }

  private def annFeedSpecs(root: String): Seq[(String, AnnFeedSpec)] =
    feedFiles(root, "ann-feeds").flatMap(p => readSpec(p)
      .map(p.getFileName.toString.stripSuffix(".json") -> _))

  private def corpusFeedSpecs(root: String): Seq[(String, CorpusFeedSpec)] =
    feedFiles(root, "corpus-feeds").flatMap(p => readCorpusSpec(p)
      .map(p.getFileName.toString.stripSuffix(".json") -> _))

  /** Run [[tick]] every `intervalSeconds` on a daemon thread until the
    * returned handle closes. The first tick runs one full interval after
    * start (boot I/O should not compete with the catalog load).
    */
  def start(spark: SparkSession, root: String, intervalSeconds: Long,
      maxLayers: Int = 8, retainCommits: Int = 2,
      log: String => Unit = l => System.err.println(s"[maintenance] $l"))
      : AutoCloseable = {
    require(intervalSeconds > 0, "maintenance interval must be positive")
    @volatile var closed = false
    val t = new Thread(() => {
      try {
        while (!closed) {
          Thread.sleep(intervalSeconds * 1000)
          if (!closed) {
            // belt to tick's guard-everything braces: whatever still
            // escapes a tick (a bug in tick itself) must not kill the
            // maintenance thread permanently and silently — log and let
            // the next interval retry, the documented contract
            try {
              val r = tick(spark, root, maxLayers, retainCommits, log)
              if (r.compacted.nonEmpty || r.gced.nonEmpty ||
                  r.annSynced.nonEmpty)
                log(s"tick: compacted=${r.compacted.size} " +
                  s"gc=${r.gced.values.sum} ann=${r.annSynced.size}")
            } catch {
              case t if scala.util.control.NonFatal(t) =>
                log(s"tick failed (retrying next interval): ${t.getMessage}")
            }
          }
        }
      } catch { case _: InterruptedException => }
    }, "graft-maintenance")
    t.setDaemon(true)
    t.start()
    () => { closed = true; t.interrupt() }
  }
}

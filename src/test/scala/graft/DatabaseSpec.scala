package graft

import org.apache.spark.sql.functions._
import graft.core.Database
import graft.lang.Planner

/** End-to-end preprocessing against the reference's own
  * unitTestDummyDataset: real database_config.yaml, reference_genomes.json,
  * lineage definition (with aliases), phylogenetic tree, and NDJSON input.
  */
class DatabaseSpec extends SparkSpec {

  val dir = "/root/reference/testBaseData/unitTestDummyDataset"
  lazy val catalog = Database.build(spark, dir, s"$dir/input.ndjson")

  def run(q: String) = Planner.plan(q, catalog)

  test("builds the default table with all 5 records") {
    assert(catalog.tables("default").count() === 5)
  }

  test("build registers a posting index per sequence binding") {
    // ingest-time index registration (≙ the reference building its
    // vertical index during preprocessing); the 5-row dummy dataset never
    // passes the 10% routing gate, so queries here stay row-wise — the
    // routing itself is plan-verified in PlanSpec at real selectivities
    assert(catalog.mutIndexes("default").keySet ===
      catalog.sequences("default").keySet)
    val main = catalog.mutIndexes("default")("main")
    assert(main.tableRows === 5L)
    assert(main.counts.nonEmpty)
  }

  test("metadata filter + groupBy over ingested NDJSON") {
    val n = run("default.filter(country = 'Switzerland').groupBy({count := count()})")
      .collect().head.getLong(0)
    assert(n === 5)
  }

  test("sequence predicates work against the ingested diffs") {
    // record key2 has main = AAGNAAGN vs ref ACGTACGT → pos1 A matches ref
    val withMut = run("default.filter(hasMutation(position := 2, sequenceName := 'main'))")
      .select("primaryKey").collect().map(_.getString(0)).toSet
    assert(withMut.contains("key2")) // A at pos2 vs ref C
  }

  test("mutations() across the ingested sequences") {
    val muts = run("default.mutations(minProportion := 0.1, sequenceNames := {main})")
    assert(muts.count() > 0)
    val cols = muts.columns.toSeq
    assert(cols === Seq("mutationFrom", "mutationTo", "position",
      "sequenceName", "proportion", "coverage", "count"))
  }

  test("mutations() routes through the persisted posting index (vertical fast path)") {
    // with an index loaded, the filtered set's diff multiset comes from
    // `postings ⋉ F_ids` (posting scan + pk semi-join) — the reference's
    // vertical-index path (mutations_node.cpp:153-189) — and the wide
    // row-level `muts` arrays are never exploded; coverage still reads
    // the filtered rows (interval prefix sum over cov bounds + missing)
    val q = "default.filter(country = 'Switzerland')" +
      ".mutations(minProportion := 0.01, sequenceNames := {main})"
    val routed = Planner.plan(q, catalog)
    val p = routed.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // the diff multiset comes from the posting semi-join (visible in the
    // plan); the muts arrays are never READ at all on the routed path —
    // coverage derives from the single-pass event explode over missing +
    // cov bounds only, which sits behind the events checkpoint cut and is
    // therefore proven at RUNTIME (a poisoned-muts frame still evaluates)
    // in MutationEventsSpec, not by plan-string grep
    assert(p.toLowerCase.contains("leftsemi"), p.take(2000))
    // value parity with the routing-blind explode path
    val blind = Planner.plan(q, catalog.copy(mutIndexes = Map()))
    assert(routed.collect().map(_.toString).sorted.toSeq ===
      blind.collect().map(_.toString).sorted.toSeq)
    assert(routed.count() > 0)

    // insertions() takes the same fast path via insPostings
    val qi = "default.filter(country = 'Switzerland')" +
      ".aminoAcidInsertions(sequenceNames := {E})"
    val ri = Planner.plan(qi, catalog)
    val pi = ri.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!pi.contains("explode(E_ins"), pi.take(2000))
    assert(pi.toLowerCase.contains("leftsemi"), pi.take(2000))
    val bi = Planner.plan(qi, catalog.copy(mutIndexes = Map()))
    assert(bi.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).contains("explode(E_ins"))
    assert(ri.collect().map(_.toString).sorted.toSeq ===
      bi.collect().map(_.toString).sorted.toSeq)
    assert(ri.count() > 0)

    // over the BARE table (no filter) the explode path's map-side
    // partial combine wins — the gate keeps the index out of the plan
    val bare = Planner.plan(
      "default.mutations(minProportion := 0.01, sequenceNames := {main})", catalog)
    val pBare = bare.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // routing signature absent = the gate kept the index out of the plan
    assert(!pBare.toLowerCase.contains("leftsemi"), pBare.take(2000))
  }

  test("insertions parsed from pos:seq entries") {
    val ins = run("default.aminoAcidInsertions(sequenceNames := {E})")
      .collect()
    assert(ins.exists(r => r.getString(0) == "EPE" && r.getInt(1) == 4))
  }

  test("unaligned projection and aligned reconstruction") {
    val row = run(
      "default.filter(primaryKey = 'key1').project({primaryKey, unaligned_main, main})")
      .collect().head
    assert(row.getString(1) === "ACGTACGT")
    assert(row.getString(2) === "ACGTACGT") // reconstructed from diffs
  }

  test("lineage tree attached from config (aliases not parents)") {
    val n = run("""default.filter(lineage(pango_lineage, 'B.1.1.7',
        includeSublineages := true)).groupBy({count := count()})""")
      .collect().head.getLong(0)
    assert(n >= 3) // three B.1.1.7 rows at minimum
    // alias entries must NOT have been read as parent edges
    assert(catalog.lineageTrees("pango_lineage").parents.get("AA.1")
      .exists(_ == Seq("B.1.177.15")))
  }

  test("lineage alias names resolve to their canonical lineage") {
    // AA.1 is an alias target; querying by its alias B.1.177.15.1 must
    // reach the same rows as the canonical name
    val byCanon = run("default.filter(lineage(pango_lineage, 'AA.1', includeSublineages := true))").count()
    val byAlias = run("default.filter(lineage(pango_lineage, 'B.1.177.15.1', includeSublineages := true))").count()
    assert(byCanon === byAlias)
  }

  test("sequenceCompressed ingestion (base64 zstd against the reference)") {
    import graft.sources.ZstdStringColumn
    val tmp = java.nio.file.Files.createTempDirectory("zstddb")
    // reuse the dummy dataset's config/refs, but provide main via
    // sequenceCompressed on one record
    Seq("database_config.yaml", "reference_genomes.json",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(dir, f), tmp.resolve(f))
    }
    val mainRef = graft.core.Database.parseReferenceGenomes(
      spark, s"$dir/reference_genomes.json")._1("main")
    val blob = java.util.Base64.getEncoder.encodeToString(
      ZstdStringColumn.compressBytes("AGGTACGT", mainRef.getBytes("UTF-8")))
    val line = ("{\"primaryKey\":\"z1\",\"date\":\"2021-01-01\",\"unsorted_date\":\"2021-01-01\"," +
      "\"region\":\"Europe\",\"country\":\"CH\",\"pango_lineage\":\"A\",\"division\":\"X\"," +
      "\"age\":1,\"qc_value\":0.5,\"test_boolean_column\":true," +
      "\"main\":{\"sequenceCompressed\":\"" + blob + "\",\"insertions\":[]}," +
      "\"testSecondSequence\":{\"sequence\":\"ACGT\",\"insertions\":[]}," +
      "\"E\":{\"sequence\":\"MYSF*\",\"insertions\":[]}," +
      "\"M\":{\"sequence\":\"MADS*\",\"insertions\":[]}}")
    java.nio.file.Files.writeString(tmp.resolve("in.ndjson"), line + "\n")
    val cat = Database.build(spark, tmp.toString, tmp.resolve("in.ndjson").toString)
    val row = Planner.plan("default.project({primaryKey, main})", cat).collect().head
    assert(row.getString(1) === "AGGTACGT") // decompressed, diffed, reconstructed
  }

  test("posting indexes persist to stateDir parquet and LOAD on rebuild") {
    import java.nio.file.{Files, Paths}
    val state = Files.createTempDirectory("graft_state").toString
    val c1 = Database.build(spark, dir, s"$dir/input.ndjson", Some(state))
    // every binding wrote a complete index (meta present = commit marker)
    c1.mutIndexes("default").keySet.foreach { b =>
      assert(Files.exists(Paths.get(state, "index", b, "meta.json")), b)
    }
    val meta = Paths.get(state, "index", "main", "meta.json")
    val t0 = Files.getLastModifiedTime(meta)
    val m1 = c1.mutIndexes("default")("main")
    // a SECOND build against the same state LOADS the persisted index —
    // the reference's serialize-indexes-with-state property
    // (sequence_column.h:147-163) — instead of re-deriving the postings
    val c2 = Database.build(spark, dir, s"$dir/input.ndjson", Some(state))
    assert(Files.getLastModifiedTime(meta) === t0) // not rewritten
    val m2 = c2.mutIndexes("default")("main")
    assert(m2.tableRows === m1.tableRows)
    assert(m2.counts === m1.counts)
    assert(m2.postings.collect().map(_.toString).sorted.toSeq ===
      m1.postings.collect().map(_.toString).sorted.toSeq)
    // the loaded posting frame is a plain partitioned-parquet scan: a
    // routed `pos = p` filter prunes partition directories at scan time
    val pruned = m2.postings.filter(col("pos") === 2)
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("PartitionFilters"), p.take(800))
    assert(p.contains("(pos"), p.take(800))
    // and query results through the loaded catalog match the built one
    val q = "default.filter(hasMutation(position := 2, sequenceName := 'main'))"
    assert(Planner.plan(q, c2).select("primaryKey").collect().map(_.getString(0)).toSet ===
      Planner.plan(q, c1).select("primaryKey").collect().map(_.getString(0)).toSet)
  }

  test("serve layout (state INSIDE the data directory) still LOADS on " +
    "rebuild — the config fingerprint must not fold in input/state files") {
    import java.nio.file.{Files, Paths}
    // copy the dataset into a self-contained data dir, state inside it —
    // exactly the Serve/Preprocess layout
    val dataDir = Files.createTempDirectory("graft_selfstate")
    Seq("database_config.yaml", "reference_genomes.json", "input.ndjson",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach(f =>
      Files.copy(Paths.get(dir, f), dataDir.resolve(f)))
    val state = dataDir.resolve("state").toString
    Database.build(spark, dataDir.toString,
      dataDir.resolve("input.ndjson").toString, Some(state))
    val meta = Paths.get(state, "index", "main", "meta.json")
    val t0 = Files.getLastModifiedTime(meta)
    // the FIRST build wrote state/ into the config dir; a directory-wide
    // config fingerprint would now mismatch and force a fresh rebuild
    // every time — the explicit config-file fingerprint must load
    Database.build(spark, dataDir.toString,
      dataDir.resolve("input.ndjson").toString, Some(state))
    assert(Files.getLastModifiedTime(meta) === t0,
      "second build in the serve layout must LOAD, not rebuild")
    // editing an actual config file still invalidates
    val cfgPath = dataDir.resolve("database_config.yaml")
    Files.writeString(cfgPath,
      Files.readString(cfgPath) + "\n# touched\n")
    Database.build(spark, dataDir.toString,
      dataDir.resolve("input.ndjson").toString, Some(state))
    assert(Files.getLastModifiedTime(meta) !== t0,
      "a config edit must invalidate the persisted index")
  }

  test("persisted index invalidates when the input changes (fingerprint)") {
    import java.nio.file.{Files, Paths}
    val state = Files.createTempDirectory("graft_state_fp").toString
    val c1 = Database.build(spark, dir, s"$dir/input.ndjson", Some(state))
    val meta = Paths.get(state, "index", "main", "meta.json")
    val t0 = Files.getLastModifiedTime(meta)
    // same input → loaded, meta untouched
    Database.build(spark, dir, s"$dir/input.ndjson", Some(state))
    assert(Files.getLastModifiedTime(meta) === t0)
    // different input (one record dropped) → fingerprint miss → the index
    // REBUILDS instead of serving stale postings for the old data
    val lines = Files.readAllLines(Paths.get(s"$dir/input.ndjson"))
    val tmpIn = Files.createTempDirectory("graft_in").resolve("in.ndjson")
    Files.write(tmpIn, lines.subList(0, lines.size - 1))
    val c2 = Database.build(spark, dir, tmpIn.toString, Some(state))
    assert(c2.mutIndexes("default")("main").tableRows ===
      c1.mutIndexes("default")("main").tableRows - 1)
    assert(Files.getLastModifiedTime(meta) !== t0) // rewritten
  }

  test("corrupt meta.json loads as None (rebuild), not a crash") {
    import java.nio.file.{Files, Paths}
    val state = Files.createTempDirectory("graft_state_bad")
    Files.writeString(state.resolve("meta.json"), "{\"tableRows\":") // torn write
    assert(Planner.SeqIndex.load(spark, state.toString).isEmpty)
    Files.writeString(state.resolve("meta.json"), "not json at all")
    assert(Planner.SeqIndex.load(spark, state.toString).isEmpty)
  }

  test("persisted index invalidates when the CONFIG changes (fingerprint)") {
    import java.nio.file.{Files, Paths}
    val cfg = Files.createTempDirectory("graft_cfg")
    Seq("database_config.yaml", "reference_genomes.json",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach { f =>
      Files.copy(Paths.get(dir, f), cfg.resolve(f))
    }
    val state = Files.createTempDirectory("graft_state_cfg").toString
    Database.build(spark, cfg.toString, s"$dir/input.ndjson", Some(state))
    val meta = Paths.get(state, "index", "main", "meta.json")
    val t0 = Files.getLastModifiedTime(meta)
    // an edit to reference_genomes.json changes every diff the postings
    // were derived from even though the NDJSON is untouched — the
    // fingerprint spans the config dir, so the load must miss and rebuild
    val rg = cfg.resolve("reference_genomes.json")
    Files.writeString(rg, Files.readString(rg) + "\n")
    Database.build(spark, cfg.toString, s"$dir/input.ndjson", Some(state))
    assert(Files.getLastModifiedTime(meta) !== t0) // rewritten, not served stale
  }

  test("incremental append: new files extend the index, old postings untouched") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // input is a DIRECTORY of ndjson files, so a new batch file can appear
    val inDir = Files.createTempDirectory("graft_inc_in")
    Files.copy(Paths.get(s"$dir/input.ndjson"), inDir.resolve("batch0.ndjson"))
    val state = Files.createTempDirectory("graft_inc_state").toString
    val c1 = Database.build(spark, dir, inDir.toString, Some(state))
    assert(c1.tables("default").count() === 5)
    val idxDir = Paths.get(state, "index", "main")
    val meta1 = Planner.SeqIndex.readMeta(spark, idxDir.toString).get
    assert(meta1.layers.size === 1)
    assert(meta1.manifest.keySet.exists(_.endsWith("batch0.ndjson")))
    def layerState(layer: String): Map[String, Long] =
      Files.walk(idxDir.resolve(layer)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => idxDir.relativize(p).toString ->
          Files.getLastModifiedTime(p).toMillis).toMap
    val oldLayerFiles = layerState(meta1.layers.head)

    // two appended records: a fresh pos-1 mutation (key6: T at 1) and an
    // insertion so every index family (mut/ins/ins3) gains a layer row
    val l6 = ("{\"primaryKey\":\"key6\",\"date\":\"2021-05-01\",\"unsorted_date\":null," +
      "\"region\":\"Europe\",\"country\":\"Switzerland\",\"pango_lineage\":\"B.1.1.7\"," +
      "\"division\":\"Zurich\",\"age\":7,\"qc_value\":0.9,\"test_boolean_column\":true," +
      "\"main\":{\"sequence\":\"TCGTACGT\",\"insertions\":[\"2:CCG\"]}," +
      "\"unaligned_main\":\"TCGTACGT\"," +
      "\"testSecondSequence\":{\"sequence\":\"ACGT\",\"insertions\":[]}," +
      "\"unaligned_testSecondSequence\":\"ACGT\"," +
      "\"E\":{\"sequence\":\"MYSF*\",\"insertions\":[]}," +
      "\"M\":{\"sequence\":\"MADS*\",\"insertions\":[]}}")
    val l7 = l6.replace("key6", "key7").replace("TCGTACGT", "TCGAACGT")
    Files.writeString(inDir.resolve("batch1.ndjson"), l6 + "\n" + l7 + "\n")

    val c2 = Database.build(spark, dir, inDir.toString, Some(state))
    assert(c2.tables("default").count() === 7)
    val meta2 = Planner.SeqIndex.readMeta(spark, idxDir.toString).get
    // the committed chain EXTENDED: old layer first, one new layer after
    assert(meta2.layers.size === 2)
    assert(meta2.layers.head === meta1.layers.head)
    assert(meta2.tableRows === 7L)
    // old-row postings were NOT recomputed: every file of the first layer
    // is byte-for-byte the one written by the first build
    assert(layerState(meta1.layers.head) === oldLayerFiles)
    // queries through the appended catalog see old AND new rows
    val q1 = "default.filter(hasMutation(position := 1, sequenceName := 'main'))"
    assert(Planner.plan(q1, c2).select("primaryKey")
      .collect().map(_.getString(0)).toSet === Set("key6", "key7"))
    val qIns = "default.filter(insertionContains(position := 2, value := 'CCG', sequenceName := 'main'))"
    assert(Planner.plan(qIns, c2).select("primaryKey")
      .collect().map(_.getString(0)).toSet === Set("key6", "key7"))
    // the merged index is EQUIVALENT to one built from scratch over the
    // same grown input (counts and full posting set)
    val stateB = Files.createTempDirectory("graft_inc_stateB").toString
    val cB = Database.build(spark, dir, inDir.toString, Some(stateB))
    val mA = c2.mutIndexes("default")("main")
    val mB = cB.mutIndexes("default")("main")
    assert(mA.tableRows === mB.tableRows)
    assert(mA.counts === mB.counts)
    assert(mA.insCountByPos === mB.insCountByPos)
    assert(mA.postings.collect().map(_.toString).sorted.toSeq ===
      mB.postings.collect().map(_.toString).sorted.toSeq)
    // a third build with nothing new LOADS (meta untouched)
    val t2 = Files.getLastModifiedTime(idxDir.resolve("meta.json"))
    Database.build(spark, dir, inDir.toString, Some(state))
    assert(Files.getLastModifiedTime(idxDir.resolve("meta.json")) === t2)
  }

  test("incremental append freezes the adapted local reference") {
    import java.nio.file.{Files, Paths}
    // build where T dominates pos 1 (4 of 5 rows) → local ref adapts to T;
    // an append must re-base NEW rows onto that FROZEN reference even
    // though the appended data would shift the majority
    val cfg = Files.createTempDirectory("graft_lr_cfg")
    Seq("database_config.yaml", "reference_genomes.json",
      "phylogenetic_tree.nwk", "test_lineage_definition.yaml").foreach { f =>
      Files.copy(Paths.get(dir, f), cfg.resolve(f))
    }
    def rec(k: String, seq: String) =
      (s"""{"primaryKey":"$k","date":"2021-05-01","unsorted_date":null,""" +
        s""""region":"Europe","country":"Switzerland","pango_lineage":"B.1.1.7",""" +
        s""""division":"Zurich","age":7,"qc_value":0.9,"test_boolean_column":true,""" +
        s""""main":{"sequence":"$seq","insertions":[]},"unaligned_main":"$seq",""" +
        s""""testSecondSequence":{"sequence":"ACGT","insertions":[]},""" +
        s""""unaligned_testSecondSequence":"ACGT",""" +
        s""""E":{"sequence":"MYSF*","insertions":[]},""" +
        s""""M":{"sequence":"MADS*","insertions":[]}}""")
    val inDir = Files.createTempDirectory("graft_lr_in")
    Files.writeString(inDir.resolve("b0.ndjson"),
      ((1 to 4).map(i => rec(s"t$i", "TCGTACGT")) :+ rec("a1", "ACGTACGT"))
        .mkString("", "\n", "\n"))
    val state = Files.createTempDirectory("graft_lr_state").toString
    val c1 = Database.build(spark, cfg.toString, inDir.toString, Some(state))
    val meta1 = Planner.SeqIndex.readMeta(spark, s"$state/index/main").get
    assert(meta1.localRef === Some("TCGTACGT")) // adapted + persisted
    // append 6 A-rows: global majority at pos 1 flips back to A, but the
    // frozen local reference must stay T for the persisted layers to
    // remain valid
    Files.writeString(inDir.resolve("b1.ndjson"),
      (2 to 7).map(i => rec(s"a$i", "ACGTACGT")).mkString("", "\n", "\n"))
    val c2 = Database.build(spark, cfg.toString, inDir.toString, Some(state))
    val meta2 = Planner.SeqIndex.readMeta(spark, s"$state/index/main").get
    assert(meta2.layers.size === 2)
    assert(meta2.localRef === Some("TCGTACGT")) // frozen, not re-derived
    // query semantics are against the GLOBAL reference regardless of the
    // storage-side local ref: the 5 A-at-pos-1 + ref rows have NO pos-1
    // mutation; the 4 T rows do
    val q1 = "default.filter(hasMutation(position := 1, sequenceName := 'main'))"
    assert(Planner.plan(q1, c2).select("primaryKey")
      .collect().map(_.getString(0)).toSet === Set("t1", "t2", "t3", "t4"))
    assert(c2.tables("default").count() === 11)
    // and the merged index equals a from-scratch build over the grown
    // input MODULO the local ref (scratch adapts to A): compare the
    // QUERY-VISIBLE artifacts — counts are stored in local-ref space, so
    // compare reconstructed mutations per row instead
    val stateB = Files.createTempDirectory("graft_lr_stateB").toString
    val cB = Database.build(spark, cfg.toString, inDir.toString, Some(stateB))
    val qm = "default.mutations(minProportion := 0.01, sequenceNames := {main})"
    assert(Planner.plan(qm, c2).collect().map(_.toString).sorted.toSeq ===
      Planner.plan(qm, cB).collect().map(_.toString).sorted.toSeq)
  }

  test("layer chain compacts past CompactAt into one generation") {
    import java.nio.file.Files
    import spark.implicits._
    // a long chain of tiny appends must NOT degrade reads into a union of
    // many small-file scans forever: past the cap the chain merges into
    // one fresh generation (old layers untouched for live readers)
    val ref = "ACGT"
    def diffed(pk: String) = graft.seq.SequenceModel.diff(
      Seq((pk, "TCGT")).toDF("pk", "seq"), "seq", ref)
    val dir = Files.createTempDirectory("graft_compact").toString
    Planner.SeqIndex.build(diffed("r0"), "pk",
      indexDir = Some(dir), fingerprint = Some("fp0"))
    (1 to 8).foreach { i =>
      assert(Planner.SeqIndex.append(spark, dir, diffed(s"r$i"), "pk",
        "", None, 1L, s"fp$i", Map(s"f$i" -> "1:1")).isDefined)
    }
    val meta = Planner.SeqIndex.readMeta(spark, dir).get
    assert(meta.layers.size === 1) // 9 layers collapsed
    assert(meta.tableRows === 9L)
    assert(meta.fingerprint === Some("fp8"))
    val idx = Planner.SeqIndex.load(spark, dir, Some("fp8")).get
    assert(idx.counts((1, "T")) === 9L)
    assert(idx.postings.count() === 9L)
    // gc reclaims the now-unreferenced layer dirs
    Planner.SeqIndex.gc(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen"))
      .map(_.getPath.getName).toSeq
    assert(gens === meta.layers)
    // and the index still loads + answers after gc
    assert(Planner.SeqIndex.load(spark, dir, Some("fp8")).get
      .postings.count() === 9L)
  }

  // a self-contained one-sequence dataset (main = ACGTACGT) whose NDJSON
  // records each carry the given main struct
  private def offsetDataset(mains: (String, String)*): String = {
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft_offsets")
    Files.writeString(d.resolve("database_config.yaml"),
      """schema:
        |  instanceName: offsets
        |  metadata:
        |    - name: primaryKey
        |      type: string
        |  primaryKey: primaryKey
        |""".stripMargin)
    Files.writeString(d.resolve("reference_genomes.json"),
      """{"nucleotideSequences":[{"name":"main","sequence":"ACGTACGT"}]}""")
    Files.writeString(d.resolve("input.ndjson"), mains.map { case (k, m) =>
      s"""{"primaryKey":"$k","main":$m}"""
    }.mkString("", "\n", "\n"))
    d.toString
  }

  test("ingest diffs 0, positive and absent offsets like the HOF chain") {
    val d = offsetDataset(
      "k0" -> """{"sequence":"ACGAACGT","offset":0}""", // 4: T→A
      "k1" -> """{"sequence":"GTNCT","offset":2}""", // covers 3..7; 5 missing; 7: G→T
      "k2" -> """{"sequence":"TCGTACGT"}""") // absent offset = 0; 1: A→T
    val cat = Database.build(spark, d, s"$d/input.ndjson")
    // no position adapts, so the stored diffs are against the global ref
    assert(cat.sequences("default")("main").localRef === None)
    val stored = Seq("primaryKey", "main_cov_start", "main_cov_end",
      "main_muts", "main_missing")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(stored.map(col): _*).orderBy("primaryKey").collect().toSeq
    val (schema, _) = Database.inputSchema(spark, d)
    val raw = graft.sources.NdjsonIngest.read(spark, s"$d/input.ndjson", schema)
      .withColumn("__seq", col("main.sequence"))
    val chain = SeqDiffChain.diffLegacy(raw, "__seq", "ACGTACGT", Set("N"),
      coalesce(col("main.offset"), lit(0)), "main_")
    assert(rows(cat.tables("default")) === rows(chain))
    assert(rows(cat.tables("default")).map(_.toString) === Seq(
      "[k0,1,8,ArraySeq([4,A]),ArraySeq()]",
      "[k1,3,7,ArraySeq([7,T]),ArraySeq(5)]",
      "[k2,1,8,ArraySeq([1,T]),ArraySeq()]"))
    val muts = Planner.plan(
      "default.mutations(minProportion := 0.01, sequenceNames := {main})", cat)
      .collect().map(r => (r.getAs[String]("mutationFrom"),
        r.getAs[String]("mutationTo"), r.getAs[Any]("position").toString,
        r.getAs[Any]("coverage").toString, r.getAs[Any]("count").toString,
        r.getAs[Double]("proportion")))
      .sortBy(_._3).toSeq
    assert(muts === Seq(
      ("A", "T", "1", "2", "1", 0.5),
      ("T", "A", "4", "3", "1", 0.3333), // proportions round to 4 places
      ("G", "T", "7", "3", "1", 0.3333)))
  }

  test("a negative sequence offset fails the build with NegativeOffset") {
    val d = offsetDataset(
      "k0" -> """{"sequence":"ACGT","offset":0}""",
      "k1" -> """{"sequence":"ACGT","offset":-2}""")
    val e = intercept[graft.sources.NdjsonIngest.NegativeOffset](
      Database.build(spark, d, s"$d/input.ndjson"))
    assert(e.records === Seq("k1.main"))
    // the append CLI rejects it too, before committing anything
    val ok = offsetDataset("k0" -> """{"sequence":"ACGT"}""")
    val batch = java.nio.file.Files.createTempFile("negoffset", ".ndjson")
    java.nio.file.Files.writeString(batch,
      """{"primaryKey":"k2","main":{"sequence":"ACGT","offset":-1}}""" + "\n")
    intercept[graft.sources.NdjsonIngest.NegativeOffset](
      graft.tools.Append.run(spark, Map("dataDirectory" -> ok,
        "appendFile" -> batch.toString)))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ok, "append-000001.ndjson")))
  }

  test("phylo tree from the dataset's newick file") {
    val m = run(
      "default.filter(country = 'Switzerland').mostRecentCommonAncestor('primaryKey')")
      .collect().head
    assert(m.getAs[String]("mrcaNode") === "root")
    assert(m.isNullAt(m.fieldIndex("mrcaParent"))) // root has no parent
    assert(m.getAs[Int]("mrcaDepth") === 0)
    val sub = run(
      "default.filter((primaryKey = 'key1') || (primaryKey = 'key2')).phyloSubtree('primaryKey')")
      .collect().head
    // subtree roots at the MRCA (inner1), reverse declaration order
    assert(sub.getAs[String]("subtreeNewick") === "(key2,key1)inner1;")
    assert(sub.getAs[Int]("missingNodeCount") === 0)
  }
}

package graft.core

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lang.Planner.{Catalog, SeqBinding, SeqIndex}
import graft.seq.SequenceModel
import graft.sources.NdjsonIngest
import graft.trees.{LineageTree, PhyloTree}

/** Full preprocessing pipeline — the Spark analog of the reference's
  * `preprocessing` + `initialize` stages (reference:
  * src/silo/preprocessing/preprocessing.cpp, initialize/initializer.cpp,
  * documentation/input_format.md):
  *
  *   database_config.yaml + reference_genomes.json (+ lineage definitions,
  *   + phylogenetic tree) + input NDJSON  →  a queryable [[Catalog]].
  *
  * Ingest diffs every aligned sequence against its reference immediately
  * (sequences are never retained whole), parses `pos:seq` insertion
  * entries, and binds lineage/phylo trees as broadcast-sized structures.
  * Lineage columns with `lineageIndexType: table|both` additionally
  * materialize their edge relation table (lineage_definitions.md schema).
  */
object Database {

  final case class MetaField(
      name: String, tpe: String,
      generateIndex: Boolean = false,
      lineageFile: Option[String] = None,
      lineageIndexType: String = "columnMetadata",
      treatUnknownLineagesAsNull: Boolean = false,
      isPhyloTreeField: Boolean = false)

  final case class Config(metadata: Seq[MetaField], primaryKey: String)

  /** Parse the database_config.yaml subset the reference uses. */
  def parseConfig(path: String): Config = {
    val lines = Files.readAllLines(Paths.get(path)).toArray(Array.empty[String])
    var fields = Vector.empty[MetaField]
    var pk = ""
    var cur: MetaField = null
    def flush(): Unit = if (cur != null) { fields :+= cur; cur = null }
    lines.foreach { raw =>
      val line = raw.replaceAll("#.*", "")
      val t = line.trim
      def value: String = t.dropWhile(_ != ':').drop(1).trim.stripPrefix("\"").stripSuffix("\"")
      if (t.startsWith("- name:")) { flush(); cur = MetaField(t.drop(7).trim, "string") }
      else if (cur != null && t.startsWith("type:")) cur = cur.copy(tpe = value)
      else if (cur != null && t.startsWith("generateIndex:")) cur = cur.copy(generateIndex = value == "true")
      else if (cur != null && t.startsWith("generateLineageIndex:")) cur = cur.copy(lineageFile = Some(value))
      else if (cur != null && t.startsWith("lineageIndexType:")) cur = cur.copy(lineageIndexType = value)
      else if (cur != null && t.startsWith("treatUnknownLineagesAsNull:")) cur = cur.copy(treatUnknownLineagesAsNull = value == "true")
      else if (cur != null && t.startsWith("isPhyloTreeField:")) cur = cur.copy(isPhyloTreeField = value == "true")
      else if (t.startsWith("primaryKey:")) { flush(); pk = value }
    }
    flush()
    require(pk.nonEmpty, "config must declare primaryKey")
    Config(fields, pk)
  }

  /** Parse reference_genomes.json → (nucleotide refs, gene refs). */
  def parseReferenceGenomes(spark: SparkSession, path: String)
      : (Map[String, String], Map[String, String]) = {
    val df = spark.read.option("multiLine", true).json(path)
    def grab(field: String): Map[String, String] =
      if (!df.columns.contains(field)) Map()
      else df.select(explode(col(field)).as("e"))
        .select(col("e.name"), col("e.sequence"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    (grab("nucleotideSequences"), grab("genes"))
  }

  /** Split a comma-separated input list into its elements — commas
    * INSIDE Hadoop brace-globs (`/data/{a,b}/x.ndjson`) are not
    * separators. Shared by every consumer of the serve/append
    * comma-list convention so a braced glob path survives intact.
    */
  private[graft] def splitInputs(path: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    path.foreach {
      case '{' => depth += 1; cur += '{'
      case '}' => depth = math.max(0, depth - 1); cur += '}'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.result().filter(_.nonEmpty)
  }

  /** Cheap per-file input manifest: every LEAF file (recursive — Spark's
    * readers pick up part files at any depth, so a `date=X/part-N.ndjson`
    * partition layout must contribute; a top-level listing would be blind,
    * even constant for a root holding only subdirectories) mapped to its
    * `size:mtime` identity via the Hadoop FS API, so it works on any
    * supported filesystem. O(#files) listing, no data read — a content
    * hash would cost a full pass over what can be 100 TB of NDJSON at
    * startup. Keys are fully-qualified paths, so comparing two manifests
    * identifies exactly which files APPEARED (the incremental-append
    * trigger) vs CHANGED (full rebuild).
    */
  private[graft] def inputManifest(spark: SparkSession, path: String)
      : Map[String, String] = {
    // comma-separated lists manifest as the union of their elements
    // (the serve/append input layout)
    val parts = splitInputs(path)
    if (parts.size > 1)
      return parts.map(inputManifest(spark, _))
        .foldLeft(Map.empty[String, String])(_ ++ _)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val roots = Option(fs.globStatus(p)).getOrElse(Array())
    val b = Map.newBuilder[String, String]
    roots.foreach { st =>
      if (st.isFile)
        b += st.getPath.toString -> s"${st.getLen}:${st.getModificationTime}"
      else {
        val it = fs.listFiles(st.getPath, true)
        while (it.hasNext) {
          val f = it.next()
          b += f.getPath.toString -> s"${f.getLen}:${f.getModificationTime}"
        }
      }
    }
    b.result()
  }

  /** Stable fingerprint of a manifest: every path+size+mtime folds into
    * the hash, so an equal-size swap with an older mtime is caught (a
    * count/bytes/max-mtime summary would miss it).
    */
  private[graft] def manifestFingerprint(m: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    m.toSeq.sorted.foreach { case (k, v) =>
      md.update(s"$k=$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    s"${m.size}:" + md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private[graft] def inputFingerprint(spark: SparkSession, path: String): String =
    manifestFingerprint(inputManifest(spark, path))

  private def sparkType(t: String): DataType = t match {
    case "string" => StringType
    case "int" => IntegerType
    case "float" => DoubleType
    case "date" => DateType
    case "boolean" => BooleanType
    case other => throw new IllegalArgumentException(s"unknown metadata type $other")
  }

  private val seqStruct = StructType(Seq(
    StructField("sequence", StringType),
    StructField("sequenceCompressed", StringType),
    StructField("insertions", ArrayType(StringType)),
    StructField("offset", IntegerType)))

  /** A lineage column's definition file: the config-referenced name as
    * given, or with `.yaml` appended (both spellings appear in the
    * reference's example configs).
    */
  private def lineagePathOf(configDir: String,
      f: MetaField): java.nio.file.Path = {
    val p1 = Paths.get(configDir, f.lineageFile.get)
    if (Files.exists(p1)) p1
    else Paths.get(configDir, f.lineageFile.get + ".yaml")
  }

  /** Build a queryable Catalog from a config directory + input NDJSON.
    * Directory convention follows the reference's example datasets:
    * `database_config.yaml`, `reference_genomes.json`, optional
    * `phylogenetic_tree.nwk`, lineage yamls referenced from the config.
    */
  def build(spark: SparkSession, configDir: String, ndjsonPath: String): Catalog =
    build(spark, configDir, ndjsonPath, None)

  /** The NDJSON input schema a config directory implies (metadata fields
    * + one seq struct per bound sequence + unaligned nucleotide columns)
    * and the declared primary key — shared by [[build]] and the append
    * CLI's pre-commit validation.
    */
  def inputSchema(spark: SparkSession, configDir: String)
      : (StructType, String) = {
    val cfg = parseConfig(s"$configDir/database_config.yaml")
    val (nucRefs, aaRefs) =
      parseReferenceGenomes(spark, s"$configDir/reference_genomes.json")
    (schemaFor(cfg, nucRefs, aaRefs), cfg.primaryKey)
  }

  /** The single source of the NDJSON input schema (build and the append
    * CLI's validation must never drift apart).
    */
  private def schemaFor(cfg: Config, nucRefs: Map[String, String],
      aaRefs: Map[String, String]): StructType = {
    val allRefs = nucRefs ++ aaRefs
    StructType(
      cfg.metadata.map(f => StructField(f.name, sparkType(f.tpe))) ++
        allRefs.keys.toSeq.sorted.map(n => StructField(n, seqStruct)) ++
        nucRefs.keys.toSeq.sorted.map(n =>
          StructField(s"unaligned_$n", StringType)))
  }

  /** The served table's dir under a state dir: the diffed, adapted and
    * lineage-cleaned rows as a parquet layer chain (the
    * [[NdjsonIngest]] layer store, `_stats` sidecars
    * included), next to the posting indexes under `index/<sequence>`.
    */
  def tableDir(stateDir: String): String = s"$stateDir/table"

  /** Compact the served table's chain once it exceeds this many layers
    * (the posting indexes' threshold): every Append build adds one.
    */
  private val TableCompactAt = 8

  /** What a served-table commit was built from: the input fingerprint
    * (also the commit's pointer tag), the per-file input manifest, and
    * the local reference each sequence's stored diffs are based on. One
    * record per build at `<tableDir>/_source/<hash of fingerprint>.json`,
    * written BEFORE the pointer flip, so a committed tag always names a
    * complete record; a crash in between leaves an unreferenced record,
    * never a commit without one.
    */
  private final case class TableSource(fingerprint: String,
      manifest: Map[String, String], localRefs: Map[String, String])

  private def sourceFile(tableDir: String, fingerprint: String): java.nio.file.Path = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    Paths.get(tableDir, "_source", s"$h.json")
  }

  private def writeSource(tableDir: String, src: TableSource): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("fingerprint", src.fingerprint)
    val man = node.putObject("manifest")
    src.manifest.toSeq.sorted.foreach { case (k, v) => man.put(k, v) }
    val lrs = node.putObject("localRefs")
    src.localRefs.toSeq.sorted.foreach { case (k, v) => lrs.put(k, v) }
    val dst = sourceFile(tableDir, src.fingerprint)
    Files.createDirectories(dst.getParent)
    val tmp = Files.createTempFile(dst.getParent, ".source", ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    Files.move(tmp, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The committed table's source record; None when no table is
    * committed or its record is missing or unreadable (the caller
    * rebuilds).
    */
  private def readSource(tableDir: String): Option[TableSource] =
    NdjsonIngest.latestTag(tableDir).flatMap { tag =>
      val node =
        try Option(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(sourceFile(tableDir, tag).toFile))
        catch { case _: java.io.IOException => None }
      node.filter(n => n.has("fingerprint") && n.get("fingerprint").asText == tag)
        .map { n =>
          def strMap(field: String): Map[String, String] =
            Option(n.get(field)).map { m =>
              val it = m.fields()
              val b = Map.newBuilder[String, String]
              while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
              b.result()
            }.getOrElse(Map.empty)
          TableSource(tag, strMap("manifest"), strMap("localRefs"))
        }
    }

  /** Reclaim the served table's dead generations: layer dirs outside the
    * committed chain ([[NdjsonIngest.gcVersions]]) and the
    * source records of superseded or uncommitted builds. Only safe when
    * no reader can hold an older catalog, i.e. at a cold start
    * ([[graft.tools.Preprocess]]); never at serve time.
    */
  def gcTable(stateDir: String): Unit = {
    val dir = tableDir(stateDir)
    if (NdjsonIngest.hasLatest(dir)) {
      NdjsonIngest.gcVersions(dir)
      val live = NdjsonIngest.latestTag(dir).map(sourceFile(dir, _))
      Option(new java.io.File(dir, "_source").listFiles()).getOrElse(Array())
        .filterNot(f => live.contains(f.toPath)).foreach(_.delete())
    }
  }

  /** As above; with `stateDir` the build persists its state there:
    *  - `table/`: the served `default` table, diffed, adapted and cleaned
    *    once and stored as parquet layers — the reference keeps aligned
    *    sequences stored as diffs in the state it serializes and loads
    *    (sequence_column.h:147-163). `default` is registered as that
    *    chain (and in `versionedDirs`, so its `_stats` sidecars route
    *    filters and counts), never as a plan over the NDJSON input;
    *  - `index/<sequence>/`: the row-level posting indexes, derived from
    *    the written table.
    * Each dir is classified independently against the current input
    * (Loaded, Append or Fresh — see below), so a crash that left them at
    * different commit points heals on the next build.
    */
  def build(spark: SparkSession, configDir: String, ndjsonPath: String,
      stateDir: Option[String]): Catalog = {
    val cfg = parseConfig(s"$configDir/database_config.yaml")
    val (nucRefs, aaRefs) = parseReferenceGenomes(spark, s"$configDir/reference_genomes.json")
    val allRefs = nucRefs ++ aaRefs
    val seqNames = allRefs.keys.toSeq.sorted

    val schema = schemaFor(cfg, nucRefs, aaRefs)

    // lineage definitions (column metadata and/or relation tables)
    val lineageCols = cfg.metadata.filter(_.lineageFile.isDefined)
    def lineagePath(f: MetaField) = lineagePathOf(configDir, f)
    val lineageDefs = lineageCols.map { f =>
      f.name -> LineageTree.fromYamlFile(lineagePath(f).toString)
    }.toMap

    // ndjsonPath may be a COMMA-SEPARATED list (the serve/append layout:
    // the original input plus append-*.ndjson commits); brace-glob
    // commas are not separators. Every read validates null/duplicate
    // pks and negative offsets before anything derived from it commits.
    def readInput(files: Seq[String]): DataFrame = {
      val raw = NdjsonIngest.read(spark, files, schema)
      NdjsonIngest.validateIngest(raw, cfg.primaryKey)
      raw
    }

    // diff-at-ingest per sequence; parse "pos:seq" insertion entries.
    // A function of the frame: an Append build runs the same pipeline
    // over just the appended files.
    def diffAll(frame: DataFrame): DataFrame =
      allRefs.toSeq.sortBy(_._1).foldLeft(frame) { case (df, (name, ref)) =>
      val missing = if (nucRefs.contains(name)) Set("N") else Set("X")
      // sequenceCompressed: base64 zstd, dictionary = the reference genome
      // (input_format.md); takes precedence over plain `sequence`
      val withSeq = df
        .withColumn("__seq", coalesce(
          graft.sources.ZstdStringColumn.decompress(
            unbase64(col(s"$name.sequenceCompressed")), ref),
          col(s"$name.sequence")))
        .withColumn(s"${name}_ins",
          transform(coalesce(col(s"$name.insertions"),
            array().cast("array<string>")),
            e => struct(
              split(e, ":").getItem(0).cast("int").as("pos"),
              split(e, ":").getItem(1).as("ins"))))
      SequenceModel.diff(withSeq, "__seq", ref, missing,
          offset = coalesce(col(s"$name.offset"), lit(0)),
          prefix = s"${name}_")
        .drop(name)
    }

    // local-reference adaptation (reference: sequence_column.cpp:157-196
    // finalize): per position, re-base stored diffs onto the majority
    // symbol; queries translate back to the global reference, so results
    // are unchanged while divergent datasets store far fewer diffs.
    def adapt(diffed: DataFrame): (DataFrame, Map[String, String]) =
      seqNames.foldLeft((diffed, Map.empty[String, String])) {
        case ((df, lrs), name) =>
          val (ref, isAa) = (allRefs(name), aaRefs.contains(name))
          val (d2, lr) = SequenceModel.adaptLocalReference(df, ref, s"${name}_",
            if (isAa) SequenceModel.AaOrder else SequenceModel.NucOrder,
            if (isAa) graft.seq.Ambiguity.aaValidMutation
            else graft.seq.Ambiguity.nucValidMutation)
          (d2, if (lr == ref) lrs else lrs + (name -> lr))
      }
    // appended rows re-base onto the committed table's FROZEN local
    // reference: re-deriving the majority from the grown data could
    // flip adapted symbols and invalidate every persisted row and
    // posting
    def rebase(diffed: DataFrame, lrs: Map[String, String]): DataFrame =
      seqNames.foldLeft(diffed) { (df, name) =>
        lrs.get(name).fold(df)(lr =>
          SequenceModel.applyLocalReference(df, allRefs(name), lr, s"${name}_"))
      }

    // treatUnknownLineagesAsNull: unknown values null out at ingest
    def clean(df0: DataFrame): DataFrame =
      lineageCols.filter(_.treatUnknownLineagesAsNull).foldLeft(df0) { case (df, f) =>
        val d = lineageDefs(f.name)
        val known = (d.tree.nodes ++ d.aliases.keySet).toSeq.sorted
        df.withColumn(f.name,
          when(col(f.name).isin(known: _*), col(f.name)))
      }

    // ---- persisted state: classification per dir ----------------------
    // The table dir's source record and each index dir's meta.json carry
    // the fingerprint + per-file manifest they were derived from.
    // Comparing that manifest against the current input classifies the
    // dir for this build:
    //  - Loaded: fingerprint matches — nothing is read or recomputed;
    //  - Append: every old file unchanged, new files appeared, config
    //    unchanged — only the NEW files' rows are derived and committed
    //    as one more layer (the reference's chunk-wise extension,
    //    storage/table.cpp bulkInsert);
    //  - Fresh: anything else (changed/removed files, config edit, no or
    //    pre-layered meta) — full rebuild into a fresh generation.
    sealed trait DirState
    case object Fresh extends DirState
    case object Loaded extends DirState
    final case class Appended(newFiles: Seq[String]) extends DirState
    lazy val dataManifest = inputManifest(spark, ndjsonPath)
    // The state depends on the CONFIG as much as on the data — a
    // reference-genome or primary-key edit changes every diff — so the
    // fingerprint spans both the NDJSON input and the CONFIG FILES.
    // The config files are enumerated EXPLICITLY, never as the whole
    // directory: in the serve/append layout the config dir IS the data
    // dir, and a directory-wide fingerprint would fold in input.ndjson,
    // append-* commits, and the state/ the build itself writes — every
    // build would then invalidate the next one's persisted state and
    // the Loaded/Append classifications could never fire. Lazy: builds
    // without a stateDir never pay the listing.
    lazy val cfgFp = {
      val known = Seq("database_config.yaml", "reference_genomes.json",
        "phylogenetic_tree.nwk", "phylogenetic_tree.json")
        .map(n => Paths.get(configDir, n))
      val files = (known ++ lineageCols.map(lineagePath)).filter(Files.isRegularFile(_))
        .map(_.toString).distinct
      inputFingerprint(spark, files.mkString(","))
    }
    lazy val inputFp = manifestFingerprint(dataManifest) + "|" + cfgFp
    def classify(fingerprint: Option[String], manifest: Map[String, String]): DirState =
      if (fingerprint.contains(inputFp)) Loaded
      else {
        val newFiles = (dataManifest.keySet -- manifest.keySet).toSeq.sorted
        val oldUnchanged = manifest.nonEmpty && manifest.forall {
          case (k, v) => dataManifest.get(k).contains(v)
        }
        // the stored fingerprint must equal what the stored manifest +
        // the CURRENT config hash to — that one check covers both
        // "manifest consistent with the committed state" and "config
        // unchanged since"
        val consistent = fingerprint.contains(
          manifestFingerprint(manifest) + "|" + cfgFp)
        if (oldUnchanged && newFiles.nonEmpty && consistent) Appended(newFiles)
        else Fresh
      }

    // ---- the served table ----------------------------------------------
    // A Loaded table reads no NDJSON at all (its input was validated when
    // the commit was written); an Append reads and validates only the new
    // files — the commit's clash check against the committed chain keeps
    // primary keys unique over the whole input; a Fresh build diffs,
    // adapts and cleans the full input once and commits it as a snapshot.
    // `delta` holds an Append's committed rows for the posting indexes.
    final case class Delta(newFiles: Seq[String], rows: DataFrame, n: Long)
    val (table, localRefs, delta) = stateDir.map(tableDir) match {
      case None =>
        val (adapted, lrs) = adapt(diffAll(readInput(splitInputs(ndjsonPath))))
        (clean(adapted), lrs, None)
      case Some(td) =>
        val committed = readSource(td)
        committed.fold[DirState](Fresh)(c => classify(Some(c.fingerprint), c.manifest)) match {
          case Loaded =>
            (NdjsonIngest.readLatest(spark, td), committed.get.localRefs, None)
          case Appended(newFiles) =>
            val lrs = committed.get.localRefs
            writeSource(td, TableSource(inputFp, dataManifest, lrs))
            val v = NdjsonIngest.appendDelta(
              clean(rebase(diffAll(readInput(newFiles)), lrs)), td,
              cfg.primaryKey, tag = Some(inputFp), validated = true)
            val served = NdjsonIngest.readLatest(spark, td)
            val rows = spark.read.schema(served.schema).parquet(s"$td/v$v")
            val n = NdjsonIngest.chainRowCount(td, Seq(s"v$v"))
              .getOrElse(rows.count())
            NdjsonIngest.compactVersions(spark, td, TableCompactAt)
            (NdjsonIngest.readLatest(spark, td), lrs, Some(Delta(newFiles, rows, n)))
          case Fresh =>
            val (adapted, lrs) = adapt(diffAll(readInput(splitInputs(ndjsonPath))))
            writeSource(td, TableSource(inputFp, dataManifest, lrs))
            NdjsonIngest.appendVersion(clean(adapted), td, cfg.primaryKey,
              tag = Some(inputFp), validated = true)
            (NdjsonIngest.readLatest(spark, td), lrs, None)
        }
    }

    val bindings: Map[String, SeqBinding] =
      nucRefs.map { case (n, r) =>
        n -> SeqBinding(r, s"${n}_", localRef = localRefs.get(n)) } ++
        aaRefs.map { case (n, r) =>
          n -> SeqBinding(r, s"${n}_", isAminoAcid = true,
            localRef = localRefs.get(n)) }

    // raw YAML kept for the GET /lineageDefinition/{column} echo
    // (reference: app/src/lineage_definition_handler.cpp:52-57)
    val lineageYaml = lineageCols
      .map(f => f.name -> Files.readString(lineagePath(f))).toMap
    val lineageTables: Map[String, DataFrame] = lineageCols
      .filter(f => f.lineageIndexType == "table" || f.lineageIndexType == "both")
      .map { f =>
        val d = lineageDefs(f.name)
        import spark.implicits._
        val rows = d.tree.nodes.toSeq.sorted.flatMap { n =>
          val ps = d.tree.parents.getOrElse(n, Nil)
          val rec = ps.size > 1
          if (ps.isEmpty) Seq((s"$n|", n, null: String, false))
          else ps.map(p => (s"$n|$p", n, p, rec))
        }
        f.name -> rows.toDF("id", "lineage", "parent", "is_recombinant_edge")
      }.toMap
    val lineageTrees = lineageCols
      .filter(f => f.lineageIndexType != "table")
      .map(f => f.name -> lineageDefs(f.name).tree).toMap
    val lineageAliases = lineageCols
      .filter(f => f.lineageIndexType != "table")
      .map(f => f.name -> lineageDefs(f.name).aliases).toMap

    // the reference accepts Newick (.nwk) or Auspice JSON v2 (.json)
    // trees, dispatched by extension (phylo_tree.cpp:378-394)
    val phyloTrees = cfg.metadata.filter(_.isPhyloTreeField).map { f =>
      val treeFile = Seq("phylogenetic_tree.nwk", "phylogenetic_tree.json")
        .map(n => Paths.get(configDir, n)).find(Files.exists(_))
        .getOrElse(throw new IllegalArgumentException(
          s"no phylogenetic_tree.{nwk,json} in $configDir for column ${f.name}"))
      f.name -> PhyloTree.fromFile(treeFile)
    }.toMap

    // register the row-level posting indexes at build time (≙ the
    // reference building its vertical/insertion indexes during
    // preprocessing) so selective position predicates route through them
    // (Planner.indexRoute); the per-sequence count maps are bounded by
    // genome × alphabet. With a stateDir each index dir resolves per its
    // own classification, and only over the same local reference as the
    // table: Loaded restores the persisted parquet layers (one bounded
    // count-map collect); Append derives postings from the table's new
    // layer only — when this build appended exactly the files the index
    // lacks — and merges them as one more index layer (at 100 TB,
    // appending 0.1% of the data recomputes 0.1% of the index); anything
    // else rebuilds from the written table. Stale postings never answer a
    // routed query: load expects the CURRENT fingerprint, and append
    // flips the pointer only after its layer is fully written.
    lazy val nRows = stateDir
      .flatMap(sd => NdjsonIngest.chainRowCount(tableDir(sd),
        NdjsonIngest.latestLayers(tableDir(sd))))
      .getOrElse(table.count())
    val mutIndexes = bindings.map { case (name, b) =>
      val insCol = Option(s"${b.prefix}ins").filter(table.columns.contains)
      val idxDir = stateDir.map(d => s"$d/index/$name")
      val state = idxDir.flatMap(SeqIndex.readMeta(spark, _))
        .filter(_.localRef == localRefs.get(name))
        .map(m => classify(m.fingerprint, m.manifest))
      val resolved: Option[SeqIndex] = (state, idxDir, delta) match {
        case (Some(Loaded), Some(dir), _) =>
          SeqIndex.load(spark, dir, expectFingerprint = Some(inputFp))
        case (Some(Appended(files)), Some(dir), Some(d)) if d.newFiles == files =>
          SeqIndex.append(spark, dir, d.rows, cfg.primaryKey, b.prefix, insCol,
            d.n, newFingerprint = inputFp, newManifest = dataManifest)
        case _ => None
      }
      name -> resolved.getOrElse(SeqIndex.build(
        table, cfg.primaryKey, b.prefix, insCol,
        tableRows = Some(nRows), indexDir = idxDir,
        fingerprint = idxDir.map(_ => inputFp),
        manifest = if (idxDir.isDefined) dataManifest else Map(),
        localRef = if (idxDir.isDefined) localRefs.get(name) else None))
    }

    Catalog(
      tables = Map("default" -> table) ++ lineageTables,
      sequences = Map("default" -> bindings),
      lineageTrees = lineageTrees,
      phyloTrees = phyloTrees,
      lineageAliases = lineageAliases,
      primaryKeys = Map("default" -> cfg.primaryKey),
      lineageYaml = lineageYaml,
      mutIndexes = Map("default" -> mutIndexes),
      versionedDirs = stateDir.map(sd => "default" -> tableDir(sd)).toMap)
  }
}

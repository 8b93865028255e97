package graft.lang

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lang.Ast._
import graft.operators.RelationalOps
import graft.seq.{Ambiguity, Mutations, SeqPredicates}
import graft.sources.NdjsonIngest
import graft.sources.NdjsonIngest.Zone
import graft.trees.{LineageTree, PhyloTree}

/** SaneQL → DataFrame planner — the analog of the reference's
  * `ast_to_query.cpp` (AST → QueryNode) except the target IR is a Catalyst
  * logical plan: each pipeline function is one DataFrame transformation,
  * name/type resolution errors surface at plan construction (≙ the
  * reference's CHECK_SILO_QUERY errors), and Catalyst's optimizer replaces
  * the reference's rewrite passes (planner.cpp:54-71).
  */
object Planner {

  final case class QueryError(msg: String) extends RuntimeException(msg)

  /** One sequence bound to a table: diffed columns named
    * `<prefix>cov_start/<prefix>cov_end/<prefix>muts/<prefix>missing`
    * (and optionally `<prefix>ins`) against reference `ref`.
    */
  final case class SeqBinding(ref: String, prefix: String = "",
      isAminoAcid: Boolean = false, localRef: Option[String] = None) {
    /** The reference the STORED diffs are based against — differs from
      * `ref` when ingest adapted the local reference
      * (SequenceModel.adaptLocalReference); user-facing semantics
      * ('.'-equals, mutationFrom, hasMutation) always use global `ref`.
      */
    def stored: String = localRef.getOrElse(ref)
  }

  /** Row-level mutation index for one bound sequence: the posting table
    * (pos, sym, pk), its per-(pos, sym) cardinalities, and the table's row
    * count — what the planner's IndexScan-vs-Selection choice consults
    * (the reference reads the same numbers off its Roaring bitmaps,
    * symbol_in_set.cpp:129-264). `counts` is bounded by
    * genome × alphabet, built once at catalog registration.
    */
  final case class SeqIndex(postings: DataFrame,
      counts: Map[(Int, String), Long], tableRows: Long,
      insPostings: Option[DataFrame] = None,
      insCountByPos: Map[Int, Long] = Map(),
      insKmerPostings: Option[DataFrame] = None)

  object SeqIndex {
    /** The index dir's own filesystem — stateDir may be any Hadoop-
      * supported scheme (hdfs://, s3a://, file:…), so every meta/listing
      * operation goes through the FS API, never java.io/java.nio.
      */
    private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
        dir: String): org.apache.hadoop.fs.FileSystem =
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())

    /** Persisted-index layout (the Spark analog of the reference
      * serializing its vertical/insertion indexes with the database state
      * and extending them chunk-by-chunk at append, sequence_column.h:
      * 147-163 + storage/table.cpp bulkInsert):
      *
      * {{{
      * <indexDir>/meta.json            atomic commit pointer (tmp+rename)
      * <indexDir>/gen<fp12>/mut/pos=*  one LAYER of posting parquet
      *                    /mut_counts, ins, ins_counts, ins3
      * }}}
      *
      * `meta.json` names the committed LAYER LIST; the live index is the
      * union of its layers. A full rebuild writes a fresh generation dir
      * and flips the pointer — live readers of old generations keep
      * scanning files that are never overwritten (generation isolation; a
      * crashed build leaves an unreferenced dir, never a torn index). An
      * incremental append derives postings for the NEW rows only, writes
      * them as one additional layer and flips the pointer — old layers
      * stay byte-identical, so appending 0.1% of the data recomputes 0.1%
      * of the index, not 100%. `meta.json` also carries the per-file input
      * manifest the index was derived from (so the next build can tell
      * "files appended" from "files changed") and the frozen local
      * reference (appended rows MUST be re-based onto the same stored
      * reference as the persisted postings).
      */
    private[graft] final case class IndexMeta(
        tableRows: Long, hasIns: Boolean, pkType: String,
        fingerprint: Option[String], layers: Seq[String],
        manifest: Map[String, String], localRef: Option[String])

    /** Compact once the layer chain exceeds this many layers: a routed
      * read unions per-layer scans, so an unbounded chain of tiny appends
      * would degrade into a small-files problem.
      */
    private val CompactAt = 8

    private def fpHash(s: String): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(12)
    }

    private[graft] def readMeta(spark: org.apache.spark.sql.SparkSession,
        dir: String): Option[IndexMeta] = {
      val fs = hadoopFs(spark, dir)
      val meta = new org.apache.hadoop.fs.Path(dir, "meta.json")
      if (!fs.exists(meta)) None
      else {
        val in = fs.open(meta)
        val txt =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        // an unparseable meta (torn write on a filesystem without atomic
        // rename, manual tampering) means NO committed index — rebuild,
        // don't crash the build
        val node =
          try new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
          catch { case _: java.io.IOException => return None }
        // `layers` doubles as the format marker: a meta from the pre-
        // layered layout loads as None (rebuild) instead of misreading
        if (node == null || !node.has("tableRows") || !node.has("layers"))
          return None
        val layers = {
          val it = node.get("layers").elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText
          b.result()
        }
        if (layers.isEmpty) return None
        val manifest = Option(node.get("manifest")).map { m =>
          val it = m.fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
          b.result()
        }.getOrElse(Map.empty[String, String])
        Some(IndexMeta(
          node.get("tableRows").asLong,
          node.get("hasIns").asBoolean,
          node.get("pkType").asText,
          Option(node.get("fingerprint")).map(_.asText),
          layers, manifest,
          Option(node.get("localRef")).map(_.asText)))
      }
    }

    /** Commit `meta` via tmp+rename on the index dir's OWN filesystem
      * (stateDir may be hdfs:// or s3a://, not local): its presence marks
      * the named layers complete — the same atomic-pointer idiom as table
      * versions. The rename OVERWRITES an existing pointer through
      * FileContext (plain FileSystem.rename refuses an existing
      * destination): atomic replace on HDFS/local, so a concurrent
      * readMeta sees the old meta or the new one, never a torn mix.
      * Jackson handles escaping (a pkType like decimal(10,2) must
      * round-trip).
      */
    private def writeMeta(spark: org.apache.spark.sql.SparkSession,
        dir: String, meta: IndexMeta): Unit = {
      val fs = hadoopFs(spark, dir)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      node.put("tableRows", meta.tableRows)
      node.put("hasIns", meta.hasIns)
      node.put("pkType", meta.pkType)
      meta.fingerprint.foreach(node.put("fingerprint", _))
      val arr = node.putArray("layers")
      meta.layers.foreach(arr.add)
      val man = node.putObject("manifest")
      meta.manifest.toSeq.sorted.foreach { case (k, v) => man.put(k, v) }
      meta.localRef.foreach(node.put("localRef", _))
      val tmp = new org.apache.hadoop.fs.Path(dir, ".meta.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(mapper.writeValueAsBytes(node)) finally out.close()
      val dst = new org.apache.hadoop.fs.Path(dir, "meta.json")
      org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, spark.sessionState.newHadoopConf())
        .rename(fs.makeQualified(tmp), fs.makeQualified(dst),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

    /** Derive and write one posting layer from a diffed frame. One file
      * per pos directory: cluster by pos before the partitioned write so
      * every task owns whole positions.
      */
    private def writeLayer(diffed: DataFrame, pkCol: String, prefix: String,
        insCol: Option[String], dir: String, layer: String): Unit = {
      import org.apache.spark.sql.functions.col
      graft.seq.SequenceModel.mutPostings(diffed, pkCol, prefix)
        .repartition(col("pos"))
        .sortWithinPartitions("pos", "sym")
        .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$layer/mut")
      graft.seq.SequenceModel.mutIndex(
        diffed.select(col(s"${prefix}muts").as("muts")))
        .write.mode("overwrite").parquet(s"$dir/$layer/mut_counts")
      insCol.foreach { c =>
        graft.seq.SequenceModel.insPostings(diffed, pkCol, c)
          .repartition(col("pos"))
          .sortWithinPartitions("pos")
          .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$layer/ins")
        graft.seq.SequenceModel.insIndex(diffed, c)
          .groupBy("pos")
          .agg(org.apache.spark.sql.functions.sum("cnt").as("n"))
          .write.mode("overwrite").parquet(s"$dir/$layer/ins_counts")
        // 3-mer inverted index (reference insertion_index.cpp:158-196):
        // sorted within partitions by kmer so a kmer equality search
        // prunes row groups via min/max stats inside the pos partition
        graft.seq.SequenceModel.insKmerPostings(diffed, pkCol, c)
          .repartition(col("pos"))
          .sortWithinPartitions("pos", "kmer")
          .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$layer/ins3")
      }
    }

    /** Build from a diffed frame (one aggregation pass + the bounded
      * count-map collect per index; `insCol` additionally registers the
      * insertion posting index; pass `tableRows` when the caller already
      * knows it so registering several bindings doesn't re-count the same
      * table).
      *
      * The posting frames must be MATERIALIZED so a routed query reads
      * index blocks instead of re-deriving the explode from a full
      * base-table scan — without the cut, the "index" side of the
      * semi-join would itself scan the whole table and the routing could
      * never win. With `indexDir` the postings persist as parquet index
      * layers partitioned by `pos` (layout above) — the routed `pos === p`
      * filter then prunes partition directories at scan time, the index
      * survives the session, and `load` restores it without rebuilding.
      * Without `indexDir` (ad-hoc in-session catalogs) it falls back to
      * `localCheckpoint` executor-memory materialization.
      */
    def build(diffed: DataFrame, pkCol: String, prefix: String = "",
        insCol: Option[String] = None,
        tableRows: Option[Long] = None,
        indexDir: Option[String] = None,
        fingerprint: Option[String] = None,
        manifest: Map[String, String] = Map(),
        localRef: Option[String] = None): SeqIndex = {
      import org.apache.spark.sql.functions.col
      indexDir match {
        case Some(dir) =>
          val rows = tableRows.getOrElse(diffed.count())
          val spark = diffed.sparkSession
          // generation dir keyed by the fingerprint: a rebuild for changed
          // input lands in a FRESH dir and old generations stay readable
          // for concurrent readers until the pointer flips (and beyond —
          // see gc); a crashed rebuild leaves an unreferenced dir behind,
          // never a complete-looking meta over mixed-generation postings
          val layer = "gen" + fpHash(fingerprint.getOrElse("adhoc"))
          writeLayer(diffed, pkCol, prefix, insCol, dir, layer)
          writeMeta(spark, dir, IndexMeta(
            rows, insCol.isDefined, diffed.schema(pkCol).dataType.catalogString,
            fingerprint, Seq(layer), manifest, localRef))
          load(spark, dir).getOrElse(
            sys.error(s"posting index just written to $dir failed to load"))
        case None =>
          val postings = graft.seq.SequenceModel.mutPostings(diffed, pkCol, prefix)
            .localCheckpoint()
          val counts = graft.seq.SequenceModel.mutIndex(
            diffed.select(col(s"${prefix}muts").as("muts")))
            .collect()
            .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
          val insP = insCol.map(c =>
            graft.seq.SequenceModel.insPostings(diffed, pkCol, c).localCheckpoint())
          val insByPos = insCol.map { c =>
            graft.seq.SequenceModel.insIndex(diffed, c)
              .groupBy("pos")
              .agg(org.apache.spark.sql.functions.sum("cnt").as("n"))
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          }.getOrElse(Map.empty[Int, Long])
          val insK = insCol.map(c =>
            graft.seq.SequenceModel.insKmerPostings(diffed, pkCol, c)
              .localCheckpoint())
          SeqIndex(postings, counts, tableRows.getOrElse(diffed.count()),
            insP, insByPos, insK)
      }
    }

    /** Incrementally extend a persisted index with postings for NEW rows
      * only — the Spark analog of the reference extending its indexes
      * chunk-by-chunk at append instead of rebuilding
      * (storage/table.cpp bulkInsert → sequence_column.h:147-163).
      * `diffedNew` must contain ONLY the appended rows, already re-based
      * onto the index's frozen local reference. Writes one layer, then
      * flips meta.json to the extended layer list + the new fingerprint/
      * manifest. Returns None (caller full-rebuilds) when no committed
      * index exists or its shape (hasIns/pkType) doesn't match.
      *
      * Crash-safety: the pointer flips LAST, so a crash mid-append leaves
      * meta at the old layer list with the old fingerprint — which no
      * longer matches the grown input, so the next build re-runs the
      * append (same deterministic layer name, overwritten); and if the
      * appended input files are removed again, the old fingerprint
      * matches again and the old layers answer correctly.
      */
    def append(spark: org.apache.spark.sql.SparkSession, dir: String,
        diffedNew: DataFrame, pkCol: String, prefix: String,
        insCol: Option[String], newRows: Long,
        newFingerprint: String, newManifest: Map[String, String])
        : Option[SeqIndex] =
      readMeta(spark, dir)
        .filter(m => m.hasIns == insCol.isDefined &&
          m.pkType == diffedNew.schema(pkCol).dataType.catalogString)
        .map { m =>
          val layer = "gen" + fpHash(newFingerprint)
          writeLayer(diffedNew, pkCol, prefix, insCol, dir, layer)
          val extended = m.copy(
            tableRows = m.tableRows + newRows,
            fingerprint = Some(newFingerprint),
            layers = m.layers :+ layer,
            manifest = newManifest)
          val committed =
            if (extended.layers.size > CompactAt) compact(spark, dir, extended)
            else extended
          writeMeta(spark, dir, committed)
          load(spark, dir, Some(newFingerprint)).getOrElse(
            sys.error(s"posting index just appended at $dir failed to load"))
        }

    /** Merge a long layer chain into one fresh generation (union the
      * layers, re-aggregate the bounded count tables, rewrite partitioned
      * by pos) and return the meta to commit. Old layers are untouched —
      * readers of the pre-compaction index keep working; [[gc]] reclaims
      * them once no reader can reference them.
      */
    private def compact(spark: org.apache.spark.sql.SparkSession,
        dir: String, meta: IndexMeta): IndexMeta = {
      import org.apache.spark.sql.functions.col
      val target = "gen" + fpHash(meta.fingerprint.getOrElse("adhoc") + "|compact")
      val pkType = org.apache.spark.sql.types.DataType.fromDDL(meta.pkType)
      def union(sub: String, schema: StructType): DataFrame =
        meta.layers.map(l => readOrEmpty(spark, s"$dir/$l/$sub", schema))
          .reduce(_ unionByName _)
      val mutSchema = StructType(Seq(StructField("pos", IntegerType),
        StructField("sym", StringType), StructField("pk", pkType)))
      union("mut", mutSchema)
        .repartition(col("pos")).sortWithinPartitions("pos", "sym")
        .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$target/mut")
      val cntSchema = StructType(Seq(StructField("pos", IntegerType),
        StructField("sym", StringType), StructField("cnt", LongType)))
      union("mut_counts", cntSchema)
        .groupBy("pos", "sym").agg(sum("cnt").as("cnt"))
        .write.mode("overwrite").parquet(s"$dir/$target/mut_counts")
      if (meta.hasIns) {
        val insSchema = StructType(Seq(StructField("pos", IntegerType),
          StructField("ins", StringType), StructField("pk", pkType)))
        union("ins", insSchema)
          .repartition(col("pos")).sortWithinPartitions("pos")
          .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$target/ins")
        val insCntSchema = StructType(Seq(StructField("pos", IntegerType),
          StructField("n", LongType)))
        union("ins_counts", insCntSchema)
          .groupBy("pos").agg(sum("n").as("n"))
          .write.mode("overwrite").parquet(s"$dir/$target/ins_counts")
        val ins3Schema = StructType(Seq(StructField("pos", IntegerType),
          StructField("kmer", StringType), StructField("ins", StringType),
          StructField("pk", pkType)))
        union("ins3", ins3Schema)
          .repartition(col("pos")).sortWithinPartitions("pos", "kmer")
          .write.mode("overwrite").partitionBy("pos").parquet(s"$dir/$target/ins3")
      }
      meta.copy(layers = Seq(target))
    }

    /** Delete generation dirs no longer referenced by the committed meta.
      * NOT called automatically: a reader that loaded the index before a
      * rebuild/compaction may still scan an old generation — run gc only
      * when no such reader can exist (e.g. at the next cold start).
      */
    def gc(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
      readMeta(spark, dir).foreach { m =>
        val fs = hadoopFs(spark, dir)
        val live = m.layers.toSet
        Option(fs.listStatus(new org.apache.hadoop.fs.Path(dir)))
          .getOrElse(Array())
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen") &&
            !live.contains(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, true))
      }

    /** Read a posting sub-table or synthesize an empty frame with the
      * right schema: a mutation/insertion-free layer's partitioned write
      * leaves no parquet files (just _SUCCESS), so schema inference would
      * fail; detect that by listing instead of catching. The schema is
      * known either way, so the read never infers it (inference costs a
      * footer-reading Spark job per sub-table on every load).
      */
    private def readOrEmpty(spark: org.apache.spark.sql.SparkSession,
        path: String, schema: StructType): DataFrame = {
      val fs = hadoopFs(spark, path)
      val p = new org.apache.hadoop.fs.Path(path)
      val hasParquet = fs.exists(p) && fs.listStatus(p).exists(f =>
        f.getPath.getName.startsWith("pos=") ||
          f.getPath.getName.endsWith(".parquet"))
      if (hasParquet) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

    /** Restore a persisted posting index (None when `dir` holds no
      * complete index). Each posting frame is the union of the committed
      * layers' plain parquet scans — the routed `pos` filter pushes into
      * every branch as a partition-pruning PartitionFilter, and with a
      * single layer (the common case) the plan is exactly one pruned scan.
      * Parquet-backed frames are recomputable (a caller unpersisting every
      * RDD between queries cannot strand them, unlike checkpointed
      * frames) and shared across sessions. The count maps are bounded by
      * genome × alphabet and summed across layers once.
      */
    def load(spark: org.apache.spark.sql.SparkSession, dir: String,
        expectFingerprint: Option[String] = None): Option[SeqIndex] =
      readMeta(spark, dir).flatMap { m =>
        // an index is only valid for the input it was built from: a
        // caller expecting a fingerprint rejects an index persisted for
        // OTHER input (or with none recorded) — stale postings must never
        // answer a routed query; the caller rebuilds or appends
        if (expectFingerprint.exists(want => !m.fingerprint.contains(want)))
          None
        else {
          val pkType = org.apache.spark.sql.types.DataType.fromDDL(m.pkType)
          def union(sub: String, schema: StructType): DataFrame =
            m.layers.map(l => readOrEmpty(spark, s"$dir/$l/$sub", schema))
              .reduce(_ unionByName _)
          val counts = union("mut_counts", StructType(Seq(
              StructField("pos", IntegerType), StructField("sym", StringType),
              StructField("cnt", LongType))))
            .groupBy("pos", "sym").agg(sum("cnt").as("cnt"))
            .collect()
            .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
          val insByPos =
            if (!m.hasIns) Map.empty[Int, Long]
            else union("ins_counts", StructType(Seq(
                StructField("pos", IntegerType), StructField("n", LongType))))
              .groupBy("pos").agg(sum("n").as("n"))
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          Some(SeqIndex(
            union("mut", StructType(Seq(StructField("pos", IntegerType),
              StructField("sym", StringType), StructField("pk", pkType)))),
            counts, m.tableRows,
            if (m.hasIns) Some(union("ins", StructType(Seq(
              StructField("pos", IntegerType), StructField("ins", StringType),
              StructField("pk", pkType)))))
            else None,
            insByPos,
            if (m.hasIns) Some(union("ins3", StructType(Seq(
              StructField("pos", IntegerType), StructField("kmer", StringType),
              StructField("ins", StringType), StructField("pk", pkType)))))
            else None))
        }
      }
  }

  final case class Catalog(
      tables: Map[String, DataFrame],
      sequences: Map[String, Map[String, SeqBinding]] = Map(),
      lineageTrees: Map[String, LineageTree] = Map(),
      phyloTrees: Map[String, PhyloTree] = Map(),
      lineageAliases: Map[String, Map[String, String]] = Map(),
      primaryKeys: Map[String, String] = Map(),
      lineageYaml: Map[String, String] = Map(),
      /** table → sequence name → row-level mutation index; filters route
        * selective position predicates through these (see pipelineFn
        * "filter").
        */
      mutIndexes: Map[String, Map[String, SeqIndex]] = Map(),
      /** table → versioned (delta-chain) table dir whose layers carry the
        * `_stats` sidecars; the registered frame must be the chain's plain
        * [[graft.sources.NdjsonIngest.readLatest]]. A `filter` whose input
        * is the BARE table scan routes its stats-decidable conjuncts
        * (numeric ranges, string equalities, null tests) through
        * [[graft.sources.NdjsonIngest.readChainRanges]], so
        * non-intersecting layers are pruned before their parquet footers
        * are even opened (Delta-style file skipping at the layer
        * granularity; every conjunct still applies row-wise afterwards —
        * the pruned chain is a SUPERSET of the matching rows); counts and
        * grouped counts answer from the sidecars where they can. A
        * Database build with a state dir registers its served `default`
        * table here ([[graft.core.Database.tableDir]]).
        */
      versionedDirs: Map[String, String] = Map(),
      /** table → versioned dir whose registered frame is the
        * MERGE-ON-READ resolve (`NdjsonIngest.readLatestMerged` of that
        * dir with the table's [[primaryKeys]] entry — registering a
        * plain-union frame here would be a semantic error, which is why
        * this is a separate map and never inferred). A `filter` over the
        * bare merged frame routes stats-decidable conjuncts through
        * [[graft.sources.NdjsonIngest.readChainRangesMerged]]: excluded
        * layers degrade to pk-only shadow scans instead of full payload
        * reads — tombstones/upserts keep resolving exactly, columns stop
        * being decoded where the zone proves they can't matter.
        */
      mergedVersionedDirs: Map[String, String] = Map())

  def plan(query: String, catalog: Catalog): DataFrame =
    new Planner(catalog).planTable(Parser.parse(query)).df

  /** `getFilteredBitmap` analog (reference: database.h:75 — parse a SaneQL
    * PREDICATE, return the matching row-id set): the filter layer is
    * independently addressable. The "bitmap" is the id column of the
    * filtered frame — callers semi-join it against anything.
    */
  def filteredIds(table: String, predicate: String, idCol: String,
      catalog: Catalog): DataFrame = {
    val p = new Planner(catalog)
    val df = catalog.tables.getOrElse(table,
      throw QueryError(s"unknown table '$table'"))
    val pred = p.predicate(Parser.parse(predicate), df, Some(table))
    df.filter(pred).select(idCol)
  }
  /** Literal 3-mers of an insertion search pattern — the reference's
    * extractThreeMers (insertion_index.cpp:43-58): split the pattern on
    * `.*`, unescape each continuous run, take its DISJOINT stride-3
    * 3-mers. Any value full-matching the pattern must contain every
    * continuous run, hence every extracted 3-mer, as a substring — so the
    * overlapping-3-mer index is a sound candidate filter. Only called on
    * patterns that passed insertionPatternOk (symbols / `.*` / escapes).
    */
  private[graft] def insertionKmers(v: String): Seq[String] =
    graft.seq.SeqPredicates.insertionRuns(v)
      .flatMap(r => (0 until r.length - 2 by 3).map(j => r.substring(j, j + 3)))
      .distinct
}

final class Planner(catalog: Planner.Catalog) {
  import Planner._

  /** A pipeline value: the frame plus its origin table while the pipeline
    * is still "a table or direct filters of a table" (the reference's
    * validity precondition for mutations/insertions/MRCA/phyloSubtree).
    */
  final case class Tbl(df: DataFrame, origin: Option[String],
      sortedScan: Option[SortedScan] = None,
      zone: Option[ZonePred] = None,
      // a unionAll's (left, right) pipeline values: a following filter
      // pushes into both children so each registered side keeps routing.
      // INVARIANT: union is only set when df IS the children's plain
      // union — an orderBy output must NOT carry it (a stage rebuilding
      // from the children would silently discard the sort); the sorted
      // union's per-LEAF notes travel in sortedUnion instead, consumed
      // ONLY by the limit rewrite. sortedUnion holds the FLATTENED leaf
      // pipeline values of an arbitrarily-nested union tree (union is
      // associative, so the flat list loses nothing), each carrying its
      // own sort note — the same uniform push into union children the
      // count paths already do (metaBrackets recurses to any depth;
      // the reference pushes into union children uniformly,
      // optimizer/filter_pushdown_pass.h:22-49).
      union: Option[(Tbl, Tbl)] = None,
      sortedUnion: Option[Seq[Tbl]] = None)

  /** The flattened leaves of a (possibly nested) unionAll tree — the
    * Tbls whose frames the union concatenates, in order. A non-union
    * input is its own single leaf.
    */
  private def unionLeaves(t: Tbl): Seq[Tbl] = t.union match {
    case Some((l, r)) => unionLeaves(l) ++ unionLeaves(r)
    case None => Seq(t)
  }

  /** The filter stage's note to a following orderBy+limit: EVERY conjunct
    * of the predicate was stats-decidable (range / string equality /
    * null-ledger shapes) over the bare registered versioned scan, so a
    * later `orderBy(col).limit(k)` can bound its read by BOTH the zone
    * maps and the top-k accumulation — the most common real query shape,
    * `table.filter(window).orderBy(score).limit(k)`, opens only the
    * layers satisfying both (the reference intersects RangeSelection
    * with other operators the same way, range_selection.h:15-40 +
    * operator.h:11-37). `pred` is the ORIGINAL predicate expression —
    * the rewrite recompiles it against the narrowed scan so routed and
    * unrouted row-wise semantics are one code path; None means no
    * filter ran (a note carried through `project`/`map` off the bare
    * scan). `post` is the ordered list of row-membership-INVARIANT
    * stages that followed the filter — plain-column projections and
    * column-ADDING maps — re-applied in order by any rewrite; neither
    * changes which rows exist, so counts and bounds are unaffected.
    * A map that would SHADOW a scan column drops the note (its values
    * diverge from the sidecar stats under the same name). A following
    * count or grouped count reads its brackets off the same note
    * ([[metaBrackets]]).
    */
  final case class ZonePred(dir: String, chain: Seq[String],
      schema: org.apache.spark.sql.types.StructType, pred: Option[Expr],
      // the predicate's stats-decidable conjuncts; its or-groups narrow
      // the scan everywhere and feed the count/top-k bounds only in the
      // provably-exact shapes (orGroupPassCount: a complete arm passing
      // all rows, all arms excluded, or same-column complete range arms
      // with a contained envelope)
      zone: Zone = Zone.empty,
      post: Seq[PostStage] = Nil,
      // Some(pk) marks a MERGE-ON-READ chain: rewrites must read through
      // readChainRangesMerged (excluded layers as pk-only shadows), and
      // its count brackets are never presumed exact (recorded layer
      // counts are not merged-result counts — metaBrackets); the top-k
      // bound subtracts its shadow losses (chainTopKLayers)
      mergedPk: Option[String] = None)

  /** A pipeline stage after the routed filter that a rewrite must
    * re-apply verbatim (both preserve row membership).
    */
  sealed trait PostStage
  final case class PostProject(cols: Seq[String]) extends PostStage
  final case class PostMap(items: Seq[(String, Expr)],
      origin: Option[String]) extends PostStage

  /** The orderBy stage's note to an immediately-following limit: the sort
    * was a single first key over the BARE registered versioned scan whose
    * chain carries layer stats (or over a fully stats-decidable filter of
    * one — both a `zone` note, conjunct-free for the bare scan), so
    * `limit(k)` may re-plan the whole prefix as a stats-bounded top-k
    * chain read (`NdjsonIngest.chainTopKLayers` — the reference's
    * RangeSelection over a sorted column, range_selection.h:15-40). Every
    * other pipeline stage drops the note (the default None), so the
    * rewrite only ever fires on the exact shapes it is proven for.
    */
  final case class SortedScan(column: String, descending: Boolean,
      // (name, descending) per tiebreak key — the BOUND logic is
      // tiebreak-agnostic (strict exclusion never depends on how ties
      // order), so mixed-direction tiebreaks route like ascending ones
      tiebreak: Seq[(String, Boolean)],
      zone: ZonePred, skip: Long = 0,
      // stages interposed BETWEEN the orderBy and the limit (plain
      // projections, maps — both order-preserving): the rewrite replays
      // them AFTER its orderBy, so they may freely drop sort keys or
      // shadow columns — the sort ran on pre-stage values, exactly like
      // the pipeline
      postSort: Seq[PostStage] = Nil)

  private def err(msg: String): Nothing = throw QueryError(msg)

  /** The shared routing gate of the mutations()/insertions() vertical
    * fast path: a loaded index for the origin table, its pk still in
    * scope, and the input NOT the bare table — over the unfiltered table
    * the explode's map-side (pos, sym) partial combine shuffles a
    * genome×alphabet-bounded partial set, while the posting semi-join
    * would shuffle every posting against every pk; the index only wins
    * once a filter cut F.
    */
  private def verticalIndexCtx(in: Tbl): Option[(Map[String, SeqIndex], String)] =
    for {
      t <- in.origin
      if !catalog.tables.get(t).exists(_ eq in.df)
      m <- catalog.mutIndexes.get(t)
      pk <- catalog.primaryKeys.get(t) if in.df.columns.contains(pk)
    } yield (m, pk)

  /** Expose predicate compilation for Planner.filteredIds. */
  private[lang] def predicate(e: Expr, df: DataFrame,
      origin: Option[String] = None): Column =
    scalar(e, df, Ambiguity.ModeNone, origin)

  /** A conjunct-free ZonePred when `in` is the BARE registered scan of a
    * versioned chain: a merge-free one from [[Catalog.versionedDirs]]
    * (`merged = false`) or a merge-on-read one from
    * [[Catalog.mergedVersionedDirs]] with its pk (`merged = true`). The
    * chain is the one the registered frame actually reads. A plain
    * versioned chain holding upsert/tombstone layers gives no note: the
    * raw layer union would un-merge them, so it stays on the registered
    * frame (conservative, always sound). Also what a
    * row-membership-invariant stage (project/map) seeds when it runs
    * directly off the table, so a LATER orderBy+limit or count can still
    * bound its read from the chain's metadata.
    */
  private def bareNote(in: Tbl, merged: Boolean): Option[ZonePred] = for {
    t <- in.origin
    if catalog.tables.get(t).exists(_ eq in.df)
    dir <- (if (merged) catalog.mergedVersionedDirs
      else catalog.versionedDirs).get(t)
    mergedPk <-
      if (merged) catalog.primaryKeys.get(t).map(Option(_)) else Some(None)
    chain <- frameLayers(in.df, dir, allowTombstones = merged)
    if merged || NdjsonIngest.chainMergeFree(dir, chain)
  } yield ZonePred(dir, chain, in.df.schema, None, mergedPk = mergedPk)

  /** Per-group count brackets from the layer `_stats` sidecars
    * ([[NdjsonIngest.chainCountBracket]], 0-2 group columns) for a
    * pipeline value, SUMMING group-wise over a unionAll's leaves — every
    * leaf answers or none does (the reference pushes its CountFilterNode
    * into union children the same way its filters push). A leaf answers
    * through its zone note: a fully-decidable filter or the bare
    * registered chain, with every group column a field of the pinned scan
    * schema (stale stats of a dead schema-evolution column must never
    * answer for a map-added name). A merge-free leaf answers only when
    * EXACT (lo == hi in every group). A merge-on-read leaf's bracket is a
    * true bracket, and answers only where the surface admits one: the
    * bare registered chain under `bareMerged`, a filtered one under
    * `zonedMerged`.
    */
  private def metaBrackets(in: Tbl, cols: Seq[String], bareMerged: Boolean,
      zonedMerged: Boolean): Option[Seq[(Seq[Option[String]], Long, Long)]] =
    in.union match {
      case Some((l, r)) =>
        for {
          a <- metaBrackets(l, cols, bareMerged, zonedMerged)
          b <- metaBrackets(r, cols, bareMerged, zonedMerged)
        } yield (a ++ b).groupBy(_._1).toSeq.map { case (g, xs) =>
          (g, xs.map(_._2).sum, xs.map(_._3).sum) }
      case None =>
        in.zone.orElse(bareNote(in, merged = false))
          .orElse(if (bareMerged) bareNote(in, merged = true) else None)
          .filter(zp => (zp.mergedPk.isEmpty || zonedMerged ||
              in.zone.isEmpty) && cols.forall(zp.schema.fieldNames.contains))
          .flatMap(zp => NdjsonIngest.chainCountBracket(zp.dir, zp.chain,
              zp.zone, cols)
            .filter(gs => zp.mergedPk.isDefined || gs.forall(g => g._2 == g._3)))
    }

  /** Sidecar histogram token → typed group value (dates and narrow
    * integers travel as canonical doubles — writeLayerStats histTok).
    * None when the token does not decode under the column's type (a
    * stale ALIASED sidecar line of another type — the scenario
    * ForgedSidecarSpec forges): callers must DECLINE the whole
    * metadata path to the exact scan, the same three-valued contract
    * as armPassesToken / histEntriesWhere — treating an undecodable
    * token as absent would drop its group, a wrong answer; throwing
    * would fail a query a plain scan answers fine.
    */
  private def decodeToken(t: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    // genuine tokens are exact doubles of in-range integral values
    // (writeLayerStats histTok + the ±2^53 long gate), so a parseable
    // token that is NON-integral or out of the target type's range is
    // just as foreign as an unparseable one — truncating it (d.toInt)
    // would emit forged counts under a wrapped group value instead of
    // declining
    def intTok(lo: Long, hi: Long): Option[Long] =
      t.toDoubleOption.collect {
        case d if d == Math.rint(d) && d >= lo && d <= hi => d.toLong
      }
    dt match {
      case DateType =>
        // LocalDate.ofEpochDay's own domain
        intTok(-365243219162L, 365241780471L).map(e =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(e)))
      case ByteType =>
        intTok(Byte.MinValue, Byte.MaxValue).map(v => java.lang.Byte.valueOf(v.toByte))
      case ShortType =>
        intTok(Short.MinValue, Short.MaxValue).map(v => java.lang.Short.valueOf(v.toShort))
      case IntegerType =>
        intTok(Int.MinValue, Int.MaxValue).map(v => java.lang.Integer.valueOf(v.toInt))
      case LongType =>
        // genuine long tokens sit STRICTLY inside ±2^53 (writeLayerStats
        // suppresses the histogram otherwise) — anything outside is a
        // foreign line
        intTok(-((1L << 53) - 1), (1L << 53) - 1).map(java.lang.Long.valueOf)
      case _ => Some(t)
    }
  }

  /** Group-column types whose sidecar histogram tokens [[decodeToken]]
    * reads back. LongType too: layers whose envelope leaves ±2^53 wrote
    * no histogram (collision guard) and simply fall back to the scan.
    */
  private def histable(dt: DataType): Boolean = dt match {
    case StringType | DateType | ByteType | ShortType | IntegerType |
        LongType => true
    case _ => false
  }

  /** [[metaBrackets]] with every group token decoded to its column's
    * value (null = the null group). None when a group column has no
    * histogram type, or when some token does not decode (a stale aliased
    * sidecar line): that declines the WHOLE metadata path to the exact
    * scan — dropping the token's group would be a wrong answer.
    */
  private def metaGroups(in: Tbl, cols: Seq[String], bareMerged: Boolean,
      zonedMerged: Boolean): Option[Seq[(Seq[Any], Long, Long)]] = {
    val dts = cols.map(in.df.schema(_).dataType)
    if (!dts.forall(histable)) None
    else metaBrackets(in, cols, bareMerged, zonedMerged).flatMap { gs =>
      val decoded = gs.map { case (toks, lo, hi) =>
        val vs = toks.zip(dts).map {
          case (None, _) => Some(null)
          case (Some(t), dt) => decodeToken(t, dt)
        }
        if (vs.exists(_.isEmpty)) None else Some((vs.map(_.get), lo, hi))
      }
      if (decoded.exists(_.isEmpty)) None else Some(decoded.flatten)
    }
  }

  /** An in-memory frame of metadata answer rows: the group columns
    * (nullable, at their scan types), then non-null LONG count columns.
    */
  private def localFrame(in: Tbl, keys: Seq[String], counts: Seq[String],
      rows: Seq[Seq[Any]]): DataFrame = {
    val jrows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList()
    rows.foreach(r => jrows.add(org.apache.spark.sql.Row(r: _*)))
    in.df.sparkSession.createDataFrame(jrows, StructType(
      keys.map(c => StructField(c, in.df.schema(c).dataType, nullable = true)) ++
        counts.map(StructField(_, LongType, nullable = false))))
  }

  /** The project pipeline stage, recursing into unionAll children so
    * the rebuilt union keeps routable children for later filters.
    */
  private def projectStage(in: Tbl, cols: Seq[String]): Tbl = in.union match {
    case Some((l, r)) =>
      val pl = projectStage(l, cols)
      val pr = projectStage(r, cols)
      Tbl(pl.df.union(pr.df), None, union = Some((pl, pr)))
    case None => projectOne(in, cols)
  }

  private def projectOne(in: Tbl, cols: Seq[String]): Tbl = {
    val bindings = in.origin.flatMap(catalog.sequences.get).getOrElse(Map())
    val exprs = cols.map { c =>
      bindings.get(c) match {
        // aligned sequence column: reconstruct the FULL-length string
        // from the diff representation — local reference + stored
        // diffs, uncovered/missing positions as N/X (reference:
        // table_scan.cpp:19-39 reconstructNonNullSequences); emitted
        // decompress-last (≙ MapPullupPass motivation)
        case Some(b) if !in.df.columns.contains(c) =>
          // null sequence rows project as NULL, not an all-missing
          // string (reference: appendSequences AppendNull on null rows)
          when(col(s"${b.prefix}cov_start").isNull, lit(null).cast("string"))
            .otherwise(graft.seq.SequenceModel.reconstructFull(b.stored,
              if (b.isAminoAcid) "X" else "N", prefix = b.prefix)).as(c)
        case _ => resolve(c, in.df)
      }
    }
    // a PLAIN-column projection never changes row membership, so the
    // zone note survives it (with the projection recorded for any
    // later rewrite to re-apply): filter+project+orderBy+limit and
    // project+groupBy-count keep their metadata bounds. Sequence
    // reconstructions drop the note (they synthesize a column the
    // scan schema lacks).
    val plain = cols.forall(c => in.df.columns.contains(c))
    val note: Option[ZonePred] =
      if (!plain) None
      else in.zone.map(zp => zp.copy(post = zp.post :+ PostProject(cols)))
        .orElse(bareNote(in, merged = false)
          .map(_.copy(post = Seq(PostProject(cols)))))
    // a plain projection BETWEEN an orderBy and its limit rides the sort
    // note as a post-sort stage (replayed after the rewrite's own sort,
    // so it may freely drop the sort keys). A sorted UNION additionally
    // needs the keys KEPT — the limit's merge re-sorts the replayed
    // child frames, so dropped keys would sink the merge.
    Tbl(in.df.select(exprs: _*), None, zone = note,
      sortedScan =
        if (plain) in.sortedScan
          .map(ss => ss.copy(postSort = ss.postSort :+ PostProject(cols)))
        else None,
      sortedUnion =
        if (!plain) None
        else in.sortedUnion.filter { leaves =>
          leaves.forall(_.sortedScan.exists(ss =>
            (ss.column +: ss.tiebreak.map(_._1)).forall(cols.contains)))
        }.map(_.map(t => t.copy(sortedScan = t.sortedScan.map(ss =>
          ss.copy(postSort = ss.postSort :+ PostProject(cols)))))))
  }

  /** The map pipeline stage, recursing into unionAll children like
    * [[projectStage]].
    */
  private def mapStage(in: Tbl, items: Seq[(String, Expr)]): Tbl =
    in.union match {
      case Some((l, r)) =>
        val ml = mapStage(l, items)
        val mr = mapStage(r, items)
        Tbl(ml.df.union(mr.df), None, union = Some((ml, mr)))
      case None => mapOne(in, items)
    }

  private def mapOne(in: Tbl, items: Seq[(String, Expr)]): Tbl = {
    val out = items.foldLeft(in.df) { case (d, (n, v)) =>
      d.withColumn(n, scalar(v, d, Ambiguity.ModeNone, in.origin))
    }
    // a map that only ADDS columns never changes row membership, so
    // the zone note rides through it (re-applied by any rewrite); a
    // map SHADOWING a scan column drops it — the sidecar stats under
    // that name would no longer describe the column's values
    val note: Option[ZonePred] = {
      def noShadow(scanCols: Seq[String]): Boolean =
        items.forall { case (n, _) => !scanCols.contains(n) }
      in.zone match {
        case Some(zp) if noShadow(zp.schema.fieldNames.toSeq) =>
          Some(zp.copy(post = zp.post :+ PostMap(items, in.origin)))
        case Some(_) => None
        case None => bareNote(in, merged = false)
          .filter(zp => noShadow(zp.schema.fieldNames.toSeq))
          .map(_.copy(post = Seq(PostMap(items, in.origin))))
      }
    }
    // a map BETWEEN an orderBy and its limit rides the sort note as a
    // post-sort stage — it may even shadow the sort keys (the rewrite
    // sorts on pre-map values, exactly like the pipeline, and replays
    // the map after). A sorted UNION is stricter: the limit's merge
    // re-sorts the REPLAYED child frames, so the keys must stay
    // unshadowed there.
    Tbl(out, None, zone = note,
      sortedScan = in.sortedScan.map(ss =>
        ss.copy(postSort = ss.postSort :+ PostMap(items, in.origin))),
      sortedUnion = in.sortedUnion.filter { leaves =>
        leaves.forall(_.sortedScan.exists(ss =>
          !(ss.column +: ss.tiebreak.map(_._1))
            .exists(k => items.exists(_._1 == k))))
      }.map(_.map(t => t.copy(sortedScan = t.sortedScan.map(ss =>
        ss.copy(postSort = ss.postSort :+ PostMap(items, in.origin)))))))
  }

  /** The top-k scan note for `orderBy(fields)` over `in` — the note
    * logic shared by the parent pipeline value and each unionAll
    * child: the sort's FIRST key is a stats-prunable column of the
    * pinned scan schema, remaining keys plain-column tiebreaks in
    * EITHER direction (the bound reasons only about the first key;
    * tie order can never promote a row past a strict first-key
    * exclusion), and the input is a bare registered chain (merge-free,
    * or merged with a pk) or a fully stats-decidable filter of one.
    */
  private def sortNote(in: Tbl, fields: Seq[Expr]): Option[SortedScan] = {
    // top-k scan note for a following limit: the sort's FIRST key is
    // a stats-prunable (numeric/date/string) column, the remaining
    // keys are plain-column tiebreaks (asc or desc), and the input is
    // either the bare registered versioned scan (merge-free with layer
    // stats) or a fully stats-decidable filter of one (the filter's
    // ZonePred note) — then limit(k) can bound the read from metadata
    // alone
    def sortKey: Option[((String, Boolean), Seq[(String, Boolean)])] = for {
      _ <- Some(()) if fields.nonEmpty
      first <- fields.head match {
        case Ident(n) => Some((n, false))
        case Call("asc", Seq(Ident(n)), _) => Some((n, false))
        case Call("desc", Seq(Ident(n)), _) => Some((n, true))
        case _ => None
      }
      if in.df.columns.contains(first._1) &&
        (in.df.schema(first._1).dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case org.apache.spark.sql.types.DateType => true
          case org.apache.spark.sql.types.StringType => true
          case _ => false
        })
      ties <- fields.tail.foldLeft(Option(Seq.empty[(String, Boolean)])) {
        case (Some(acc), Ident(n)) if in.df.columns.contains(n) =>
          Some(acc :+ (n -> false))
        case (Some(acc), Call("asc", Seq(Ident(n)), _))
            if in.df.columns.contains(n) => Some(acc :+ (n -> false))
        case (Some(acc), Call("desc", Seq(Ident(n)), _))
            if in.df.columns.contains(n) => Some(acc :+ (n -> true))
        case _ => None
      }
    } yield (first, ties)
    for {
      (first, ties) <- sortKey
      // filter(stats-decidable).orderBy(...): the chain + merge-free
      // checks already ran when the filter routed; the limit rewrite
      // re-narrows and re-applies the predicate itself. Over the bare
      // scan a conjunct-free note rides along so post-orderBy stages
      // (project/map before the limit) can replay through the same
      // rewrite; the bare MERGED scan's note sends the limit down the
      // shadow-aware path (pk-only non-suppliers, loss-capped
      // qualifying counts) instead of the append-only one.
      zp <- in.zone.orElse(bareNote(in, merged = false))
        .orElse(bareNote(in, merged = true))
      // the sort key must be a field of the PINNED SCAN SCHEMA, not
      // merely of the current frame: a map-added key may share its name
      // with a dead schema-evolution column whose stale envelopes some
      // layers still record — bounding on those would order the dead
      // column's values, not the expression's. Map-added keys keep the
      // zone narrowing the filter already did and simply sort the
      // narrowed scan.
      if zp.schema.fieldNames.contains(first._1)
    } yield SortedScan(first._1, first._2, ties, zp)
  }

  /** Re-apply carried pipeline stages verbatim — the single replay used
    * by every rewrite (pre-sort zone stages, post-sort stages, and the
    * stacked-filter re-plan), so a future PostStage variant has exactly
    * one execution site.
    */
  private def replay(df: DataFrame, stages: Seq[PostStage]): DataFrame =
    stages.foldLeft(df) {
      case (d, PostProject(cs)) => d.select(cs.map(col): _*)
      case (d, PostMap(items, org)) =>
        items.foldLeft(d) { case (dd, (nm, v)) =>
          dd.withColumn(nm, scalar(v, dd, Ambiguity.ModeNone, org))
        }
    }

  /** The scan a zone note re-plans over: the note's chain narrowed to
    * the layers that may hold a matching row (or to `keep`, a subset
    * the caller already chose), under the note's pinned schema — a
    * schema-evolution commit racing the plan must not give the routed
    * scan columns the registered frame lacks. A MERGED note reads
    * through the shadow-aware merged reader, where layers outside the
    * set stay in the argmax as pk-only shadows instead of dropping out.
    */
  private def zoneScan(spark: org.apache.spark.sql.SparkSession,
      zp: ZonePred, keep: Option[Seq[String]] = None): DataFrame =
    zp.mergedPk match {
      case Some(pk) => NdjsonIngest.readChainRangesMerged(spark, zp.dir,
        zp.chain, pk, zp.zone, Some(zp.schema), keep.map(_.toSet))
      case None => keep match {
        case Some(k) => NdjsonIngest.readChainSubset(spark, zp.dir,
          zp.chain, k, Some(zp.schema))
        case None => NdjsonIngest.readChainRanges(spark, zp.dir, zp.chain,
          zp.zone, Some(zp.schema))
      }
    }

  /** The limit pipeline stage: the stats-bounded top-k rewrite over a
    * sorted-scan note, recursing into unionAll leaves — when EVERY
    * leaf of the (arbitrarily nested, pre-flattened) union carries a
    * sort note for the same fields, each leaf bounds its own read to
    * its top-n superset and the merged result re-sorts and cuts (the
    * union's top-n is always within the union of the leaves' top-n).
    */
  private def limitStage(in: Tbl, n: Long): Tbl = in.sortedUnion match {
    case Some(leaves)
        if leaves.forall(_.sortedScan.isDefined) &&
          leaves.map(_.sortedScan.get.skip).distinct.size == 1 &&
          leaves.head.sortedScan.get.skip + n <= Int.MaxValue =>
      // an interposed offset deepened EVERY leaf's skip identically;
      // each leaf reads its top-(skip+n) superset with NO leaf-level
      // skip (the skip is global), and the merge re-applies it
      val skip = leaves.head.sortedScan.get.skip
      val bounded = leaves.map { t =>
        limitStage(t.copy(
          sortedScan = t.sortedScan.map(_.copy(skip = 0))), skip + n)
      }
      // every note derives from the SAME orderBy fields, so any one
      // spells the merge sort key
      val ss = leaves.head.sortedScan.get
      val keyCols = ((ss.column, ss.descending) +: ss.tiebreak).map {
        case (c, d) => if (d) col(c).desc else col(c).asc }
      val merged = bounded.map(_.df).reduce(_ union _).orderBy(keyCols: _*)
      Tbl(if (skip > 0) merged.offset(skip.toInt).limit(n.toInt)
          else merged.limit(n.toInt), None)
    case _ =>
      in.sortedScan match {
        case Some(ss) if ss.skip + n <= Int.MaxValue =>
          // stats-bounded top-k: layers whose envelope provably cannot
          // reach the (skip+k)-th best row are never opened; the result
          // is the same [filter+]orderBy[+offset]+limit, just over a
          // narrowed scan (an interposed offset(o) deepened the bound
          // to o+k and re-applies below)
          val kTot = (ss.skip + n).toInt
          // [filter+]orderBy+limit: the kept set satisfies BOTH the zone
          // intersection (a pruned layer has no qualifying rows) and the
          // filtered top-k accumulation (per-layer qualifying-count
          // lower bounds); the original predicate recompiles against
          // the narrowed scan, so row-wise semantics are byte-identical
          // to the unrouted plan. Merged chains take the shadow-aware
          // selector and reader: non-supplying layers stay in the
          // argmax as pk-only shadows instead of dropping out.
          val zp = ss.zone
          val keyCols =
            ((ss.column, ss.descending) +: ss.tiebreak).map {
              case (c, d) => if (d) col(c).desc else col(c).asc }
          val kept = NdjsonIngest.chainTopKLayers(zp.dir, zp.chain,
            ss.column, kTot, ss.descending, zp.zone)
          val scan = zoneScan(in.df.sparkSession, zp, Some(kept))
          val filtered = zp.pred.map(p =>
            scan.filter(scalar(p, scan, Ambiguity.ModeNone, in.origin)))
            .getOrElse(scan)
          // carried row-membership-invariant stages re-apply IN ORDER
          // after the filter — exactly where the pipeline had them;
          // post-sort stages replay AFTER the sort (both are
          // order-preserving, and the sort ran on pre-stage values like
          // the pipeline's)
          val top = replay(
            replay(filtered, zp.post).orderBy(keyCols: _*),
            ss.postSort).limit(kTot)
          Tbl(if (ss.skip > 0) top.offset(ss.skip.toInt).limit(n.toInt)
              else top, in.origin)
        case _ => Tbl(in.df.limit(n.toInt), in.origin)
      }
  }

  /** Apply filter(pred) to a pipeline value, pushing through
    * unionAll children first (≙ the reference pushing filters into
    * both union inputs, optimizer/filter_pushdown_pass.h:22-49): each
    * registered side zone-routes independently, and the rebuilt
    * union carries its routed children for further stacked filters.
    */
  private def filterStage(in: Tbl, pred: Expr): Tbl = in.union match {
    case Some((l, r)) =>
      val fl = filterStage(l, pred)
      val fr = filterStage(r, pred)
      Tbl(fl.df.union(fr.df), None, union = Some((fl, fr)))
    case None => filterOne(in, pred)
  }

  /** The filter pipeline stage over one (non-union) input — the
    * whole routing stack: zone maps, stacked-note extension,
    * merge-on-read shadows, disjunction arms, posting indexes, and
    * the residual row-wise predicate. [[filterStage]] recurses into
    * union children before landing here.
    */
  private def filterOne(in: Tbl, pred: Expr): Tbl = {
    // index routing (≙ the reference's IndexScan-vs-Selection choice,
    // symbol_in_set.cpp:129-264): top-level AND-conjuncts that are
    // PURE diff-match symbol tests — target symbols exclude the
    // implied (local-reference) symbol and the missing symbol, so no
    // complement/missing clause is needed — and whose posting
    // cardinality is small route through the mut index as a pruned
    // posting scan + pk semi-join; everything else stays row-wise
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Binary("&&", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // layer (zone-map) routing, ONE path for every versioned input (≙
    // the reference's FilterPushdownPass folding EVERY filter into the
    // scan regardless of interleaving, optimizer/filter_pushdown_pass.h:
    // 22-49). The input is either the BARE scan of a registered chain
    // — merge-free, or merge-on-read with its pk — or carries a ZonePred
    // note: a previous fully-decidable filter, possibly followed by
    // row-membership-invariant project/map stages. The predicate's
    // stats-decidable conjuncts (ranges, string equalities/in-sets,
    // null tests, disjunctions as arms) extend the note's zone, and the
    // whole prefix re-plans over the narrowed chain: scan → prior
    // row-wise predicate → post-stage replay reproduces the input frame
    // exactly, so EVERY conjunct still applies row-wise below — pure
    // scan narrowing, never a semantic change. Layers whose stats can't
    // match never open a footer; a merge-on-read chain keeps them in
    // the argmax as pk-only shadows (tombstones/upserts keep resolving
    // exactly).
    // The bare chain is derived from the REGISTERED FRAME'S OWN input
    // files (not re-resolved from the latest pointer), so a commit
    // racing the plan can neither skew the routed read vs the unrouted
    // one nor slip a new layer past the merge-free check — both run
    // over the same captured chain. The pure conjunct-shape extraction
    // runs FIRST; the filesystem checks only when something can
    // actually route.
    // Decidability requires the conjunct's column to be a field of the
    // PINNED SCAN SCHEMA: a map-added column (or a post-projection
    // alias) may share its name with a dead schema-evolution column
    // some layers still carry stats for, and pruning on those stats
    // would answer from the dead column's values. Conjuncts failing the
    // test stay row-wise-only.
    val zoned: Option[(Tbl, Option[ZonePred])] = {
      val scanCols =
        in.zone.fold(in.df.columns.toSet)(_.schema.fieldNames.toSet)
      val (z, allDecidable) = zoneOf(conjuncts(pred), in.df, scanCols)
      if (z.isEmpty) None
      else in.zone.orElse(bareNote(in, merged = false))
        .orElse(bareNote(in, merged = true)).map { prev =>
          val zp = prev.copy(zone = prev.zone ++ z)
          val scan = zoneScan(in.df.sparkSession, zp)
          val prior = zp.pred.map(p =>
            scan.filter(scalar(p, scan, Ambiguity.ModeNone, in.origin)))
            .getOrElse(scan)
          // the note for a later count or orderBy+limit needs EVERY
          // conjunct decidable (an opaque one makes per-layer
          // qualifying counts unknowable; or-groups contribute bounds
          // only in orGroupPassCount's provably-exact shapes). The
          // combined predicate applies PRE-replay in any rewrite — sound
          // because decidable conjuncts only touch scan columns, whose
          // values no carried post stage can change.
          val note =
            if (!allDecidable) None
            else Some(zp.copy(
              pred = Some(zp.pred.fold(pred)(p => Binary("&&", p, pred)))))
          (Tbl(replay(prior, zp.post), in.origin), note)
        }
    }
    val in2: Tbl = zoned.map(_._1).getOrElse(in)
    val zoneNote: Option[ZonePred] = zoned.flatMap(_._2)
    val idxCtx = for {
      t <- in2.origin
      m <- catalog.mutIndexes.get(t) if m.nonEmpty
      pk <- catalog.primaryKeys.get(t)
    } yield (m, pk)
    val (base, rest) = idxCtx match {
      case Some((indexes, pk)) if in2.df.columns.contains(pk) =>
        val tagged = conjuncts(pred).map(c =>
          indexRoute(c, indexes, Ambiguity.ModeNone, in.origin) -> c)
        val routed = tagged.collect { case (Some(r), _) => r }
        val rowwise = tagged.collect { case (None, c) => c }
        val df = routed.foldLeft(in2.df) { (d, r) =>
          val si = indexes(r.seqName)
          val keys = (r match {
            case MutRoute(_, p, symsOpt, _) =>
              si.postings.filter(col("pos") === p &&
                symsOpt.map(ss => col("sym").isin(ss: _*)).getOrElse(lit(true)))
            case InsRoute(_, p, pat, _) =>
              si.insPostings.get.filter(col("pos") === p &&
                col("ins").rlike(SeqPredicates.anchoredInsertionRegex(pat)))
            case InsKmerRoute(_, p, pat, kmers, _) =>
              // pruned (pos partition) + pushed kmer equality scan →
              // per-(pk, ins) intersection (candidate iff ALL pattern
              // 3-mers present) → regex verify on the few candidates
              si.insKmerPostings.get
                .filter(col("pos") === p && col("kmer").isin(kmers: _*))
                .groupBy(col("pk"), col("ins"))
                .agg(countDistinct(col("kmer")).as("__nk"))
                .filter(col("__nk") === kmers.size &&
                  col("ins").rlike(SeqPredicates.anchoredInsertionRegex(pat)))
          }).select(col("pk").as("__idx_pk"))
          // the broadcast hint is size-gated, not just row-gated: near
          // the 5M-row routing cap a pk list (especially string pks)
          // builds a multi-hundred-MB hash relation on the driver and
          // every executor; above the hint cap Spark plans the
          // semi-join itself (shuffled or AQE-converted)
          val hinted =
            if (r.postings <= RouteBroadcastMaxRows) broadcast(keys)
            else keys
          d.join(hinted, d(pk) === col("__idx_pk"), "left_semi")
        }
        (df, rowwise)
      case _ => (in2.df, conjuncts(pred))
    }
    val out =
      if (rest.isEmpty) base
      else base.filter(rest
        .map(scalar(_, base, Ambiguity.ModeNone, in.origin)).reduce(_ && _))
    // a filter BETWEEN an orderBy and its limit can be absorbed into
    // the sort note (≙ the reference's FilterPushdownPass pushing
    // filters below sorts): sort→filter→limit(k) emits the same rows
    // in the same order as filter→sort→limit(k), so the rewrite's
    // scan→predicate→sort→postSort→limit plan stays exact — PROVIDED
    // every conjunct is stats-decidable over the PINNED SCAN SCHEMA
    // and touches no column a carried post-sort map SHADOWED (the
    // filter ran on post-map values; folding it pre-replay would test
    // the scan's). Any opaque/shadowed conjunct drops the note (the
    // row-wise filter above is always applied regardless).
    // skip == 0: an OFFSET between the sort and this filter cut rows
    // by POSITION before the filter ran — offset∘filter does not
    // commute, so a deepened note must drop here
    def absorbFilter(ss: SortedScan): Option[SortedScan] =
      if (ss.skip != 0) None
      else {
        val zp = ss.zone
        val shadowed: Set[String] = ss.postSort.collect {
          case PostMap(items, _) => items.map(_._1)
        }.flatten.toSet
        val (z, allDecidable) = zoneOf(conjuncts(pred), in.df,
          zp.schema.fieldNames.toSet -- shadowed)
        if (!allDecidable) None
        else Some(ss.copy(zone = zp.copy(
          pred = Some(zp.pred.fold(pred)(p => Binary("&&", p, pred))),
          zone = zp.zone ++ z)))
      }
    val keptSort: Option[SortedScan] = in.sortedScan.flatMap(absorbFilter)
    // a sorted UNION absorbs the filter per LEAF (each leaf's pinned
    // schema and post-sort shadows gate its own absorption; ONE
    // unabsorbable leaf drops the whole note — the merge needs every
    // side bounded)
    val keptSortedUnion: Option[Seq[Tbl]] = in.sortedUnion.flatMap { ls =>
      val absorbed = ls.map(t => t.sortedScan.flatMap(absorbFilter))
      if (absorbed.exists(_.isEmpty)) None
      else Some(ls.zip(absorbed).map { case (t, s) =>
        t.copy(sortedScan = s) })
    }
    // the note survives the filter stage (decidable conjuncts can't
    // also be index-routed — indexRoute matches only sequence
    // predicate shapes — so zoneNote implies no semi-join was added;
    // likewise keptSort implies rest == conjuncts(pred))
    Tbl(out, in.origin, zone = zoneNote, sortedScan = keptSort,
      sortedUnion = keptSortedUnion)
  }

  def planTable(e: Expr): Tbl = e match {
    case Ident(name) =>
      catalog.tables.get(name).map(Tbl(_, Some(name)))
        .getOrElse(err(s"unknown table '$name'"))
    case Call(fn, pos, named) => pipelineFn(fn, pos, named)
    case other => err(s"expected a table expression, got $other")
  }

  private def intArg(e: Expr, what: String): Long = e match {
    case IntLit(v) => v
    case _ => err(s"$what must be an integer literal")
  }

  private def identSet(e: Expr, what: String): Seq[String] = e match {
    case SetLit(items) => items.map {
      case Ident(n) => n
      case other => err(s"$what must contain column names, got $other")
    }
    case Ident(n) => Seq(n)
    case other => err(s"$what must be a set of column names, got $other")
  }

  // ------------------------------------------------------------- signatures
  /** Reference-exact argument binding (function_registry.cpp:57-120 with
    * the registry signatures of ast_to_query.cpp:1697-1818): positional
    * args fill POSITIONAL slots in declaration order, named args must be
    * declared and not already bound, required params must end up bound.
    * Named-only parameters are NEVER bound positionally — e.g.
    * `phyloSubtree(t, col, true)` is "too many positional arguments", not
    * a printNodesNotInTree binding.
    */
  private final case class Param(name: String, required: Boolean, positional: Boolean)
  private def P(n: String, req: Boolean = true) = Param(n, req, positional = true)
  private def N(n: String, req: Boolean = true) = Param(n, req, positional = false)

  private val mutationsSig = Seq(P("input"), N("minProportion"),
    N("sequenceNames", req = false), N("fields", req = false))
  private val insertionsSig = Seq(P("input"), N("sequenceNames", req = false))
  private val pipelineSigs: Map[String, Seq[Param]] = Map(
    "filter" -> Seq(P("input"), P("predicate")),
    "schema" -> Seq(P("input")),
    "approxCount" -> Seq(P("input")),
    "approxGroupCount" -> Seq(P("input"), P("column")),
    "groupBy" -> Seq(P("input"), P("aggregates"), P("columns", req = false)),
    "project" -> Seq(P("input"), P("fields")),
    "map" -> Seq(P("input"), P("expressions")),
    "mutations" -> mutationsSig,
    "aminoAcidMutations" -> mutationsSig,
    "insertions" -> insertionsSig,
    "aminoAcidInsertions" -> insertionsSig,
    "randomize" -> Seq(P("input"), N("seed", req = false)),
    "limit" -> Seq(P("input"), P("count")),
    "offset" -> Seq(P("input"), P("count")),
    "orderBy" -> Seq(P("input"), P("fields")),
    "mostRecentCommonAncestor" -> Seq(P("input"), P("column"),
      N("printNodesNotInTree", req = false)),
    "phyloSubtree" -> Seq(P("input"), P("column"),
      N("printNodesNotInTree", req = false), N("contractUnaryNodes", req = false)),
    "unionAll" -> Seq(P("left"), P("right")),
    "join" -> Seq(P("left"), P("right"), P("on"), N("type", req = false)))

  private val symbolEqualsSig = Seq(N("position"), N("symbol"), N("sequenceName"))
  private val hasMutationSig = Seq(N("position"), N("sequenceName"))
  private val insertionContainsSig = Seq(N("position"), N("value"), N("sequenceName"))
  private val mutationProfileSig = Seq(N("distance"), N("sequenceName"),
    N("querySequence", req = false), N("sequenceId", req = false),
    N("mutations", req = false))
  private val scalarSigs: Map[String, Seq[Param]] = Map(
    "between" -> Seq(P("column"), P("from"), P("to")),
    "in" -> Seq(P("column"), P("values")),
    "isNull" -> Seq(P("column")),
    "isNotNull" -> Seq(P("column")),
    "lineage" -> Seq(P("column"), P("value"),
      N("includeSublineages", req = false), N("recombinantFollowingMode", req = false)),
    "phyloDescendantOf" -> Seq(P("column"), P("node")),
    "like" -> Seq(P("column"), P("pattern")),
    "at" -> Seq(P("input"), P("position")),
    "isoWeek" -> Seq(P("input")),
    "nucleotideEquals" -> symbolEqualsSig,
    "aminoAcidEquals" -> symbolEqualsSig,
    "hasMutation" -> hasMutationSig,
    "hasAAMutation" -> hasMutationSig,
    "insertionContains" -> insertionContainsSig,
    "aminoAcidInsertionContains" -> insertionContainsSig,
    "exact" -> Seq(P("child")),
    "maybe" -> Seq(P("child")),
    "nOf" -> Seq(P("count"), P("children"), N("matchExactly", req = false)),
    "nucleotideMutationProfile" -> mutationProfileSig,
    "aminoAcidMutationProfile" -> mutationProfileSig)

  private def bindArgs(fn: String, sig: Seq[Param], pos: Seq[Expr],
      named: Seq[(String, Expr)]): Map[String, Expr] = {
    var bound = Map.empty[String, Expr]
    var next = 0
    for (p <- pos) {
      while (next < sig.length && !sig(next).positional) next += 1
      if (next >= sig.length)
        err(s"$fn() received too many positional arguments")
      bound += sig(next).name -> p
      next += 1
    }
    val valid = sig.map(_.name).toSet
    for ((n, v) <- named) {
      if (!valid(n)) err(s"$fn() received unknown argument '$n'")
      if (bound.contains(n)) err(s"$fn() received duplicate argument '$n'")
      bound += n -> v
    }
    for (p <- sig if p.required && !bound.contains(p.name))
      err(s"$fn() requires argument '${p.name}'")
    bound
  }

  /** The (column, lo, hi) envelope when `e` is a numeric between/equality
    * over literal bounds — the only conjunct shapes layer `_stats` can
    * prune on. `null` bounds (half-open between) map to ∓∞. Matching is
    * deliberately conservative: any non-literal or non-numeric shape just
    * returns None and the filter stays a plain scan.
    */
  private def rangeConjunct(e: Expr,
      df: DataFrame): Option[(String, Double, Double)] = {
    import org.apache.spark.sql.types.{DateType, NumericType}
    // the literal must MATCH the column's type family — a mismatched pair
    // would prune on a meaningless envelope (the row-wise filter would
    // reject the query anyway, but pruning must never be the first to act)
    def bound(c: String)(x: Expr): Option[Double] =
      (df.schema(c).dataType, x) match {
        case (_: NumericType, IntLit(v)) => Some(v.toDouble)
        case (_: NumericType, FloatLit(v)) => Some(v)
        // date literals compare as epoch-day doubles — the same encoding
        // writeLayerStats records for DateType columns
        case (DateType, Cast(StringLit(s), "date")) =>
          try Some(java.time.LocalDate.parse(s).toEpochDay.toDouble)
          catch { case _: java.time.format.DateTimeParseException => None }
        case _ => None
      }
    def prunableCol(c: String): Boolean =
      df.columns.contains(c) && (df.schema(c).dataType match {
        // DECIMALS past double precision derive NO range conjunct: a
        // decimal(30,20) value 4.99999999999999999999 records an
        // envelope of exactly 5.0, the value-based exactness gates
        // can't tell it from an exact 5.0, and the containment pass
        // proof would then count rows the exact decimal row-wise
        // comparison rejects. Precision ≤ 15 round-trips through a
        // double (injective + order-preserving), so its envelope tests
        // and exact proofs coincide with the decimal comparisons.
        // Gating the READER covers sidecars of any age; the filter
        // still applies row-wise, only the pruning/bounding declines.
        case d: org.apache.spark.sql.types.DecimalType => d.precision <= 15
        case _: NumericType => true
        case DateType => true
        case _ => false
      })
    e match {
      case Call("between", Seq(Ident(c), lo, hi), Seq()) if prunableCol(c) =>
        // BOTH-null bounds compile row-wise to lit(true) && lit(true) —
        // vacuously TRUE for every row INCLUDING null-column rows —
        // while the whole zone machinery (zoneKeep, conjunctPassCounts,
        // topKSelect's not-null sort key) treats a range as
        // null-REJECTING: deriving a (-Inf, +Inf) range here would drop
        // null rows from routed counts/scans and misplace them in top-k
        // bounds. Not a range conjunct at all — it constrains nothing.
        if (lo == NullLit && hi == NullLit) return None
        val l = if (lo == NullLit) Some(Double.NegativeInfinity) else bound(c)(lo)
        // float between is to-EXCLUSIVE (reference
        // query_documentation.md:504; the row-wise compile below uses
        // `<`): encode that in the envelope as the largest includable
        // double, so BOTH the zone intersection test and the top-k
        // containment test see exactly the rows the filter keeps
        val exclusiveHi = df.schema(c).dataType match {
          case FloatType | DoubleType => true
          case _ => false
        }
        val h =
          if (hi == NullLit) Some(Double.PositiveInfinity)
          else bound(c)(hi).map(v => if (exclusiveHi) Math.nextDown(v) else v)
        for (a <- l; b <- h) yield (c, a, b)
      case Binary("=", Ident(c), v) if prunableCol(c) =>
        bound(c)(v).map(x => (c, x, x))
      // no numeric in-set case: the reference's `in` is string-only
      // (string_in_set.cpp) and the row-wise compile rejects int sets
      case _ => None
    }
  }

  /** The (column, sought values) pair when `e` is a string equality or
    * in-set conjunct over literals — the shapes string zone maps can
    * prune on (lexicographic envelopes).
    */
  private def stringEqConjunct(e: Expr,
      df: DataFrame): Option[(String, Seq[String])] = {
    def strCol(c: String): Boolean =
      df.columns.contains(c) &&
        df.schema(c).dataType == org.apache.spark.sql.types.StringType
    e match {
      case Binary("=", Ident(c), StringLit(v)) if strCol(c) =>
        Some((c, Seq(v)))
      case Call("in", Seq(Ident(c), SetLit(items)), Seq()) if strCol(c) &&
          items.forall(_.isInstanceOf[StringLit]) =>
        Some((c, items.collect { case StringLit(v) => v }))
      case _ => None
    }
  }

  /** The zone of an `isNull`/`isNotNull` conjunct over a column
    * carrying a non-null ledger (`c:` stats lines — numeric/date
    * columns): isNull prunes layers recording zero nulls, isNotNull
    * prunes all-null layers. String columns have no ledger and simply
    * never prune (conservative).
    */
  private def nullConjunct(e: Expr, df: DataFrame): Option[Zone] = {
    val (fn, c) = e match {
      case Call(f, Seq(Ident(c)), Seq()) => (f, c)
      case Call(f, Seq(), Seq(("column", Ident(c)))) => (f, c)
      case _ => return None
    }
    if (!df.columns.contains(c)) None
    else if (fn == "isNull") Some(Zone(nullCols = Seq(c)))
    else if (fn == "isNotNull") Some(Zone(notNullCols = Seq(c)))
    else None
  }

  /** The stats-decidable part of `cs` (top-level AND-conjuncts over
    * `df`) as ONE zone, and whether EVERY conjunct was decidable. A
    * conjunct is decidable when it is a range, string equality/in-set
    * or null test on a column in `scanCols` (the pinned scan schema the
    * zone will be tested against), or — with `withOr` — a disjunction
    * whose every arm holds such a conjunct ([[orArms]]).
    */
  private def zoneOf(cs: Seq[Expr], df: DataFrame, scanCols: Set[String],
      withOr: Boolean = true): (Zone, Boolean) = {
    val parts = cs.map { c =>
      rangeConjunct(c, df).filter(r => scanCols(r._1))
        .map(r => Zone(ranges = Seq(r)))
        .orElse(stringEqConjunct(c, df).filter(s => scanCols(s._1))
          .map(s => Zone(strEquals = Seq(s))))
        .orElse(nullConjunct(c, df).filter(z =>
          (z.nullCols ++ z.notNullCols).forall(scanCols)))
        .orElse(if (withOr) orArms(c, df, scanCols) else None)
    }
    (parts.flatten.foldLeft(Zone.empty)(_ ++ _), parts.forall(_.isDefined))
  }

  /** A top-level DISJUNCTIVE conjunct (`a || b [|| …]`) as zone-prunable
    * arms: each arm contributes its stats-decidable conjuncts (an arm may
    * also hold opaque ones — the arm test is may-contain, so testing a
    * subset only keeps more layers), but an arm with NO decidable
    * conjunct makes the whole group unprunable → None. The layer-keep
    * rule is the union of the arms' envelopes, exactly how the
    * reference's Or operator unions its operands' bitmaps
    * (filter/operators/or.cpp). `scanCols` restricts decidability to
    * pinned-scan-schema columns (see [[zoneOf]]). The group feeds the
    * count/top-k bounds only in the provably-exact shapes of
    * `NdjsonIngest.orGroupPassCount`; elsewhere it only narrows the scan.
    */
  private def orArms(e: Expr, df: DataFrame,
      scanCols: Set[String]): Option[Zone] = {
    def orList(x: Expr): Seq[Expr] = x match {
      case Binary("||", l, r) => orList(l) ++ orList(r)
      case o => Seq(o)
    }
    def andList(x: Expr): Seq[Expr] = x match {
      case Binary("&&", l, r) => andList(l) ++ andList(r)
      case o => Seq(o)
    }
    val arms = orList(e)
    if (arms.size < 2) return None
    // complete: the recorded tests ARE the arm's entire predicate —
    // every conjunct decidable inside the pinned scan schema. Only
    // complete arms may feed exact pass counts; incomplete ones still
    // narrow (may-contain).
    val built = arms.map { arm =>
      val (z, all) = zoneOf(andList(arm), df, scanCols, withOr = false)
      z.copy(complete = all)
    }
    if (built.exists(_.isEmpty)) None else Some(Zone(orGroups = Seq(built)))
  }

  /** The layer chain a registered versioned frame actually reads,
    * recovered from its resolved input files: every file must live
    * directly under `dir/v<k>/`, and any foreign path disqualifies
    * routing (None = don't route). A `_tombstones` segment disqualifies
    * a plain frame too; for a MERGED frame (`allowTombstones`) tombstone
    * files are expected members of the merge-on-read chain (they resolve
    * inside the merged read), so the segment maps to its layer.
    */
  private def frameLayers(df: DataFrame, dir: String,
      allowTombstones: Boolean): Option[Seq[String]] = {
    def pathOf(f: String): Option[String] =
      scala.util.Try(new java.io.File(new java.net.URI(f)).getPath)
        .orElse(scala.util.Try(new java.io.File(f).getPath)).toOption
    val root = new java.io.File(dir).getAbsolutePath.stripSuffix("/") + "/"
    val layerName = "v\\d+".r
    val files = df.inputFiles
    if (files.isEmpty) return None
    val segs = files.toSeq.map { f =>
      pathOf(f).flatMap { p =>
        if (!p.startsWith(root)) None
        else {
          val rel = p.stripPrefix(root)
          val seg = rel.takeWhile(_ != '/')
          if (layerName.pattern.matcher(seg).matches() &&
            (allowTombstones || !rel.contains("_tombstones"))) Some(seg)
          else None
        }
      }
    }
    if (segs.exists(_.isEmpty)) None
    else Some(segs.flatten.distinct.sortBy(_.drop(1).toLong))
  }

  // ---------------------------------------------------------------- pipeline
  private def pipelineFn(fn: String, pos: Seq[Expr], named: Seq[(String, Expr)]): Tbl = {
    val sig = pipelineSigs.getOrElse(fn, err(s"unknown pipeline function '$fn'"))
    val bound = bindArgs(fn, sig, pos, named)
    def a(name: String): Option[Expr] = bound.get(name)
    def req(name: String): Expr =
      bound.getOrElse(name, err(s"$fn() requires argument '$name'"))
    def input: Tbl = planTable(req("input"))
    fn match {
      case "filter" =>
        filterStage(input, req("predicate"))

      case "groupBy" =>
        val in = input
        val aggItems = req("aggregates") match {
          case RecordLit(items) => items.map {
            case (n, Call("count", Seq(), Seq())) => n
            case (n, other) => err(s"unsupported aggregate for '$n': $other " +
              "(only count() is supported)")
          }
          case other => err(s"groupBy aggregates must be a record, got $other")
        }
        // reject BEFORE choosing a path: the metadata fast path below
        // would happily answer an empty record with a zero-column row
        // while the counting scan throws — routed and unrouted must
        // agree even on degenerate input
        if (aggItems.isEmpty) err("groupBy requires at least one aggregate")
        val aggs = aggItems.map(n => count(lit(1)).as(n))
        val cols = a("columns")
          .map(identSet(_, "groupBy columns")).getOrElse(Nil)
        cols.foreach(c => resolve(c, in.df))
        // counts answer from the layer `_stats` sidecars when they pin
        // them EXACTLY — zero parquet footers, zero Spark jobs (the
        // reference's CountFilterNode and Aggregated fast paths over
        // bitmap cardinalities, at layer granularity): the bare merge-free
        // chain, a fully stats-decidable filter of one (envelopes, null
        // ledgers and value histograms; group-column conjuncts apply
        // entry-wise), or a unionAll of such (leaves sum group-wise).
        // Anything undecidable → the normal counting/grouping scan.
        val meta =
          if (cols.size > 2 || (cols.nonEmpty && aggItems.size != 1)) None
          else metaGroups(in, cols, bareMerged = false, zonedMerged = false)
        val out = meta match {
          case Some(Seq((_, total, _))) if cols.isEmpty =>
            in.df.sparkSession.range(1)
              .select(aggItems.map(n => lit(total).as(n)): _*)
          case Some(gs) =>
            localFrame(in, cols, aggItems, gs.map { case (vs, c, _) => vs :+ c })
          case None if cols.isEmpty => in.df.agg(aggs.head, aggs.tail: _*)
          case None =>
            in.df.groupBy(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        }
        Tbl(out, None)

      case "project" =>
        projectStage(input, identSet(req("fields"), "project fields"))

      case "map" =>
        val items = req("expressions") match {
          case RecordLit(it) => it
          case other => err(s"map expects a record, got $other")
        }
        mapStage(input, items)

      case "orderBy" =>
        val in = input
        val fields = req("fields") match {
          case SetLit(items) => items
          case single => Seq(single)
        }
        val sorts = fields.map {
          case Ident(n) => resolve(n, in.df).asc
          case Call("asc", Seq(Ident(n)), _)  => resolve(n, in.df).asc
          case Call("desc", Seq(Ident(n)), _) => resolve(n, in.df).desc
          case other => err(s"orderBy field must be name/asc(name)/desc(name), got $other")
        }
        // unionAll LEAVES carry their own per-leaf sort notes, so a
        // following limit can bound EACH leaf's read and re-merge (the
        // union's top-k is always within the union of the leaves'
        // top-k) — flattening the nested union tree routes
        // unionAll(unionAll(a, b), c) exactly like the binary case
        val kids = in.union.map(_ =>
          unionLeaves(in).map(leaf =>
            leaf.copy(sortedScan = sortNote(leaf, fields))))
        Tbl(in.df.orderBy(sorts: _*), in.origin, sortNote(in, fields),
          sortedUnion = kids)

      case "limit" =>
        val n = intArg(req("count"), "limit")
        if (n <= 0) err("limit must be positive")
        // reference: limit is a uint32 (ast_to_query.cpp
        // extractUnsigned) — and the Spark limit takes an Int, so an
        // unchecked .toInt would silently wrap (limit(2^32) → limit(0),
        // an empty result instead of a typed error). Int.MaxValue is
        // the supported ceiling; anything above gets the typed error,
        // never a wrapped count.
        if (n > Int.MaxValue)
          err(s"Cannot cast $n to uint32. Value out of range")
        limitStage(input, n)

      case "offset" =>
        val in = input
        val n = intArg(req("count"), "offset")
        // reference: offset is a uint32 (ast_to_query.cpp
        // extractUnsigned); the same wrap guard as limit — offset(2^32)
        // would silently .toInt to offset(0), a no-op
        if (n < 0 || n > Int.MaxValue)
          err(s"Cannot cast $n to uint32. Value out of range")
        // an offset between orderBy and limit deepens (not drops) the
        // top-k note: limit(k) then reads the first skip+k rows and
        // re-applies the skip. A sorted UNION deepens each leaf's note
        // the same way — the union's top-(skip+k) is always within the
        // union of the leaves' top-(skip+k) — and limit re-applies
        // the global skip after the merge sort.
        Tbl(in.df.offset(n.toInt), in.origin,
          in.sortedScan.map(ss => ss.copy(skip = ss.skip + n)),
          sortedUnion = in.sortedUnion.map(_.map(t =>
            t.copy(sortedScan = t.sortedScan.map(ss =>
              ss.copy(skip = ss.skip + n))))))

      case "randomize" =>
        val in = input
        val seed = a("seed").map(intArg(_, "seed")).getOrElse(42L)
        // deterministic shuffle keyed like the reference's stable row
        // ordinal (order_by_randomize.cpp:25-33): hash (primary key, seed),
        // so rows with IDENTICAL content still get distinct sort keys —
        // every table declares a pk (database_schema.h:82-94). Fallback when
        // the pk is out of scope (post-projection): full row content, same
        // determinism, ties only on fully-identical rows.
        val pkCol = in.origin.flatMap(catalog.primaryKeys.get)
          .filter(in.df.columns.contains)
        val k = pkCol match {
          case Some(p) => xxhash64(col(p), lit(seed))
          case None    => xxhash64(in.df.columns.map(col) :+ lit(seed): _*)
        }
        Tbl(in.df.orderBy(k), in.origin)

      case "approxCount" =>
        // `[lo, hi]` bracket on the row count, metadata-first (zero
        // parquet footers): merge-free chains — filtered, unioned, or
        // bare — answer when the sidecars pin the count EXACTLY (lo ==
        // hi); MERGE-ON-READ chains answer the provable shadow bracket
        // (recorded rows minus total shadow capacity bare, per-conjunct
        // pass bounds under a fully-decidable filter); a unionAll sums
        // its leaves' brackets. Anything else falls back to ONE exact
        // counting pass (lo == hi == count). The real count provably lies
        // in [lo, hi].
        val in = input
        val (lo, hi) =
          metaBrackets(in, Nil, bareMerged = true, zonedMerged = true)
            .map(gs => (gs.head._2, gs.head._3))
            .getOrElse { val c = in.df.count(); (c, c) }
        Tbl(in.df.sparkSession.range(1)
          .select(lit(lo).as("lo"), lit(hi).as("hi")), None)

      case "approxGroupCount" =>
        // per-GROUP `[lo, hi]` brackets, metadata-first — the grouped
        // face of approxCount(): merge-free chains (bare, decidably
        // filtered, or unioned) answer when the layer value histograms
        // pin every group EXACTLY; a bare registered MERGE-ON-READ chain
        // answers the provable per-group shadow bracket (grouped
        // exactness on a merged chain is unknowable from per-column
        // ledgers, so it is surfaced as an explicit bracket, never silent
        // routing); unions sum leaf brackets group-wise. Anything else —
        // filtered merged chains included — runs ONE exact grouping pass
        // (lo == hi). Output: (column, lo, hi), null group included.
        val in = input
        val c = req("column") match {
          case Ident(n) => n
          case other => err(s"approxGroupCount expects a column name, got $other")
        }
        if (!in.df.columns.contains(c))
          err(s"approxGroupCount: unknown column $c")
        metaGroups(in, Seq(c), bareMerged = true, zonedMerged = false) match {
          case Some(gs) => Tbl(localFrame(in, Seq(c), Seq("lo", "hi"),
            gs.map { case (vs, lo, hi) => vs :+ lo :+ hi }), None)
          case None =>
            // collision-proof internal alias: the group column itself
            // may be named "c"
            Tbl(in.df.groupBy(col(c)).agg(count(lit(1)).as("__approx_cnt"))
              .select(col(c), col("__approx_cnt").as("lo"),
                col("__approx_cnt").as("hi")), None)
        }

      case "schema" =>
        // Sequence-bound tables present each bound sequence as ONE `STRING`
        // field and never surface the diff/coverage internals; the bare
        // table's fields enumerate in name order (reference:
        // operators/schema_node.test.cpp TABLE_SCHEMA — segment1/gene1 are
        // single STRING rows, fields sorted; ColumnIdentifier::operator<,
        // database_schema.h:64).
        val bindings = input.origin.flatMap(catalog.sequences.get).getOrElse(Map.empty)
        val rows =
          if (bindings.isEmpty) RelationalOps.schemaRows(input.df)
          else {
            val internal = bindings.values.flatMap(b => Seq(
              s"${b.prefix}cov_start", s"${b.prefix}cov_end",
              s"${b.prefix}muts", s"${b.prefix}missing",
              s"${b.prefix}ins")).toSet
            val plain = RelationalOps.schemaRows(input.df)
              .filterNot { case (n, _) => internal(n) }
            (plain ++ bindings.keys.map(_ -> "STRING")).sortBy(_._1)
          }
        val spark = input.df.sparkSession
        import spark.implicits._
        Tbl(rows.toDF("fieldName", "type"), None)

      case "unionAll" =>
        val l = planTable(req("left"))
        val r = planTable(req("right"))
        if (l.df.schema.map(f => (f.name, f.dataType)) !=
            r.df.schema.map(f => (f.name, f.dataType)))
          err("unionAll requires identical schemas (names, types, order)")
        Tbl(l.df.union(r.df), None, union = Some((l, r)))

      case "join" =>
        val l = planTable(req("left"))
        val r = planTable(req("right"))
        val overlap = l.df.columns.toSet & r.df.columns.toSet
        if (overlap.nonEmpty) err(s"join requires disjoint column names; shared: ${overlap.mkString(", ")}")
        val onExpr = req("on")
        val joined = l.df.crossJoin(r.df) // only for resolution; rebuilt below
        val cond = scalar(onExpr, joined, Ambiguity.ModeNone)
        val jt = a("type").map {
          case StringLit(s) => s
          case other => err(s"join type must be a string, got $other")
        }.getOrElse("inner")
        val sparkType = Map(
          "inner" -> "inner", "left" -> "left_outer", "right" -> "right_outer",
          "full" -> "full_outer", "leftSemi" -> "left_semi",
          "rightSemi" -> "right_semi_swapped", "leftAnti" -> "left_anti",
          "rightAnti" -> "right_anti_swapped")
          .getOrElse(jt, err(s"unknown join type '$jt'"))
        val out = sparkType match {
          case "right_semi_swapped" => r.df.join(l.df, cond, "left_semi")
          case "right_anti_swapped" => r.df.join(l.df, cond, "left_anti")
          case t => l.df.join(r.df, cond, t)
        }
        Tbl(out, None)

      case "mutations" | "aminoAcidMutations" =>
        val in = input
        val wantAa = fn == "aminoAcidMutations"
        val all = seqBindings(in, fn).filter(_._2.isAminoAcid == wantAa)
        if (all.isEmpty) err(s"$fn: no ${if (wantAa) "amino acid" else "nucleotide"} sequences")
        val minProp = req("minProportion") match {
          case FloatLit(v) => v
          case IntLit(v) => v.toDouble
          case _ => err(s"$fn needs minProportion")
        }
        if (minProp < 0.0 || minProp > 1.0)
          err("invalid proportion: minProportion must be in interval [0.0, 1.0]")
        val chosen = a("sequenceNames")
          .map(identSet(_, "sequenceNames")) match {
          case Some(names) =>
            names.map(n => n -> all.getOrElse(n, err(s"unknown sequence '$n'")))
          case None => all.toSeq.sortBy(_._1)
        }
        val invalid =
          (if (wantAa) Ambiguity.aaSymbols.filterNot(Ambiguity.aaValidMutation)
           else Ambiguity.nucSymbols.filterNot(Ambiguity.nucValidMutation))
            .map(_.toString).toSet
        // vertical-index fast path (mutations_node.cpp:153-189): with a
        // persisted posting index loaded for this table, the filtered
        // set's diff multiset is `postings ⋉ F_ids` — a narrow posting
        // scan + pk semi-join — instead of exploding the wide row-level
        // `muts` arrays of the fact table. Coverage still reads the
        // filtered rows (interval prefix sum), but the dominant
        // per-diff term skips the fact table entirely.
        val idxCtx = verticalIndexCtx(in)
        val base = chosen.map { case (name, b) =>
          val diffRows = idxCtx.flatMap { case (indexes, pk) =>
            indexes.get(name).map { si =>
              si.postings
                .join(in.df.select(col(pk).as("__mut_pk")),
                  col("pk") === col("__mut_pk"), "left_semi")
                .select(col("pos").as("position"), col("sym"))
            }
          }
          Mutations.mutations(in.df, b.ref, minProp, b.prefix, invalid,
              localRef = b.stored, diffRows = diffRows)
            .select(
              col("mutation_from").as("mutationFrom"),
              col("mutation_to").as("mutationTo"),
              col("position"),
              lit(name).as("sequenceName"),
              col("proportion"), col("coverage"), col("count"))
        }.reduce(_ union _)
        val fields = a("fields").map(identSet(_, "fields"))
        Tbl(fields.map(fs => base.select(fs.map(col): _*)).getOrElse(base), None)

      case "insertions" | "aminoAcidInsertions" =>
        val in = input
        val wantAa = fn == "aminoAcidInsertions"
        val all = seqBindings(in, fn).filter(_._2.isAminoAcid == wantAa)
        val chosen = a("sequenceNames")
          .map(identSet(_, "sequenceNames")) match {
          case Some(names) =>
            names.map(n => n -> all.getOrElse(n, err(s"unknown sequence '$n'")))
          case None => all.toSeq.sortBy(_._1)
        }
        val withIns = chosen.filter { case (_, b) =>
          in.df.columns.contains(s"${b.prefix}ins") }
        if (withIns.isEmpty) err(s"$fn: table has no insertion data")
        // same vertical-index fast path as mutations(): insPostings ⋉ F_ids
        // replaces the row-level `ins` explode when the gate passes
        val insIdxCtx = verticalIndexCtx(in)
        Tbl(withIns.map { case (name, b) =>
          val insRows = insIdxCtx.flatMap { case (indexes, pk) =>
            indexes.get(name).flatMap(_.insPostings).map { ip =>
              ip.join(in.df.select(col(pk).as("__ins_pk")),
                col("pk") === col("__ins_pk"), "left_semi")
                .select(col("pos"), col("ins"))
            }
          }
          Mutations.insertions(in.df, s"${b.prefix}ins", insRows)
            .select(col("inserted_symbols").as("insertedSymbols"),
              col("position"), lit(name).as("sequenceName"), col("count"))
        }.reduce(_ union _), None)

      case "mostRecentCommonAncestor" =>
        val in = input
        val (tree, column) = phyloOf(a("column"), in)
        val printMissing = a("printNodesNotInTree").exists {
          case BoolLit(b) => b
          case _ => err("printNodesNotInTree must be a boolean")
        }
        // distributed LCP aggregation — no driver-side collect of values
        val spark = in.df.sparkSession
        import spark.implicits._
        // nulls are coalesced to the sentinel because Spark's typed
        // Aggregator never sees null inputs — they must still count
        // toward missingNodeCount (num_empty, mrca node .cpp:47-56)
        val r = in.df
          .select(coalesce(col(column),
            lit(graft.trees.MrcaAggregator.NullSentinel)).as(column))
          .as[String]
          .select(new graft.trees.MrcaAggregator(tree).toColumn)
          .head()
        // output fields + order + types per the reference's schema
        // (most_recent_common_ancestor_node.cpp:77-88): missingNodeCount
        // INT32 counts null rows AND distinct not-in-tree values,
        // missingFromTree is one comma-joined STRING of the sorted
        // not-in-tree values, mrcaParent/mrcaDepth are null when no
        // selected node is in the tree (getMRCA early return)
        val mrcaParent: String =
          Option(r.mrca).flatMap(tree.parent.get).orNull
        val mrcaDepth: java.lang.Integer =
          Option(r.mrca).map(n => Int.box(tree.depth(n))).orNull
        val missingCount = (r.nulls + r.missing.size).toInt
        val fields = scala.collection.mutable.ArrayBuffer(
          StructField("missingNodeCount", IntegerType, nullable = false))
        val values = scala.collection.mutable.ArrayBuffer[Any](missingCount)
        if (printMissing) {
          fields += StructField("missingFromTree", StringType, nullable = true)
          values += r.missing.mkString(",")
        }
        fields ++= Seq(
          StructField("mrcaNode", StringType, nullable = true),
          StructField("mrcaParent", StringType, nullable = true),
          StructField("mrcaDepth", IntegerType, nullable = true))
        values ++= Seq(r.mrca, mrcaParent, mrcaDepth)
        val row = org.apache.spark.sql.Row.fromSeq(values.toSeq)
        Tbl(spark.createDataFrame(
          java.util.Collections.singletonList(row),
          StructType(fields.toSeq)), None)

      case "phyloSubtree" =>
        val in = input
        val (tree, column) = phyloOf(a("column"), in)
        val contract = a("contractUnaryNodes")
          .forall {
            case BoolLit(b) => b
            case _ => err("contractUnaryNodes must be a boolean")
          }
        val printMissing = a("printNodesNotInTree").exists {
          case BoolLit(b) => b
          case _ => err("printNodesNotInTree must be a boolean")
        }
        // one distributed aggregation collects the (bounded) distinct
        // value set AND the null-row count; nulls count toward
        // missingNodeCount exactly like MRCA's num_empty
        // (phylo_subtree_node.cpp:138-153)
        val spark = in.df.sparkSession
        val grouped = in.df.groupBy(col(column)).agg(count(lit(1)).as("c"))
          .collect()
        val nulls = grouped.filter(_.isNullAt(0)).map(_.getLong(1)).sum
        val names = grouped.filterNot(_.isNullAt(0)).map(_.getString(0)).toSet
        val notInTree = names.filterNot(tree.contains).toSeq.sorted
        val nw = tree.subtreeNewick(names, contract)
        // output schema: missingNodeCount INT32, [missingFromTree STRING
        // comma-joined], subtreeNewick (phylo_subtree_node.cpp:77-85)
        val fields = scala.collection.mutable.ArrayBuffer(
          StructField("missingNodeCount", IntegerType, nullable = false))
        val values = scala.collection.mutable.ArrayBuffer[Any](
          (nulls + notInTree.size).toInt)
        if (printMissing) {
          fields += StructField("missingFromTree", StringType, nullable = true)
          values += notInTree.mkString(",")
        }
        fields += StructField("subtreeNewick", StringType, nullable = true)
        values += nw
        Tbl(spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row.fromSeq(values.toSeq)),
          StructType(fields.toSeq)), None)

      case other =>
        err(s"unknown pipeline function '$other'")
    }
  }

  private def seqBindings(in: Tbl, fn: String): Map[String, SeqBinding] =
    in.origin.flatMap(catalog.sequences.get)
      .getOrElse(err(s"$fn is only valid on a table (or direct filters of one) " +
        "with sequence data"))

  private def phyloOf(columnExpr: Option[Expr], in: Tbl): (PhyloTree, String) = {
    val column = columnExpr match {
      case Some(StringLit(s)) => s
      case Some(Ident(s)) => s
      case _ => err("expected a tree column name")
    }
    resolve(column, in.df)
    (catalog.phyloTrees.getOrElse(column, err(s"column '$column' has no phylogenetic tree")), column)
  }

  // ---------------------------------------------------------------- scalars
  private def resolve(name: String, df: DataFrame): Column =
    if (df.columns.contains(name)) col(name)
    else err(s"unknown column '$name' (have: ${df.columns.mkString(", ")})")

  private def literal(e: Expr): Column = e match {
    case IntLit(v) => if (v >= Int.MinValue && v <= Int.MaxValue) lit(v.toInt) else lit(v)
    case FloatLit(v) => lit(v)
    case StringLit(v) => lit(v)
    case BoolLit(v) => lit(v)
    case NullLit => lit(null)
    case Cast(StringLit(s), "date") => to_date(lit(s))
    case other => err(s"expected a literal, got $other")
  }

  private def scalar(e: Expr, df: DataFrame, mode: Ambiguity.Mode,
      origin: Option[String] = None): Column = e match {
    case Ident(n) => resolve(n, df)
    case _: IntLit | _: FloatLit | _: StringLit | _: BoolLit | NullLit | _: Cast =>
      literal(e)
    case Not(x) => !scalar(x, df, Ambiguity.invert(mode), origin)
    case Binary("&&", l, r) => scalar(l, df, mode, origin) && scalar(r, df, mode, origin)
    case Binary("||", l, r) => scalar(l, df, mode, origin) || scalar(r, df, mode, origin)
    case Binary(op, Ident(n), r) =>
      val c = resolve(n, df)
      def rhs: Column = r match {
        case Ident(m) => resolve(m, df) // column-to-column (join conditions)
        case v => literal(v)
      }
      (op, r) match {
        case ("=", NullLit)  => c.isNull
        case ("<>", NullLit) => c.isNotNull
        case ("=", _)  => c === rhs
        case ("<>", _) => c =!= rhs
        case ("<", _)  => c < rhs
        case ("<=", _) => c <= rhs
        case (">", _)  => c > rhs
        case (">=", _) => c >= rhs
        case _ => err(s"unsupported comparison $op")
      }
    case Binary(op, l, _) =>
      err(s"left side of '$op' must be a column identifier, got $l")
    case Call(fn, pos, named) => scalarFn(fn, pos, named, df, mode, origin)
    case other => err(s"unsupported expression $other")
  }

  private def stringItems(e: Expr): Seq[String] = e match {
    case SetLit(items) => items.map {
      case StringLit(s) => s
      case other => err(s"expected string literals in set, got $other")
    }
    case other => err(s"expected a set, got $other")
  }

  private def scalarFn(fn: String, pos: Seq[Expr], named: Seq[(String, Expr)],
      df: DataFrame, mode: Ambiguity.Mode, origin: Option[String]): Column = {
    if (fn == "count") err("count() is only valid inside groupBy aggregates")
    val sig = scalarSigs.getOrElse(fn, err(s"unknown function '$fn'"))
    val bound = bindArgs(fn, sig, pos, named)
    def a(name: String): Option[Expr] = bound.get(name)
    def req(name: String): Expr =
      bound.getOrElse(name, err(s"$fn() requires argument '$name'"))
    fn match {
      case "at" =>
        (a("input"), a("position")) match {
          case (Some(Ident(c)), Some(IntLit(p))) =>
            if (p < 1) err("at position must be >= 1 (positions are 1-based)")
            // clamp huge literals instead of wrapping through toInt —
            // Int.MaxValue is already past-end for every real column
            val pi = math.min(p, Int.MaxValue.toLong).toInt
            // `main.at(p)` on a bound sequence reads the symbol straight
            // from the diff representation (the reference applies at() to
            // the reconstructed STRING surface; same value, no string
            // build) — the co-occurrence/BitmapAggregation map shape.
            // The binding is resolved from the frame's ORIGIN table when
            // known (two tables may bind the same column name with the same
            // prefix but different references); only an origin-less frame
            // falls back to matching the diff columns across the catalog.
            def matches(b: SeqBinding): Boolean =
              !df.columns.contains(c) &&
                df.columns.contains(s"${b.prefix}cov_start")
            val fromOrigin = origin.flatMap(catalog.sequences.get)
              .flatMap(_.get(c)).filter(matches).toSeq
            val bound =
              if (fromOrigin.nonEmpty) fromOrigin
              else catalog.sequences.values
                .flatMap(_.get(c)).toSeq.distinct.filter(matches)
            bound match {
              case Seq(b) =>
                graft.seq.SequenceModel.symbolAt(b.stored, pi,
                  if (b.isAminoAcid) "X" else "N", b.prefix)
              case Seq() => RelationalOps.at(resolve(c, df), pi)
              case _ => err(s"at: ambiguous sequence binding for '$c'")
            }
          case _ => err("at(column, position) expects a column and an integer")
        }
      case "isoWeek" => a("input") match {
        case Some(Ident(c)) => RelationalOps.isoWeek(resolve(c, df))
        case _ => err("isoWeek(column) expects a column")
      }
      case "between" =>
        val c = a("column") match {
          case Some(Ident(n)) => resolve(n, df)
          case _ => err("between(column, from, to) expects a column")
        }
        val from = req("from")
        val to = req("to")
        val dt = df.schema(a("column").collect { case Ident(n) => n }.get).dataType
        def bound(e: Expr): Option[Column] =
          if (e == NullLit) None else Some(literal(e))
        dt match {
          case DoubleType | FloatType =>
            // float between: from-inclusive, to-EXCLUSIVE (reference
            // query_documentation.md:504)
            bound(from).map(c >= _).getOrElse(lit(true)) &&
              bound(to).map(c < _).getOrElse(lit(true))
          case _ =>
            bound(from).map(c >= _).getOrElse(lit(true)) &&
              bound(to).map(c <= _).getOrElse(lit(true))
        }
      case "in" =>
        (a("column"), a("values")) match {
          case (Some(Ident(c)), Some(s)) =>
            resolve(c, df).isin(stringItems(s): _*)
          case _ => err("in(column, {values}) expects a column and a set")
        }
      case "like" =>
        (a("column"), a("pattern")) match {
          case (Some(Ident(c)), Some(StringLit(p))) =>
            if (!df.columns.contains(c))
              err(s"The database does not contain the column '$c'")
            if (df.schema(c).dataType != StringType)
              err(s"the column '$c' is not of type string")
            // regex must be rejected at PLAN time with a typed error, not
            // at execution inside an executor (reference compiles the RE2
            // up front, string_search.cpp)
            try java.util.regex.Pattern.compile(p)
            catch {
              case e: java.util.regex.PatternSyntaxException =>
                err("Invalid Regular Expression. The parsing of the " +
                  s"regular expression failed with the error '${e.getDescription}'.")
            }
            resolve(c, df).rlike(p)
          case _ => err("like(column, pattern) expects a column and a regex string")
        }
      case "isNull" => a("column") match {
        case Some(Ident(c)) => resolve(c, df).isNull
        case _ => err("isNull(column) expects a column")
      }
      case "isNotNull" => a("column") match {
        case Some(Ident(c)) => resolve(c, df).isNotNull
        case _ => err("isNotNull(column) expects a column")
      }
      case "nOf" =>
        val k = intArg(req("count"), "nOf count").toInt
        val children = a("children") match {
          case Some(SetLit(items)) => items.map(scalar(_, df, mode, origin))
          case _ => err("nOf needs a set of predicates")
        }
        val exactly = a("matchExactly").exists {
          case BoolLit(b) => b
          case _ => err("matchExactly must be a boolean")
        }
        RelationalOps.nOf(k, children, exactly)
      case "maybe" => scalar(req("child"), df, Ambiguity.ModeMaybe, origin)
      case "exact" => scalar(req("child"), df, Ambiguity.ModeExact, origin)
      case "nucleotideEquals" | "aminoAcidEquals" =>
        val wantAa = fn == "aminoAcidEquals"
        val b = bindingFor(fn, a("sequenceName"), wantAa, origin)
        val p = intArg(req("position"), "position").toInt
        val sym = a("symbol") match {
          case Some(StringLit(s)) if s.length == 1 => s.head
          case _ => err(s"$fn needs a single-character symbol")
        }
        if (p < 1 || p > b.ref.length) err(s"$fn: position $p out of range")
        val codes = if (wantAa) Ambiguity.aaCodesFor else Ambiguity.nucCodesFor
        val missing = if (wantAa) Ambiguity.aaMissing else Ambiguity.nucMissing
        // '.' resolves to the reference symbol FIRST, then the ambiguity
        // mode expands it (symbol_equals.cpp:83-93
        // getSymbolOrReplaceDotWith before AMBIGUITY_SYMBOLS lookup)
        val target = if (sym == '.') b.ref.charAt(p - 1) else sym
        if (!codes.contains(target))
          err(s"$fn: invalid symbol '$target'")
        SeqPredicates.symbolEqualsMode(p, target, b.ref, codes, mode, b.prefix,
          missing.toString, b.stored)
      case "hasMutation" | "hasAAMutation" =>
        val b = bindingFor(fn, a("sequenceName"), fn == "hasAAMutation", origin)
        val p = intArg(req("position"), "position").toInt
        if (p < 1 || p > b.ref.length) err(s"$fn: position $p out of range")
        SeqPredicates.hasMutation(p, b.prefix, b.ref, b.stored)
      case "insertionContains" | "aminoAcidInsertionContains" =>
        val (seqName, b) = bindingWithName(fn, a("sequenceName"),
          fn == "aminoAcidInsertionContains", origin)
        val pRaw = intArg(req("position"), "position")
        // the reference extracts the position as a uint32 and then bounds
        // it against the reference length (insertion_contains.cpp:61-65);
        // position 0 is VALID — "before the first symbol"
        // (query_documentation.md:612)
        if (pRaw < 0 || pRaw > 0xFFFFFFFFL)
          err(s"Cannot cast $pRaw to uint32. Value out of range")
        if (pRaw > b.ref.length)
          err(s"the requested insertion position ($pRaw) is larger than the " +
            s"length of the reference sequence (${b.ref.length}) for " +
            s"sequence '$seqName'")
        val p = pRaw.toInt
        val v = a("value") match {
          case Some(StringLit(s)) => s
          case _ => err(s"$fn needs a pattern string")
        }
        if (v.isEmpty)
          err(s"the field 'value' in an $fn expression must not be an empty string")
        if (!insertionPatternOk(v))
          err(s"the field 'value' in the $fn expression does not contain a " +
            s"valid pattern: \"$v\" (symbols, '.*', and escaped literals only)")
        SeqPredicates.insertionContains(p, v, s"${b.prefix}ins")
      case "lineage" =>
        val column = a("column") match {
          case Some(Ident(c)) => c
          case _ => err("lineage needs a column")
        }
        val value = a("value") match {
          case Some(StringLit(s)) => s
          case _ => err("lineage needs a value string")
        }
        val includeSub = a("includeSublineages").exists {
          case BoolLit(b) => b
          case _ => err("includeSublineages must be a boolean")
        }
        val m = a("recombinantFollowingMode").map {
          case StringLit("doNotFollow") => LineageTree.DoNotFollow
          case StringLit("alwaysFollow") => LineageTree.AlwaysFollow
          case StringLit("followIfFullyContainedInClade") => LineageTree.FollowIfFullyContained
          case other => err(s"unknown recombinantFollowingMode $other")
        }.getOrElse(LineageTree.DoNotFollow)
        val tree = catalog.lineageTrees
          .getOrElse(column, err(s"column '$column' has no lineage tree"))
        // alias names resolve to their canonical lineage before matching
        val canon = catalog.lineageAliases.getOrElse(column, Map())
          .getOrElse(value, value)
        val c = resolve(column, df)
        if (!includeSub) c === canon
        else c.isin(tree.descendants(canon, m).toSeq.sorted: _*)
      case "phyloDescendantOf" =>
        val column = a("column") match {
          case Some(Ident(c)) => c
          case _ => err("phyloDescendantOf needs a column")
        }
        val node = a("node") match {
          case Some(StringLit(s)) => s
          case _ => err("phyloDescendantOf needs a node name")
        }
        val tree = catalog.phyloTrees
          .getOrElse(column, err(s"column '$column' has no phylogenetic tree"))
        if (!tree.contains(node))
          err(s"the node '$node' does not exist in the phylogenetic tree " +
            s"of column '$column'")
        resolve(column, df).isin(tree.descendants(node).toSeq.sorted: _*)
      case "nucleotideMutationProfile" | "aminoAcidMutationProfile" =>
        mutationProfile(fn, bound, fn == "aminoAcidMutationProfile", origin)
      case other => err(s"unknown function '$other'")
    }
  }

  /** `nucleotideMutationProfile` / `aminoAcidMutationProfile(distance,
    * sequenceName, querySequence|sequenceId|mutations)` — "at most
    * `distance` conservative differences from a profile sequence"
    * (reference: ast_to_query.cpp:676-717 argument handling,
    * mutation_profile.cpp:198-258 rewrite to Not(NOf(SymbolInSet(symbols
    * incompatible with profile[pos]), distance+1))). Three input forms:
    *  - `querySequence`: full-length literal sequence;
    *  - `sequenceId`: reconstruct the profile from the row with that
    *    primary key (uncovered/missing → N/X);
    *  - `mutations`: set of {position, symbol} records applied on top of
    *    the reference sequence.
    * Differences are counted ambiguity-compatibly: a stored symbol in
    * AMBIGUITY_SYMBOLS[profile[pos]] is NOT a difference, and positions
    * where the profile carries the missing symbol are skipped.
    */
  private def mutationProfile(fn: String, bound: Map[String, Expr],
      wantAa: Boolean, origin: Option[String]): Column = {
    val symName = if (wantAa) "AminoAcid" else "Nucleotide"
    val codes = if (wantAa) Ambiguity.aaCodesFor else Ambiguity.nucCodesFor
    val missing = if (wantAa) Ambiguity.aaMissing else Ambiguity.nucMissing
    val distance = bound.get("distance") match {
      case Some(IntLit(v)) if v >= 0 => v.toInt
      case _ => err(s"$fn needs a non-negative integer 'distance'")
    }
    val seqNameExpr = bound.getOrElse("sequenceName",
      err(s"$fn needs a sequenceName"))
    val b = bindingFor(fn, Some(seqNameExpr), wantAa, origin)

    val inputs = Seq("querySequence", "sequenceId", "mutations")
      .flatMap(n => bound.get(n).map(n -> _))
    if (inputs.size != 1)
      err(s"Exactly one of 'querySequence', 'sequenceId', or 'mutations' " +
        s"must be provided in a $symName MutationProfile expression, " +
        s"but ${inputs.size} were provided")

    val profile: String = inputs.head match {
      case ("querySequence", StringLit(qs)) =>
        if (qs.length != b.ref.length)
          err(s"querySequence length ${qs.length} does not match the " +
            s"reference sequence length ${b.ref.length} for $symName MutationProfile")
        qs.find(c => !codes.contains(c)).foreach(c =>
          err(s"Invalid $symName symbol '$c' in querySequence for MutationProfile"))
        qs
      case ("querySequence", _) => err(s"$fn: querySequence must be a string")
      case ("sequenceId", StringLit(id)) =>
        // single-row primary-key lookup on the PIPELINE's sequence-bearing
        // table — driver-side by design, same as the reference's row scan
        // (mutation_profile.cpp:125-172 buildProfileFromSequenceId)
        val tblName = seqTableOf(fn, origin)
        val pk = catalog.primaryKeys.getOrElse(tblName,
          err(s"$fn: table '$tblName' has no primary key for sequenceId lookup"))
        val rows = catalog.tables(tblName).filter(col(pk) === id)
          .select(graft.seq.SequenceModel.reconstructFull(
            b.stored, missing.toString, b.prefix))
          .take(1)
        if (rows.isEmpty)
          err(s"No sequence found with primary key '$id' in $symName MutationProfile")
        rows.head.getString(0)
      case ("sequenceId", _) => err(s"$fn: sequenceId must be a string")
      case ("mutations", SetLit(items)) =>
        val arr = b.ref.toCharArray
        items.foreach {
          case RecordLit(fields) =>
            val fm = fields.toMap
            val p = fm.get("position") match {
              case Some(IntLit(v)) if v == 0 =>
                err(s"The 'position' field in a $symName MutationProfile " +
                  "mutation is 1-indexed; value 0 is not allowed")
              case Some(IntLit(v)) if v < 1 || v > b.ref.length =>
                err(s"$symName MutationProfile mutation position $v is out " +
                  s"of bounds (reference length ${b.ref.length})")
              case Some(IntLit(v)) => v.toInt
              case _ => err(s"Each mutation in a $symName MutationProfile " +
                "expression must have a 'position' field")
            }
            val s = fm.get("symbol") match {
              case Some(StringLit(s)) if s.length != 1 =>
                err(s"The 'symbol' field in a $symName MutationProfile " +
                  "mutation must be a single character")
              case Some(StringLit(s)) if !codes.contains(s.head) =>
                err(s"Invalid $symName symbol '${s.head}' in MutationProfile")
              case Some(StringLit(s)) => s.head
              case _ => err(s"Each mutation in a $symName MutationProfile " +
                "expression must have a 'symbol' field")
            }
            arr(p - 1) = s
          case _ =>
            err(s"Each element of 'mutations' in a $symName MutationProfile " +
              "expression must be a record literal with 'position' and " +
              "'symbol' fields")
        }
        new String(arr)
      case ("mutations", _) =>
        err(s"The 'mutations' argument of a $symName MutationProfile " +
          "expression must be a set literal")
      case _ => err(s"$fn: unsupported input")
    }

    SeqPredicates.profileDistance(profile, b.ref, codes, missing, b.prefix,
      b.stored) <= distance
  }

  /** Insertion search patterns: sequence symbols, '.*' wildcards, and
    * backslash-escaped SYMBOLS only — an escape must name a symbol
    * character (the documented use is `\*` for the stop codon). The
    * reference maps every pattern character, escaped or not, through
    * charToSymbol and typed-errors on anything that is not a symbol
    * (insertion_index.cpp:24-41 via insertion_contains.cpp:74-86), so
    * regex class escapes like `\w` or `\d` are invalid patterns, never
    * wildcards.
    */
  private def insertionPatternOk(v: String): Boolean = {
    def symbolChar(c: Char): Boolean = c.isLetter || c == '-' || c == '*'
    var i = 0
    var ok = true
    while (i < v.length && ok) {
      if (v(i) == '\\' && i + 1 < v.length && symbolChar(v(i + 1))) i += 2
      else if (v(i) == '.' && i + 1 < v.length && v(i + 1) == '*') i += 2
      else if (v(i).isLetter || v(i) == '-') i += 1
      else ok = false
    }
    ok
  }

  /** Sequence predicates resolve their binding by sequenceName against the
    * pipeline's ORIGIN table when known (a multi-table catalog may bind the
    * same sequence name to different references per table); an origin-less
    * context falls back to the catalog's single sequence-bearing table
    * (the reference's `default`).
    */
  private def bindingFor(fn: String, nameArg: Option[Expr],
      wantAa: Boolean, origin: Option[String] = None): SeqBinding =
    bindingWithName(fn, nameArg, wantAa, origin)._2

  /** The sequence-bearing table a scalar in this pipeline resolves
    * against: the origin table when it has sequences; an origin-LESS
    * context (bare scalar, no pipeline table) falls back to the catalog's
    * first (single-table catalogs). A KNOWN origin without sequence data
    * is a typed error — falling back would silently bind another table's
    * reference.
    */
  private def seqTableOf(fn: String, origin: Option[String]): String =
    origin match {
      case Some(t) =>
        if (catalog.sequences.contains(t)) t
        else err(s"$fn requires a table with sequence data ('$t' has none)")
      case None =>
        catalog.sequences.keys.headOption
          .getOrElse(err(s"$fn requires a table with sequence data"))
    }

  private def bindingWithName(fn: String, nameArg: Option[Expr],
      wantAa: Boolean, origin: Option[String] = None): (String, SeqBinding) = {
    val all = catalog.sequences(seqTableOf(fn, origin))
    nameArg match {
      case Some(StringLit(n)) =>
        n -> all.getOrElse(n, err(s"unknown sequence '$n'"))
      case Some(Ident(n)) =>
        n -> all.getOrElse(n, err(s"unknown sequence '$n'"))
      case None =>
        val pool = all.filter(_._2.isAminoAcid == wantAa)
        if (pool.contains("main")) "main" -> pool("main")
        else if (pool.size == 1) pool.head
        else err(s"$fn: ambiguous sequence, pass sequenceName")
      case Some(other) => err(s"$fn: sequenceName must be a string, got $other")
    }
  }

  /** Fraction of the table above which a posting list stops being routed
    * through the index (the semi-join side must stay broadcast-small; a
    * broad predicate is cheaper row-wise — same trade the reference makes
    * choosing Selection over IndexScan for low-selectivity symbol sets).
    */
  private val RouteMaxFraction = 0.1

  /** ABSOLUTE cap on a routed posting list: at billions of rows, 10% of
    * the table would still blow the broadcast limit, so the fraction gate
    * alone is not enough — past this many postings the predicate stays
    * row-wise regardless of its relative selectivity.
    */
  private val RouteMaxRows = 5_000_000L

  /** Above this many posting rows the routed semi-join keeps NO broadcast
    * hint: ~1M pks (string pks ≈ tens of bytes each) is the last size where
    * a driver+executor-replicated hash relation is clearly cheaper than
    * letting Spark pick the join (AQE still broadcasts smaller-than-
    * threshold sides on its own, and a shuffled semi-join is safe at any
    * size).
    */
  private val RouteBroadcastMaxRows = 1_000_000L

  private def routable(si: SeqIndex, cnt: Long): Boolean =
    cnt <= si.tableRows * RouteMaxFraction && cnt <= RouteMaxRows

  /** A filter conjunct answerable from a posting index; `postings` is the
    * index-cardinality estimate the route was gated on (drives the
    * broadcast-hint decision).
    */
  private sealed trait IndexedPred {
    def seqName: String
    def postings: Long
  }
  /** Symbol test: Some(target symbols) | None = any stored diff. */
  private final case class MutRoute(seqName: String, pos: Int,
      syms: Option[Seq[String]], postings: Long) extends IndexedPred
  /** insertionContains: the regex applies to the posting values. */
  private final case class InsRoute(seqName: String, pos: Int,
      pattern: String, postings: Long) extends IndexedPred
  /** insertionContains through the 3-mer inverted index: candidates =
    * values containing ALL literal 3-mers of the pattern, regex-verified
    * (reference searchWithThreeMerIndex, insertion_index.cpp:73-143).
    */
  private final case class InsKmerRoute(seqName: String, pos: Int,
      pattern: String, kmers: Seq[String], postings: Long) extends IndexedPred

  /** Decide whether one filter conjunct is answerable from a posting
    * index. Only PURE diff-match shapes qualify — symbolEquals whose
    * expanded target set avoids the implied and missing symbols
    * (reference case 1), hasMutation over unadapted storage, and
    * insertionContains with a registered insertion index. Malformed calls
    * return None and fall through to the row-wise path, which raises the
    * planner's typed errors.
    */
  private def indexRoute(e: Expr, indexes: Map[String, SeqIndex],
      mode: Ambiguity.Mode, origin: Option[String]): Option[IndexedPred] = e match {
    case Call("maybe", Seq(child), Seq()) =>
      indexRoute(child, indexes, Ambiguity.ModeMaybe, origin)
    case Call("exact", Seq(child), Seq()) =>
      indexRoute(child, indexes, Ambiguity.ModeExact, origin)
    case Call(fn @ ("nucleotideEquals" | "aminoAcidEquals"), pos, named) =>
      val wantAa = fn == "aminoAcidEquals"
      val bound =
        try bindArgs(fn, symbolEqualsSig, pos, named)
        catch { case _: QueryError => return None }
      (bound.get("position"), bound.get("symbol")) match {
        case (Some(IntLit(p)), Some(StringLit(symS)))
            if symS.length == 1 && p >= 1 =>
          val (name, b) =
            try bindingWithName(fn, bound.get("sequenceName"), wantAa, origin)
            catch { case _: QueryError => return None }
          if (!indexes.contains(name) || b.isAminoAcid != wantAa ||
              p > b.ref.length) None
          else {
            val pi = p.toInt
            val codes = if (wantAa) Ambiguity.aaCodesFor else Ambiguity.nucCodesFor
            val missing = (if (wantAa) Ambiguity.aaMissing else Ambiguity.nucMissing)
              .toString
            val target = if (symS == ".") b.ref.charAt(pi - 1) else symS.head
            if (!codes.contains(target)) None
            else {
              val targets = Ambiguity.matchingSymbols(codes, target, mode)
                .map(_.toString)
              val implied = b.stored.charAt(pi - 1).toString
              val si = indexes(name)
              val cnt = targets.toSeq.map(s => si.counts.getOrElse((pi, s), 0L)).sum
              if (targets.nonEmpty && !targets.contains(implied) &&
                  !targets.contains(missing) && routable(si, cnt))
                Some(MutRoute(name, pi, Some(targets.toSeq.sorted), cnt))
              else None
            }
          }
        case _ => None
      }
    case Call(fn @ ("hasMutation" | "hasAAMutation"), pos, named)
        if mode == Ambiguity.ModeNone =>
      val wantAa = fn == "hasAAMutation"
      val bound =
        try bindArgs(fn, hasMutationSig, pos, named)
        catch { case _: QueryError => return None }
      bound.get("position") match {
        case Some(IntLit(p)) if p >= 1 =>
          val (name, b) =
            try bindingWithName(fn, bound.get("sequenceName"), wantAa, origin)
            catch { case _: QueryError => return None }
          // adapted storage needs the local↔global translation → row-wise
          if (!indexes.contains(name) || b.isAminoAcid != wantAa ||
              p > b.ref.length || b.localRef.exists(_ != b.ref)) None
          else {
            val pi = p.toInt
            val si = indexes(name)
            val cnt = si.counts.collect { case ((`pi`, _), c) => c }.sum
            if (routable(si, cnt)) Some(MutRoute(name, pi, None, cnt))
            else None
          }
        case _ => None
      }
    case Call(fn @ ("insertionContains" | "aminoAcidInsertionContains"), pos, named) =>
      val wantAa = fn == "aminoAcidInsertionContains"
      val bound =
        try bindArgs(fn, insertionContainsSig, pos, named)
        catch { case _: QueryError => return None }
      (bound.get("position"), bound.get("value")) match {
        // position 0 ("before the first symbol") is routable; positions
        // beyond the reference length must fall through to the row-wise
        // path so the planner's typed bounds error surfaces instead of a
        // silently-empty routed result
        case (Some(IntLit(p)), Some(StringLit(v)))
            if p >= 0 && p <= Int.MaxValue && v.nonEmpty && insertionPatternOk(v) =>
          val (name, b) =
            try bindingWithName(fn, bound.get("sequenceName"), wantAa, origin)
            catch { case _: QueryError => return None }
          indexes.get(name) match {
            case Some(si) if si.insPostings.isDefined &&
                b.isAminoAcid == wantAa && p <= b.ref.length =>
              val cnt = si.insCountByPos.getOrElse(p.toInt, 0L)
              if (routable(si, cnt)) Some(InsRoute(name, p.toInt, v, cnt))
              else {
                // wide position — the per-position regex scan failed the
                // selectivity gate, but literal 3-mers in the pattern can
                // still subset candidates through the 3-mer inverted
                // index (the reference prefers the three-mer path whenever
                // one is extractable, insertion_index.cpp:219-231); only
                // the absolute cap applies since the kmer equality filter,
                // not the position width, bounds the scan
                val kmers = insertionKmers(v)
                if (kmers.nonEmpty && si.insKmerPostings.isDefined &&
                    cnt <= RouteMaxRows)
                  Some(InsKmerRoute(name, p.toInt, v, kmers, cnt))
                else None
              }
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }
}

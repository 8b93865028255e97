package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** NDJSON ingest → versioned parquet, the append path of the engine
  * (reference: src/silo/append/ndjson_line_reader.h, table_inserter.h,
  * documentation/incremental_preprocessing.md:1-40).
  *
  * Spark-first mapping:
  *  - simdjson streaming parse → `spark.read.schema(...).json` (schema
  *    ENFORCED, not inferred — inference would scan twice and admit drift);
  *  - `.zst`/`.xz` transparent decompress → per-file streaming decode on
  *    executors ([[readCompressed]] — the codecs ship with Spark);
  *  - duplicate-primary-key abort → distributed groupBy-count assertion
  *    (reference validates PK uniqueness the same way, table.h:57);
  *  - atomic all-or-nothing append → write to a NEW version directory and
  *    only then update the `latest` pointer (≙ DataVersion dirs,
  *    database.h:89-96). Readers resolve the pointer per query, so a
  *    half-written version is never visible — the Spark analog of the
  *    reference's directory-watcher hot swap.
  */
object NdjsonIngest {

  /** Per-layer value-histogram cap: string/date/narrow-int columns with
    * at most this many distinct values in a layer get a COMPLETE `g:`
    * histogram — country/date/type/status-like columns at real scales —
    * computed in the same single stats aggregation (BoundedHistogram).
    * Default 1024 (was 256): the round-15 audit
    * ([[graft.tools.HistogramCapAudit]], 10-layer × 20k-row chain,
    * ~800-distinct column) measured the 256→1024 move as ~32 KB of
    * sidecar per layer, the grouped count dropping 0.47 s (grouping
    * scan) → 0.05 s (metadata), and unrelated routed plan time moving
    * ≤ 20 ms across the whole 10-layer chain — noise against the scan
    * the larger cap avoids, and it keeps country×day-scale rollups
    * zero-footer at production cardinalities.
    * Override per-JVM with `-Dgraft.histogramMaxEntries=N` (ingest-side
    * only: already-written sidecars keep whatever they recorded).
    */
  val HistogramMaxEntries: Int =
    sys.props.get("graft.histogramMaxEntries").map(_.toInt).getOrElse(1024)

  /** Per-layer byte budget for the HISTOGRAM portion of a `_stats`
    * sidecar. The per-column cap bounds one histogram (~32 KB at cap
    * 1024, measured by tools/HistogramCapAudit), but a 500-column table
    * would still write ~16 MB of sidecar per layer — parsed by EVERY
    * plan over the chain. Past the budget the WIDEST histograms drop
    * first (fewest-groups-per-byte — the narrow status/category columns
    * that actually serve grouped counts always survive); a dropped
    * histogram only costs a fallback to the grouping scan, never an
    * answer. Envelopes/ledgers are O(columns) and never dropped.
    * Override per-JVM with `-Dgraft.histogramBudgetBytes=N`.
    */
  val HistogramBudgetBytes: Long =
    sys.props.get("graft.histogramBudgetBytes").map(_.toLong)
      .getOrElse(256L * 1024)

  /** Max BLOOM aggregates per commit (the pk + id-shaped extras, see
    * writeLayerStats): each partial buffer is 2^BuildLogBits bits =
    * 128 KB regardless of batch size, so the cap bounds the stats
    * pass's per-task memory and its shuffle payload on wide tables.
    */
  val MaxBloomColumns: Int = 8

  final case class DuplicatePrimaryKey(keys: Seq[String])
    extends RuntimeException(s"duplicate primary keys: ${keys.mkString(", ")}")

  final case class NegativeOffset(records: Seq[String])
    extends RuntimeException(
      s"negative sequence offsets: ${records.mkString(", ")}")

  final case class SchemaMismatch(expected: String, got: String)
    extends RuntimeException(
      s"delta batch schema does not match the committed table schema " +
        s"(expected $expected, got $got)")

  /** Read NDJSON with an enforced schema; malformed lines fail the job
    * (mode FAILFAST ≙ the reference's append abort-on-error). `.zst` and
    * `.xz` files decompress transparently ([[readCompressed]]).
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    read(spark, Seq(path), schema)

  /** Read an explicit file list (the incremental-index path reads ONLY the
    * files that appeared since the last committed index). Compressed and
    * plain files may mix; each group reads through its own path and the
    * result is their union.
    */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame = {
    val (compressed, plain) = paths.partition(isCompressed)
    val parts =
      (if (plain.nonEmpty)
        Seq(spark.read.schema(schema).option("mode", "FAILFAST").json(plain: _*))
      else Nil) ++
        (if (compressed.nonEmpty) Seq(readCompressed(spark, compressed, schema))
        else Nil)
    parts.reduce(_.unionByName(_))
  }

  private def isCompressed(p: String): Boolean =
    p.endsWith(".zst") || p.endsWith(".xz")

  /** Transparent `.zst`/`.xz` NDJSON ingest (≙ the reference's
    * ndjson_line_reader decompressing file streams). Neither format is
    * splittable, so — exactly like the reference — the unit of
    * parallelism is the FILE: `binaryFiles` hands each executor a
    * lazy stream, the codec (zstd-jni / org.tukaani.xz, both on the
    * Spark classpath) decompresses it incrementally, and lines feed the
    * same schema-ENFORCED FAILFAST json parser as the plain path. No
    * whole-file materialization: decompression is pull-based through
    * the line iterator. At 100 TB you ingest many files, so file-level
    * parallelism saturates the cluster despite per-file streams.
    */
  def readCompressed(spark: SparkSession, paths: Seq[String],
      schema: StructType): DataFrame = {
    import spark.implicits._
    val lines = spark.sparkContext.binaryFiles(paths.mkString(","))
      .flatMap { case (name, pds) =>
        val in = new java.io.BufferedInputStream(pds.open())
        val dec: java.io.InputStream =
          if (name.endsWith(".zst")) new com.github.luben.zstd.ZstdInputStream(in)
          else if (name.endsWith(".xz")) new org.tukaani.xz.XZInputStream(in)
          else in
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          dec, java.nio.charset.StandardCharsets.UTF_8))
        new Iterator[String] {
          private var line = br.readLine()
          override def hasNext: Boolean = line != null
          override def next(): String = {
            val l = line
            line = br.readLine()
            if (line == null) br.close()
            l
          }
        }
      }.toDS()
    spark.read.schema(schema).option("mode", "FAILFAST").json(lines)
  }

  /** Validate PK uniqueness; throws DuplicatePrimaryKey listing a sample. */
  def validatePrimaryKey(df: DataFrame, pk: String): Unit =
    validateRows(df, pk, Nil)

  /** validatePrimaryKey for aligned-sequence NDJSON input: the null-key
    * scan also rejects a negative `offset` in any top-level struct column
    * with an `offset` field (NegativeOffset, listing a sample of
    * `key.sequence` records), so the check costs no extra pass. A read
    * cannot start before the reference: its symbols would sit at
    * positions < 1.
    */
  def validateIngest(df: DataFrame, pk: String): Unit =
    validateRows(df, pk, df.schema.fields.collect {
      case StructField(n, st: StructType, _, _) if st.fieldNames.contains("offset") => n
    })

  private def validateRows(df: DataFrame, pk: String, seqs: Seq[String]): Unit = {
    // NULL pks are rejected outright, not just deduplicated: the
    // append clash check is an equality semi-join that can never match
    // a NULL key, so one-null-per-batch would accumulate one null row
    // PER COMMIT — and merged reads group nulls together, so those
    // rows silently shadow each other while shadowCaps still credits
    // append layers with zero capacity (an unsound merged count lower
    // bound and top-k loss cap). A key that can't be compared for
    // equality can't be a key.
    val negative = coalesce(seqs.map(n => when(col(s"$n.offset") < 0, lit(n))) :+
      lit(null).cast("string"): _*)
    val flagged = df.filter(col(pk).isNull || negative.isNotNull)
      .select(col(pk).cast("string"), negative).limit(10).collect()
    if (flagged.exists(_.isNullAt(0)))
      throw DuplicatePrimaryKey(Seq("NULL (primary keys must be non-null)"))
    if (flagged.nonEmpty)
      throw NegativeOffset(flagged.map(r => s"${r.getString(0)}.${r.getString(1)}").toSeq)
    val dups = df.groupBy(col(pk)).count().filter(col("count") > 1)
      .select(col(pk).cast("string")).limit(10)
      .collect().map(_.getString(0)).toSeq
    if (dups.nonEmpty) throw DuplicatePrimaryKey(dups)
  }

  /** Append a FULL SNAPSHOT as a new table version (the chain resets to
    * this single layer — a snapshot contains everything by definition).
    * Returns the new version id. Partitioned/sorted writes: callers
    * cluster by their range column first (≙ clustered ingestion
    * buffering, table_inserter.h:28-40 — row-group min/max stats then
    * give the same chunk-skipping effect).
    *
    * `tag` rides INSIDE the atomic pointer flip (same file, one rename), so
    * a caller can stamp the commit with a replay token — streaming ingest
    * stores the micro-batch id here and skips a batch whose id is already
    * the committed tag (exactly-once across checkpoint replays without a
    * separate, non-atomic manifest write).
    *
    * An UNTAGGED commit CARRIES the previous tag forward: the replay tag
    * answers "is streaming batch N already contained in this table?", and
    * a batch append layered on top of the streaming commit still contains
    * it. Dropping the tag here would make a post-crash replay of batch N
    * unrecognizable — it would re-union rows already in the table and
    * poison the stream in a dup-PK abort loop.
    */
  def appendVersion(df: DataFrame, tableDir: String, pk: String,
      tag: Option[String] = None): Long = {
    validatePrimaryKey(df, pk)
    commitLayer(df, tableDir, tag, resetChain = true, kind = "snapshot",
      bloomCol = Some(pk))
  }

  /** Append ONLY a batch as a new DELTA layer: the version dir holds the
    * batch alone, and readers resolve the table as the union of the
    * committed layer chain ([[readLatest]]). A 1-row micro-batch commit
    * therefore writes O(batch), not O(table) — the same layered-
    * generation design as the posting index (meta.json layer list), and
    * the Spark analog of the reference's chunk-wise appendData
    * (storage/table.cpp bulkInsert).
    *
    * PK uniqueness is validated batch-internally with a small groupBy,
    * then against the existing table with a broadcast semi-join of the
    * batch's keys — ONE scan of the big side, no full-table shuffle.
    */
  def appendDelta(df: DataFrame, tableDir: String, pk: String,
      tag: Option[String] = None): Long = {
    validatePrimaryKey(df, pk)
    withTableLock(tableDir) {
    val layers = latestLayers(tableDir)
    if (layers.nonEmpty) {
      val existing = readChain(df.sparkSession, tableDir, layers, None)
      // a multi-path parquet reader does NOT merge schemas: a drifted
      // batch would commit fine and then silently lose its new columns
      // (or fail late) at read time — enforce layer-schema equality at
      // the commit boundary instead, like the reference's schema-checked
      // append. Names, types, and order are significant; nullability is
      // not (parquet round-trips widen it).
      if (existing.schema.simpleString != df.schema.simpleString)
        throw SchemaMismatch(existing.schema.simpleString, df.schema.simpleString)
      val clash = existingForClash(df.sparkSession, tableDir, layers, df, pk)
        .join(broadcast(df.select(col(pk))), Seq(pk), "left_semi")
        .select(col(pk).cast("string")).limit(10)
        .collect().map(_.getString(0)).toSeq
      if (clash.nonEmpty) throw DuplicatePrimaryKey(clash)
    }
    commitLayer(df, tableDir, tag, resetChain = false, kind = "append",
      bloomCol = Some(pk))
    }
  }

  /** The existing-chain side of the append duplicate-pk check,
    * ZONE-PRUNED on the batch's pk envelope: a layer whose recorded pk
    * [min, max] cannot intersect the batch's can hold no clashing key,
    * so only intersecting layers open — on the monotone-id production
    * shape (each append's keys above every prior layer's) the check
    * reads ~one layer instead of the whole chain, turning O(table) per
    * commit into O(recent). Sound because zoneKeep is may-contain and
    * the batch envelope COVERS every batch key; non-numeric pks (or
    * missing stats) fall back to the full chain. One extra O(batch)
    * min/max aggregation pays for the pruning.
    */
  private[graft] def existingForClash(spark: SparkSession,
      tableDir: String, layers: Seq[String], batch: DataFrame,
      pk: String): DataFrame = {
    import org.apache.spark.sql.types._
    val prunable = batch.schema(pk).dataType match {
      case _: NumericType => true
      case DateType => true
      case _ => false
    }
    // STRING pks (the uuid production shape, where no envelope ever
    // prunes) use the per-layer `bl:` blooms instead: one distributed
    // pass ORs a per-row bitmask of "which layers may contain this
    // key", and layers no batch key hits are skipped. Sound because a
    // bloom has no false negatives — a layer actually holding a batch
    // key always keeps its bit — and layers without a (string-kind)
    // bloom line are unconditionally read. This gives string-pk appends
    // the same O(recent-layers) commit cost the numeric envelope shape
    // has, instead of one full-chain scan per commit.
    if (!prunable && batch.schema(pk).dataType == StringType) {
      val blooms: Seq[(String, Option[(Int, Array[Long])])] = layers.map {
        l => l -> statsLines(tableDir, l)
          .flatMap(bloomFromLines(_, pk))
          .collect { case (k, 's', words) => (k, words) }
      }
      val probed = blooms.collect { case (l, Some(b)) => (l, b) }
      // > 64 bloom-bearing layers can't fit the bitmask — compaction
      // keeps real chains far shorter; fall back to the full read
      if (probed.isEmpty || probed.length > 64)
        return readChain(spark, tableDir, layers, None)
      val probeArr = probed.map(_._2).toArray
      val mask = udf { (key: String) =>
        if (key == null) 0L
        else {
          var m = 0L
          var i = 0
          while (i < probeArr.length) {
            val (k, words) = probeArr(i)
            if (graft.functions.BloomSketch.maybeContainsString(words, k, key))
              m |= 1L << i
            i += 1
          }
          m
        }
      }
      val maskRow = batch.select(mask(col(pk)).as("m"))
        .agg(expr("bit_or(m)")).collect()(0)
      val hitMask = if (maskRow.isNullAt(0)) 0L else maskRow.getLong(0)
      val hits = probed.zipWithIndex.collect {
        case ((l, _), i) if (hitMask & (1L << i)) != 0L => l
      }.toSet
      val kept = layers.filter(l =>
        hits.contains(l) || blooms.find(_._1 == l).exists(_._2.isEmpty))
      return readChainSubset(spark, tableDir, layers, kept,
        pinSchema = Some(batch.schema))
    }
    if (!prunable) return readChain(spark, tableDir, layers, None)
    val statCol =
      if (batch.schema(pk).dataType == DateType) unix_date(col(pk))
      else col(pk)
    // NUMERIC/DATE pks get the same bloom bitmask as strings where the
    // layers carry 'd'-kind blooms — a RANDOM-id batch (snowflake /
    // bit-scattered shape) spans every layer's envelope, so the
    // envelope alone reads the full chain per commit. ONE O(batch)
    // pass computes the bitmask AND the batch envelope; a bloom-less
    // layer (saturated snapshot, pre-bloom legacy) falls back to its
    // envelope test; bloom hits are intersected with nothing further
    // (a hit is may-contain, the semi-join stays exact).
    val withLines = layers.map(l => l -> statsLines(tableDir, l))
    val blooms: Seq[(String, Option[(Int, Array[Long])])] = withLines.map {
      case (l, lines) => l -> lines
        .flatMap(bloomFromLines(_, pk))
        .collect { case (k, 'd', words) => (k, words) }
    }
    val probed = blooms.collect { case (l, Some(b)) => (l, b) }
    if (probed.nonEmpty && probed.length <= 64) {
      val probeArr = probed.map(_._2).toArray
      val mask = udf { (key: java.lang.Double) =>
        if (key == null) 0L
        else {
          var m = 0L
          var i = 0
          while (i < probeArr.length) {
            val (k, words) = probeArr(i)
            if (graft.functions.BloomSketch
                .maybeContainsDouble(words, k, key.doubleValue))
              m |= 1L << i
            i += 1
          }
          m
        }
      }
      val d = statCol.cast("double")
      val row = batch.select(mask(d).as("m"), d.as("v"))
        .agg(expr("bit_or(m)"), min(col("v")), max(col("v"))).collect()(0)
      if (row.isNullAt(1) || row.isNullAt(2))
        return readChain(spark, tableDir, layers, None)
      val hitMask = if (row.isNullAt(0)) 0L else row.getLong(0)
      val (bmin, bmax) = (row.getDouble(1), row.getDouble(2))
      val hits = probed.zipWithIndex.collect {
        case ((l, _), i) if (hitMask & (1L << i)) != 0L => l
      }.toSet
      val kept = withLines.collect {
        case (l, _) if hits.contains(l) => l
        case (l, lines) if blooms.find(_._1 == l).exists(_._2.isEmpty) &&
            zoneKeep(lines.getOrElse(Seq.empty),
              Seq((pk, bmin, bmax)), Nil, Nil, Nil) => l
      }
      return readChainSubset(spark, tableDir, layers, kept,
        pinSchema = Some(batch.schema))
    }
    val row = batch.agg(min(statCol).cast("double"),
      max(statCol).cast("double")).collect()(0)
    if (row.isNullAt(0) || row.isNullAt(1))
      return readChain(spark, tableDir, layers, None)
    // schema PINNED to the batch's (the callers just validated them
    // equal / aligned): the pruned subset can be all tombstone-only
    // layers — zero parquet footers — where schema inference would
    // throw; with an explicit schema they simply read as zero rows
    readChainRanges(spark, tableDir, layers,
      Seq((pk, row.getDouble(0), row.getDouble(1))),
      pinSchema = Some(batch.schema))
  }

  /** [[appendDelta]] with INGEST-TIME CONTENT DEDUP: batch rows whose
    * `fpCol` (a content fingerprint, e.g. TextFunctions.fingerprint)
    * already exists in the committed table are dropped BEFORE the commit —
    * re-crawled duplicates never enter the table, so no downstream dedup
    * pass has to claw them back out. Cost: the batch's fingerprint set is
    * a broadcast; ONE linear semi-join pass over the table finds the
    * already-present fingerprints (bounded by the batch size), and the
    * batch anti-filters against that set — the table is never shuffled.
    * Returns (commit, keptRows); a fully-duplicate batch commits nothing
    * and returns (-1, 0). Batch-internal fingerprint duplicates keep the
    * lowest pk (deterministic).
    */
  def appendDeltaDedup(df: DataFrame, tableDir: String, pk: String,
      fpCol: String, tag: Option[String] = None): (Long, Long) = {
    val spark = df.sparkSession
    // a NULL fingerprint means "no fingerprint", NOT "equal to every
    // other null": the window groups nulls into ONE partition, so
    // without the isNull escape two distinct null-fp rows would
    // silently collapse to the lowest pk — ingest data loss. The
    // cross-table half below already treats nulls as matching nothing
    // (equality joins never match null keys); keep both halves
    // consistent.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fpCol).orderBy(col(pk))
    val inBatch = df.withColumn("__rk", row_number().over(w))
      .filter(col(fpCol).isNull || col("__rk") === 1).drop("__rk")
    withTableLock(tableDir) {
    val layers = latestLayers(tableDir)
    val fresh =
      if (layers.isEmpty) inBatch
      else {
        val existingFps = readChain(spark, tableDir, layers, None)
          .join(broadcast(inBatch.select(col(fpCol))), Seq(fpCol), "left_semi")
          .select(col(fpCol)).distinct()
        inBatch.join(broadcast(existingFps), Seq(fpCol), "left_anti")
      }
    // restore the caller's column order (joins move fpCol first)
    val kept = fresh.select(df.columns.map(col): _*).localCheckpoint()
    val n = kept.count()
    if (n == 0) (-1L, 0L)
    else (appendDelta(kept, tableDir, pk, tag), n)
    }
  }

  /** [[appendDelta]] with ADDITIVE SCHEMA EVOLUTION: the batch may carry
    * columns the table has never seen (they join the schema, null for
    * every pre-existing row) and may omit existing columns (null-filled
    * for the batch). What it may NOT do is change an existing column's
    * type — that is still a drift bug and still aborts with the typed
    * [[SchemaMismatch]]. The evolved unified schema commits as a
    * `_log/<seq>.schema` sidecar atomically ordered before the pointer
    * flip; every chain reader ([[readLatest]], [[readCommit]],
    * [[readLatestRange]], [[readChanges]], merged reads) resolves the
    * schema in force at its commit, so old layers are never rewritten —
    * an add-column at 100 TB costs O(batch) + one metadata file, the
    * lakehouse add-column contract.
    */
  def appendDeltaEvolve(df: DataFrame, tableDir: String, pk: String,
      tag: Option[String] = None): Long = {
    validatePrimaryKey(df, pk)
    withTableLock(tableDir) {
    val layers = latestLayers(tableDir)
    if (layers.isEmpty)
      return commitLayer(df, tableDir, tag, resetChain = true,
        kind = "snapshot", bloomCol = Some(pk))
    val existing = readChain(df.sparkSession, tableDir, layers, None)
    val exSchema = existing.schema
    val batchByName = df.schema.fields.map(f => f.name -> f).toMap
    require(batchByName.contains(pk),
      s"evolving append to $tableDir: batch lacks primary key column $pk")
    exSchema.fields.foreach { f =>
      batchByName.get(f.name).foreach { b =>
        // simpleString comparison, like the strict path: nullability
        // (incl. nested containsNull, which parquet reads widen) is not
        // drift; a changed TYPE is
        if (b.dataType.simpleString != f.dataType.simpleString)
          throw SchemaMismatch(f.toString, b.toString)
      }
    }
    val exNames = exSchema.fieldNames.toSet
    val newFields = df.schema.fields.filterNot(f => exNames.contains(f.name))
      .map(_.copy(nullable = true))
    val unified = org.apache.spark.sql.types.StructType(
      exSchema.fields.map(_.copy(nullable = true)) ++ newFields)
    val aligned = unified.fields.foldLeft(df) { (d, f) =>
      if (batchByName.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(unified.fieldNames.map(col).toIndexedSeq: _*)
    val clash = existingForClash(df.sparkSession, tableDir, layers,
        aligned, pk)
      .join(broadcast(aligned.select(col(pk))), Seq(pk), "left_semi")
      .select(col(pk).cast("string")).limit(10)
      .collect().map(_.getString(0)).toSeq
    if (clash.nonEmpty) throw DuplicatePrimaryKey(clash)
    commitLayer(aligned, tableDir, tag, resetChain = false, kind = "append",
      bloomCol = Some(pk),
      schemaJson =
        if (unified.simpleString == exSchema.simpleString) None
        else Some(unified.json))
    }
  }

  /** Record the chain's primary key as a `_pk` breadcrumb (write-once,
    * tmp+rename): every writer already receives the pk, and recording
    * it makes the chain SELF-DESCRIBING for layout-blind operators —
    * above all the serve maintenance loop, which can then run the
    * merge-on-read compaction ([[compactMerged]]) without out-of-band
    * configuration. Write-once: the pk of a chain never changes
    * (every writer validates against the existing layers).
    */
  private def writePkBreadcrumb(tableDir: String, pk: String): Unit = {
    val p = java.nio.file.Paths.get(tableDir, "_pk")
    if (java.nio.file.Files.exists(p)) return
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(tableDir), ".pk", ".tmp")
    java.nio.file.Files.writeString(tmp, pk)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The chain's recorded primary key, when a writer left the `_pk`
    * breadcrumb (chains created before it read as None — a later
    * commit of any kind records it).
    */
  def pkOf(tableDir: String): Option[String] = {
    val p = java.nio.file.Paths.get(tableDir, "_pk")
    if (!java.nio.file.Files.exists(p)) None
    else Some(java.nio.file.Files.readString(p).trim).filter(_.nonEmpty)
  }

  /** Write `df` to the next `v<N>` dir and atomically flip the `latest`
    * pointer. Pointer format: `<layer,layer,...> [tag]` — one line, one
    * rename, so layer list + replay tag commit together.
    */
  private def commitLayer(df: DataFrame, tableDir: String,
      tag: Option[String], resetChain: Boolean, kind: String,
      bloomCol: Option[String] = None,
      schemaJson: Option[String] = None): Long = withTableLock(tableDir) {
    val fs = new java.io.File(tableDir)
    fs.mkdirs()
    val effectiveTag = tag.orElse(latestTag(tableDir))
    val existing = Option(fs.list()).getOrElse(Array())
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    val next = if (existing.isEmpty) 1L else existing.max + 1
    // a pk bloom filter per row group: point lookups (`pk = x`) skip row
    // groups without decoding a data page — see [[ParquetBloom]]
    df.write.mode(SaveMode.ErrorIfExists)
      .options(bloomCol.map(c => ParquetBloom.options(Seq(c))).getOrElse(Map.empty))
      .parquet(s"$tableDir/v$next")
    writeLayerStats(df, s"$tableDir/v$next", bloomCol)
    // every commitLayer caller passes the chain's pk as the bloom
    // column — record it once so the chain is self-describing
    bloomCol.foreach(writePkBreadcrumb(tableDir, _))
    val chain =
      if (resetChain) Seq(s"v$next") else latestLayers(tableDir) :+ s"v$next"
    flipPointer(tableDir, chain, effectiveTag, kind, schemaJson)
    next
  }

  /** Record per-layer min/max for every numeric column in a `_stats`
    * sidecar INSIDE the layer dir (written before the pointer flip, so
    * it commits atomically with the layer; the underscore prefix makes
    * parquet readers ignore it). One extra O(batch) aggregation per
    * commit buys layer-level skipping for every later range read —
    * Delta-style file statistics applied at the layer granularity the
    * chain already has.
    */
  private def writeLayerStats(df: DataFrame, layerDir: String,
      bloomCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.types._
    // dates participate as epoch-day doubles — time-windowed reads over
    // time-ordered appends are the canonical pruning win
    // the sidecar format is space-delimited with the raw column name as
    // the first token — a name containing whitespace (legal in Spark
    // schemas) would write an ambiguous line the readers silently never
    // match; skip such columns so the format stays unambiguous by
    // construction (they just read as no-stats, always included)
    // ':' is the marker namespace separator (c:/s:/n:/g:/gh: lines) — a
    // column whose NAME contains one could collide with a marker line of
    // another column and crash a decoder on foreign tokens; exclude them
    // like whitespace (they just read as no-stats, always included)
    def plainName(n: String): Boolean =
      !n.exists(ch => ch.isWhitespace || ch == ':')
    // DECIMAL envelopes past double precision are still WRITTEN — their
    // monotone uses (sort-key ordering, top-k strict bound comparisons)
    // stay sound under round-to-nearest — but the PLANNER refuses to
    // derive range conjuncts from such columns (rangeConjunct's
    // prunableCol), because the read-side exactness gates (exactVal —
    // built for the ±2^53 long window) cannot tell a rounded
    // decimal(30,20) envelope from an exact one, and the containment
    // pass proof would count rows the exact decimal row-wise comparison
    // rejects. Gating at the READER also covers sidecars written before
    // this rule existed.
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] && plainName(f.name) =>
        f.name
      case f if f.dataType == DateType && plainName(f.name) => f.name
    }
    val strings = df.schema.fields.collect {
      case f if f.dataType == StringType && plainName(f.name) => f.name
    }
    // histogram candidates: string, date, and integer columns — the
    // status-code / category-id / bucket-number group keys event data
    // is most often rolled up by. Non-string tokens stringify as
    // DOUBLES ("5.0"), the same encoding their envelopes use, so the
    // histogram and envelope (constToken) paths of the grouped counts
    // can never disagree on a token. Byte/Short/Int are exact in a
    // double; LONG columns (pandas-written parquet makes EVERY integer
    // an int64) are included but their histogram lines are SUPPRESSED
    // below unless the layer's envelope sits inside ±2^53 — past that,
    // two distinct longs can collide into one double token and
    // silently merge their groups. Envelope-bounded suppression is
    // exact: values inside ±2^53 round-trip the double cast.
    val histCand = strings ++ df.schema.fields.collect {
      case f if (f.dataType == DateType || f.dataType == ByteType ||
        f.dataType == ShortType || f.dataType == IntegerType ||
        f.dataType == LongType) &&
        plainName(f.name) => f.name
    }
    if (numeric.isEmpty && strings.isEmpty) return
    def statCol(c: String): Column =
      if (df.schema(c).dataType == DateType) unix_date(col(c)) else col(c)
    def histTok(c: String): Column =
      if (df.schema(c).dataType == StringType) col(c)
      else statCol(c).cast("double").cast("string")
    // Per-layer BLOOMs (`bl:` lines) — per-value membership for columns
    // whose cardinality denies the complete histograms and whose value
    // distribution denies the envelopes:
    //  - the chain's pk ALWAYS gets one (a point lookup is the shape no
    //    other sidecar stat serves; a uuid pk spans every envelope);
    //  - other id-shaped columns (string + integer-family — the
    //    foreign-key / session-id production shapes) get one IFF their
    //    complete histogram is not written: a bloom is strictly weaker
    //    than a complete histogram, so writing both is dead sidecar
    //    weight, and zoneKeep consults blooms exactly in its
    //    histogram-absent branch — write side and read side agree by
    //    construction. Reference bar: per-value StringInSet bitmaps
    //    exist for EVERY string column, not just the key
    //    (string_in_set.cpp:64, equals.cpp:143-148).
    // String targets hash verbatim values (what a strEquals probe
    // holds), numeric/date targets the canonical double a lo==hi range
    // probe holds — insert and probe share ONE encoding, so exclusion
    // can never disagree with the row-wise filter. Capped at
    // MaxBloomColumns aggregates per commit: each partial buffer is
    // 2^BuildLogBits bits = 128 KB, so the cap bounds the stats pass's
    // per-task memory and shuffle payload on wide tables.
    def bloomable(c: String): Option[(String, Char, Column)] =
      df.schema(c).dataType match {
        case StringType => Some((c, 's', col(c)))
        case t if t.isInstanceOf[NumericType] || t == DateType =>
          Some((c, 'd', statCol(c).cast("double")))
        case _ => None
      }
    val pkTarget: Option[(String, Char, Column)] = bloomCol
      .filter(c => df.columns.contains(c) && plainName(c))
      .flatMap(bloomable)
    val extraTargets: Seq[(String, Char, Column)] = df.schema.fields
      .iterator
      .filter(f => plainName(f.name) && !bloomCol.contains(f.name) &&
        (f.dataType == StringType || f.dataType == ByteType ||
          f.dataType == ShortType || f.dataType == IntegerType ||
          f.dataType == LongType))
      .take(MaxBloomColumns - pkTarget.size)
      .flatMap(f => bloomable(f.name))
      .toSeq
    val bloomTargets: Seq[(String, Char, Column)] =
      pkTarget.toSeq ++ extraTargets
    val aggs = numeric.flatMap(c =>
      Seq(min(statCol(c)).cast("double").as(s"min_$c"),
        max(statCol(c)).cast("double").as(s"max_$c"))) ++
      strings.flatMap(c =>
        Seq(min(col(c)).as(s"smin_$c"), max(col(c)).as(s"smax_$c"))) ++
      // per-column NON-NULL counts (c: lines): top-k pruning needs them —
      // envelopes cover only non-null values while nulls sort FIRST under
      // asc (Spark default), so a bound computed from total rows would
      // silently misplace null rows. STRING columns carry the ledger too:
      // the lexicographic `s:` envelopes can bound a string-keyed top-k
      // exactly like the numeric ones, but only with the same null
      // accounting (layers written before this line read as no-ledger and
      // are conservatively always kept)
      numeric.map(c => count(col(c)).as(s"nn_$c")) ++
      strings.map(c => count(col(c)).as(s"nns_$c")) ++
      // COMPLETE value histograms ride the SAME single aggregation pass
      // (BoundedHistogram: a size-capped native agg that nulls out past
      // the cap with bounded memory) — no cardinality pre-estimate, no
      // second job over the batch
      histCand.map(c => graft.functions.BoundedHistogram
        .boundedHist(histTok(c), HistogramMaxEntries).as(s"h_$c")) ++
      // the blooms ride the same pass (BloomSketch folds itself to
      // ~10 bits/key at eval; an over-full filter evals null)
      bloomTargets.zipWithIndex.map { case ((_, _, bc), i) =>
        graft.functions.BloomSketch.bloomSketch(bc).as(s"_bl$i") } ++
      Seq(count(lit(1)).as("_n"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val numLines = numeric.zipWithIndex.flatMap { case (c, i) =>
      val lo = row.get(2 * i); val hi = row.get(2 * i + 1)
      if (lo == null || hi == null) None
      // a NaN in the column poisons min/max (Spark orders NaN greatest):
      // a NaN envelope would fail EVERY intersection test and silently
      // prune rows that match — omit the line so the layer is always
      // conservatively included
      else if (lo.asInstanceOf[Double].isNaN || hi.asInstanceOf[Double].isNaN) None
      else Some(s"$c ${lo.asInstanceOf[Double]} ${hi.asInstanceOf[Double]}")
    }
    // string bounds ride base64'd under an `s:` marker (format-safe for
    // any column content) and only when BOTH bounds are short, non-empty
    // pure-ASCII: ASCII is where Spark's UTF8String byte ordering and the
    // driver's UTF-16 compare provably agree, so pruning can never
    // disagree with the row-wise filter (mixed ASCII-bound vs non-ASCII
    // probe comparisons also agree: a non-ASCII lead byte and its UTF-16
    // unit both exceed every ASCII value)
    def ascii(v: String): Boolean =
      v.nonEmpty && v.length <= 64 && v.forall(ch => ch >= ' ' && ch < 0x7f)
    val b64 = java.util.Base64.getEncoder
    val strLines = strings.zipWithIndex.flatMap { case (c, i) =>
      val lo = row.get(2 * numeric.length + 2 * i)
      val hi = row.get(2 * numeric.length + 2 * i + 1)
      (lo, hi) match {
        case (l: String, h: String) if ascii(l) && ascii(h) =>
          def e(v: String) = b64.encodeToString(
            v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Some(s"s:$c ${e(l)} ${e(h)}")
        case _ => None
      }
    }
    // the layer's row count rides under an `n:` marker and per-column
    // non-null counts under `c:<col>` markers (both 2 tokens — can never
    // match the 3-token column-stat patterns): with per-layer counts AND
    // envelopes, orderBy+limit can compute a value bound that provably
    // contains the top-k from metadata alone (readChainTopK)
    val nnLines = numeric.zipWithIndex.map { case (c, i) =>
      s"c:$c ${row.getLong(2 * numeric.length + 2 * strings.length + i)}"
    } ++ strings.zipWithIndex.map { case (c, i) =>
      s"c:$c ${row.getLong(2 * numeric.length + 2 * strings.length +
        numeric.length + i)}"
    }
    val nLine = Seq(s"n: ${row.getLong(aggs.length - 1)}")
    // COMPLETE per-layer value histograms for low-cardinality string/date
    // columns — the layer-level analog of the reference's per-value
    // bitmaps: `gh:<col> <k>` marks a complete histogram of k values,
    // each `g:<col> <b64 token> <cnt>` one group's exact count. A single-
    // column grouped count over the chain (or under a decidable filter)
    // can then answer from metadata alone (chainGroupCount). Columns
    // whose exact histogram exceeds the cap came back null from the
    // bounded aggregate and write nothing (a few-hundred-value histogram
    // is still a few-KB sidecar; a high-cardinality column never
    // accumulates past cap+1 entries per partial).
    val histBase = 2 * numeric.length + 2 * strings.length +
      numeric.length + strings.length
    // the ±2^53 long guard (see histCand): the envelope is already in
    // hand from the same aggregation row — suppress the histogram when
    // any value could have collided in the double cast. STRICTLY inside
    // the window: a true max of 2^53+1 rounds DOWN to exactly 2^53
    // under round-half-even, so an envelope TOUCHING the edge may
    // already be a collision (a layer holding {2^53, 2^53+1} records
    // max 2^53 and would merge both into one token) — rejecting the
    // legit all-2^53 boundary layer costs a fallback scan, accepting a
    // collapsed one is a wrong answer
    def longSafe(c: String): Boolean =
      df.schema(c).dataType != LongType || {
        val i = numeric.indexOf(c)
        val lo = row.get(2 * i); val hi = row.get(2 * i + 1)
        lo != null && hi != null &&
          exactVal(lo.asInstanceOf[Double]) &&
          exactVal(hi.asInstanceOf[Double])
      }
    val histBlocks: Seq[(String, Seq[String])] = histCand.zipWithIndex.flatMap {
      case (c, i) =>
        if (!longSafe(c)) None
        else Option(row.getMap[String, Long](histBase + i)).map { m =>
          val entries = m.toSeq
          c -> (s"gh:$c ${entries.length}" +:
            entries.sortBy(_._1).map { case (v, cnt) =>
              s"g:$c ${b64.encodeToString(
                v.getBytes(java.nio.charset.StandardCharsets.UTF_8))} $cnt"
            })
        }
    }
    // a bloom line: `bl:<col> <numHashes> <kind> <b64 bits>` — ≤ ~11 KB
    // (8 KB of bits base64'd). NULL from the aggregate (empty layer, or
    // saturated past usefulness) writes nothing — readers treat absence
    // as conservative keep.
    def bloomLineAt(i: Int): Option[String] = {
      val (c, kind, _) = bloomTargets(i)
      Option(row.get(histBase + histCand.length + i))
        .map(_.asInstanceOf[Array[Byte]])
        .map(bytes => s"bl:$c ${graft.functions.BloomSketch.NumHashes} " +
          s"$kind ${b64.encodeToString(bytes)}")
    }
    // the PK bloom spends FIRST inside the shared HistogramBudgetBytes
    // (a point lookup on the key is the one production shape no other
    // sidecar stat serves; see bloomTargets above)
    val pkBloomLine: Option[String] =
      if (pkTarget.isEmpty) None
      else bloomLineAt(0).filter(_.length + 1L <= HistogramBudgetBytes)
    var spent = pkBloomLine.map(_.length + 1L).getOrElse(0L)
    // the per-LAYER histogram byte budget (HistogramBudgetBytes):
    // narrowest-first keeps the low-cardinality group keys that grouped
    // counts actually consult; the widest blocks drop once the running
    // total passes the budget. Stable: ties keep histCand order, so the
    // same batch always writes the same sidecar.
    val writtenHist = scala.collection.mutable.Set[String]()
    val histLines: Seq[String] =
      histBlocks.sortBy(_._2.map(_.length + 1L).sum).flatMap { case (c, b) =>
        val sz = b.map(_.length + 1L).sum
        if (spent + sz <= HistogramBudgetBytes) {
          spent += sz; writtenHist += c; b
        } else Nil
      }
    // id-shaped EXTRA blooms fill the remaining budget in schema order
    // (stable), and only where no complete histogram was written — the
    // histogram answers strictly more, and zoneKeep consults blooms
    // exactly in its histogram-absent branch
    val extraBloomLines: Seq[String] = bloomTargets.zipWithIndex
      .drop(pkTarget.size)
      .flatMap { case ((c, _, _), i) =>
        if (writtenHist(c)) None
        else bloomLineAt(i).flatMap { l =>
          if (spent + l.length + 1L <= HistogramBudgetBytes) {
            spent += l.length + 1L; Some(l)
          } else None
        }
      }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(layerDir, "_stats"),
      (numLines ++ strLines ++ nnLines ++ pkBloomLine.toSeq ++ histLines ++
        extraBloomLines ++ nLine).mkString("\n"))
  }

  /** A layer's `_stats` sidecar, tokenized — ONE file read shared by all
    * the per-column readers (a routed plan consults several stats per
    * layer; re-reading the sidecar per lookup doubles plan-time metadata
    * I/O on long chains), and cached ACROSS plans keyed by
    * (path, mtime, size): sidecars are written once per layer dir (or
    * appended, which changes the size), so a matching stamp proves the
    * cached parse current — a serving process stops re-reading and
    * re-tokenizing the same ~30 immutable files on every query — this
    * applies on any shared filesystem where a stat call is cheaper than
    * a full read (the supported deployment envelope — see the
    * [[graft.core.DirLock]] scaladoc; stamp-validated caching would need
    * a conditional-GET protocol on object storage, where this library's
    * chains don't run).
    * Bounded + recency-evicting WITHOUT a global lock on the hit path
    * (statsLines sits on the planner's hottest metadata path — a
    * synchronized LRU would serialize every concurrent plan behind one
    * mutex): hits are plain ConcurrentHashMap gets plus one volatile
    * access-stamp write; past the cap an amortized sweep (single-
    * threaded behind its own lock, once per ~cap/8 inserts) drops the
    * coldest eighth by stamp (a long-lived multi-tenant JVM keeps its
    * hot chains parsed; the previous wholesale clear dropped everything
    * at once). [[gcVersions]] invalidates reclaimed layers' entries
    * eagerly so a table dir wiped and re-ingested at the same path can
    * never serve a stale parse through a (mtime, size) stamp collision.
    */
  private final class SidecarEntry(
      val mtime: java.nio.file.attribute.FileTime,
      val size: Long, val lines: Seq[Array[String]]) {
    @volatile var touched: Long = 0L
  }
  private val sidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, SidecarEntry]()
  private val sidecarTick = new java.util.concurrent.atomic.AtomicLong()
  private val sidecarEvictLock = new Object
  private val SidecarCacheMax = 8192

  /** Amortized cold-entry sweep — called after an insert pushes the map
    * past the cap. O(n) once per ~cap/8 inserts; a racing re-insert of
    * an evicted key just re-reads one sidecar (conservative).
    */
  private def sidecarEvictColdest(): Unit = sidecarEvictLock.synchronized {
    val over = sidecarCache.size - (SidecarCacheMax - SidecarCacheMax / 8)
    if (over <= 0) return
    val it = sidecarCache.entrySet().iterator()
    val snap = Vector.newBuilder[(String, Long)]
    while (it.hasNext) { val e = it.next(); snap += e.getKey -> e.getValue.touched }
    snap.result().sortBy(_._2).take(over)
      .foreach { case (k, _) => sidecarCache.remove(k) }
  }

  private def sidecarCacheKey(tableDir: String, layer: String): String =
    java.nio.file.Paths.get(tableDir, layer, "_stats")
      .toAbsolutePath.toString

  private def statsLines(tableDir: String,
      layer: String): Option[Seq[Array[String]]] = {
    val p = java.nio.file.Paths.get(tableDir, layer, "_stats")
    val attrs =
      try java.nio.file.Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return None }
    val key = sidecarCacheKey(tableDir, layer)
    val cached = sidecarCache.get(key)
    if (cached != null && cached.mtime == attrs.lastModifiedTime &&
        cached.size == attrs.size) {
      cached.touched = sidecarTick.incrementAndGet()
      Some(cached.lines)
    } else {
      val lines = java.nio.file.Files.readString(p).linesIterator
        .map(_.split(" ")).toVector
      val e = new SidecarEntry(attrs.lastModifiedTime, attrs.size, lines)
      e.touched = sidecarTick.incrementAndGet()
      sidecarCache.put(key, e)
      if (sidecarCache.size > SidecarCacheMax) sidecarEvictColdest()
      Some(lines)
    }
  }

  // ---- sidecar line decoders: every reader parses the SAME tokenized
  // lines, so a `_stats` format change has exactly one writer and one
  // decoder per line kind, and callers holding a parsed sidecar never
  // re-read the file per lookup ----
  private def envFromLines(lines: Seq[Array[String]],
      column: String): Option[(Double, Double)] =
    lines.collectFirst { case Array(c, lo, hi) if c == column =>
      // a column NAME carrying a marker prefix (e.g. literally "g:d")
      // can alias another column's marker line whose tokens aren't
      // doubles — an undecodable match means no-stats, never a crash
      scala.util.Try((lo.toDouble, hi.toDouble)).toOption
    }.flatten
    // legacy stats written before the NaN write-guard: treat a NaN
    // envelope as no-stats (always include), never as prunable
    .filterNot { case (lo, hi) => lo.isNaN || hi.isNaN }

  private def strEnvFromLines(lines: Seq[Array[String]],
      column: String): Option[(String, String)] = {
    val d = java.util.Base64.getDecoder
    def dec(v: String) = new String(d.decode(v),
      java.nio.charset.StandardCharsets.UTF_8)
    lines.collectFirst { case Array(c, lo, hi) if c == s"s:$column" =>
      scala.util.Try((dec(lo), dec(hi))).toOption
    }.flatten
  }

  private def nFromLines(lines: Seq[Array[String]]): Option[Long] =
    lines.collectFirst { case Array("n:", n) =>
      scala.util.Try(n.toLong).toOption }.flatten

  private def nnFromLines(lines: Seq[Array[String]],
      column: String): Option[Long] =
    lines.collectFirst { case Array(c, v) if c == s"c:$column" =>
      scala.util.Try(v.toLong).toOption }.flatten

  /** The layer's pk BLOOM (`bl:<col> <numHashes> <kind> <b64 bits>`,
    * written by [[writeLayerStats]] for the chain's pk): kind 's' hashes
    * verbatim string values, 'd' the canonical double encoding
    * numeric/date range probes already use. None on absence, a foreign
    * kind char, or undecodable bits — all conservative keep.
    */
  private def bloomFromLines(lines: Seq[Array[String]],
      column: String): Option[(Int, Char, Array[Long])] =
    lines.collectFirst {
      case Array(m, k, kind, bits) if m == s"bl:$column" &&
          (kind == "s" || kind == "d") =>
        scala.util.Try {
          val bytes = java.util.Base64.getDecoder.decode(bits)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          val words = new Array[Long](bytes.length / 8)
          var i = 0
          while (i < words.length) { words(i) = bb.getLong; i += 1 }
          (k.toInt, kind.head, words)
        }.toOption.filter { case (k, _, words) =>
          k > 0 && words.nonEmpty &&
            java.lang.Long.bitCount(words.length) == 1 // power-of-two fold
        }
    }.flatten

  /** May `column` hold one of `values` (string equality probe) per its
    * bloom? Absent/foreign-kind bloom → true (keep).
    */
  private def bloomKeepsString(lines: Seq[Array[String]], column: String,
      values: Seq[String]): Boolean =
    bloomFromLines(lines, column) match {
      case Some((k, 's', words)) => values.exists(v =>
        graft.functions.BloomSketch.maybeContainsString(words, k, v))
      case _ => true
    }

  /** May `column` hold double-encoded value `v` (a lo==hi point probe)
    * per its bloom? Sound without any exactness window: the writer
    * inserted CAST(value AS DOUBLE) and the planner derived `v` by the
    * same cast of the literal, so "v not in bloom" proves no row's
    * double encoding EQUALS the literal's — and both sides canonicalize
    * -0.0 to +0.0 before hashing (BloomSketch class doc): zero-sign
    * equality is path-dependent in Spark (IEEE == in codegen vs the
    * parquet pushdown comparator's total order), so the bloom keeps the
    * layer whenever EITHER semantic could match, and the row-wise scan
    * decides. (NaN point probes never reach here: NaN != NaN fails the
    * lo==hi gate.)
    */
  private def bloomKeepsDouble(lines: Seq[Array[String]], column: String,
      v: Double): Boolean =
    bloomFromLines(lines, column) match {
      case Some((k, 'd', words)) =>
        graft.functions.BloomSketch.maybeContainsDouble(words, k, v)
      case _ => true
    }

  /** The layer's recorded TOMBSTONE count (`t:` stats line) — written by
    * deleteDelta so merged-chain bounds can cap shadow losses from the
    * sidecars alone. A layer without a `_tombstones` dir implicitly has
    * zero; one WITH the dir but no line (legacy) reads as unknown.
    */
  private def tombFromLines(lines: Seq[Array[String]]): Option[Long] =
    lines.collectFirst { case Array("t:", v) =>
      scala.util.Try(v.toLong).toOption }.flatten

  /** The layer's COMPLETE value histogram for `column` (token → count,
    * tokens decoded from base64), or None when the layer recorded none
    * (high cardinality, legacy sidecar). The `gh:` marker's count must
    * match the entry count — a mismatch reads as no-histogram.
    */
  private def histFromLines(lines: Seq[Array[String]],
      column: String): Option[Seq[(String, Long)]] =
    lines.collectFirst { case Array(m, k) if m == s"gh:$column" =>
      scala.util.Try(k.toInt).toOption }.flatten
      .flatMap { k =>
        val d = java.util.Base64.getDecoder
        val entries = lines.flatMap {
          case Array(m, v, cnt) if m == s"g:$column" =>
            scala.util.Try((new String(d.decode(v),
              java.nio.charset.StandardCharsets.UTF_8), cnt.toLong)).toOption
          case _ => None
        }
        if (entries.length == k) Some(entries.toSeq) else None
      }

  // ---- the double-exactness window -----------------------------------
  //
  // Every sidecar stat and every range-literal bound travels as a
  // Double, but LONG column values (and long query literals) past ±2^53
  // can collapse: two distinct longs round to the same double. Zone
  // NARROWING stays sound under that rounding — round-to-nearest is
  // monotone, so a strict comparison of two ROUNDED values implies the
  // same strict comparison of the true values, and a may-contain test
  // that keeps too much is merely conservative. Every EXACT proof
  // (per-conjunct pass counts, constant-column detection, histogram
  // tokens) must instead REFUSE values at or past the window edge: a
  // true 2^53+1 rounds down to exactly 2^53 (round-half-even), so even
  // an envelope TOUCHING the edge may be a collision. The gate is
  // VALUE-based, not type-based, on purpose — sidecar lines don't
  // record column types, and the same gate also rejects a rounded long
  // LITERAL bound applied to an exactly-stored double column (where
  // "envelope ⊆ interval" in rounded doubles would not imply every true
  // value passes the true predicate). Declining costs a fallback scan;
  // accepting a collapsed value is a wrong answer.
  private val ExactWindow = (1L << 53).toDouble

  /** A finite stat value provably uncollided in the double encoding. */
  private def exactVal(v: Double): Boolean = math.abs(v) < ExactWindow

  /** A range-literal bound: ±Infinity encodes "unbounded" (a half-open
    * between), not a rounded value, and stays exact.
    */
  private def exactBound(v: Double): Boolean = v.isInfinite || exactVal(v)

  /** [[histFromLines]] restricted to histograms whose tokens are
    * provably uncollided: layers written by the pre-strict guard
    * (which accepted envelopes touching ±2^53) may carry a histogram
    * with one collapsed token — decline those at READ time so the exact
    * grouped paths never consume one. A column without a numeric
    * envelope (strings) never rounded and always qualifies.
    */
  private def histExactFromLines(lines: Seq[Array[String]],
      column: String): Option[Seq[(String, Long)]] =
    histFromLines(lines, column).filter { _ =>
      envFromLines(lines, column).forall { case (lo, hi) =>
        exactVal(lo) && exactVal(hi) }
    }

  /** A layer's recorded (min, max) for `column`, when stats exist. */
  private def layerStats(tableDir: String, layer: String,
      column: String): Option[(Double, Double)] =
    statsLines(tableDir, layer).flatMap(envFromLines(_, column))

  /** A layer's recorded lexicographic (min, max) for a STRING `column`,
    * when stats exist (`s:`-marked, base64'd — see writeLayerStats).
    */
  private def layerStringStats(tableDir: String, layer: String,
      column: String): Option[(String, String)] =
    statsLines(tableDir, layer).flatMap(strEnvFromLines(_, column))

  /** A layer's recorded row count (`n:` stats line), when present. */
  private def layerRowCount(tableDir: String, layer: String): Option[Long] =
    statsLines(tableDir, layer).flatMap(nFromLines)

  /** The chain's total row count from the `n:` stats lines alone — no
    * parquet footer ever opens. None when any layer predates row-count
    * stats (callers fall back to a counting scan). APPEND-ONLY chains
    * only: an upsert/tombstone chain's readable count is a merge result,
    * not a layer sum — gate on [[chainMergeFree]] first.
    */
  def chainRowCount(tableDir: String, chain: Seq[String]): Option[Long] = {
    val counts = chain.map(l => layerRowCount(tableDir, l))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** `orderBy(column) [desc] + limit(k)` over a layer chain with EARLY
    * TERMINATION from the stats sidecars — the reference's RangeSelection
    * over a sorted column (range_selection.h:15-40) at layer granularity.
    *
    * Metadata-only bound, no data read to plan: sort layers by their
    * EXIT bound (max for ascending, min for descending) and accumulate
    * recorded row counts until ≥ k — the k-th best value can be no worse
    * than the last accumulated layer's exit bound B, so any layer whose
    * ENTRY bound is strictly beyond B cannot contribute and its parquet
    * footer is never opened. On a chain clustered by `column` (time-
    * ordered appends ranked by recency, score-clustered corpora) this
    * reads O(k/rows-per-layer) layers regardless of chain length. Layers
    * missing stats or counts are conservatively always read. The final
    * orderBy+limit over the kept layers still plans as
    * TakeOrderedAndProject — a per-partition heap, never a full sort.
    *
    * APPEND-ONLY chains only (like [[readChainRange]]); `tiebreak`
    * `(column, descending)` keys are appended to the sort for a
    * deterministic result (either direction — the layer bound depends
    * only on the first key).
    */
  def readChainTopK(spark: SparkSession, tableDir: String,
      chain: Seq[String], column: String, k: Int, descending: Boolean,
      tiebreak: Seq[(String, Boolean)] = Nil,
      pinSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val kept = chainTopKLayers(tableDir, chain, column, k, descending)
    val keyCols = ((column, descending) +: tiebreak).map {
      case (c, d) => if (d) col(c).desc else col(c).asc }
    // kept is non-empty by construction (no filter conjuncts): every
    // branch either returns the whole chain or retains at least the
    // bound-defining layer
    readChainSubset(spark, tableDir, chain, kept, pinSchema)
      .orderBy(keyCols: _*).limit(k)
  }

  /** Read the `kept` subset of a layer chain (an empty subset still
    * surfaces the chain's schema via an always-false filter, so callers
    * keep a column-identical frame). `pinSchema` as in
    * [[readChainRanges]].
    */
  def readChainSubset(spark: SparkSession, tableDir: String,
      chain: Seq[String], kept: Seq[String],
      pinSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    def read(layers: Seq[String]): DataFrame = pinSchema match {
      case Some(st) =>
        spark.read.schema(st).parquet(layers.map(l => s"$tableDir/$l"): _*)
      case None => readChain(spark, tableDir, layers, None)
    }
    if (kept.isEmpty) read(chain).filter(lit(false))
    else read(chain.filter(kept.toSet))
  }

  /** The layer subset that can contribute to
    * `filter(conjuncts).orderBy(column [desc], ties).limit(k)` —
    * metadata-only, COMPOSING the zone-map narrowing with the top-k
    * bound (the reference intersects RangeSelection with other filter
    * operators the same way, filter/operators/range_selection.h:15-40 +
    * operator.h:11-37). With no conjuncts this is the bare stats-bounded
    * top-k ([[readChainTopK]]); numeric/date sort keys use the numeric
    * envelopes, string keys the lexicographic `s:` envelopes (detected
    * from the sidecars themselves).
    *
    * Soundness with a filter: per-layer row counts can't be taken at
    * face value (a counted row may fail the filter), so the accumulation
    * uses a LOWER bound on each layer's qualifying rows — a layer whose
    * envelope is FULLY contained in every range/equality conjunct (and
    * whose ledgers are present) qualifies at least
    * `rows − Σ per-conjunct failure upper bounds`; any layer that can't
    * prove containment contributes 0 and is simply kept. Zone-pruned
    * layers contain no qualifying rows at all and drop entirely. The
    * result is always a superset of the layers holding the true top-k;
    * the caller re-applies the full filter + sort + limit row-wise.
    */
  def chainTopKLayers(tableDir: String, chain: Seq[String], column: String,
      k: Int, descending: Boolean,
      ranges: Seq[(String, Double, Double)] = Nil,
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : Seq[String] = {
    require(chain.nonEmpty, "chainTopKLayers needs a non-empty layer chain")
    val withLines = chain.map(l =>
      l -> statsLines(tableDir, l).getOrElse(Seq.empty))
    val survivors = withLines.filter { case (_, lines) =>
      zoneKeep(lines, ranges, strEquals, nullCols, notNullCols, orGroups) }
    if (survivors.isEmpty) return Nil
    // isNull on the sort key: every qualifying row's key is null, so the
    // envelopes order nothing — zone narrowing is the whole win
    if (nullCols.contains(column)) return survivors.map(_._1)
    // the sidecars say which envelope kind the column has (numeric
    // columns write 3-token lines, strings `s:`-marked ones); neither
    // present anywhere → no bound computable → read the survivors
    if (survivors.exists(s => envFromLines(s._2, column).isDefined))
      topKSelect[Double](survivors, envFromLines(_, column), column, k,
        descending, ranges, strEquals, nullCols, notNullCols, orGroups)
    else if (survivors.exists(s => strEnvFromLines(s._2, column).isDefined))
      topKSelect[String](survivors, strEnvFromLines(_, column), column, k,
        descending, ranges, strEquals, nullCols, notNullCols, orGroups)
    else survivors.map(_._1)
  }

  /** [[chainTopKLayers]] for a MERGE-ON-READ chain: the DATA layers that
    * may still SUPPLY a row of `filter(conjuncts).orderBy(column
    * [desc]).limit(k)` after merging. Layers not returned must keep
    * participating as pk-only shadow scans
    * ([[readChainRangesMerged]]`(keepLayers = …)`) — they can't supply a
    * top-k row but still override older versions and carry tombstones.
    *
    * Soundness beyond the append-only case: a layer's recorded counts
    * describe rows that younger layers may SHADOW (upserts) or DELETE
    * (tombstones), so its qualifying-count lower bound additionally
    * subtracts the TOTAL shadow capacity of all strictly-younger layers
    * (each younger upsert row/tombstone kills at most one older row) —
    * computable from the `n:`/`t:` sidecars plus the commit log's kinds.
    * A layer introduced by a UNIQUENESS-ENFORCED commit (append — which
    * aborts on any pk already present anywhere in its chain — or the
    * chain-resetting snapshot/compact) has capacity ZERO: its rows
    * provably override nothing older, so arbitrarily large appends cost
    * the bound nothing; only upsert rows and tombstones count. A younger
    * layer with unknown capacity (gc'd log entry, missing count) makes
    * every older loss unknown (those layers prove no qualifying rows but
    * are still envelope-excludable: a SURVIVING row is one of the
    * layer's recorded rows, whole-row upsert semantics never mutate it
    * in place, so the recorded envelope covers it). On upsert-light
    * chains — the production norm — the bound stays close to the
    * append-only one.
    */
  def chainTopKLayersMerged(tableDir: String, chain: Seq[String],
      column: String, k: Int, descending: Boolean,
      ranges: Seq[(String, Double, Double)] = Nil,
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : Seq[String] = {
    require(chain.nonEmpty,
      "chainTopKLayersMerged needs a non-empty layer chain")
    val withLines = chain.map(l =>
      l -> statsLines(tableDir, l).getOrElse(Seq.empty))
    // ONE data-layer pass shared below (layerHasData lists the layer
    // dir; re-filtering would re-list every layer per use)
    val dataLayers = withLines
      .filter { case (l, _) => layerHasData(tableDir, l) }
    val survivors = dataLayers
      .filter { case (_, lines) =>
        zoneKeep(lines, ranges, strEquals, nullCols, notNullCols, orGroups) }
    if (survivors.isEmpty) return Nil
    if (nullCols.contains(column)) return survivors.map(_._1)
    // Routing heuristic — the optimizer-side "is this merged chain
    // upsert-light enough to bother bounding?" choice: when the KNOWN
    // total shadow capacity reaches half the recorded rows, the
    // per-layer loss subtraction zeroes almost every qualifying lower
    // bound and the bound walk buys nothing — return the zone survivors
    // directly (a SUPERSET is always sound; the caller re-applies
    // filter+sort+limit row-wise). The rare prunable tail on such a
    // chain (a fresh append atop heavy upserts) is transient:
    // maintenance compaction resets every capacity to zero at the next
    // fold. An UNKNOWN capacity or row count (gc'd log entry, a legacy
    // tombstone layer without a `t:` line) is NOT "heavy" — it attempts
    // the walk: topKSelect already degrades those layers conservatively
    // (an unknown loss proves no qualifying rows but the layer stays
    // envelope-excludable, a missing count reads as always-kept), so a
    // fresh append's tight envelope can still prune the legacy tail.
    // Upsert-light chains — the production norm — keep the bounded path.
    val caps = shadowCaps(tableDir, withLines)
    val recorded = dataLayers.map { case (_, lines) => nFromLines(lines) }
    val knownHeavy = caps.forall(_.isDefined) &&
      recorded.forall(_.isDefined) &&
      caps.flatten.sum * 2 > recorded.flatten.sum
    if (knownHeavy) return survivors.map(_._1)
    val losses: Map[String, Option[Long]] = chain.zipWithIndex.map {
      case (l, i) =>
        val younger = caps.drop(i + 1)
        l -> (if (younger.exists(_.isEmpty)) None
              else Some(younger.flatten.sum))
    }.toMap
    if (survivors.exists(s => envFromLines(s._2, column).isDefined))
      topKSelect[Double](survivors, envFromLines(_, column), column, k,
        descending, ranges, strEquals, nullCols, notNullCols, orGroups,
        losses(_))
    else if (survivors.exists(s => strEnvFromLines(s._2, column).isDefined))
      topKSelect[String](survivors, strEnvFromLines(_, column), column, k,
        descending, ranges, strEquals, nullCols, notNullCols, orGroups,
        losses(_))
    else survivors.map(_._1)
  }

  /** Per-layer SHADOW CAPACITY: an upper bound on how many OLDER rows
    * this layer can kill in the merged result — upsert rows and
    * tombstones count (each overrides/deletes at most ONE older row per
    * pk, and killers map injectively onto the dead rows they are
    * nearest-younger to); layers from UNIQUENESS-ENFORCED commits
    * (append — which aborts on any in-chain pk — and the chain-resetting
    * snapshot/compact) have capacity ZERO. None = unknowable (gc'd log
    * entry, unknown kind, missing count). Shared by the merged top-k
    * bound and the merged count bracket.
    */
  private def shadowCaps(tableDir: String,
      withLines: Seq[(String, Seq[Array[String]])]): Seq[Option[Long]] = {
    // (layer → introducing commit kind), single-valued: a commit's chain
    // ends with the layer it introduced
    val intro: Map[String, String] =
      commits(tableDir).map(logEntry(tableDir, _)).flatMap {
        case (c, kind) => c.lastOption.map(_ -> kind)
      }.toMap
    val zeroCap = Set("snapshot", "append", "compact")
    withLines.map { case (l, lines) =>
      val hasTombs = new java.io.File(s"$tableDir/$l/_tombstones").isDirectory
      intro.get(l) match {
        case Some(kind) if zeroCap(kind) && !hasTombs => Some(0L)
        case Some("upsert") if !hasTombs =>
          if (layerHasData(tableDir, l)) nFromLines(lines) else Some(0L)
        case Some("delete") if !layerHasData(tableDir, l) =>
          if (hasTombs) tombFromLines(lines) else Some(0L)
        case _ => None // unknown kind / gc'd log / mixed layer
      }
    }
  }

  /** `[lower, upper]` BRACKET on a merge-on-read chain's merged row
    * count, from the sidecars + commit log alone (no parquet footer
    * opens). The exact merged count is unknowable from per-layer
    * metadata — recorded rows may be shadowed or tombstoned — but two
    * bounds are provable:
    *  - UPPER: Σ n over data layers. Every live merged row is one of
    *    some layer's recorded rows (whole-row upsert semantics never
    *    mutate in place), so the merged count can only be smaller.
    *  - LOWER: upper − Σ shadow capacities ([[shadowCaps]]): each dead
    *    recorded row is killed by its nearest-younger same-pk upsert
    *    row or tombstone, and that mapping is injective — so the dead
    *    count is at most the total capacity.
    * An unknown capacity (gc'd log) collapses the lower bound to 0;
    * a data layer without a row count makes the whole bracket None.
    * An approxCount surface and the optimizer's own routing choices
    * (e.g. "is this merged chain upsert-light enough to bother
    * bounding?") both read from this. APPEND-ONLY chains bracket
    * degenerately as `[total, total]` (all capacities zero).
    */
  def chainMergedCountBracket(tableDir: String,
      chain: Seq[String]): Option[(Long, Long)] = {
    if (chain.isEmpty) return None
    val withLines = chain.map(l =>
      l -> statsLines(tableDir, l).getOrElse(Seq.empty))
    val ns = withLines
      .filter { case (l, _) => layerHasData(tableDir, l) }
      .map { case (_, lines) => nFromLines(lines) }
    if (ns.exists(_.isEmpty)) return None
    val upper = ns.flatten.sum
    val caps = shadowCaps(tableDir, withLines)
    val lower =
      if (caps.exists(_.isEmpty)) 0L
      else math.max(0L, upper - caps.flatten.sum)
    Some((lower, upper))
  }

  /** `[lo, hi]` BRACKET on a merge-on-read chain's FILTERED merged row
    * count — [[chainMergedCountBracket]] composed with filter conjuncts,
    * still sidecars + commit log only (zero parquet footers):
    *  - UPPER: Σ per-layer hi-pass, where a zone-EXCLUDED layer passes 0
    *    and a kept layer at most its tightest exact per-conjunct pass
    *    count ([[conjunctPassCounts]]; an undecidable conjunct caps at
    *    `n`). Sound: every matching merged row is one of exactly one
    *    layer's recorded rows and passes every conjunct there —
    *    shadowing only shrinks the true count further.
    *  - LOWER: max(0, Σ per-layer lo-pass − total shadow capacity):
    *    a layer provably holds ≥ `n − Σ(n − pass)` qualifying rows when
    *    EVERY conjunct's pass count is exact (else 0 — can't prove any),
    *    and across the chain at most [[shadowCaps]]' total of them die
    *    to younger upserts/tombstones (injective kill mapping; a dead
    *    row that wasn't qualifying only makes the subtraction more
    *    conservative). Any unknown capacity collapses the lower to 0.
    * None when a data layer lacks a row count (the upper is then
    * unknowable — callers fall back to one exact counting pass). The
    * `approxCount()` surface reads this for filtered merged chains and
    * sums it leaf-wise across unions.
    */
  def chainMergedMatchBracket(tableDir: String, chain: Seq[String],
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil): Option[(Long, Long)] = {
    if (chain.isEmpty) return None
    val withLines = chain.map(l =>
      l -> statsLines(tableDir, l).getOrElse(Seq.empty))
    val caps = shadowCaps(tableDir, withLines)
    val capsTotal =
      if (caps.exists(_.isEmpty)) None else Some(caps.flatten.sum)
    val perLayer: Seq[Option[(Long, Long)]] = withLines
      .filter { case (l, _) => layerHasData(tableDir, l) }
      .map { case (_, lines) =>
        if (!zoneKeep(lines, ranges, strEquals, nullCols, notNullCols,
            orGroups))
          Some((0L, 0L))
        else nFromLines(lines).map { n =>
          val passes = conjunctPassCounts(lines, n, ranges, strEquals,
            nullCols, notNullCols, orGroups)
          val hi = (n +: passes.flatten).min
          val lo =
            if (passes.exists(_.isEmpty)) 0L
            else math.max(0L, n - passes.flatten.map(n - _).sum)
          (lo, hi)
        }
      }
    if (perLayer.exists(_.isEmpty)) None
    else {
      val hi = perLayer.flatten.map(_._2).sum
      val lo = capsTotal.fold(0L)(ct =>
        math.max(0L, perLayer.flatten.map(_._1).sum - ct))
      Some((lo, hi))
    }
  }

  /** Per-GROUP `[lo, hi]` brackets on a merge-on-read chain's merged
    * grouped counts, from the sidecars + commit log alone — the grouped
    * face of [[chainMergedCountBracket]]. Exact grouped counts on a
    * merged chain are genuinely unknowable from per-column ledgers
    * (younger layers shadow unknown groups), but per group two bounds
    * are provable when EVERY data layer carries a complete exact
    * histogram of the group column:
    *  - hi(g) = Σ per-layer histogram counts of g: a live merged row
    *    carries the group value its SUPPLYING layer recorded (whole-row
    *    upsert semantics — a re-grouped row is a younger layer's
    *    recorded row), so every live g-row counts toward some layer's
    *    g-entry;
    *  - lo(g) = max(0, hi(g) − total shadow capacity): at most
    *    [[shadowCaps]]' total of recorded rows die chain-wide (injective
    *    kill mapping), and every dead g-row subtracts from g alone —
    *    subtracting the whole capacity from each group individually is
    *    conservative. Unknown capacity → lo collapses to 0.
    * The null group rides the `n:`/`c:` ledgers (n − nn per layer).
    * None when any data layer lacks a histogram/count — callers fall
    * back to an exact grouping pass. The `approxGroupCount()` surface
    * consumes this; nothing routes through it silently.
    */
  def chainMergedGroupBracket(tableDir: String, chain: Seq[String],
      groupCol: String): Option[Seq[(Option[String], Long, Long)]] = {
    if (chain.isEmpty) return None
    val withLines = chain.map(l =>
      l -> statsLines(tableDir, l).getOrElse(Seq.empty))
    val caps = shadowCaps(tableDir, withLines)
    val capsTotal =
      if (caps.exists(_.isEmpty)) None else Some(caps.flatten.sum)
    val perLayer: Seq[Option[Seq[(Option[String], Long)]]] = withLines
      .filter { case (l, _) => layerHasData(tableDir, l) }
      .map { case (_, lines) =>
        for {
          hist <- histExactFromLines(lines, groupCol)
          n <- nFromLines(lines)
        } yield {
          val nn = nnFromLines(lines, groupCol).getOrElse(hist.map(_._2).sum)
          val entries = hist.map { case (tok, cnt) => (Option(tok), cnt) }
          if (n - nn > 0) entries :+ ((None: Option[String]), n - nn)
          else entries
        }
      }
    if (perLayer.exists(_.isEmpty)) None
    else Some(perLayer.flatten.flatten
      .groupBy(_._1).toSeq
      .map { case (g, xs) =>
        val hi = xs.map(_._2).sum
        (g, capsTotal.fold(0L)(ct => math.max(0L, hi - ct)), hi)
      })
  }

  /** Core of [[chainTopKLayers]], generic over the sort key's envelope
    * ordering (Double for numeric/date, String for lexicographic — ASCII
    * envelopes only, where Java and UTF8String byte order provably
    * agree; see the writeLayerStats guard).
    */
  private def topKSelect[T](survivors: Seq[(String, Seq[Array[String]])],
      envOf: Seq[Array[String]] => Option[(T, T)], column: String, k: Int,
      descending: Boolean, ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])], nullCols: Seq[String],
      notNullCols: Seq[String],
      orGroups: Seq[Seq[ZoneArm]] = Nil,
      // upper bound on the layer's rows LOST to younger layers (merge-on-
      // read shadowing + tombstones) — None = unbounded, the layer proves
      // no qualifying rows but its envelope still EXCLUDES soundly (a
      // surviving row is always one of the layer's recorded rows, so the
      // recorded envelope covers it). Append-only chains pass the default
      // zero.
      lossOf: String => Option[Long] = _ => Some(0L))
      (implicit ord: Ordering[T]): Seq[String] = {
    // upper bound on this layer's rows FAILING the conjuncts (None =
    // unbounded → the layer can't prove any qualifying rows): each
    // conjunct's exact pass count (shared containment rules,
    // conjunctPassCounts — or-groups included, where decidable) caps
    // its failures at n − pass
    def failUB(lines: Seq[Array[String]], n: Long): Option[Long] = {
      val passes = conjunctPassCounts(lines, n, ranges, strEquals,
        nullCols, notNullCols, orGroups)
      if (passes.exists(_.isEmpty)) None
      else Some(passes.flatten.map(n - _).sum)
    }
    // a conjunct on the sort key itself rejects its nulls globally
    val sortKeyNotNull = notNullCols.contains(column) ||
      ranges.exists(_._1 == column) || strEquals.exists(_._1 == column)
    // per layer (sidecar already read): envelope over the NON-NULL sort
    // keys, plus LOWER bounds on qualifying non-null/null rows. Nulls
    // need their own accounting — Spark sorts them FIRST under asc and
    // LAST under desc, and the envelope says nothing about them.
    final case class LS(layer: String, env: Option[(T, T)],
        qualNN: Long, qualNull: Long, mayQualNull: Boolean)
    val (known, unknown) = survivors.map { case (l, lines) =>
      (l, lines, envOf(lines), nFromLines(lines), nnFromLines(lines, column))
    }.partitionMap {
      // "known": counts present, and the envelope either present or
      // vacuously absent (no non-null values). A missing envelope WITH
      // non-null rows is the NaN write-guard (or a legacy sidecar) —
      // order unknowable, always read, contributes nothing to the bound.
      case (l, lines, env, Some(n), Some(nn)) if env.isDefined || nn == 0 =>
        // every deduction is an upper bound on rows REMOVED from the
        // pool (conjunct failures, younger-layer shadowing/tombstones),
        // so subtracting both keeps each qual a sound lower bound
        val f = for (a <- failUB(lines, n); b <- lossOf(l)) yield a + b
        val nulls = n - nn
        Left(LS(l, env,
          qualNN = f.fold(0L)(x => math.max(0L, nn - x)),
          qualNull =
            if (sortKeyNotNull) 0L else f.fold(0L)(x => math.max(0L, nulls - x)),
          mayQualNull = !sortKeyNotNull && nulls > 0))
      case (l, _, _, _, _) => Right(l)
    }
    val all = survivors.map(_._1)
    if (known.isEmpty) all
    else if (descending) {
      // nulls sort LAST: they only matter when the provable qualifying
      // non-null rows cannot fill k (unknown layers are read either way)
      if (known.map(_.qualNN).sum < k) all
      else {
        val byExit = known.filter(_.env.isDefined)
          .sortBy(_.env.get._1)(ord.reverse)
        var acc = 0L
        var bound: Option[T] = None
        byExit.foreach { s =>
          if (bound.isEmpty) {
            acc += s.qualNN; if (acc >= k) bound = Some(s.env.get._1)
          }
        }
        val b = bound.get // qualNN sits on env-bearing layers only
        // strict exclusion: a pruned layer's every non-null value is
        // < b while >= k qualifying non-null rows >= b exist, and its
        // nulls sort after all of those — no tiebreak can promote either
        known.filter(s => s.env.exists(e => ord.gteq(e._2, b)))
          .map(_.layer) ++ unknown
      }
    } else {
      // nulls sort FIRST: every layer that may hold a QUALIFYING null
      // stays (which nulls make the cut is a tiebreak question), and the
      // provable qualifying nulls shrink the value budget; unknown
      // layers may hide more — counting only the provable ones keeps k'
      // an over-estimate (conservative)
      val nullLayers = known.filter(_.mayQualNull).map(_.layer)
      val kPrime = k - known.map(_.qualNull).sum
      if (kPrime <= 0) nullLayers ++ unknown
      else if (known.map(_.qualNN).sum < kPrime) all
      else {
        val byExit = known.filter(_.env.isDefined).sortBy(_.env.get._2)(ord)
        var acc = 0L
        var bound: Option[T] = None
        byExit.foreach { s =>
          if (bound.isEmpty) {
            acc += s.qualNN; if (acc >= kPrime) bound = Some(s.env.get._2)
          }
        }
        val b = bound.get
        (known.filter(s => s.mayQualNull || s.env.exists(e => ord.lteq(e._1, b)))
          .map(_.layer) ++ unknown).distinct
      }
    }
  }

  /** The latest table restricted to layers whose `[min, max]` envelope
    * of `column` INTERSECTS `[lo, hi]` — layers without stats (or
    * without the column) are conservatively included, so the result is
    * always a superset of the matching rows and callers still apply the
    * precise filter. At scale this skips whole layers (their parquet
    * footers are never even opened) when the chain is range-clustered,
    * e.g. time-ordered appends queried for a recent window.
    *
    * APPEND-ONLY chains only (like [[readLatest]]): a chain holding
    * upsert or tombstone layers needs the merge-on-read readers; gate on
    * [[latestChainMergeFree]] first.
    */
  def readLatestRange(spark: SparkSession, tableDir: String,
      column: String, lo: Double, hi: Double): DataFrame =
    readChainRange(spark, tableDir, latestLayers(tableDir), column, lo, hi)

  /** [[readLatestRange]] over an EXPLICIT chain — callers that already
    * hold a resolved chain (e.g. the planner's zone-map routing, which
    * derives it from the registered frame's own input files) prune
    * against exactly that snapshot, so a commit racing the read can
    * neither skew the result vs the unrouted frame nor slip an
    * upsert/tombstone layer past a merge-free check done on the same
    * chain.
    */
  def readChainRange(spark: SparkSession, tableDir: String,
      chain: Seq[String], column: String, lo: Double, hi: Double): DataFrame =
    readChainRanges(spark, tableDir, chain, Seq((column, lo, hi)))

  /** [[readChainRange]] over SEVERAL envelopes at once: a layer survives
    * only if it intersects EVERY asked range (conjunct semantics — each
    * range further narrows the chain).
    *
    * `pinSchema` pins the OUTPUT schema along with the chain: without
    * it the read re-resolves the newest `_log/<seq>.schema` sidecar at
    * query time, so a schema-evolution commit racing the plan would give the
    * routed scan extra (null) columns the caller's unrouted frame does
    * not have. Callers holding a registered frame pass its schema so
    * routed and unrouted paths stay column-identical under any race.
    */
  def readChainRanges(spark: SparkSession, tableDir: String,
      chain: Seq[String], ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])] = Nil,
      pinSchema: Option[org.apache.spark.sql.types.StructType] = None,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : DataFrame = {
    def read(layers: Seq[String]): DataFrame = pinSchema match {
      case Some(st) =>
        spark.read.schema(st).parquet(layers.map(l => s"$tableDir/$l"): _*)
      case None => readChain(spark, tableDir, layers, None)
    }
    val kept = chain.filter { l =>
      // ONE sidecar read per layer shared by every conjunct below (a
      // per-lookup re-read multiplies plan-time metadata I/O by the
      // conjunct count on long chains); a missing sidecar → empty lines
      // → every lookup misses → the layer is conservatively kept
      zoneKeep(statsLines(tableDir, l).getOrElse(Seq.empty),
        ranges, strEquals, nullCols, notNullCols, orGroups)
    }
    // an empty pruned chain still needs the table schema: read the given
    // chain's schema with an always-false filter
    if (kept.isEmpty) read(chain).filter(lit(false))
    else read(kept)
  }

  /** EXACT count of rows matching the conjuncts, from the `_stats`
    * sidecars alone — no parquet footer opens (the reference's
    * CountFilterNode intersected with RangeSelection, at layer
    * granularity). Per layer the count is decidable when:
    *  - the zone test EXCLUDES the layer → 0 (no row can match);
    *  - every conjunct's pass count is pinned exactly AND AT MOST ONE
    *    of them passes fewer than all `n` rows — rows failing the
    *    conjunction then fail exactly that one conjunct, so the
    *    intersection is its pass count (the all-pass and single-conjunct
    *    cases fall out as the 0- and 1-loose specializations; with TWO
    *    loose conjuncts the overlap of their failure sets is unknowable
    *    from per-column ledgers).
    * Any undecidable layer makes the whole answer None — callers fall
    * back to the zone-narrowed counting scan they already had. APPEND-
    * ONLY chains only (merge-on-read counts are argmax results, not
    * layer sums) — gate on [[chainMergeFree]] first.
    */
  def chainMatchCount(tableDir: String, chain: Seq[String],
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : Option[Long] = {
    val nConjuncts = ranges.size + strEquals.size + nullCols.size +
      notNullCols.size + orGroups.size
    if (nConjuncts == 0) return chainRowCount(tableDir, chain)
    val perLayer = chain.map { l =>
      val lines = statsLines(tableDir, l).getOrElse(Seq.empty)
      if (!zoneKeep(lines, ranges, strEquals, nullCols, notNullCols,
          orGroups))
        Some(0L)
      else nFromLines(lines).flatMap { n =>
        val passes = conjunctPassCounts(lines, n, ranges, strEquals,
          nullCols, notNullCols, orGroups)
        if (passes.exists(_.isEmpty)) None
        else {
          val loose = passes.flatten.filter(_ < n)
          if (loose.size <= 1) Some(loose.headOption.getOrElse(n))
          else None
        }
      }
    }
    if (perLayer.exists(_.isEmpty)) None else Some(perLayer.flatten.sum)
  }

  /** EXACT single-column GROUPED counts from the `_stats` sidecars alone
    * — the layer-level analog of the reference's Aggregated action over
    * per-value bitmap cardinalities: each layer's complete value
    * histogram (written for low-cardinality string/date columns) sums
    * across the chain, no parquet footer opens. Group tokens are the
    * sidecar encoding (strings verbatim, dates as epoch-day doubles);
    * None in the group slot is the null group.
    *
    * Filter conjuncts compose two ways:
    *  - conjuncts ON the group column apply ENTRY-WISE to the histogram
    *    (a range keeps entries inside [lo, hi], an in-set keeps members,
    *    isNotNull drops the null group, isNull keeps ONLY it) — exact
    *    for any layer with a histogram, no containment needed;
    *  - every OTHER conjunct must provably pass ALL of the layer's rows
    *    (envelope containment + zero nulls), else the per-group split is
    *    unknowable and the layer decides the whole answer is None
    *    (callers fall back to the zone-narrowed scan).
    * Zone-excluded layers contribute nothing. APPEND-ONLY chains only —
    * gate on [[chainMergeFree]] first.
    */
  def chainGroupCount(tableDir: String, chain: Seq[String],
      groupCol: String,
      ranges: Seq[(String, Double, Double)] = Nil,
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      // disjunctive conjuncts: zone-narrow per layer; a group whose
      // arms are all COMPLETE and constrain ONLY the group column
      // applies ENTRY-WISE to the histogram tokens (the disjunction is
      // then a function of the group value — exactly as sound as the
      // plain group-column range test); every OTHER group must provably
      // pass ALL of a layer's rows (orGroupPassCount == n), since its
      // per-group split is unknowable from per-column ledgers
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : Option[Seq[(Option[String], Long)]] = {
    val gRanges = ranges.filter(_._1 == groupCol)
    val gStrEqs = strEquals.filter(_._1 == groupCol)
    val gIsNull = nullCols.contains(groupCol)
    val gNotNull = notNullCols.contains(groupCol)
    val oRanges = ranges.filterNot(_._1 == groupCol)
    val oStrEqs = strEquals.filterNot(_._1 == groupCol)
    val oNull = nullCols.filterNot(_ == groupCol)
    val oNotNull = notNullCols.filterNot(_ == groupCol)
    val (gOgs, oOgs) = orGroups.partition(
      orGroupSingleColumn(_).contains(groupCol))
    def entryPasses(tokenValue: String): Option[Boolean] = {
      // isNull(g) rejects non-nulls; a failed set test decides false
      // even when a sibling range token is undecodable
      if (gIsNull ||
          !gStrEqs.forall { case (_, vs) => vs.contains(tokenValue) })
        return Some(false)
      // ranges only form on numeric/date columns, so a group-col range
      // implies a date group: tokens are epoch-day doubles — an
      // UNDECODABLE token (stale alias sidecar) is unknowable, and the
      // caller declines the layer to the scan (histEntriesWhere)
      val rangesOk: Option[Boolean] =
        if (gRanges.isEmpty) Some(true)
        else tokenValue.toDoubleOption.map(v =>
          gRanges.forall { case (_, lo, hi) => lo <= v && v <= hi })
      val all = rangesOk +: gOgs.map(anyArmPassesToken(_, tokenValue))
      if (all.contains(Some(false))) Some(false)
      else if (all.forall(_.contains(true))) Some(true)
      else None
    }
    val perLayer: Seq[Option[Seq[(Option[String], Long)]]] = chain.map { l =>
      val lines = statsLines(tableDir, l).getOrElse(Seq.empty)
      if (!zoneKeep(lines, ranges, strEquals, nullCols, notNullCols,
          orGroups))
        Some(Nil)
      else nFromLines(lines).flatMap { n =>
        // every non-group conjunct must pass ALL rows of this layer
        // (or-groups not entirely on the group column included — their
        // per-group split is unknowable unless they pass everything)
        val othersPassAll: Boolean =
          conjunctPassCounts(lines, n, oRanges, oStrEqs, oNull, oNotNull,
            oOgs).forall(_.exists(_ == n))
        if (!othersPassAll) None
        else {
          val nnG = nnFromLines(lines, groupCol)
          // the null group survives only when NO conjunct rejects null
          // rows: ranges/equalities/isNotNull do, and a group-column
          // or-group keeps it only via a null-accepting arm
          val nullGroupWanted = !gNotNull && gRanges.isEmpty &&
            gStrEqs.isEmpty && gOgs.forall(_.exists(armPassesNull))
          if (gIsNull) {
            // only the null group survives; no histogram needed
            if (gRanges.nonEmpty || gStrEqs.nonEmpty || gNotNull ||
                !gOgs.forall(_.exists(armPassesNull))) Some(Nil)
            else nnG.map(nn => if (n - nn > 0) Seq((None, n - nn)) else Nil)
          } else histExactFromLines(lines, groupCol).flatMap { hist =>
            histEntriesWhere(hist, entryPasses).flatMap { kept =>
              if (!nullGroupWanted) Some(kept)
              else nnG.map(nn =>
                if (n - nn > 0) kept :+ ((None: Option[String]), n - nn)
                else kept)
            }
          }
        }
      }
    }
    if (perLayer.exists(_.isEmpty)) None
    else Some(perLayer.flatten.flatten
      .groupBy(_._1).toSeq
      .map { case (g, xs) => (g, xs.map(_._2).sum) })
  }

  /** Per-column slice of the filter conjuncts as they apply to a group
    * column's histogram tokens — shared by the one- and two-column
    * grouped metadata counts. Ranges only form on numeric/date columns,
    * so tokens under a range are epoch-day doubles by construction.
    */
  private final case class GroupPred(
      ranges: Seq[(Double, Double)], strEqs: Seq[Seq[String]],
      isNull: Boolean, notNull: Boolean,
      // or-groups whose arms ALL constrain this column (complete arms
      // only — orGroupSingleColumn): the disjunction is then a function
      // of the group value and applies entry-wise, exactly like the
      // plain range/set conjuncts above
      ogs: Seq[Seq[ZoneArm]] = Nil) {
    // None = the token is undecodable under a range test (stale alias
    // sidecar) — callers decline the layer, never throw (armPassesToken
    // doc has the full rule)
    def entryPasses(tok: String): Option[Boolean] =
      if (isNull || !strEqs.forall(_.contains(tok))) Some(false)
      else {
        val rangesOk: Option[Boolean] =
          if (ranges.isEmpty) Some(true)
          else tok.toDoubleOption.map(v =>
            ranges.forall { case (lo, hi) => lo <= v && v <= hi })
        val all = rangesOk +: ogs.map(anyArmPassesToken(_, tok))
        if (all.contains(Some(false))) Some(false)
        else if (all.forall(_.contains(true))) Some(true)
        else None
      }
    def nullPasses: Boolean = !notNull && ranges.isEmpty &&
      strEqs.isEmpty && ogs.forall(_.exists(armPassesNull))
  }
  private def groupPred(c: String, ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])], nullCols: Seq[String],
      notNullCols: Seq[String],
      orGroups: Seq[Seq[ZoneArm]] = Nil): GroupPred =
    GroupPred(
      ranges.collect { case (`c`, lo, hi) => (lo, hi) },
      strEquals.collect { case (`c`, vs) => vs },
      nullCols.contains(c), notNullCols.contains(c),
      orGroups.filter(orGroupSingleColumn(_).contains(c)))

  /** EXACT TWO-column grouped counts from the sidecars alone: a layer is
    * decidable when ONE group column has a complete value histogram and
    * the OTHER is provably layer-CONSTANT (all `n` rows share one value —
    * envelope min==max with a full non-null ledger — or all rows null),
    * so every histogram entry pairs with that constant. The canonical
    * win is a day-partitioned chain grouped by (day, type): day is
    * constant per layer, type has a complete histogram — zero footers.
    * Conjuncts on a group column apply entry-wise (constant columns test
    * their single value) — or-groups whose arms all constrain ONE group
    * column included, exactly like the one-column rollup; every other
    * conjunct must provably pass ALL rows. Any undecidable layer → None
    * (callers fall back to the grouping scan). APPEND-ONLY chains only —
    * gate on [[chainMergeFree]].
    */
  def chainGroupCountTwo(tableDir: String, chain: Seq[String],
      colA: String, colB: String,
      ranges: Seq[(String, Double, Double)] = Nil,
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      orGroups: Seq[Seq[ZoneArm]] = Nil)
      : Option[Seq[((Option[String], Option[String]), Long)]] = {
    val pA = groupPred(colA, ranges, strEquals, nullCols, notNullCols,
      orGroups)
    val pB = groupPred(colB, ranges, strEquals, nullCols, notNullCols,
      orGroups)
    val oRanges = ranges.filterNot(r => r._1 == colA || r._1 == colB)
    val oStrEqs = strEquals.filterNot(s => s._1 == colA || s._1 == colB)
    val oNull = nullCols.filterNot(c => c == colA || c == colB)
    val oNotNull = notNullCols.filterNot(c => c == colA || c == colB)
    // or-groups entirely on ONE group column ride pA/pB entry-wise;
    // the rest must pass whole layers (their per-group split is
    // unknowable from per-column ledgers)
    val oOgs = orGroups.filterNot(g =>
      orGroupSingleColumn(g).exists(c => c == colA || c == colB))
    // the column's single value across ALL n rows: Some(Some(tok)) when
    // constant non-null, Some(None) when all-null, None when unprovable.
    // Tokens use the histogram encoding (dates as epoch-day doubles), so
    // envelope doubles stringify identically to histogram tokens.
    def constToken(lines: Seq[Array[String]], n: Long,
        c: String): Option[Option[String]] =
      nnFromLines(lines, c) match {
        case Some(0L) => Some(None)
        case Some(nn) if nn == n =>
          envFromLines(lines, c) match {
            // min==max proves a constant only inside the exactness
            // window: a long column holding {2^60, 2^60+1} records a
            // collapsed lo==hi envelope and is NOT constant (exactVal)
            case Some((lo, hi)) if lo == hi && exactVal(lo) =>
              Some(Some(lo.toString))
            case Some(_) => None
            case None => strEnvFromLines(lines, c) match {
              case Some((lo, hi)) if lo == hi => Some(Some(lo))
              case _ => None
            }
          }
        case _ => None
      }
    val perLayer: Seq[Option[Seq[((Option[String], Option[String]), Long)]]] =
      chain.map { l =>
        val lines = statsLines(tableDir, l).getOrElse(Seq.empty)
        if (!zoneKeep(lines, ranges, strEquals, nullCols, notNullCols,
            orGroups))
          Some(Nil)
        else nFromLines(lines).flatMap { n =>
          val othersPassAll =
            conjunctPassCounts(lines, n, oRanges, oStrEqs, oNull, oNotNull,
              oOgs).forall(_.exists(_ == n))
          if (!othersPassAll) None
          else {
            // (histogram column h, constant column c); emit pairs in
            // (A, B) order via `swap`
            def oneWay(h: String, ph: GroupPred, c: String, pc: GroupPred,
                swap: Boolean)
                : Option[Seq[((Option[String], Option[String]), Long)]] =
              for {
                hist <- histExactFromLines(lines, h)
                ct <- constToken(lines, n, c)
                // an undecidable constant-column test (undecodable
                // token under a range) declines the layer — never throw
                cPasses <- ct match {
                  case Some(t) => pc.entryPasses(t)
                  case None => Some(pc.nullPasses)
                }
                kept <-
                  if (!cPasses) Some(Nil)
                  else histEntriesWhere(hist, ph.entryPasses)
              } yield {
                if (!cPasses) Nil
                else {
                  val nnH = nnFromLines(lines, h).getOrElse(
                    hist.map(_._2).sum) // ledger implied by the histogram
                  val withNull =
                    if (ph.nullPasses && n - nnH > 0)
                      kept :+ ((None: Option[String]), n - nnH)
                    else kept
                  withNull.map { case (hv, cnt) =>
                    (if (swap) (ct, hv) else (hv, ct)) -> cnt }
                }
              }
            oneWay(colA, pA, colB, pB, swap = false)
              .orElse(oneWay(colB, pB, colA, pA, swap = true))
          }
        }
      }
    if (perLayer.exists(_.isEmpty)) None
    else Some(perLayer.flatten.flatten
      .groupBy(_._1).toSeq
      .map { case (g, xs) => (g, xs.map(_._2).sum) })
  }

  /** Zone-pruned range read over a MERGE-ON-READ chain. A layer whose
    * envelope excludes the asked conjuncts can't SUPPLY a matching row,
    * but its rows still SHADOW same-key rows in older layers (and its
    * tombstones still delete) — dropping it outright would resurrect
    * superseded versions. So every layer keeps participating in the
    * per-key argmax, but zone-EXCLUDED layers are read as a PK-ONLY
    * column-pruned scan (payload columns null-padded) tagged
    * non-candidate, and only winners from zone-SURVIVING layers are
    * emitted. The result equals `merged.filter(conjuncts)` row-for-row
    * (callers still apply the precise predicate), while excluded layers'
    * payload columns are never decoded — on a wide table at 100 TB the
    * scan narrows from every column of every layer to every column of
    * the WINDOW's layers plus one pk column of the rest.
    *
    * Soundness: the argmax runs over the full chain with true layer
    * ordinals, so the per-key winner is exactly the unpruned winner. A
    * winner from an excluded layer either fails the conjuncts (its
    * envelope excludes every row it holds) or is a tombstone — in both
    * cases the unpruned plan emits nothing for that key.
    */
  def readChainRangesMerged(spark: SparkSession, tableDir: String,
      chain: Seq[String], pk: String,
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])] = Nil,
      nullCols: Seq[String] = Nil, notNullCols: Seq[String] = Nil,
      pinSchema: Option[StructType] = None,
      orGroups: Seq[Seq[ZoneArm]] = Nil,
      // extra candidacy restriction (e.g. [[chainTopKLayersMerged]]):
      // layers outside the set degrade to pk-only shadow scans exactly
      // like zone-excluded ones — they can't supply an emitted row but
      // still override older versions and carry tombstones
      keepLayers: Option[Set[String]] = None): DataFrame = {
    val indexed = chain.zipWithIndex
    val dataLayers = indexed.filter { case (l, _) => layerHasData(tableDir, l) }
    require(dataLayers.nonEmpty,
      s"merged range read of $tableDir: chain ${chain.mkString(",")} has no data layers")
    val schema = pinSchema
      .orElse(schemaAsOf(tableDir, Long.MaxValue))
      .getOrElse(spark.read.parquet(s"$tableDir/${dataLayers.head._1}").schema)
    val payload = schema.fields.map(_.name).filter(_ != pk).toSeq
    def nullPad(df: DataFrame): DataFrame = payload.foldLeft(df) { (d, c) =>
      d.withColumn(c, lit(null).cast(schema(c).dataType))
    }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val dataParts = dataLayers.map { case (l, i) =>
      val full = spark.read.schema(schema).parquet(s"$tableDir/$l")
      val cand = keepLayers.forall(_.contains(l)) &&
        zoneKeep(statsLines(tableDir, l).getOrElse(Seq.empty),
          ranges, strEquals, nullCols, notNullCols, orGroups)
      // non-candidate: select(pk) BEFORE the null-pad so the parquet scan
      // decodes exactly one column (ReadSchema = pk)
      val part = if (cand) full else nullPad(full.select(col(pk)))
      part.withColumn("__layer", lit(i)).withColumn("__del", lit(false))
        .withColumn("__cand", lit(cand))
    }
    val tombParts = indexed.flatMap { case (l, i) =>
      val t = new java.io.File(s"$tableDir/$l/_tombstones")
      if (!t.isDirectory) None
      else Some(nullPad(spark.read.parquet(t.getPath).select(col(pk)))
        .withColumn("__layer", lit(i)).withColumn("__del", lit(true))
        .withColumn("__cand", lit(false)))
    }
    val events = (dataParts ++ tombParts).reduce(_.unionByName(_))
    val winner = events.groupBy(col(pk)).agg(
      max_by(struct((payload ++ Seq("__del", "__cand")).map(col): _*),
        col("__layer")).as("__w"))
    winner.filter(!col("__w.__del") && col("__w.__cand"))
      .select(schema.fields.map(f =>
        if (f.name == pk) col(pk) else col(s"__w.${f.name}").as(f.name)): _*)
  }

  /** Per-conjunct EXACT pass count for one layer: Some(p) when the
    * envelope/ledger pins exactly how many of the layer's `n` rows
    * satisfy the conjunct — a range/equality whose envelope is FULLY
    * contained passes exactly the column's non-null rows, isNull passes
    * exactly the complement, isNotNull exactly the non-null count —
    * None when only bounds are known (partial containment, missing
    * ledger). The single source of the containment rules shared by the
    * filtered top-k (failure caps = n − pass), the filtered count, and
    * the grouped count's whole-layer test.
    */
  private def conjunctPassCounts(lines: Seq[Array[String]], n: Long,
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])],
      nullCols: Seq[String], notNullCols: Seq[String],
      orGroups: Seq[Seq[ZoneArm]] = Nil): Seq[Option[Long]] =
    ranges.map { case (c, lo, hi) =>
      (envFromLines(lines, c) match {
        // containment is only an EXACT proof inside the double-exactness
        // window: a rounded long envelope or literal can make
        // "envelope ⊆ interval" hold in doubles while a true row fails
        // the true predicate (see exactVal) — past the window, decline
        case Some((mn, mx)) if lo <= mn && mx <= hi &&
            exactVal(mn) && exactVal(mx) &&
            exactBound(lo) && exactBound(hi) =>
          nnFromLines(lines, c)
        case _ => None
      }).orElse(histRangeCount(lines, c, lo, hi))
    } ++
    strEquals.map { case (c, vs) =>
      (strEnvFromLines(lines, c) match {
        case Some((mn, mx)) if mn == mx && vs.contains(mn) =>
          nnFromLines(lines, c)
        case _ => None
      }).orElse(histExactFromLines(lines, c).map(
        _.collect { case (t, cnt) if vs.contains(t) => cnt }.sum))
    } ++
    nullCols.map(c => nnFromLines(lines, c).map(nn => n - nn)) ++
    notNullCols.map(c => nnFromLines(lines, c)) ++
    orGroups.map(orGroupPassCount(lines, n, _))

  /** EXACT pass count of one range conjunct from a COMPLETE histogram:
    * Σ counts of tokens inside the window — exact for ANY overlap shape
    * (a window splitting the layer included), where the envelope proof
    * needs full containment. Token-vs-literal compares are rounding-
    * safe: tokens are strictly inside ±2^53 ([[histExactFromLines]]),
    * and a literal the rounding moved lies beyond the window edge where
    * no token can sit on the wrong side. Nulls pass no range, and the
    * histogram covers exactly the non-null values. An undecodable token
    * (stale alias sidecar) declines.
    */
  private def histRangeCount(lines: Seq[Array[String]], c: String,
      lo: Double, hi: Double): Option[Long] =
    histExactFromLines(lines, c).flatMap { hist =>
      val toks = hist.map { case (t, cnt) => (t.toDoubleOption, cnt) }
      if (toks.exists(_._1.isEmpty)) None
      else Some(toks.collect {
        case (Some(v), cnt) if lo <= v && v <= hi => cnt }.sum)
    }

  /** EXACT pass count of ONE disjunctive conjunct over a layer, when
    * the sidecars pin it. Disjunctions CAN feed counts in four provable
    * shapes (everything else stays None — pure narrowing only, as
    * before):
    *  - some COMPLETE arm provably passes ALL `n` rows (each of its
    *    conjuncts does) → the disjunction passes all `n`;
    *  - EVERY arm is zone-excluded (may-contain test fails even on the
    *    decidable subset) → 0;
    *  - all arms are COMPLETE single ranges on ONE common column — the
    *    two-disjoint-windows shape users actually write — and some
    *    arm's interval CONTAINS the envelope: every non-null value
    *    passes that arm, and no null passes ANY arm (SQL range
    *    comparisons reject null), so the count is exactly the column's
    *    non-null ledger. The reference's Or unions disjoint per-value
    *    bitmaps the same way (filter/operators/or.cpp);
    *  - all arms are COMPLETE and constrain ONE common column that
    *    carries an exact complete histogram: the pass count is the SUM
    *    of the counts of tokens passing ANY arm, plus the null ledger
    *    when some arm accepts nulls (a pure isNull arm) — exact for
    *    ANY window layout, including a layer whose envelope STRADDLES
    *    two disjoint windows (pass = pass(a) + pass(b)), the per-value
    *    granularity the reference's Or gets from unioning per-value
    *    bitmaps.
    * `complete` gates the positive rules: an arm that dropped an opaque
    * conjunct could pass fewer rows than its recorded tests admit, and
    * an overcount here would be a wrong answer, not a missed
    * optimization.
    */
  private def orGroupPassCount(lines: Seq[Array[String]], n: Long,
      arms: Seq[ZoneArm]): Option[Long] = {
    def armPassesAll(a: ZoneArm): Boolean = a.complete &&
      conjunctPassCounts(lines, n, a.ranges, a.strEquals, a.nullCols,
        a.notNullCols).forall(_.exists(_ == n))
    def armExcluded(a: ZoneArm): Boolean =
      !zoneKeep(lines, a.ranges, a.strEquals, a.nullCols, a.notNullCols)
    if (arms.exists(armPassesAll)) Some(n)
    else if (arms.forall(armExcluded)) Some(0L)
    else orGroupHistCount(lines, n, arms).orElse {
      val armRanges: Seq[Option[(String, Double, Double)]] = arms.map {
        case a if a.complete && a.strEquals.isEmpty && a.nullCols.isEmpty &&
            a.notNullCols.isEmpty && a.ranges.size == 1 =>
          Some(a.ranges.head)
        case _ => None
      }
      for {
        rs <- if (armRanges.forall(_.isDefined) &&
            armRanges.flatten.map(_._1).distinct.size == 1)
          Some(armRanges.flatten) else None
        (mn, mx) <- envFromLines(lines, rs.head._1)
        if exactVal(mn) && exactVal(mx) // exact proof — see exactVal
        nn <- nnFromLines(lines, rs.head._1)
        if rs.exists { case (_, lo, hi) =>
          lo <= mn && mx <= hi && exactBound(lo) && exactBound(hi) }
      } yield nn
    }
  }

  /** The single column an or-group's arms all constrain, when every
    * arm is COMPLETE and touches exactly one common column — the gate
    * for entry-wise application of the disjunction to that column's
    * histogram tokens (the whole predicate is then a function of the
    * one column, so per-value counts decide it exactly).
    */
  private def orGroupSingleColumn(arms: Seq[ZoneArm]): Option[String] = {
    val perArm = arms.map { a =>
      if (!a.complete) Set.empty[String]
      else (a.ranges.map(_._1) ++ a.strEquals.map(_._1) ++
        a.nullCols ++ a.notNullCols).toSet
    }
    perArm.flatten.distinct match {
      case Seq(c) if perArm.forall(_ == Set(c)) && arms.forall(_.complete) =>
        Some(c)
      case _ => None
    }
  }

  /** Does a NON-NULL histogram token pass this (single-column) arm?
    * Ranges compare the token's double (tokens are exact — see
    * [[histExactFromLines]] — and strict rounded comparisons against a
    * possibly-rounded literal imply the true ones, monotonicity), sets
    * test membership, isNull rejects every non-null value. None when a
    * range test meets an UNDECODABLE token (a stale/aliased sidecar
    * line of another column type) — the same defensive rule zoneKeep
    * applies: such a histogram can't be reasoned about, and callers
    * must DECLINE to the fallback scan rather than throw (or silently
    * count the token as failing, which would UNDERCOUNT — a wrong
    * answer, not a missed optimization).
    */
  private def armPassesToken(a: ZoneArm, tok: String): Option[Boolean] =
    if (a.nullCols.nonEmpty ||
        !a.strEquals.forall { case (_, vs) => vs.contains(tok) })
      Some(false)
    else if (a.ranges.isEmpty) Some(true)
    else tok.toDoubleOption.map(v =>
      a.ranges.forall { case (_, lo, hi) => lo <= v && v <= hi })

  /** Does a token pass SOME arm of a disjunction, three-valued: a
    * decided-true arm decides the whole OR true even when a sibling arm
    * is undecidable; all-decided-false is false; otherwise unknowable.
    */
  private def anyArmPassesToken(arms: Seq[ZoneArm],
      tok: String): Option[Boolean] = {
    val rs = arms.map(armPassesToken(_, tok))
    if (rs.contains(Some(true))) Some(true)
    else if (rs.forall(_.isDefined)) Some(false)
    else None
  }

  /** Keep a histogram's entries passing `pass`, DECLINING the whole
    * histogram when any token is undecidable (None from the predicate):
    * the exact grouped/count paths must never consume a histogram they
    * can't fully reason about. Shared by the one- and two-column
    * grouped metadata counts.
    */
  private def histEntriesWhere(hist: Seq[(String, Long)],
      pass: String => Option[Boolean])
      : Option[Seq[(Option[String], Long)]] = {
    val decided = hist.map { case (tok, cnt) =>
      pass(tok).map(p => (tok, cnt, p)) }
    if (decided.exists(_.isEmpty)) None
    else Some(decided.flatten.collect { case (tok, cnt, true) =>
      (Option(tok), cnt) })
  }

  /** Does a NULL row pass this (single-column) arm? Every conjunct must
    * accept null: ranges, equalities and isNotNull reject it; a pure
    * isNull arm accepts.
    */
  private def armPassesNull(a: ZoneArm): Boolean =
    a.ranges.isEmpty && a.strEquals.isEmpty && a.notNullCols.isEmpty

  /** [[orGroupPassCount]]'s histogram shape: all arms complete on ONE
    * common column with an exact complete histogram → Σ counts of
    * tokens passing any arm, plus the null complement when some arm
    * accepts nulls. Exact for any window layout — disjoint, contained,
    * overlapping, or straddling a layer's envelope.
    */
  private def orGroupHistCount(lines: Seq[Array[String]], n: Long,
      arms: Seq[ZoneArm]): Option[Long] =
    for {
      c <- orGroupSingleColumn(arms)
      hist <- histExactFromLines(lines, c)
      nn <- nnFromLines(lines, c)
      // an undecodable token under a range arm declines the whole
      // histogram (histEntriesWhere) — fall back to the scan, never
      // throw or undercount
      kept <- histEntriesWhere(hist, anyArmPassesToken(arms, _))
    } yield {
      val tokPass = kept.map(_._2).sum
      val nullPass = if (arms.exists(armPassesNull)) n - nn else 0L
      tokPass + nullPass
    }

  /** One arm of a DISJUNCTIVE zone conjunct (`filter(a || b)`): the
    * stats-decidable conjuncts of that arm. A layer passes an or-group
    * iff SOME arm's tests keep it — the union of the arms' envelopes,
    * exactly how the reference's Or operator unions its operands'
    * bitmaps (filter/operators/or.cpp). An arm testing only a SUBSET of
    * its conjuncts (the decidable ones) stays sound for NARROWING: the
    * test is already may-contain, and fewer conjuncts only keeps more
    * layers. `complete` marks an arm whose recorded tests are the arm's
    * ENTIRE predicate (no opaque conjunct was dropped) — only complete
    * arms may feed the EXACT pass counts ([[conjunctPassCounts]]'s
    * or-group rules), where an unseen conjunct would overcount.
    */
  final case class ZoneArm(ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])],
      nullCols: Seq[String], notNullCols: Seq[String],
      complete: Boolean = false) {
    def nonEmpty: Boolean =
      ranges.nonEmpty || strEquals.nonEmpty ||
        nullCols.nonEmpty || notNullCols.nonEmpty
  }

  /** Can a layer with these sidecar lines hold a row satisfying EVERY
    * conjunct? (The zone-map intersection test shared by the range
    * reader and the filtered top-k selector.) Missing stats always keep
    * the layer; an all-null column ledger (`c: 0`) proves a range or
    * equality conjunct over it unsatisfiable (SQL comparisons reject
    * null), which the envelope alone can't (no envelope is written for
    * an all-null column). `orGroups` adds disjunctive conjuncts: the
    * layer must additionally pass SOME arm of every group (pure
    * narrowing only — disjunctions never feed count/top-k bounds, whose
    * per-conjunct pass counts don't compose through OR).
    */
  private def zoneKeep(lines: Seq[Array[String]],
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])],
      nullCols: Seq[String], notNullCols: Seq[String],
      orGroups: Seq[Seq[ZoneArm]]): Boolean =
    zoneKeep(lines, ranges, strEquals, nullCols, notNullCols) &&
      orGroups.forall(_.exists(a =>
        zoneKeep(lines, a.ranges, a.strEquals, a.nullCols, a.notNullCols)))

  private def zoneKeep(lines: Seq[Array[String]],
      ranges: Seq[(String, Double, Double)],
      strEquals: Seq[(String, Seq[String])],
      nullCols: Seq[String], notNullCols: Seq[String]): Boolean = {
    def hasNonNull(column: String): Boolean =
      nnFromLines(lines, column).forall(_ > 0)
    ranges.forall { case (column, lo, hi) =>
      // a COMPLETE histogram decides may-contain per VALUE — the layer-
      // granularity analog of the reference's per-value bitmaps
      // (string_in_set.cpp, lineage_index.h): a layer whose sparse value
      // set skips the window entirely is excluded even when its min/max
      // envelope straddles it. EXACT exclusion, not just heuristic: the
      // histogram lists every non-null value (equality/ranges reject
      // nulls), and token-vs-literal compares are rounding-safe — tokens
      // are inside ±2^53 (histExactFromLines) while a literal the
      // rounding moved sits beyond it, where no token can match anyway.
      histExactFromLines(lines, column) match {
        case Some(hist) =>
          val toks = hist.map(_._1.toDoubleOption)
          // an undecodable token (a column whose name aliases a stale
          // sidecar line of another type) means the histogram can't be
          // reasoned about — keep the layer, never exclude on it
          if (toks.exists(_.isEmpty)) true
          else toks.flatten.exists(v => v >= lo && v <= hi)
        case None =>
          val envOk = envFromLines(lines, column) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => hasNonNull(column)
          }
          // POINT probe (lo == hi — a numeric/date pk equality): the
          // pk bloom decides per VALUE what the envelope only bounds —
          // a random-id chain whose every envelope straddles the probe
          // still prunes to the layers that actually hold the key
          envOk && (lo != hi || bloomKeepsDouble(lines, column, lo))
      }
    } && strEquals.forall { case (column, values) =>
      histExactFromLines(lines, column) match {
        // per-value membership: kept iff SOME sought value is actually
        // present (string histogram tokens are verbatim values)
        case Some(hist) =>
          val present = hist.map(_._1).toSet
          values.exists(present.contains)
        case None =>
          val envOk = strEnvFromLines(lines, column) match {
            // an equality/in-set conjunct keeps the layer iff SOME
            // sought value can exist in its lexicographic envelope
            case Some((mn, mx)) => values.exists(v => v >= mn && v <= mx)
            case None => hasNonNull(column)
          }
          // uuid-shaped pks: the per-layer bloom is the only per-value
          // metadata a >cap-cardinality string column has (reference
          // bar: per-value StringInSet bitmaps, string_in_set.cpp:64)
          envOk && bloomKeepsString(lines, column, values)
      }
    } && nullCols.forall { column =>
      // isNull(column) keeps only rows where column IS null — a layer
      // whose ledger records zero nulls can't contribute
      (nFromLines(lines), nnFromLines(lines, column)) match {
        case (Some(n), Some(nn)) => n > nn
        case _ => true
      }
    } && notNullCols.forall { column =>
      // isNotNull(column): an all-null layer can't contribute
      nnFromLines(lines, column) match {
        case Some(nn) => nn > 0
        case None => true
      }
    }
  }

  // ---- the per-table commit lock --------------------------------------
  //
  // Every pointer-flipping writer is a read-modify-write: read `latest`
  // (or the existing v-numbers), write new dirs, flip the pointer. None
  // of that is atomic, and since the serve maintenance loop started
  // firing compaction on a timer inside live deployments, the unlocked
  // window is real: a delta committed between a compactor's chain read
  // and its flip would vanish from `latest` (its log entry survives,
  // but the serving pointer no longer includes it — and the next gc may
  // reclaim it). An advisory lock serializes all of them, cheaply:
  // commits are O(batch) and compaction O(table)-but-rare, so writers
  // queueing behind each other is the intended semantics (the same
  // single-writer-at-a-time contract Append's `.append.lock` already
  // enforces for the NDJSON path). READERS never take the lock —
  // pointer flips stay atomic renames and readers keep whatever chain
  // they resolved (layer isolation).
  //
  // The mechanics (JVM ReentrantLock over an OS FileChannel lock on
  // `<tableDir>/.commit.lock`, reentrant via depth counting) live in
  // [[graft.core.DirLock]], shared with the ANN generation swap.
  private def withTableLock[A](tableDir: String)(body: => A): A =
    graft.core.DirLock.withLock(tableDir, ".commit.lock")(body)

  private def flipPointer(tableDir: String, chain: Seq[String],
      tag: Option[String], kind: String,
      schemaJson: Option[String] = None): Unit = {
    val content = chain.mkString(",") + tag.map(t => s" $t").getOrElse("")
    // commit-log entry BEFORE the pointer flip: every entry describes
    // fully-written version dirs (data is on disk before flipPointer), so
    // a crash between the two leaves a valid-but-unpointed entry — the
    // next commit just takes the next sequence number. The log makes
    // every historical data version addressable (readCommit): frozen,
    // reproducible snapshots per training run, the same first-class
    // data-version idea the reference exposes in its API header.
    val logDir = new java.io.File(tableDir, "_log")
    logDir.mkdirs()
    // CRASH RECONCILIATION (under the table lock every caller holds): a
    // crash between the entry write and the pointer rename leaves
    // trailing entries describing chains that were never pointed. Left
    // alone they are PHANTOM commits — readChanges would emit their
    // layers as inserts no later diff retracts (the next commit's chain
    // builds from the stale pointer, and removed-layer diffs are
    // compaction-shaped no-ops), and readCommit would address a version
    // that never served. Rewrite each trailing unpointed entry to the
    // pointed content with kind=compact (a content-preserving no-op:
    // the feed skips it, diffs against it stay correct) and drop its
    // schema sidecar (a phantom evolution must not widen later reads);
    // the orphaned layer dirs fall out of gc's live set. Guarded: only
    // when SOME entry matches the pointer — an unknown layout is left
    // untouched. The race of a reader observing a phantom entry in the
    // instants before the original crash is inherent to log-then-flip
    // ordering; reconciliation bounds the damage to that window instead
    // of forever.
    locally {
      val latestF = new java.io.File(tableDir, "latest")
      if (latestF.isFile) {
        val pointed = java.nio.file.Files.readString(latestF.toPath).trim
        val pointedChain = pointed.split("\\s+").head
        val seqs = commits(tableDir)
        def chainOf(s: Long): String =
          scala.util.Try(java.nio.file.Files.readString(
            new java.io.File(logDir, s.toString).toPath)
            .trim.split("\\s+").head).getOrElse("")
        if (seqs.exists(chainOf(_) == pointedChain)) {
          seqs.reverse.takeWhile(chainOf(_) != pointedChain).foreach { s =>
            java.nio.file.Files.writeString(
              new java.io.File(logDir, s.toString).toPath,
              s"$pointed #kind=compact")
            java.nio.file.Files.deleteIfExists(
              new java.io.File(logDir, s"$s.schema").toPath)
          }
        }
      }
    }
    val seq = commits(tableDir).lastOption.getOrElse(0L) + 1
    // a schema-evolving commit records the new UNIFIED schema as a
    // `<seq>.schema` sidecar next to its log entry (written first, so
    // the entry never references a missing schema); readers resolve the
    // schema in force at any commit as the newest sidecar ≤ that seq —
    // time travel to a pre-evolution commit sees the pre-evolution
    // schema. `commits()` ignores the sidecars (non-numeric names), and
    // gc keeps them: schema history is metadata-sized and later commits
    // depend on it.
    schemaJson.foreach(js => java.nio.file.Files.writeString(
      new java.io.File(logDir, s"$seq.schema").toPath, js))
    // the commit KIND rides only in the log entry (as a self-describing
    // trailing token — `latest` readers never need it, log readers parse
    // it by prefix so tag-present and tag-absent entries stay uniform)
    java.nio.file.Files.writeString(
      new java.io.File(logDir, seq.toString).toPath, s"$content #kind=$kind")
    val tmp = new java.io.File(tableDir, ".latest.tmp")
    java.nio.file.Files.writeString(tmp.toPath, content)
    // Files.move THROWS on failure where File.renameTo returns false: a
    // silently-failed pointer flip would report the commit as succeeded
    // while `latest` never advances — the committed batch vanishes from
    // every later chain (and its layer becomes gc-bait once its log
    // entry ages out). ATOMIC_MOVE matches the readers' atomic-rename
    // assumption on the supported POSIX envelope.
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(tableDir, "latest").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Committed sequence numbers, oldest first. */
  def commits(tableDir: String): Seq[Long] = {
    val logDir = new java.io.File(tableDir, "_log")
    Option(logDir.list()).getOrElse(Array())
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted.toSeq
  }

  /** The table as of commit `seq` — time travel over the commit log
    * (under the schema in force at that commit).
    */
  def readCommit(spark: SparkSession, tableDir: String, seq: Long): DataFrame = {
    val p = java.nio.file.Paths.get(tableDir, "_log", seq.toString)
    val chain = java.nio.file.Files.readString(p).trim.split("\\s+").head
      .split(",").toSeq.filter(_.nonEmpty)
    readChain(spark, tableDir, chain, Some(seq))
  }

  /** Rewrite the current layer chain as ONE snapshot layer when it has
    * grown past `maxLayers`, bounding both the per-query union width and
    * the small-files count — same policy as posting-index compaction.
    * Readers holding the old pointer keep reading the old layers; [[gc]]
    * reclaims them once unreferenced.
    */
  /** `clusterBy`: re-cluster the snapshot while compacting — range-
    * partition + sort on the column (or a derived key like a Z-order
    * value) so per-file min/max stay tight and range scans keep pruning.
    * Without it, compaction interleaves the chain's layers and quietly
    * DESTROYS the clustering that `appendClusteredVersion` paid for — at
    * 100 TB that's the difference between a pruned scan and a full one.
    * `numRanges` sizes the output files (ignored without `clusterBy`).
    */
  def compactVersions(spark: SparkSession, tableDir: String,
      maxLayers: Int = 8, clusterBy: Option[String] = None,
      numRanges: Int = 8): Boolean = withTableLock(tableDir) {
    val layers = latestLayers(tableDir)
    if (layers.length <= maxLayers) return false
    val read = readChain(spark, tableDir, layers, None)
    // no explicit clusterBy → fall back to the chain's own recorded
    // clustering breadcrumb (appendClusteredVersion), so layout-blind
    // callers — the serve maintenance loop above all — can never
    // destroy the clustering the ingest paid for; a dropped/renamed
    // column makes the hint vacuous
    val effective: Option[(String, Int)] =
      clusterBy.map(_ -> numRanges)
        .orElse(clusteringOf(tableDir)
          .filter { case (c, _) => read.columns.contains(c) })
    val full = effective match {
      case Some((c, n)) =>
        read.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case None => read
    }
    val fs = new java.io.File(tableDir)
    val existing = Option(fs.list()).getOrElse(Array())
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    val next = if (existing.isEmpty) 1L else existing.max + 1
    full.write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v$next")
    // the chain's recorded pk keeps the compacted layer's bloom line
    writeLayerStats(full, s"$tableDir/v$next", pkOf(tableDir))
    flipPointer(tableDir, Seq(s"v$next"), latestTag(tableDir), kind = "compact")
    true
  }

  /** Delete version dirs not referenced by the `latest` pointer, the last
    * `retainCommits` log entries, or any `pinned` commit (a snapshot a
    * training run froze — [[graft.core.Snapshot]]), and prune unpinned
    * older log entries — the retention window bounds both disk and how
    * far back [[readCommit]] can travel. Callers invoke this once
    * in-flight readers of dropped pointers have drained.
    */
  def gcVersions(tableDir: String, retainCommits: Int = 1,
      pinned: Seq[Long] = Nil): Seq[String] = withTableLock(tableDir) {
    val all = commits(tableDir)
    val (dropWindow, keep) = all.splitAt(math.max(all.length - retainCommits, 0))
    val drop = dropWindow.filterNot(pinned.contains)
    def chainOf(seq: Long): Seq[String] = {
      val p = java.nio.file.Paths.get(tableDir, "_log", seq.toString)
      java.nio.file.Files.readString(p).trim.split("\\s+").head
        .split(",").toSeq.filter(_.nonEmpty)
    }
    val live = (latestLayers(tableDir) ++ keep.flatMap(chainOf) ++
      pinned.filter(all.contains).flatMap(chainOf)).toSet
    val fs = new java.io.File(tableDir)
    val dead = Option(fs.list()).getOrElse(Array())
      .filter(n => n.startsWith("v") && !live.contains(n)).toSeq
    dead.foreach { n =>
      val root = java.nio.file.Paths.get(tableDir, n)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      // eager sidecar-cache invalidation: a later re-ingest reusing the
      // layer name must never hit a stale parse through an (mtime, size)
      // stamp collision within filesystem timestamp granularity
      sidecarCache.remove(sidecarCacheKey(tableDir, n))
    }
    drop.foreach(seq => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(tableDir, "_log", seq.toString)))
    dead
  }

  /** The committed layer chain, oldest first; empty when no table yet. */
  def latestLayers(tableDir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(tableDir, "latest")
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.readString(p).trim.split("\\s+").head
      .split(",").toSeq.filter(_.nonEmpty)
  }

  /** The unified schema in force as of commit `upTo`: the newest
    * `_log/<seq>.schema` sidecar with seq ≤ upTo. None when the table
    * has never evolved (readers then take the footer schema, exactly as
    * before evolution existed).
    */
  private def schemaAsOf(tableDir: String,
      upTo: Long): Option[org.apache.spark.sql.types.StructType] = {
    val logDir = new java.io.File(tableDir, "_log")
    val seqs = Option(logDir.list()).getOrElse(Array())
      .filter(_.endsWith(".schema"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".schema").toLong).toOption)
      .filter(_ <= upTo)
    if (seqs.isEmpty) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(java.nio.file.Files.readString(
        java.nio.file.Paths.get(tableDir, "_log", s"${seqs.max}.schema")))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** One multi-path parquet scan over a layer chain, read under the
    * schema in force at `asOf` (None = head). Without an explicit
    * schema a multi-path read takes ONE file's footer as the relation
    * schema — on an additively-evolved chain that randomly drops the
    * new columns; with it, pre-evolution files surface the added
    * columns as nulls and every layer is readable in one relation
    * (pushdown and pruning intact, no mergeSchema footer sweep).
    */
  private[sources] def readChain(spark: SparkSession, tableDir: String,
      chain: Seq[String], asOf: Option[Long]): DataFrame = {
    val paths = chain.map(l => s"$tableDir/$l")
    schemaAsOf(tableDir, asOf.getOrElse(Long.MaxValue)) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The full table as of the committed pointer: one multi-path parquet
    * scan over the layer chain (a single relation, not N unioned plans —
    * partition pruning and pushdown apply across all layers).
    */
  def readLatest(spark: SparkSession, tableDir: String): DataFrame =
    readChain(spark, tableDir, latestLayers(tableDir), None)

  // ---- merge-on-read upserts & deletes --------------------------------
  //
  // Row-level mutation over the same layer chain: an UPSERT layer's rows
  // override earlier rows with the same primary key at READ time, and a
  // DELETE layer holds only tombstones (a `_tombstones/` parquet of pk
  // values inside the version dir — the underscore prefix keeps plain
  // parquet readers from ever seeing it as data). Commits stay O(batch);
  // readers resolve per-key latest with ONE map-side-combinable
  // aggregation; compaction folds the chain back into a tombstone-free
  // snapshot. This is the classic lakehouse merge-on-read design, and the
  // row-level generalization of the reference's column-level
  // updateColumn (database.h:77-88, scalar_column_update.cpp).
  //
  // A table maintained with upsertDelta/deleteDelta must be read with
  // readLatestMerged — the plain readLatest union would resurrect
  // overridden rows. appendDelta (strict append) and upsertDelta may mix:
  // append is just an upsert that happens to match nothing.

  /** Commit an UPSERT batch as a delta layer: rows whose `pk` matches an
    * earlier layer override that row at merged-read time; unmatched rows
    * are plain inserts. No read of the existing table beyond the schema
    * check — a match is the point, not an error — so the commit writes
    * O(batch) and touches O(1) metadata.
    */
  def upsertDelta(df: DataFrame, tableDir: String, pk: String,
      tag: Option[String] = None): Long = {
    validatePrimaryKey(df, pk)
    withTableLock(tableDir) {
    val dataLayers = latestLayers(tableDir).filter(layerHasData(tableDir, _))
    if (dataLayers.nonEmpty) {
      val existing = readChain(df.sparkSession, tableDir, dataLayers, None)
      if (existing.schema.simpleString != df.schema.simpleString)
        throw SchemaMismatch(existing.schema.simpleString, df.schema.simpleString)
    }
    commitLayer(df, tableDir, tag, resetChain = false, kind = "upsert",
      bloomCol = Some(pk))
    }
  }

  /** Commit a DELETE batch: a layer carrying ONLY tombstones for the given
    * keys (`keys` must contain the pk column; other columns are ignored).
    * A tombstone kills any same-key row in this or earlier layers; a LATER
    * upsert of the key resurrects it. O(|keys|) write.
    */
  /** The reference's `updateColumn(table, column, literal, filter)`
    * (database.h:77-88, scalar_column_update.cpp) over the versioned
    * layer chain: rewrite `column` to `value` for the merged rows
    * matching `where`, committed as ONE upsert layer holding ONLY the
    * matched rows — O(changed), never a table rewrite; the update is
    * visible to merged reads immediately and old snapshots still pin the
    * pre-update state. Returns the commit id, or -1 when nothing matched
    * (no empty layer is committed).
    */
  def updateColumnDelta(spark: SparkSession, tableDir: String, pk: String,
      column: String, value: Column, where: Column,
      tag: Option[String] = None): Long = {
    val merged = readLatestMerged(spark, tableDir, pk)
    val dt = merged.schema(column).dataType // keep the committed type
    val changed = merged.filter(where).withColumn(column, value.cast(dt))
    if (changed.isEmpty) return -1L
    upsertDelta(changed, tableDir, pk, tag)
  }

  /** DELETE..WHERE over the versioned layer chain: tombstone the merged
    * rows matching `where` — one O(matched) tombstone layer, the
    * predicate-level companion of [[updateColumnDelta]]. Returns the
    * commit id, or -1 when nothing matched.
    */
  def deleteWhereDelta(spark: SparkSession, tableDir: String, pk: String,
      where: Column, tag: Option[String] = None): Long = {
    val keys = readLatestMerged(spark, tableDir, pk).filter(where).select(pk)
    if (keys.isEmpty) return -1L
    deleteDelta(keys, tableDir, pk, tag)
  }

  def deleteDelta(keys: DataFrame, tableDir: String, pk: String,
      tag: Option[String] = None): Long = withTableLock(tableDir) {
    val fs = new java.io.File(tableDir)
    fs.mkdirs()
    writePkBreadcrumb(tableDir, pk) // tombstone commits skip commitLayer
    val effectiveTag = tag.orElse(latestTag(tableDir))
    val existing = Option(fs.list()).getOrElse(Array())
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    val next = if (existing.isEmpty) 1L else existing.max + 1
    keys.select(col(pk)).distinct()
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v$next/_tombstones")
    // tombstone count + zero-row marker as a `_stats` sidecar: merged-
    // chain top-k bounds cap an older layer's shadow losses by the sum
    // of younger layers' rows and tombstones, all from sidecars alone
    // (the count() here is parquet-footer metadata, no data pages read)
    val tombs = keys.sparkSession.read
      .parquet(s"$tableDir/v$next/_tombstones").count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tableDir, s"v$next", "_stats"),
      s"t: $tombs\nn: 0")
    flipPointer(tableDir, latestLayers(tableDir) :+ s"v$next", effectiveTag,
      kind = "delete")
    next
  }

  private def layerHasData(tableDir: String, layer: String): Boolean = {
    val d = new java.io.File(tableDir, layer)
    Option(d.list()).getOrElse(Array())
      .exists(n => !n.startsWith("_") && !n.startsWith("."))
  }

  /** Resolve a layer chain under merge-on-read semantics: per primary key
    * the event (data row or tombstone) from the LATEST layer wins; keys
    * whose winner is a tombstone are gone. One shuffle on `pk`, and the
    * per-key argmax (`max_by` over the layer ordinal) combines map-side —
    * no window sort, no per-layer join cascade. Layer count is bounded by
    * [[compactMerged]], so the union width stays small.
    */
  private def resolveChainMerged(spark: SparkSession, tableDir: String,
      chain: Seq[String], pk: String, asOf: Option[Long] = None): DataFrame = {
    val indexed = chain.zipWithIndex
    val dataLayers = indexed.filter { case (l, _) => layerHasData(tableDir, l) }
    require(dataLayers.nonEmpty,
      s"merged read of $tableDir: chain ${chain.mkString(",")} has no data layers")
    val schema = schemaAsOf(tableDir, asOf.getOrElse(Long.MaxValue))
      .getOrElse(spark.read.parquet(s"$tableDir/${dataLayers.head._1}").schema)
    val payload = schema.fields.map(_.name).filter(_ != pk).toSeq
    val dataParts = dataLayers.map { case (l, i) =>
      spark.read.schema(schema).parquet(s"$tableDir/$l")
        .withColumn("__layer", lit(i)).withColumn("__del", lit(false))
    }
    val tombParts = indexed.flatMap { case (l, i) =>
      val t = new java.io.File(s"$tableDir/$l/_tombstones")
      if (!t.isDirectory) None
      else Some(payload.foldLeft(
        spark.read.parquet(t.getPath).select(col(pk))) { (d, c) =>
          d.withColumn(c, lit(null).cast(schema(c).dataType))
        }.withColumn("__layer", lit(i)).withColumn("__del", lit(true)))
    }
    val events = (dataParts ++ tombParts).reduce(_.unionByName(_))
    // (pk, layer) is unique by construction — data layers are pk-validated,
    // tombstone layers are distinct-ed, and one layer is never both — so
    // the argmax is deterministic.
    val winner = events.groupBy(col(pk)).agg(
      max_by(struct((payload :+ "__del").map(col): _*), col("__layer")).as("__w"))
    winner.filter(!col("__w.__del"))
      .select(schema.fields.map(f =>
        if (f.name == pk) col(pk) else col(s"__w.${f.name}").as(f.name)): _*)
  }

  /** The table as of the committed pointer under merge-on-read semantics. */
  def readLatestMerged(spark: SparkSession, tableDir: String, pk: String): DataFrame =
    resolveChainMerged(spark, tableDir, latestLayers(tableDir), pk)

  /** Time travel with merge semantics: the resolved table as of commit `seq`. */
  def readCommitMerged(spark: SparkSession, tableDir: String, pk: String,
      seq: Long): DataFrame = {
    val p = java.nio.file.Paths.get(tableDir, "_log", seq.toString)
    val chain = java.nio.file.Files.readString(p).trim.split("\\s+").head
      .split(",").toSeq.filter(_.nonEmpty)
    resolveChainMerged(spark, tableDir, chain, pk, Some(seq))
  }

  /** Fold a merge-on-read chain longer than `maxLayers` into ONE resolved,
    * tombstone-free snapshot layer (readers of the old pointer keep their
    * chain; [[gcVersions]] reclaims it later). After compaction the plain
    * [[readLatest]] and [[readLatestMerged]] agree — the merge debt is paid
    * once here instead of on every read.
    */
  def compactMerged(spark: SparkSession, tableDir: String, pk: String,
      maxLayers: Int = 8): Boolean = withTableLock(tableDir) {
    val layers = latestLayers(tableDir)
    if (layers.length <= maxLayers) return false
    val resolved = resolveChainMerged(spark, tableDir, layers, pk)
    val fs = new java.io.File(tableDir)
    val existing = Option(fs.list()).getOrElse(Array())
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    val next = if (existing.isEmpty) 1L else existing.max + 1
    resolved.write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/v$next")
    writeLayerStats(spark.read.parquet(s"$tableDir/v$next"),
      s"$tableDir/v$next", Some(pk))
    flipPointer(tableDir, Seq(s"v$next"), latestTag(tableDir), kind = "compact")
    true
  }

  private[sources] def logEntry(tableDir: String, seq: Long): (Seq[String], String) = {
    val p = java.nio.file.Paths.get(tableDir, "_log", seq.toString)
    require(java.nio.file.Files.exists(p),
      s"change feed: commit $seq of $tableDir was gc'd — consume the feed " +
        "within the gc retention window")
    val toks = java.nio.file.Files.readString(p).trim.split("\\s+")
    val chain = toks.head.split(",").toSeq.filter(_.nonEmpty)
    val kind = toks.find(_.startsWith("#kind="))
      .map(_.stripPrefix("#kind=")).getOrElse("unknown")
    (chain, kind)
  }

  /** True when every layer of the CURRENT chain was introduced by a
    * plain-union commit (snapshot/append/compact) and carries no
    * tombstones — i.e. the layer-union readers ([[readChain]],
    * [[readLatest]], [[readLatestRange]]) are exact for this chain.
    * Upsert/delete commits leave superseded rows or tombstones that only
    * the merge-on-read readers resolve, so their presence fails the
    * check. A layer whose introducing commit was gc'd from the log also
    * fails (conservative: callers fall back to the unpruned reader they
    * were already using).
    */
  private val mergeFreeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      (java.nio.file.attribute.FileTime, Long, Boolean)]()

  def latestChainMergeFree(tableDir: String): Boolean =
    chainMergeFree(tableDir, latestLayers(tableDir))

  /** [[latestChainMergeFree]] over an EXPLICIT chain (see
    * [[readChainRange]] for why callers resolve the chain once).
    */
  def chainMergeFree(tableDir: String, chain: Seq[String]): Boolean = {
    if (chain.isEmpty) return true
    // cached per (dir, chain) so per-query planning doesn't re-walk the
    // commit log — but STAMP-validated by the newest log entry's
    // (mtime, size), like sidecarCache: a table dir wiped and
    // re-ingested at the same path can reproduce the same layer NAMES
    // under different commit KINDS, and serving a stale merge-free=true
    // for what is now an upsert chain would resurrect superseded rows
    // through the plain union readers.
    val stamp: Option[(java.nio.file.attribute.FileTime, Long)] =
      commits(tableDir).lastOption.flatMap { s =>
        scala.util.Try {
          val a = java.nio.file.Files.readAttributes(
            java.nio.file.Paths.get(tableDir, "_log", s.toString),
            classOf[java.nio.file.attribute.BasicFileAttributes])
          (a.lastModifiedTime, a.size)
        }.toOption
      }
    def compute(): Boolean = mergeFreeWalk(tableDir, chain)
    stamp match {
      case None => compute() // no/unreadable log: never cache
      case Some((mt, sz)) =>
        if (mergeFreeCache.size > 1024) mergeFreeCache.clear() // stale keys
        val key = (tableDir, chain.mkString(","))
        val c = mergeFreeCache.get(key)
        if (c != null && c._1 == mt && c._2 == sz) c._3
        else {
          val v = compute()
          mergeFreeCache.put(key, (mt, sz, v))
          v
        }
    }
  }

  private def mergeFreeWalk(tableDir: String, chain: Seq[String])
      : Boolean = {
    {
      val union = Set("snapshot", "append", "compact")
      // a commit's chain ends with the layer it introduced, so
      // (layer → kind) is single-valued by construction
      val intro = commits(tableDir).map(logEntry(tableDir, _)).flatMap {
        case (c, kind) => c.lastOption.map(_ -> kind)
      }.toMap
      chain.forall { l =>
        intro.get(l).exists(union) &&
          !new java.io.File(s"$tableDir/$l/_tombstones").isDirectory
      }
    }
  }

  /** The CHANGE FEED over `(fromSeq, toSeq]`: every row the table gained
    * or tombstoned in that commit range, tagged `_change_type`
    * (`insert` for append rows; `upsert` for upsert-commit rows — full
    * payload, overwrite-by-pk, there is NO separate delete half, so a
    * consumer deriving per-key state must treat `upsert` as replace, not
    * add; `delete` for tombstones — delete rows carry the pk and nulls
    * elsewhere — and `snapshot` for a full-replacement commit, after
    * which a consumer resets its derived state)
    * and `_commit` (the introducing sequence number). Reading the feed
    * costs O(changed rows): only the layers those commits ADDED are
    * scanned, never the table. Compaction commits rewrite the chain
    * without changing content and contribute nothing. This is the
    * incremental-consumer pattern (downstream index/training-set refresh)
    * the commit log was built for; consume before [[gcVersions]] reclaims
    * the range.
    */
  def readChanges(spark: SparkSession, tableDir: String, pk: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"change feed: fromSeq $fromSeq > toSeq $toSeq")
    // table schema for null-padding delete rows: any data layer as of toSeq
    val (toChain, _) = logEntry(tableDir, toSeq)
    val dataLayer = toChain.find(layerHasData(tableDir, _))
    require(dataLayer.nonEmpty,
      s"change feed: no data layers as of commit $toSeq")
    // the feed is presented in the schema in force at `toSeq`: layers
    // from before an evolution surface the added columns as nulls, so
    // every part unions cleanly and consumers see one stable shape
    val schema = schemaAsOf(tableDir, toSeq)
      .getOrElse(spark.read.parquet(s"$tableDir/${dataLayer.get}").schema)
    val payload = schema.fields.map(_.name).filter(_ != pk).toSeq
    val parts = ((fromSeq + 1) to toSeq).flatMap { seq =>
      val (chain, kind) = logEntry(tableDir, seq)
      val prev = if (seq == 1) Seq.empty[String] else logEntry(tableDir, seq - 1)._1
      val added = chain.filterNot(prev.toSet)
      kind match {
        case "compact" => None // chain rewrite, content unchanged
        case "delete" =>
          added.headOption.map { l =>
            payload.foldLeft(
              spark.read.parquet(s"$tableDir/$l/_tombstones").select(col(pk))) {
              (d, c) => d.withColumn(c, lit(null).cast(schema(c).dataType))
            }.withColumn("_change_type", lit("delete"))
              .withColumn("_commit", lit(seq))
          }
        case "snapshot" | "append" | "upsert" | "unknown" =>
          if (added.isEmpty) None
          else Some(spark.read.schema(schema)
            .parquet(added.map(l => s"$tableDir/$l"): _*)
            // upsert rows must NOT masquerade as inserts: an upsert
            // overwrites its pk, and a consumer that appends it as new
            // state (index signatures, codes) would keep the stale entry
            // alongside the fresh one
            .withColumn("_change_type", lit(kind match {
              case "snapshot" => "snapshot"
              case "upsert" => "upsert"
              case _ => "insert"
            }))
            .withColumn("_commit", lit(seq)))
      }
    }
    if (parts.isEmpty)
      spark.read.schema(schema).parquet(s"$tableDir/${dataLayer.get}")
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit", lit(0L)).filter(lit(false))
    else parts.reduce(_.unionByName(_))
  }

  /** Range-clustered append (reference: clustered ingestion buffering,
    * append/table_inserter.h:28-40, performance/README.md:37-57): rows are
    * range-partitioned and sorted on `rangeCol` before the parquet write,
    * so row-group min/max statistics give the same chunk-skipping effect
    * the reference gets from coverage-clustered chunks — a range filter on
    * `rangeCol` then prunes whole files/row-groups at scan time.
    */
  def appendClusteredVersion(
      df: DataFrame, tableDir: String, pk: String,
      rangeCol: String, numRanges: Int): Long = {
    val clustered = df
      .repartitionByRange(numRanges, col(rangeCol))
      .sortWithinPartitions(rangeCol)
    val v = appendVersion(clustered, tableDir, pk)
    // self-describing clustering breadcrumb (tmp+rename): compaction —
    // including the serve maintenance loop, which knows nothing about
    // the table's layout — re-clusters on the recorded column instead
    // of silently interleaving the chain into every output file.
    // Written AFTER the commit: a crash in between leaves a clustered
    // chain without the hint (a later clustered append repairs it),
    // never a hint pointing at nothing.
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(tableDir), ".clustering", ".tmp")
    java.nio.file.Files.writeString(tmp, s"$rangeCol $numRanges")
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(tableDir, "_clustering"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** The chain's recorded clustering `(rangeCol, numRanges)`, when a
    * clustered append left its breadcrumb. Callers re-clustering on it
    * must check the column still exists in the frame they compact (a
    * rename/drop makes the hint vacuous, never an error).
    */
  def clusteringOf(tableDir: String): Option[(String, Int)] = {
    val p = java.nio.file.Paths.get(tableDir, "_clustering")
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).trim.split("\\s+").toSeq match {
      case Seq(c, n) => scala.util.Try(n.toInt).toOption.map(c -> _)
      case _ => None
    }
  }

  /** Resolve the current version directory for reads — only valid for a
    * single-layer chain (snapshot commits / post-compaction). Delta
    * chains have no single directory; use [[readLatest]].
    */
  def latestPath(tableDir: String): String = {
    val layers = latestLayers(tableDir)
    require(layers.length == 1,
      s"table at $tableDir has ${layers.length} layers; use readLatest")
    s"$tableDir/${layers.head}"
  }

  /** True when a `latest` pointer exists (vs any other read failure, which
    * must propagate — treating e.g. an IO error as "no table yet" would
    * silently restart the table from one batch).
    */
  def hasLatest(tableDir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir, "latest"))

  /** The replay tag the current `latest` pointer was committed with. */
  def latestTag(tableDir: String): Option[String] = {
    val p = java.nio.file.Paths.get(tableDir, "latest")
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).trim.split("\\s+").toSeq match {
      case Seq(_, tag, _*) => Some(tag)
      case _ => None
    }
  }
}

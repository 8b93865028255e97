package graft.seq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `mutations()` / `insertions()` pipeline-breakers over a diffed
  * sequence DataFrame (reference: operators/mutations_node.cpp, §2.4 of
  * SURVEY.md; query_documentation.md:186-244).
  *
  * Reproduces the reference's counting arithmetic exactly, expressed as
  * DataFrame aggregations:
  *  - explicit diff counts from the exploded muts arrays (O(|diffs|));
  *  - coverage per position via the coverage-interval PREFIX-SUM trick
  *    (mutations_node.cpp:63-136): +1 at cov_start, −1 at cov_end+1,
  *    cumulative sum over the position axis — never a per-row-per-position
  *    explode, so it survives a 100× scale-up;
  *  - reference-symbol counts by subtraction (accumulateFinalCounts,
  *    mutations_node.cpp:191-203).
  */
object Mutations {

  /** Per (position, symbol≠ref[pos]) over the (already filtered) rows:
    * count, coverage, proportion; emit rows with proportion ≥ minProportion.
    * `genomeLength` bounds the position axis (= ref.length).
    *
    * Coverage uses a two-level distributed prefix sum over the position
    * axis (bucketed windows + broadcast bucket offsets), so neither the row
    * count nor the position-axis length ever funnels through a single
    * partition.
    */
  /** Grouped per-position event counts from ONE pass over the filtered
    * rows: (pos, tag, sym, cnt) with tag 0 = stored diff (sym set),
    * 1 = interior-missing position, 2 = coverage start (+1 delta),
    * 3 = coverage end + 1 (−1 delta).
    *
    * Every per-row input mutations() needs — the coverage interval
    * deltas, the missing counts, and (when no vertical index supplies it)
    * the diff multiset — derives from this ONE scan + ONE shuffle. The
    * grouped result is tiny (O(position axis × symbols)) and is
    * materialized with localCheckpoint so the downstream consumers
    * (deltas / miss / mut / ambig splits) are narrow block reads: without
    * the cut, Catalyst pushes each consumer's tag filter below the
    * aggregate (tag is a grouping column) and the expensive upstream
    * derivation — the per-row SeqDiff kernel when sequences are diffed
    * in-query, or 4 full fact-table scans at 100 TB — re-executes per
    * consumer (the q_seq_mutations plan read its parquet input 12×).
    *
    * Null sequences carry null muts/missing/cov bounds: the concat of a
    * null event array is null and explodes to nothing, exactly matching
    * the old per-side `pos.isNotNull` filters.
    */
  private[seq] def eventCounts(filtered: DataFrame, prefix: String,
      withMuts: Boolean): DataFrame = {
    val mutEv = transform(col(s"${prefix}muts"), m =>
      struct(m.getField("pos").cast("int").as("pos"), lit(0).as("tag"),
        m.getField("sym").cast("string").as("sym")))
    val missEv = transform(col(s"${prefix}missing"), p =>
      struct(p.cast("int").as("pos"), lit(1).as("tag"),
        lit(null).cast("string").as("sym")))
    val covEv = array(
      struct(col(s"${prefix}cov_start").cast("int").as("pos"),
        lit(2).as("tag"), lit(null).cast("string").as("sym")),
      struct((col(s"${prefix}cov_end") + 1).cast("int").as("pos"),
        lit(3).as("tag"), lit(null).cast("string").as("sym")))
    // coalesce each side to a typed empty array: a null muts/missing array
    // must not null the whole concat (the old per-side explodes were
    // independent — a row with null diffs still contributed coverage)
    val empty = array().cast("array<struct<pos:int,tag:int,sym:string>>")
    val events = if (withMuts)
        concat(coalesce(mutEv, empty), coalesce(missEv, empty), covEv)
      else concat(coalesce(missEv, empty), covEv)
    filtered.select(explode(events).as("e"))
      .filter(col("e.pos").isNotNull)
      .groupBy(col("e.pos").as("pos"), col("e.tag").as("tag"),
        col("e.sym").as("sym"))
      .agg(count(lit(1)).as("cnt"))
      // LAZY checkpoint: the first consuming action materializes the tiny
      // grouped result and the rest read its blocks — no extra eager job
      // (measured: an eager cut here cost more than it saved at bench
      // scale), while still cutting the plan so the tag filters cannot be
      // pushed below the aggregate into per-consumer re-scans
      .localCheckpoint(eager = false)
  }

  /** Per-position raw coverage (prefix-sum over [cov_start, cov_end]
    * deltas) and interior-missing counts: (pos, covraw, miss). Shared by
    * `mutations()` and ingest-time local-reference adaptation.
    */
  def positionCoverage(filtered: DataFrame, genomeLength: Int,
      prefix: String = ""): DataFrame =
    coverageFromEvents(filtered.sparkSession,
      eventCounts(filtered, prefix, withMuts = false), genomeLength)

  private[seq] def coverageFromEvents(spark: org.apache.spark.sql.SparkSession,
      ev: DataFrame, genomeLength: Int): DataFrame = {
    // null sequences have null coverage bounds — they contribute nothing
    val deltas = ev.filter(col("tag").isin(2, 3))
      .groupBy("pos")
      .agg(sum(when(col("tag") === 2, col("cnt")).otherwise(-col("cnt"))).as("d"))

    val positions = spark.range(1, genomeLength + 1)
      .select(col("id").cast("int").as("pos"))
    // two-level cumulative sum: window partitioned by 64k-position buckets
    // (parallel), plus a broadcast-joined running offset over the tiny
    // bucket-totals table — no single-partition window even if the
    // position axis grows far beyond genome scale
    val bucketW = Window.partitionBy("bucket").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val withBucket = positions.join(deltas, Seq("pos"), "left")
      .na.fill(0, Seq("d"))
      .withColumn("bucket", (col("pos") / 65536).cast("int"))
    val bucketTotals = withBucket.groupBy("bucket")
      .agg(sum("d").as("bsum"))
    val bucketOffsets = bucketTotals
      .withColumn("offset",
        coalesce(sum("bsum").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "offset")
    val covRaw = withBucket
      .withColumn("incum", sum("d").over(bucketW))
      .join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("covraw", col("incum") + col("offset"))

    val missCounts = ev.filter(col("tag") === 1)
      .select(col("pos"), col("cnt").as("miss"))

    covRaw.join(missCounts, Seq("pos"), "left")
      .na.fill(0, Seq("miss"))
      .select("pos", "covraw", "miss")
  }

  /** `diffRows`, when given, replaces the fact-table explode as the
    * source of the filtered set's (position, sym) diff multiset — the
    * vertical-index fast path (mutations_node.cpp:153-189): the planner
    * passes `postings ⋉ F_ids` so the wide `muts` arrays are never read.
    * Coverage stays row-wise (the interval prefix sum needs cov_start/
    * cov_end/missing from the filtered rows themselves).
    */
  def mutations(filtered: DataFrame, ref: String, minProportion: Double,
      prefix: String = "", invalidSyms: Set[String] = Set(),
      localRef: String = "",
      diffRows: Option[DataFrame] = None): DataFrame = {
    val genomeLength = ref.length
    // storage may be re-based onto an adapted local reference
    // (sequence_column.cpp:157-196 finalize): rows with no stored diff at a
    // position carry the LOCAL reference symbol there; the residual count
    // belongs to it (accumulateFinalCounts, mutations_node.cpp:191-203),
    // while mutationFrom and the "is a mutation" test stay on the GLOBAL
    // reference (addMutationsToOutput, mutations_node.cpp:325-328)
    val lr = if (localRef.isEmpty) ref else localRef

    // ONE pass over the filtered rows feeds coverage AND (without a
    // vertical index) the diff multiset — see eventCounts. With diffRows
    // supplied, the events still collapse coverage's former 3 scans
    // (2 delta sides + missing explode) into 1.
    val ev = eventCounts(filtered, prefix, withMuts = diffRows.isEmpty)
    // grouped diff multiset: (position, sym, dcnt)
    val diffCounts = diffRows match {
      case Some(dr) => dr.groupBy(col("position"), col("sym"))
        .agg(count(lit(1)).as("dcnt"))
      case None => ev.filter(col("tag") === 0)
        .select(col("pos").as("position"), col("sym"), col("cnt").as("dcnt"))
    }
    // ambiguity codes (R, Y, … / B, J, Z) are INVALID_MUTATION_SYMBOLS in
    // the reference: they are excluded from the emitted mutations AND from
    // the coverage denominator (mutations_node.cpp:303-307 sums only
    // VALID_MUTATION_SYMBOLS counts into `total`)
    val isAmbig =
      if (invalidSyms.isEmpty) lit(false)
      else col("sym").isin(invalidSyms.toSeq.sorted: _*)
    val mutCounts = diffCounts.filter(!isAmbig)
      .select(col("position"), col("sym").as("mutation_to"),
        col("dcnt").as("count"))
    val ambigCounts = diffCounts.filter(isAmbig)
      .groupBy(col("position").as("apos")).agg(sum(col("dcnt")).as("amb"))

    val cov = coverageFromEvents(filtered.sparkSession, ev, genomeLength)
      .join(ambigCounts, col("pos") === col("apos"), "left")
      .na.fill(0, Seq("amb"))
      .select(col("pos"),
        (col("covraw") - col("miss") - col("amb")).as("coverage"),
        (col("covraw") - col("miss")).as("covnm"))

    val counts =
      if (lr == ref) mutCounts
      else {
        // residual rows (covered, not missing, no stored diff) carry the
        // local reference symbol — at positions where it differs from the
        // global reference they are mutations and must be emitted. The
        // adapted-position test compares the two reference strings directly
        // (two O(1) substrings per position row) instead of an In-list
        // literal, so plan size and filter cost stay O(1) even when most of
        // a 30k genome adapts (the motivating divergent-dataset case)
        val diffTotals = diffCounts.groupBy(col("position").as("dpos"))
          .agg(sum(col("dcnt")).as("dtot"))
        val residual = cov
          .filter(SequenceModel.refAt(lr, col("pos")) =!=
            SequenceModel.refAt(ref, col("pos")))
          .join(diffTotals, col("pos") === col("dpos"), "left")
          .na.fill(0, Seq("dtot"))
          .select(col("pos").as("position"),
            SequenceModel.refAt(lr, col("pos")).as("mutation_to"),
            (col("covnm") - col("dtot")).as("count"))
          .filter(col("count") > 0)
        mutCounts.unionByName(residual)
          .groupBy("position", "mutation_to")
          .agg(sum("count").as("count"))
      }

    counts.join(cov, col("position") === col("pos")).drop("pos", "covnm")
      .select(
        col("position"),
        SequenceModel.refAt(ref, col("position")).as("mutation_from"),
        col("mutation_to"),
        col("count").cast("bigint").as("count"),
        col("coverage").cast("bigint").as("coverage"),
        round(col("count").cast("double") / col("coverage"), 4).as("proportion"))
      .filter(col("proportion") >= minProportion &&
        col("mutation_to") =!= col("mutation_from"))
  }

  /** `insertions()`: per distinct (position, inserted string): count over
    * the filtered set (reference: operators/insertions_node.cpp).
    * Expects an `ins: array<struct<pos:int, ins:string>>` column.
    * `insRows` (pos, ins), when given, replaces the explode with the
    * vertical-index multiset (`insPostings ⋉ F_ids`), mirroring
    * [[mutations]]' diffRows fast path.
    */
  def insertions(filtered: DataFrame, insCol: String = "ins",
      insRows: Option[DataFrame] = None): DataFrame =
    insRows.getOrElse(
      filtered.select(explode(col(insCol)).as("i"))
        .select(col("i.pos").as("pos"), col("i.ins").as("ins")))
      .groupBy(col("pos").as("position"), col("ins").as("inserted_symbols"))
      .agg(count(lit(1)).as("count"))
}

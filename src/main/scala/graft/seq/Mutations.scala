package graft.seq

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `mutations()` / `insertions()` pipeline-breakers over a diffed
  * sequence DataFrame (reference: operators/mutations_node.cpp, §2.4 of
  * SURVEY.md; query_documentation.md:186-244).
  *
  * Reproduces the reference's counting arithmetic exactly: one grouped
  * event aggregation over the rows, then a fold over the position axis:
  *  - explicit diff counts from the exploded muts arrays (O(|diffs|));
  *  - coverage per position via the coverage-interval PREFIX-SUM trick
  *    (mutations_node.cpp:63-136): +1 at cov_start, −1 at cov_end+1,
  *    cumulative sum over the position axis — never a per-row-per-position
  *    explode, so it survives a 100× scale-up;
  *  - reference-symbol counts by subtraction (accumulateFinalCounts,
  *    mutations_node.cpp:191-203).
  */
object Mutations {

  /** Grouped per-position event counts from ONE pass over the filtered
    * rows: (pos, tag, sym, cnt) with tag 0 = stored diff (sym set),
    * 1 = interior-missing position, 2 = coverage start (+1 delta),
    * 3 = coverage end + 1 (−1 delta).
    *
    * Every per-row input mutations() needs — the coverage interval
    * deltas, the missing counts, and (when no vertical index supplies it)
    * the diff multiset — derives from this ONE scan + ONE shuffle. The
    * grouped result is bounded by genome × alphabet, so its consumers
    * fold it in one place ([[axisTotals]]) rather than splitting it into
    * per-tag shuffles and joins.
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
  }

  /** Per-position raw coverage (prefix-sum over [cov_start, cov_end]
    * deltas) and interior-missing counts: (pos, covraw, miss) for every
    * position 1..genomeLength.
    */
  def positionCoverage(filtered: DataFrame, genomeLength: Int,
      prefix: String = ""): DataFrame = {
    val schema = StructType(Seq(StructField("pos", IntegerType),
      StructField("covraw", LongType), StructField("miss", LongType)))
    onAxis(eventCounts(filtered, prefix, withMuts = false), schema) { rows =>
      val t = axisTotals(rows, genomeLength)
      (1 to genomeLength).iterator.map(p => Row(p, t.covraw(p), t.miss(p)))
    }
  }

  /** Fold grouped events in ONE task: they are bounded by genome ×
    * alphabet, and one task costs one job where per-tag shuffles and
    * joins over them cost a dozen.
    */
  private def onAxis(events: DataFrame, schema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame =
    events.select(col("pos"), col("tag"), col("sym"), col("cnt")).coalesce(1)
      .mapPartitions(f)(org.apache.spark.sql.Encoders.row(schema))

  /** `diffRows`, when given, replaces the fact-table explode as the
    * source of the filtered set's (position, sym) diff multiset — the
    * vertical-index fast path (mutations_node.cpp:153-189): the planner
    * passes `postings ⋉ F_ids` so the wide `muts` arrays are never read.
    * Coverage stays row-wise (the interval prefix sum needs cov_start/
    * cov_end/missing from the filtered rows themselves).
    *
    * ONE pass over the filtered rows groups every per-row input into
    * (pos, tag, sym, cnt) events (see eventCounts); the rest — the
    * coverage prefix sum, ambiguity and residual counts, the
    * count/coverage join — runs in a single task over them
    * ([[countRows]]). The final projection and the proportion filter stay
    * Spark expressions.
    */
  def mutations(filtered: DataFrame, ref: String, minProportion: Double,
      prefix: String = "", invalidSyms: Set[String] = Set(),
      localRef: String = "",
      diffRows: Option[DataFrame] = None): DataFrame = {
    // storage may be re-based onto an adapted local reference
    // (sequence_column.cpp:157-196 finalize): rows with no stored diff at a
    // position carry the LOCAL reference symbol there; the residual count
    // belongs to it (accumulateFinalCounts, mutations_node.cpp:191-203),
    // while mutationFrom and the "is a mutation" test stay on the GLOBAL
    // reference (addMutationsToOutput, mutations_node.cpp:325-328)
    val lr = if (localRef.isEmpty) ref else localRef
    val events = eventCounts(filtered, prefix, withMuts = diffRows.isEmpty)
    // with a vertical index the diff multiset arrives as tag-0 events
    val all = diffRows.fold(events)(dr => events.unionByName(
      dr.groupBy(col("position").cast("int").as("pos"), lit(0).as("tag"),
        col("sym").cast("string").as("sym"))
        .agg(count(lit(1)).as("cnt"))))
    val schema = StructType(Seq(StructField("position", IntegerType),
      StructField("mutation_to", StringType), StructField("count", LongType),
      StructField("coverage", LongType)))
    onAxis(all, schema)(rows => countRows(rows, ref, lr, invalidSyms))
      .select(
        col("position"),
        SequenceModel.refAt(ref, col("position")).as("mutation_from"),
        col("mutation_to"), col("count"), col("coverage"),
        round(col("count").cast("double") / col("coverage"), 4).as("proportion"))
      .filter(col("proportion") >= minProportion &&
        col("mutation_to") =!= col("mutation_from"))
  }

  /** Grouped events (pos, tag, sym, cnt) folded onto the position axis
    * 1..n: raw coverage `covraw(p)` (prefix sum of the +1/−1 interval
    * deltas, tags 2 and 3), interior-missing rows `miss(p)` (tag 1), and
    * every stored diff inside the axis (tag 0). Shared by [[mutations]]
    * and [[SequenceModel.adaptLocalReference]]; both run it over a
    * genome × alphabet-bounded event set in one place.
    */
  private[seq] final case class AxisTotals(covraw: Array[Long],
      miss: Array[Long], diffs: Seq[(Int, String, Long)])

  private[seq] def axisTotals(rows: Iterator[Row], n: Int): AxisTotals = {
    val delta = new Array[Long](n + 1)
    val miss = new Array[Long](n + 1)
    val diffs = Seq.newBuilder[(Int, String, Long)]
    rows.foreach { r =>
      val p = r.getInt(0)
      if (p >= 1 && p <= n) r.getInt(1) match {
        case 0 => diffs += ((p, r.getString(2), r.getLong(3)))
        case 1 => miss(p) += r.getLong(3)
        case 2 => delta(p) += r.getLong(3)
        case 3 => delta(p) -= r.getLong(3)
        case _ =>
      }
    }
    val covraw = new Array[Long](n + 1)
    (1 to n).foreach(p => covraw(p) = covraw(p - 1) + delta(p))
    AxisTotals(covraw, miss, diffs.result())
  }

  /** The counting arithmetic of [[mutations]] over all grouped events of
    * one filtered set: (position, mutation_to, count, coverage) for every
    * position 1..ref.length with a diff or residual count.
    *  - coverage: covered minus interior-missing rows, minus ambiguity-
    *    code diffs, which the reference excludes from the denominator
    *    (mutations_node.cpp:303-307);
    *  - counts: the non-ambiguous diffs, plus — where the local reference
    *    differs from the global one — the residual rows (covered, not
    *    missing, no stored diff), which carry the local symbol.
    */
  private def countRows(rows: Iterator[Row], ref: String, lr: String,
      invalidSyms: Set[String]): Iterator[Row] = {
    val n = ref.length
    val t = axisTotals(rows, n)
    val covnm = Array.tabulate(n + 1)(p => t.covraw(p) - t.miss(p))
    val amb = new Array[Long](n + 1)
    val dtot = new Array[Long](n + 1)
    val counts = scala.collection.mutable.LinkedHashMap[(Int, String), Long]()
    t.diffs.foreach { case (p, sym, cnt) =>
      dtot(p) += cnt
      // a null symbol is neither valid nor ambiguous once an invalid set
      // is given (the SQL `isin` was null for it)
      if (sym != null && invalidSyms.contains(sym)) amb(p) += cnt
      else if (sym != null || invalidSyms.isEmpty)
        counts((p, sym)) = counts.getOrElse((p, sym), 0L) + cnt
    }
    if (lr != ref) (1 to n).foreach { p =>
      val residual = covnm(p) - dtot(p)
      if (lr.charAt(p - 1) != ref.charAt(p - 1) && residual > 0) {
        val k = (p, lr.substring(p - 1, p))
        counts(k) = counts.getOrElse(k, 0L) + residual
      }
    }
    counts.iterator.map { case ((p, sym), c) =>
      Row(p, sym, c, covnm(p) - amb(p))
    }
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

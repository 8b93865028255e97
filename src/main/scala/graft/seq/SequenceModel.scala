package graft.seq

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** The diffed sequence representation — the heart of the reference re-cast
  * for Spark (reference: src/silo/storage/column/sequence_column.h:59-170,
  * documentation/developer/sequence_storage.md):
  * aligned sequences are stored as DIFFS against a reference genome, never
  * as full strings. Per row:
  *
  *   cov_start:int, cov_end:int           covered [start..end] (1-based,
  *                                        inclusive; ≙ HorizontalCoverageIndex)
  *   muts: array<struct<pos:int,sym:string>>   positions differing from ref
  *                                        (≙ vertical sequence index entries)
  *   missing: array<int>                  interior missing (N) positions
  *
  * At 100 TB this is the dominant-case compression: rows matching the
  * reference at a position are implicit. All downstream operators
  * (mutations(), position predicates, profile distance) run in
  * O(|diffs|) per row — never O(rows × positions).
  */
object SequenceModel {

  /** 1-based reference symbol at a (column) position — a `substr` over a
    * single string literal. (An array<string> literal of genome length
    * bloats every plan with 30k literal nodes and slows analysis; substr
    * keeps the plan O(1).) Positions beyond the reference yield "".
    */
  def refAt(ref: String, pos: Column): Column =
    lit(ref).substr(pos, lit(1))

  /** Diff a raw aligned-sequence string column against `ref` at ingest
    * (≙ the reference's diff-at-insert, sequence_column.h:196-203).
    *
    * One [[graft.functions.SeqDiff]] codegen kernel call per row yields
    * both `muts` and `missing`. `offset` (an int literal or column) places
    * a short read inside a longer reference (input_format.md offset); a
    * non-int offset fails at analysis. Ingest rejects negative offsets.
    */
  def diff(
      df: DataFrame,
      seqCol: String,
      ref: String,
      missingSyms: Set[String] = Set(),
      offset: Column = lit(0),
      prefix: String = ""): DataFrame = {
    val d = GraftShims.column(graft.functions.SeqDiff(
      GraftShims.expression(col(seqCol)), GraftShims.expression(offset),
      ref, missingSyms.toSeq.sorted))
    // a null sequence has NO coverage anywhere: cov_start must be null too,
    // or the +1 prefix-sum delta at cov_start is never cancelled by the
    // (null) cov_end and every position ≥ cov_start gains phantom coverage
    df.withColumn(s"${prefix}cov_start", when(col(seqCol).isNotNull, offset + 1))
      .withColumn(s"${prefix}cov_end", offset + length(col(seqCol)))
      .withColumn("__seqdiff", d)
      .withColumn(s"${prefix}muts", col("__seqdiff").getField("muts"))
      .withColumn(s"${prefix}missing", col("__seqdiff").getField("missing"))
      .drop("__seqdiff")
      .drop(seqCol)
  }

  /** Reconstruct the full sequence string from the diffed representation
    * (≙ reconstructNonNullSequences, exec_node/table_scan.cpp:19-39) —
    * used only for `project(main)`-style output, after limit.
    */
  def reconstruct(ref: String, missingSym: String = "N",
      prefix: String = ""): Column = {
    val positions = sequence(col(s"${prefix}cov_start"), col(s"${prefix}cov_end"))
    // per-position lookup maps from the diff/missing arrays
    val mutMap = map_from_entries(col(s"${prefix}muts"))
    val missMap = map_from_entries(
      transform(col(s"${prefix}missing"), p => struct(p, lit(missingSym))))
    array_join(
      zip_with(positions, positions,
        (p, _) => coalesce(
          element_at(missMap, p), element_at(mutMap, p), refAt(ref, p))),
      "")
  }

  /** Reconstruct the FULL-length sequence, with uncovered and
    * interior-missing positions rendered as `missingSym` (≙ the
    * reference's reconstructSequenceAtRow for mutationProfile's
    * `sequenceId` input, mutation_profile.cpp:96-120: local reference
    * overwritten by diffs, then coverage overwritten with N/X).
    */
  def reconstructFull(ref: String, missingSym: String = "N",
      prefix: String = ""): Column = {
    val positions = sequence(lit(1), lit(ref.length))
    val mutMap = map_from_entries(col(s"${prefix}muts"))
    val miss = lit(missingSym)
    array_join(
      transform(positions, p =>
        when(col(s"${prefix}cov_start").isNull ||
            p < col(s"${prefix}cov_start") || p > col(s"${prefix}cov_end") ||
            array_contains(col(s"${prefix}missing"), p), miss)
          .otherwise(coalesce(element_at(mutMap, p), refAt(ref, p)))),
      "")
  }

  /** Symbol at one 1-based position, straight from the diff representation
    * — the `main.at(p)` value surface (reference: scalar_expressions/at.cpp
    * over the reconstructed STRING, table_scan.cpp:19-39: full-length local
    * reference + stored diffs overwritten + coverage overwritten with the
    * missing symbol). O(|muts|) per row, no string materialization:
    * null sequence → null; past-end → "" (at.cpp); uncovered or interior-
    * missing → missing symbol; else stored diff else local reference.
    */
  def symbolAt(stored: String, pos: Int, missingSym: String,
      prefix: String = ""): Column = {
    val cs = col(s"${prefix}cov_start")
    if (pos < 1 || pos > stored.length)
      when(cs.isNull, lit(null).cast("string")).otherwise(lit(""))
    else {
      val m = filter(col(s"${prefix}muts"), x => x.getField("pos") === pos)
      when(cs.isNull, lit(null).cast("string"))
        .when(lit(pos) < cs || lit(pos) > col(s"${prefix}cov_end") ||
          array_contains(col(s"${prefix}missing"), pos), lit(missingSym))
        .otherwise(coalesce(try_element_at(m, lit(1)).getField("sym"),
          lit(stored.charAt(pos - 1).toString)))
    }
  }

  /** Vertical-index analog: `mut_index(pos, sym, cnt)` pre-aggregated table
    * (reference: vertical_sequence_index.h:19-101). Persist alongside the
    * main table; count-only groupBys over positions answer from here
    * (≙ BitmapAggregationRewritePass routing).
    */
  def mutIndex(diffed: DataFrame): DataFrame =
    diffed.select(explode(col("muts")).as("m"))
      .groupBy(col("m.pos").as("pos"), col("m.sym").as("sym"))
      .agg(count(lit(1)).as("cnt"))

  /** Insertion-index analog over an `ins: array<struct<pos,ins>>` column
    * (reference: insertion_index.h:17-95).
    */
  def insIndex(diffed: DataFrame, insCol: String = "ins"): DataFrame =
    diffed.select(explode(col(insCol)).as("i"))
      .groupBy(col("i.pos").as("pos"), col("i.ins").as("ins"))
      .agg(count(lit(1)).as("cnt"))

  /** Row-level inverted index `(pos, sym, pk)` — the posting-list analog of
    * the reference's per-(position, symbol) row bitmaps
    * (vertical_sequence_index.h:19-101). A selective position predicate
    * becomes a pruned scan of this table + a semi-join on `pk` instead of a
    * full row scan (the planner's IndexScan choice, symbol_in_set.cpp case
    * 1). Persist partitioned by `pos` at scale so the (pos, sym) filter
    * prunes files.
    */
  def mutPostings(diffed: DataFrame, pkCol: String, prefix: String = ""): DataFrame =
    diffed.select(col(pkCol).as("pk"), explode(col(s"${prefix}muts")).as("m"))
      .select(col("m.pos").as("pos"), col("m.sym").as("sym"), col("pk"))

  /** Row-level insertion posting index `(pos, ins, pk)` — the analog of
    * the reference's insertion search index (insertion_index.h:17-95): an
    * `insertionContains` filter becomes a pruned (pos) scan with the
    * regex applied to the (few, short) posting values + a pk semi-join.
    */
  def insPostings(diffed: DataFrame, pkCol: String, insCol: String = "ins"): DataFrame =
    diffed.select(col(pkCol).as("pk"), explode(col(insCol)).as("i"))
      .select(col("i.pos").as("pos"), col("i.ins").as("ins"), col("pk"))

  /** 3-mer inverted insertion index `(pos, kmer, ins, pk)` — the analog of
    * the reference's per-position three-mer index
    * (insertion_index.h:64-77, insertion_index.cpp:158-196): every
    * OVERLAPPING 3-mer of each insertion value posts the (value, row).
    * A regex search whose pattern contains literal 3-mers then reads only
    * the matching kmer postings (pushed-down string equality on a pruned
    * `pos` partition), intersects per (pk, ins), and regex-verifies the
    * few candidates — instead of running the regex over every posting at
    * a wide position. Carrying `ins` alongside the kmer keeps the verify
    * step join-free; at 100 TB the lean variant would store xxhash64(ins)
    * and re-join values for verify.
    */
  def insKmerPostings(diffed: DataFrame, pkCol: String, insCol: String = "ins"): DataFrame =
    insPostings(diffed, pkCol, insCol)
      .filter(length(col("ins")) >= 3)
      .select(col("pos"), col("ins"), col("pk"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("ins")) - 2),
          j => col("ins").substr(j, lit(3))))).as("kmer"))
      .select(col("pos"), col("kmer"), col("ins"), col("pk"))

  /** Nucleotide / amino-acid symbol enum order — the reference's
    * argmax tie-break iterates symbols in this order and keeps the FIRST
    * strictly-greater count (getSymbolWithHighestCount,
    * vertical_sequence_index.cpp:79-96).
    */
  val NucOrder = "-ACGTRYSWKMBDHVN"
  val AaOrder = "-ACDEFGHIKLMNOPQRSTUVWYBJZ*X"

  /** Ingest-time local-reference adaptation (reference:
    * sequence_column.cpp:157-196 finalize →
    * vertical_sequence_index.cpp:98-164 findBetterLocalReferenceSymbol /
    * adaptLocalReference): per position, if some stored-diff symbol
    * outnumbers the rows matching the current reference, re-base the
    * stored diffs onto that majority symbol. Rows that matched the global
    * reference gain an explicit diff (pos → global symbol); rows whose
    * diff equals the new local symbol drop it. Query semantics are
    * UNCHANGED — `mutations()`, predicates and reconstruction translate
    * between local storage and the global reference — but on divergent
    * datasets the dominant-case rows become diff-free, which is the main
    * storage/scan lever at 100 TB.
    *
    * Deviation (documented): candidates are restricted to concrete valid
    * symbols — the reference also allows adapting to ambiguity codes or
    * the missing symbol (local_reference_contains_missing_symbol); that
    * only shrinks storage further on pathological datasets and never
    * changes results.
    *
    * Returns (re-based frame, localRef) — `localRef == ref` when no
    * position adapts (the frame is returned untouched).
    *
    * PRECONDITION: `diffed` must be raw [[diff]] output (stored against
    * the GLOBAL `ref`), applied at most ONCE. The simplified kept-diff
    * filter below relies on the diff-at-ingest invariant that stored
    * symbols never equal the global reference; re-adapting an
    * already-adapted frame violates it (the `added` diffs carry the
    * global symbol) and would silently drop valid diffs.
    */
  def adaptLocalReference(
      diffed: DataFrame,
      ref: String,
      prefix: String = "",
      symbolOrder: String = NucOrder,
      candidateSyms: Set[Char] = Ambiguity.nucValidMutation): (DataFrame, String) = {
    val genomeLength = ref.length
    // per-position: residual = rows equal to the current reference
    //             = covered − missing − all stored diffs.
    // ONE tagged-event pass feeds both coverage and the diff counts; the
    // grouped events are bounded by genome × alphabet, so the arithmetic
    // runs on the driver over one collect (Mutations.axisTotals)
    val t = Mutations.axisTotals(
      Mutations.eventCounts(diffed, prefix, withMuts = true)
        .select("pos", "tag", "sym", "cnt").collect().iterator,
      genomeLength)
    val resid = Array.tabulate(genomeLength + 1)(p => t.covraw(p) - t.miss(p))
    t.diffs.foreach { case (p, _, cnt) => resid(p) -= cnt }
    // candidates that strictly beat the residual; reference tie-break =
    // first in enum order among equal counts
    val cands = candidateSyms.map(_.toString)
    val winners = t.diffs
      .filter { case (p, sym, cnt) => cands.contains(sym) && cnt > resid(p) }
      .groupBy(_._1).map { case (p, ds) =>
        p -> ds.minBy { case (_, sym, cnt) =>
          (-cnt, symbolOrder.indexOf(sym) + 1, sym) }._2
      }
    if (winners.isEmpty) (diffed, ref)
    else {
      val localRef = (1 to genomeLength)
        .map(p => winners.getOrElse(p, ref.charAt(p - 1).toString)).mkString
      (applyLocalReference(diffed, ref, localRef, prefix), localRef)
    }
  }

  /** Deterministically re-base raw [[diff]] output onto a KNOWN local
    * reference — the second half of [[adaptLocalReference]], split out so
    * an incremental index append can re-base NEW rows onto the FROZEN
    * local reference persisted with the index (re-deriving the majority
    * from old+new data could flip adapted symbols and silently invalidate
    * every already-persisted posting). Same precondition as
    * [[adaptLocalReference]]: `diffed` is raw [[diff]] output stored
    * against the global `ref`, re-based at most once.
    */
  def applyLocalReference(
      diffed: DataFrame, ref: String, localRef: String,
      prefix: String = ""): DataFrame =
    if (localRef == ref) diffed
    else {
      require(localRef.length == ref.length,
        s"local reference length ${localRef.length} != reference ${ref.length}")
      val adaptedPositions =
        (1 to ref.length).filter(p => localRef.charAt(p - 1) != ref.charAt(p - 1))
      // ONE literal node however many positions adapt (array(...map(lit))
      // would put a plan node per adapted position — O(genome) plan size on
      // divergent datasets)
      val adaptedLit = lit(adaptedPositions.toArray)
      val mutMap = map_from_entries(col(s"${prefix}muts"))
      // drop diffs that equal the new local symbol: stored diffs always
      // differ from the GLOBAL reference (diff-at-ingest invariant), and at
      // non-adapted positions local == global, so `sym == localRef[pos]`
      // alone implies the position adapted — no membership test needed
      val kept = filter(col(s"${prefix}muts"), m =>
        m.getField("sym") =!= refAt(localRef, m.getField("pos")))
      val added = filter(
        transform(adaptedLit, p => struct(p.as("pos"), refAt(ref, p).as("sym"))),
        x => {
          val p = x.getField("pos")
          p >= col(s"${prefix}cov_start") && p <= col(s"${prefix}cov_end") &&
            !array_contains(col(s"${prefix}missing"), p) &&
            element_at(mutMap, p).isNull
        })
      diffed.withColumn(s"${prefix}muts",
        when(col(s"${prefix}cov_start").isNull, col(s"${prefix}muts"))
          .otherwise(array_sort(concat(kept, added))))
    }
}

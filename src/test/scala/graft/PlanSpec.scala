package graft

/** Physical-plan regression guards: the perf-critical plan shapes must not
  * silently degrade (pushdown reaching parquet, dims broadcast, top-k not
  * full-sorting). These assert on explain output at sf0.001.
  */
class PlanSpec extends SparkSpec {

  def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)

  test("filters are pushed into the parquet scan") {
    val p = planOf("q_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p.take(500))
    assert(p.contains("EqualTo(l_returnflag,A)"))
    assert(p.contains("LessThan(l_quantity,10.0)"))
  }

  test("column pruning reaches the scan (ReadSchema is narrow)") {
    val p = planOf("q_scan_project")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_orderdate"))
    assert(!p.contains("o_totalprice"))
  }

  test("dimension joins broadcast") {
    val p = planOf("q_join_inner")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("the codegen vector kernel appears in the ANN plan") {
    val p = planOf("q_ann_pairs")
    assert(p.toLowerCase.contains("vecdot"))
  }

  test("selective position predicates route through the mut index as a semi-join") {
    // q_seq_idxroute's filter is a pure diff-match symbol test under the
    // 10% selectivity gate → the plan must consult the posting table via a
    // LeftSemi join, NOT scan rows with the exists() predicate
    val p = planOf("q_seq_idxroute")
    assert(p.contains("LeftSemi"), p.take(800))
    // the index side is the PERSISTED parquet posting table (registered at
    // preprocessing, not rebuilt per query), partition-pruned to the
    // queried position's directory at scan time
    assert(p.contains("graft_idx_mut"), p.take(1500))
    assert(p.contains("PartitionFilters"), p.take(1500))
  }

  test("selective insertionContains routes through the ins posting index") {
    val p = planOf("q_seq_insroute")
    assert(p.contains("LeftSemi"), p.take(800))
    // and routed results equal the row-wise (index-less) evaluation
    val routed = graft.queries.SeqQueries.insRouteQuery(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val cat = graft.queries.SeqQueries.insRouteCatalog(spark, sfDir)
    val rowwise = graft.lang.Planner.plan(
      """seqs
        |  .filter(insertionContains(position := 3, value := 'cust.*', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      cat.copy(mutIndexes = Map()))
      .collect().map(_.getLong(0)).toSeq
    assert(routed === rowwise)
    assert(routed.nonEmpty)
  }

  test("wide-position insertionContains routes through the 3-mer index; " +
    "no extractable 3-mer stays row-wise") {
    import graft.lang.Planner
    import graft.queries.SeqQueries
    // position 1 holds EVERY doc's first token (≈100% density) — far over
    // the selectivity gate, so only the 3-mer path can route
    val p = planOf("q_seq_ins3route")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("graft_idx_ins3"), p.take(1500)) // the kmer parquet table
    val cat = SeqQueries.ins3RouteCatalog(spark, sfDir)
    // a 2-char pattern yields no literal 3-mer → the reference's
    // searchWithRegex fallback, which the gate refuses at this width →
    // row-wise evaluation (no semi-join)
    val short = Planner.plan(
      "seqs.filter(insertionContains(position := 1, value := 'th', sequenceName := 'main'))",
      cat)
    val ps = short.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!ps.contains("LeftSemi"), ps.take(800))
    // and routed results equal the row-wise (index-less) evaluation
    val routed = SeqQueries.ins3RouteQuery(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val rowwise = Planner.plan(
      """seqs
        |  .filter(insertionContains(position := 1, value := 'the.*', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      cat.copy(mutIndexes = Map()))
      .collect().map(_.getLong(0)).toSeq
    assert(routed === rowwise)
    assert(routed.nonEmpty)
    // multi-kmer intersection: 'cus.*mer' → candidates must contain BOTH
    // 'cus' and 'mer', then full-match verify ("customer" passes,
    // "customers" survives the kmer filter but fails the verify)
    def both(q: String, c: Planner.Catalog) = Planner.plan(
      s"""seqs
         |  .filter(insertionContains(position := 1, value := '$q', sequenceName := 'main'))
         |  .project({doc_id})
         |  .orderBy({doc_id})""".stripMargin, c)
      .collect().map(_.getLong(0)).toSeq
    val kmerRouted = both("cus.*mer", cat)
    assert(kmerRouted === both("cus.*mer", cat.copy(mutIndexes = Map())))
    assert(kmerRouted.nonEmpty)
    // an escaped character is a LITERAL on both paths ('\t' = symbol t,
    // never a regex tab/class — reference insertion_index.cpp:24-41):
    // '\the.*' must equal 'the.*' routed AND row-wise; feeding the raw
    // pattern to Java regex would silently return zero rows here
    val escRouted = both("""\the.*""", cat)
    assert(escRouted === both("""\the.*""", cat.copy(mutIndexes = Map())))
    assert(escRouted === both("the.*", cat))
    assert(escRouted.nonEmpty)
  }

  test("broad position predicates stay row-wise (no index join)") {
    import org.apache.spark.sql.functions._
    import graft.lang.Planner
    import graft.queries.SeqQueries
    // same catalog shape as q_seq_idxroute but querying the REFERENCE
    // symbol at position 5 ('.') — the complement case (reference
    // symbol_in_set.cpp cases 2-4) cannot be answered from postings alone
    val seq = translate(md5(col("doc_id").cast("string")),
      "0123456789abcdef", SeqQueries.NUC_ALPHABET)
    val diffed = graft.seq.SequenceModel.diff(
      graft.core.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), seq.as("seq")),
      "seq", SeqQueries.REF_AMBIG)
    val catalog = Planner.Catalog(
      tables = Map("seqs" -> diffed),
      sequences = Map("seqs" -> Map("main" -> Planner.SeqBinding(SeqQueries.REF_AMBIG))),
      primaryKeys = Map("seqs" -> "doc_id"),
      mutIndexes = Map("seqs" -> Map("main" ->
        Planner.SeqIndex.build(diffed, "doc_id"))))
    val broad = Planner.plan(
      "seqs.filter(nucleotideEquals(position := 5, symbol := '.', sequenceName := 'main'))",
      catalog)
    val p = broad.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("LeftSemi"), p.take(800))
    // and the routed/row-wise paths agree on the data itself
    val routed = SeqQueries.idxRouteQuery(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val noIdx = Planner.plan(
      """seqs
        |  .filter(nucleotideEquals(position := 5, symbol := 'G', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      catalog.copy(mutIndexes = Map()))
      .collect().map(_.getLong(0)).toSeq
    assert(routed === noIdx)
    assert(routed.nonEmpty)
  }

  test("pack-sequences prefix sums are sub-sharded: no whole-source window") {
    val df = SparkEntry.queries("q_pack_sequences")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    // never a global (single-partition) window
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "pack window has no partition keys — single-partition at scale"))
    // the per-document running sum partitions on (source, shard), so one
    // giant source cannot collapse into one window partition; the only
    // source-partitioned window is the shard-offset stitch, whose input
    // is the (bounded) shard-totals aggregate, not document rows
    assert(windows.exists(_.partitionSpec.size == 2),
      "doc-level prefix sum no longer sub-sharded")
  }

  test("budget-select prefix sums are sub-sharded: no whole-source window") {
    val df = SparkEntry.queries("q_budget_select")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "budget window has no partition keys — single-partition at scale"))
    // doc-level running sum partitions on (source, score-bucket shard);
    // the only source-partitioned window is the cross-shard offset stitch
    // over the bounded shard-totals aggregate
    assert(windows.exists(_.partitionSpec.size == 2),
      "budget-select prefix sum no longer sub-sharded")
  }

  test("q_zone_prune answers the windowed two-column rollup from layer " +
    "metadata alone — zero parquet footers (was 2 of 30 before " +
    "the two-column sidecar count)") {
    val df = SparkEntry.queries("q_zone_prune")(spark, sfDir)
    // the window's two layers are day-constant with complete event_type
    // histograms, every other layer is zone-excluded — the grouped count
    // is a pure sidecar sum, strictly better than the earlier 2-of-30
    // scan narrowing (which q_zone_or / q_map_filter still gate)
    assert(df.inputFiles.isEmpty,
      "windowed (d, event_type) rollup must not plan a file scan")
  }

  test("q_group_two answers the (day, type) rollup from layer metadata " +
    "alone — zero parquet footers") {
    val df = SparkEntry.queries("q_group_two")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "two-column grouped metadata count must not plan a file scan")
  }

  test("q_topk_chain bounds the scan to the newest layer and still " +
    "plans a top-k, not a full sort") {
    val df = SparkEntry.queries("q_topk_chain")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_filter_topk composes both bounds: 1 of 30 layers AND a top-k " +
    "plan, through the filter stage") {
    val df = SparkEntry.queries("q_filter_topk")(spark, sfDir)
    // the date window admits 16 layers; the top-20-by-recency bound then
    // proves only the window's NEWEST layer can contribute — the filter
    // no longer breaks the SortedScan note
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_merged_zone narrows column decode: out-of-window layers are " +
    "pk-only shadow scans, window layers read the payload") {
    val df = SparkEntry.queries("q_merged_zone")(spark, sfDir)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = fmt.split("\n\n").filter(_.contains("Scan parquet")).toSeq
    val pkOnly = scans.count(_.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("struct<event_id:bigint>")))
    val full = scans.count(_.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("value")))
    // 6 five-day layers + 1 upsert + 1 tombstone: the 4-day window keeps
    // ONE day layer as candidate, the full-range upsert stays a candidate,
    // the other 5 day layers + the tombstone scan degrade to pk-only
    assert(full === 2, s"full-payload scans: $full of ${scans.size}\n$fmt")
    assert(pkOnly === 6, s"pk-only scans: $pkOnly of ${scans.size}")
  }

  test("q_merged_topk bounds the SUPPLYING layers on a merged chain: " +
    "2 full-payload scans (window bucket + upsert), the rest pk-only") {
    val df = SparkEntry.queries("q_merged_topk")(spark, sfDir)
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = fmt.split("\n\n").filter(_.contains("Scan parquet")).toSeq
    val pkOnly = scans.count(_.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("struct<event_id:bigint>")))
    val full = scans.count(_.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("value")))
    // 6 five-day buckets + upsert + tombstone: the top-20-by-recency
    // bound over the Jan 6-15 window keeps the days 11-15 bucket and the
    // (full-range) upsert layer as suppliers; the other 5 buckets + the
    // tombstone scan are pk-only shadows
    assert(full === 2, s"full-payload scans: $full of ${scans.size}\n$fmt")
    assert(pkOnly === 6, s"pk-only scans: $pkOnly of ${scans.size}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_count_window answers a filtered count from layer metadata " +
    "alone — zero parquet footers") {
    val df = SparkEntry.queries("q_count_window")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "filtered metadata count must not plan a file scan")
  }

  test("q_group_chain and q_group_window answer grouped counts from the " +
    "layer histograms — zero parquet footers") {
    val g = SparkEntry.queries("q_group_chain")(spark, sfDir)
    assert(g.inputFiles.isEmpty,
      "grouped metadata count must not plan a file scan")
    val w = SparkEntry.queries("q_group_window")(spark, sfDir)
    assert(w.inputFiles.isEmpty,
      "windowed grouped metadata count must not plan a file scan")
  }

  test("q_group_int and q_group_intdate answer INT-keyed grouped counts " +
    "from the integer layer histograms — zero parquet footers") {
    val g = SparkEntry.queries("q_group_int")(spark, sfDir)
    assert(g.inputFiles.isEmpty,
      "int grouped metadata count must not plan a file scan")
    val two = SparkEntry.queries("q_group_intdate")(spark, sfDir)
    assert(two.inputFiles.isEmpty,
      "int×date grouped metadata count must not plan a file scan")
  }

  test("q_zone_or: a disjunctive-window GROUPED count now answers from " +
    "the layer histograms — each surviving layer sits wholly in one " +
    "arm — zero parquet footers") {
    val df = SparkEntry.queries("q_zone_or")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "disjoint-window grouped count must not plan a file scan")
  }

  test("q_or_count: two disjoint same-column windows count from the " +
    "sidecars alone — zero parquet footers") {
    val df = SparkEntry.queries("q_or_count")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "disjoint-window metadata count must not plan a file scan")
  }

  test("q_approx_count: the [lo, hi] bracket answers from the sidecars " +
    "alone — exact on the merge-free chain, zero parquet footers") {
    val df = SparkEntry.queries("q_approx_count")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "approxCount on a merge-free chain must not plan a file scan")
  }

  test("q_approx_count_filtered: approxCount composed through a " +
    "decidable window filter answers exactly from the sidecars") {
    val df = SparkEntry.queries("q_approx_count_filtered")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "filtered approxCount on a merge-free chain must not plan a file scan")
    val row = df.collect().head
    assert(row.getLong(0) === row.getLong(1),
      s"merge-free filtered bracket must be exact: $row")
  }

  test("q_approx_group: per-group brackets answer from the layer value " +
    "histograms — exact on the merge-free chain, zero parquet footers") {
    val df = SparkEntry.queries("q_approx_group")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "merge-free approxGroupCount must not plan a file scan")
    assert(df.collect().forall(r => r.getLong(1) === r.getLong(2)),
      "merge-free grouped brackets must be exact")
  }

  test("q_point_pk: a primary-key point lookup routes through the pk " +
    "envelopes — at most 2 of 30 layers open") {
    val df = SparkEntry.queries("q_point_pk")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length <= 2, s"layers read: ${layers.mkString(",")}")
  }

  test("q_point_uuid: a RANDOM (hash-distributed) string pk probe — " +
    "every layer's envelope spans the key space — prunes per VALUE " +
    "to the holding layer") {
    val df = SparkEntry.queries("q_point_uuid")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length <= 2,
      s"uuid hit must open ≤2 of 30 layers: ${layers.mkString(",")}")
    assert(df.count() === 1)
  }

  test("q_point_session: a NON-pk uuid-shaped point probe prunes per " +
    "VALUE through the column's own layer metadata (histogram under " +
    "the cap, extra bloom past it)") {
    val df = SparkEntry.queries("q_point_session")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length <= 2,
      s"non-pk uuid hit must open ≤2 of 30 layers: ${layers.mkString(",")}")
    assert(df.count() === 1)
  }

  test("q_point_uuid_miss: the absent uuid excludes EVERY layer from " +
    "per-value metadata — zero footers, zero rows") {
    val df = SparkEntry.queries("q_point_uuid_miss")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length <= 1,
      s"uuid miss must open at most a false-positive layer: " +
        layers.mkString(","))
    assert(df.count() === 0)
  }

  test("q_count_split: a single window splitting every layer counts " +
    "from the complete histograms (per-value pass counts) — zero " +
    "parquet footers") {
    val df = SparkEntry.queries("q_count_split")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "layer-splitting window count must not plan a file scan")
  }

  test("q_or_count_split: windows that SPLIT every layer (envelope " +
    "straddles both arms) still count from the layer histograms — " +
    "pass(a)+pass(b) per layer, zero parquet footers") {
    val df = SparkEntry.queries("q_or_count_split")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "layer-splitting disjunction count must not plan a file scan")
  }

  test("q_group_or: a disjunction ON the group column applies entry-" +
    "wise to the histogram tokens — zero parquet footers even though " +
    "every layer is split by the windows") {
    val df = SparkEntry.queries("q_group_or")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "group-column disjunction grouped count must not plan a file scan")
  }

  test("q_group_two_or: the two-column rollup applies a group-column " +
    "disjunction entry-wise (constant day × status histogram) — zero " +
    "parquet footers") {
    val df = SparkEntry.queries("q_group_two_or")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "two-column rollup under a group-column OR must not plan a file scan")
  }

  test("q_or_topk: disjoint OR windows compose with the top-k bound — " +
    "1 of 30 layers, still a top-k plan") {
    val df = SparkEntry.queries("q_or_topk")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_or_scan: a disjunctive window filter still prunes the ROW " +
    "read on the UNION of the arms' envelopes — 4 of 30 layers") {
    val df = SparkEntry.queries("q_or_scan")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head)
      .distinct.sorted
    assert(layers.length === 4, s"layers read: ${layers.mkString(",")}")
  }

  test("q_union_zone and q_union_count: filters and metadata counts push " +
    "through unionAll — the grouped rollup and the filtered count answer " +
    "from BOTH children's sidecars, zero parquet footers") {
    // the grouped rollup sums each child's layer histograms (scan
    // NARROWING through union is unit-gated in SaneQLSpec on columns
    // with no metadata path)
    val g = SparkEntry.queries("q_union_zone")(spark, sfDir)
    assert(g.inputFiles.isEmpty,
      "unioned grouped metadata count must not plan a file scan")
    val c = SparkEntry.queries("q_union_count")(spark, sfDir)
    assert(c.inputFiles.isEmpty,
      "unioned filtered metadata count must not plan a file scan")
  }

  test("q_union_topk: filter+orderBy+limit bounds EACH union side — " +
    "1 of 30 layers per side, still a top-k plan") {
    val df = SparkEntry.queries("q_union_topk")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_filter_after_sort: a filter BETWEEN orderBy and limit is " +
    "absorbed into the sort note — 1 of 30 layers, still a top-k plan") {
    val df = SparkEntry.queries("q_filter_after_sort")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_union3_topk: filter+orderBy+limit bounds EVERY leaf of a " +
    "NESTED union — 1 of 30 layers per leaf, still a top-k plan") {
    val df = SparkEntry.queries("q_union3_topk")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("q_filter_chain: STACKED filters intersect in the note — the " +
    "filtered count still answers from metadata, zero parquet footers") {
    val df = SparkEntry.queries("q_filter_chain")(spark, sfDir)
    assert(df.inputFiles.isEmpty,
      "stacked-filter metadata count must not plan a file scan")
  }

  test("q_map_filter: a column-adding map BEFORE the filter keeps both " +
    "bounds — 1 of 30 layers and a top-k plan") {
    val df = SparkEntry.queries("q_map_filter")(spark, sfDir)
    val layers = df.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(layers.length === 1, s"layers read: ${layers.mkString(",")}")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("exact-substring dup-set semi-join is not a forced broadcast") {
    // the dup-40-gram set is O(duplicated text) — unbounded on a web
    // corpus — so a broadcast() HINT (driver-side, size-blind) is a
    // latent OOM. AQE may still PICK a broadcast at this SF from observed
    // sizes; that's fine — assert on the logical hint, not the physical
    // plan.
    val df = SparkEntry.queries("q_exact_substr")(spark, sfDir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(j.hint.leftHint.forall(_.strategy.isEmpty) &&
        j.hint.rightHint.forall(_.strategy.isEmpty),
        "exact-substr join carries a forced join-strategy hint — " +
          "the dup-hash set is unbounded at corpus scale")
    }
  }

  test("no unbounded pairwise plans anywhere: CartesianProduct never, " +
    "BroadcastNestedLoopJoin only with a bounded-by-construction side") {
    // whitelist: queries whose BNLJ side is bounded regardless of data
    // scale — a fixed probe set (q_ann_topk/q_ivf_recall), a fixed-size
    // sample (q_ann_recall), or a 1-row aggregate dim (q_tfidf_topk,
    // q_mix_weights/q_mix_sample's grand-total row, q_bm25's corpus-stats
    // row)
    val boundedBnlj = Set("q_ann_topk", "q_ann_recall", "q_ivf_recall", "q_tfidf_topk",
      "q_mix_weights", "q_mix_sample", "q_hard_negatives", "q_knn_classify",
      "q_bm25", "q_importance", "q_lift_pairs", "q_vocab_drift")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — unbounded at scale")
      if (!boundedBnlj(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the bounded whitelist")
    }
  }
}

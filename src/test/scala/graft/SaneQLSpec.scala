package graft

import org.apache.spark.sql.functions._
import graft.lang.{Parser, Planner}
import graft.lang.Planner.{Catalog, QueryError, SeqBinding}
import graft.seq.SequenceModel
import graft.trees.{LineageTree, PhyloTree}

class SaneQLSpec extends SparkSpec {
  import spark.implicits._

  lazy val meta = Seq(
    ("k1", "Switzerland", 25, 0.9, "B.1.1.7", "n1"),
    ("k2", "Switzerland", 40, 0.5, "B.1.1", "n2"),
    ("k3", "Germany", 30, 0.7, "B.1.1.7", "n3"),
    ("k4", "Germany", 55, 0.2, "XA", "n1"),
    ("k5", "USA", 33, 0.95, "B.1", "n2"))
    .toDF("primary_key", "country", "age", "qc_value", "pango_lineage", "tree_node")

  val ref = "ACGTACGT"
  lazy val seqTable = SequenceModel.diff(
    Seq(("k1", "ACGTACGT"), ("k2", "TCGTACGT"), ("k3", "ACCTACGT"))
      .toDF("primary_key", "seq"), "seq", ref, missingSyms = Set("N"))

  lazy val lineageTree = LineageTree(Map(
    "B.1" -> Seq("B"), "B.1.1" -> Seq("B.1"), "B.1.1.7" -> Seq("B.1.1"),
    "XA" -> Seq("B.1.1.7", "B.1")))

  lazy val phylo = PhyloTree.fromEdges(Seq(
    "n1" -> "r1", "n2" -> "r1", "n3" -> "root", "r1" -> "root"))

  lazy val catalog = Catalog(
    tables = Map("default" -> meta, "seqs" -> seqTable),
    sequences = Map("seqs" -> Map("main" -> SeqBinding(ref))),
    lineageTrees = Map("pango_lineage" -> lineageTree),
    phyloTrees = Map("tree_node" -> phylo),
    primaryKeys = Map("seqs" -> "primary_key"))

  def run(q: String) = Planner.plan(q, catalog)

  test("filter + groupBy count pipeline (the M0 slice)") {
    val out = run("""default
      .filter(country = 'Switzerland')
      .groupBy({count := count()})""").as[Long].head()
    assert(out === 2L)
  }

  test("grouped count with columns, null keys allowed") {
    val out = run("default.groupBy({n := count()}, {country}).orderBy({country})")
      .as[(String, Long)].collect()
    assert(out.toSeq === Seq(("Germany", 2L), ("Switzerland", 2L), ("USA", 1L)))
  }

  test("project, map with literals/field refs/at, orderBy desc, limit/offset") {
    val out = run("""default
      .map({second := primary_key.at(2), cohort := 'A'})
      .project({primary_key, second, cohort, age})
      .orderBy({desc(age)})
      .offset(1)
      .limit(2)""").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("k2", "k5"))
    assert(out.head.getString(1) === "2")
    assert(out.head.getString(2) === "A")
  }

  test("comparisons, boolean algebra, between float asymmetry, in, like") {
    assert(run("default.filter(age > 30 && qc_value <= 0.7)").count() === 2)
    // float between: to-bound exclusive → 0.9 excluded
    assert(run("default.filter(between(qc_value, 0.5, 0.9))").count() === 2)
    assert(run("default.filter(in(country, {'USA','Germany'}))").count() === 3)
    assert(run("default.filter(like(primary_key, 'k[12]'))").count() === 2)
    assert(run("default.filter(!(country = 'USA'))").count() === 4)
    assert(run("default.filter(country <> null)").count() === 5)
  }

  test("nOf threshold") {
    assert(run(
      "default.filter(nOf(2, {age > 30, qc_value > 0.6, country = 'Germany'}))")
      .count() === 3)
  }

  test("lineage filter with and without sublineages; recombinant modes") {
    assert(run("default.filter(lineage(pango_lineage, 'B.1.1', includeSublineages := false))")
      .count() === 1)
    assert(run("default.filter(lineage(pango_lineage, 'B.1.1', includeSublineages := true))")
      .count() === 3) // k2 B.1.1 + k1,k3 B.1.1.7 — XA is recombinant, not followed
    assert(run("""default.filter(lineage(pango_lineage, 'B.1.1',
        includeSublineages := true, recombinantFollowingMode := 'alwaysFollow'))""")
      .count() === 4) // + XA
  }

  test("lineage closure stays plan-time: an IN-set literal, never a join") {
    // the descendants fixpoint — including recombinant following, which
    // iterates to a fixpoint for followIfFullyContained — resolves at
    // PLAN time into a literal membership set (reference: lineage_index
    // .h:14-45 keeps a per-lineage bitmap; our analog is a broadcast-
    // closure isin). A regression into a join-based shape would shuffle
    // the fact table per lineage predicate at scale.
    Seq(
      "default.filter(lineage(pango_lineage, 'B.1', includeSublineages := true))",
      """default.filter(lineage(pango_lineage, 'B.1',
          includeSublineages := true, recombinantFollowingMode := 'followIfFullyContainedInClade'))""",
      """default.filter(lineage(pango_lineage, 'B.1',
          includeSublineages := true, recombinantFollowingMode := 'alwaysFollow'))""")
      .foreach { q =>
        val qe = run(q).queryExecution
        // the analyzed plan carries the predicate as written: a literal
        // IN list, no Join node (the physical plan then constant-folds
        // it straight into the scan — even cheaper)
        val lp = qe.analyzed.toString
        assert(!lp.contains("Join"), s"$q planned a join:\n${lp.take(1200)}")
        assert(lp.contains(" IN ") || lp.contains("INSET"),
          s"$q: closure not a plan-time literal set:\n${lp.take(1200)}")
        val p = qe.explainString(org.apache.spark.sql.execution.SimpleMode)
        assert(!p.contains("Join"), s"$q physical join:\n${p.take(1200)}")
      }
  }

  test("phyloDescendantOf and MRCA/subtree pipeline-breakers") {
    assert(run("default.filter(phyloDescendantOf(tree_node, 'r1'))").count() === 4)
    val m = run("default.filter(country = 'Switzerland').mostRecentCommonAncestor('tree_node')")
      .collect().head
    // reference field set + types (most_recent_common_ancestor_node.cpp:
    // 77-88): INT32 count, node/parent strings, INT32 depth
    assert(m.getAs[Int]("missingNodeCount") === 0)
    assert(m.getAs[String]("mrcaNode") === "r1")
    assert(m.getAs[String]("mrcaParent") === "root")
    assert(m.getAs[Int]("mrcaDepth") === 1)
    val sub = run("default.phyloSubtree('tree_node')").collect().head
    // reference output contract (phylo_subtree_node.cpp:77-85): INT32
    // missingNodeCount first, newick rooted at the MRCA with children in
    // reverse declaration order
    assert(sub.getAs[Int]("missingNodeCount") === 0)
    assert(sub.getAs[String]("subtreeNewick") === "((n2,n1)r1,n3)root;")
    // printNodesNotInTree/contractUnaryNodes are named-only parameters
    // (ast_to_query.cpp:1743-1748); a positional flag is rejected exactly
    // like the reference's bindArguments (function_registry.cpp:67-80)
    val e = intercept[QueryError] {
      run("default.phyloSubtree('tree_node', true)")
    }
    assert(e.getMessage.contains("too many positional arguments"))
    assert(run("default.phyloSubtree('tree_node', printNodesNotInTree := true)")
      .columns.toSeq === Seq("missingNodeCount", "missingFromTree", "subtreeNewick"))
  }

  test("MRCA: not-in-tree values and null rows both count as missing") {
    // k5's tree_node becomes a name outside the tree, k4's becomes null:
    // missingNodeCount = 1 not-in-tree value + 1 null row (reference
    // most_recent_common_ancestor_node.cpp:47-56,146-148), while
    // missingFromTree lists only the NAMES, comma-joined
    val meta2 = meta.withColumn("tree_node",
      when(col("primary_key") === "k5", lit("ghost"))
        .otherwise(when(col("primary_key") === "k4", lit(null))
          .otherwise(col("tree_node"))))
    val cat2 = catalog.copy(tables = catalog.tables + ("default" -> meta2))
    val m = Planner.plan(
      "default.mostRecentCommonAncestor('tree_node', printNodesNotInTree := true)",
      cat2).collect().head
    assert(m.getAs[String]("mrcaNode") === "root") // n1,n2 (r1) ∪ n3 → root
    assert(m.getAs[Int]("missingNodeCount") === 2)
    assert(m.getAs[String]("missingFromTree") === "ghost")
    assert(m.isNullAt(m.fieldIndex("mrcaParent"))) // root has no parent
    assert(m.getAs[Int]("mrcaDepth") === 0)
  }

  test("sequence predicates and mutations() through SaneQL") {
    def nucEq(pos: Int, sym: String) =
      s"nucleotideEquals(position := $pos, symbol := '$sym', sequenceName := 'main')"
    assert(run(s"seqs.filter(${nucEq(1, "T")})").count() === 1)
    assert(run(s"seqs.filter(${nucEq(1, ".")})").count() === 2)
    assert(run("seqs.filter(hasMutation(position := 3, sequenceName := 'main'))")
      .count() === 1)
    // maybe expands to AMBIGUITY_SYMBOLS[W] = {W,D,H,N} — symbols at least
    // as general as W (symbol_equals.cpp:85-88) — NOT the concretes A/T
    assert(run(s"seqs.filter(maybe(${nucEq(1, "W")}))").count() === 0)
    // maybe(equals A): stored ∈ {A,R,W,M,D,H,V,N} — the two ref-matching rows
    assert(run(s"seqs.filter(maybe(${nucEq(1, "A")}))").count() === 2)
    // argument binding is reference-exact (function_registry.cpp:67-80):
    // symbolEquals params are named-only, so the positional convenience
    // form is "too many positional arguments", NOT a binding
    val e = intercept[QueryError] {
      run("seqs.filter(nucleotideEquals(1, 'T', 'main'))")
    }
    assert(e.getMessage.contains("too many positional arguments"))
    val muts = run("seqs.mutations(minProportion := 0.1)")
      .select("position", "mutationTo", "count").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(muts === Set((1, "T", 1L), (3, "C", 1L)))
  }

  test("mutationProfile: querySequence / sequenceId / mutations input forms") {
    // seqs: k1=ACGTACGT (=ref), k2=TCGTACGT, k3=ACCTACGT
    def cnt(q: String) = run(q).count()
    // querySequence: exact profile — ambiguity-compatible distances 0/1/1
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', querySequence := 'ACGTACGT'))""") === 1)
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 1,
        sequenceName := 'main', querySequence := 'ACGTACGT'))""") === 3)
    // profile N positions are skipped (mutation_profile.cpp:227-230):
    // NCGTACGT ⇒ k2's pos-1 T no longer counts
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', querySequence := 'NCGTACGT'))""") === 2)
    // sequenceId: profile reconstructed from k2's row
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', sequenceId := 'k2'))""") === 1)
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 1,
        sequenceName := 'main', sequenceId := 'k2'))""") === 2)
    // mutations: set of {position, symbol} records applied on the reference
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', mutations := {{position := 1, symbol := 'T'}}))""") === 1)
    // ambiguity-code profile symbol: AMBIGUITY_SYMBOLS[W]={W,D,H,N}, so
    // even stored A/T count as differences
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', mutations := {{position := 1, symbol := 'W'}}))""") === 0)
    // k1/k2 differ only at pos 1; k3 also carries its own C at pos 3 → dist 2
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 1,
        sequenceName := 'main', mutations := {{position := 1, symbol := 'W'}}))""") === 2)
    assert(cnt("""seqs.filter(nucleotideMutationProfile(distance := 2,
        sequenceName := 'main', mutations := {{position := 1, symbol := 'W'}}))""") === 3)

    // error surface (reference CHECK_SILO_QUERY messages)
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main'))""") }
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', querySequence := 'ACGTACGT', sequenceId := 'k1'))""") }
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', querySequence := 'ACG'))""") }
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', sequenceId := 'nope'))""") }
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', mutations := {{position := 0, symbol := 'T'}}))""") }
    intercept[QueryError] { run("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', mutations := {{position := 1, symbol := 'Z'}}))""") }
  }

  test("insertionContains: position bounds validation and position 0") {
    // table with an ins column: k1 carries an insertion at position 0 —
    // "before the first symbol" (reference query_documentation.md:612)
    val insTable = SequenceModel.diff(
      Seq(("k1", "ACGTACGT"), ("k2", "ACGTACGT")).toDF("primary_key", "seq"),
      "seq", ref, missingSyms = Set("N"))
      .withColumn("ins", when($"primary_key" === "k1",
        array(struct(lit(0).as("pos"), lit("GG").as("ins"))))
        .otherwise(array().cast("array<struct<pos:int,ins:string>>")))
    val cat2 = catalog.copy(
      tables = catalog.tables + ("iseqs" -> insTable),
      sequences = catalog.sequences + ("iseqs" -> Map("main" -> SeqBinding(ref))),
      primaryKeys = catalog.primaryKeys + ("iseqs" -> "primary_key"))
    def run2(q: String) = Planner.plan(q, cat2)
    assert(run2("iseqs.filter(insertionContains(position := 0, value := 'GG', sequenceName := 'main'))")
      .count() === 1)
    // full-match: a strict prefix of the insertion does not match
    assert(run2("iseqs.filter(insertionContains(position := 0, value := 'G', sequenceName := 'main'))")
      .count() === 0)
    // typed bounds errors (insertion_contains.cpp:61-65; uint32 extraction)
    val e1 = intercept[QueryError] {
      run2("iseqs.filter(insertionContains(position := 9, value := 'GG', sequenceName := 'main'))")
    }
    assert(e1.getMessage.contains(
      "larger than the length of the reference sequence (8)"))
    assert(e1.getMessage.contains("'main'"))
    val e2 = intercept[QueryError] {
      run2("iseqs.filter(insertionContains(position := -1, value := 'GG', sequenceName := 'main'))")
    }
    assert(e2.getMessage.contains("uint32"))
    // above uint32 max the uint32 extraction fails BEFORE the
    // reference-length comparison (reference parity: the uint32 cast error,
    // not the length error)
    val e3 = intercept[QueryError] {
      run2("iseqs.filter(insertionContains(position := 5000000000, value := 'GG', sequenceName := 'main'))")
    }
    assert(e3.getMessage.contains("uint32"))
    // an escape must name a symbol character: regex class escapes are
    // invalid patterns (the reference's charToSymbol throws on them,
    // insertion_index.cpp:24-41), never wildcards — silently treating
    // '\w' as a word class would diverge from the 3-mer index route
    val e4 = intercept[QueryError] {
      run2("""iseqs.filter(insertionContains(position := 0, value := '\1G', sequenceName := 'main'))""")
    }
    assert(e4.getMessage.contains("valid pattern"))
    // escaped SYMBOL characters are fine ('\G' = literal G)
    assert(run2("""iseqs.filter(insertionContains(position := 0, value := '\G\G', sequenceName := 'main'))""")
      .count() === 1)
  }

  test("sequence predicate on a KNOWN origin without sequence data is a typed error") {
    // a plain table with no registered sequences: the planner must NOT
    // fall back to another table's sequence binding when the origin is known
    val plain = Seq(("a", 1), ("b", 2)).toDF("primary_key", "v")
    val cat2 = catalog.copy(
      tables = catalog.tables + ("plain" -> plain),
      primaryKeys = catalog.primaryKeys + ("plain" -> "primary_key"))
    val e = intercept[QueryError] {
      Planner.plan(
        "plain.filter(hasMutation(position := 1, sequenceName := 'main'))", cat2)
    }
    assert(e.getMessage.contains("sequence data"))
    assert(e.getMessage.contains("plain"))
  }

  test("mutationProfile(sequenceId) resolves the pipeline's ORIGIN table") {
    // a second sequence table that reuses pk 'k2' with a DIFFERENT
    // sequence: k2 here equals seqs' k3 (ACCTACGT), so distance-0 against
    // the correct table's profile selects exactly this row, while a
    // headOption fallback to 'seqs' (k2 = TCGTACGT) would select none
    val seqTable2 = SequenceModel.diff(
      Seq(("k2", "ACCTACGT")).toDF("primary_key", "seq"),
      "seq", ref, missingSyms = Set("N"))
    val cat2 = catalog.copy(
      tables = catalog.tables + ("seqs2" -> seqTable2),
      sequences = catalog.sequences + ("seqs2" -> Map("main" -> SeqBinding(ref))),
      primaryKeys = catalog.primaryKeys + ("seqs2" -> "primary_key"))
    assert(Planner.plan("""seqs2.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', sequenceId := 'k2'))""", cat2).count() === 1)
    // the original table still resolves its own k2
    assert(Planner.plan("""seqs.filter(nucleotideMutationProfile(distance := 0,
        sequenceName := 'main', sequenceId := 'k2'))""", cat2).count() === 1)
  }

  test("join with disjoint columns; unionAll schema check") {
    val other = Seq(("Switzerland", "CH"), ("Germany", "DE")).toDF("cname", "code")
    val cat2 = catalog.copy(tables = catalog.tables + ("codes" -> other))
    val out = Planner.plan(
      "default.join(codes, country = cname, type := 'inner').project({primary_key, code})",
      cat2)
    assert(out.count() === 4)
    intercept[QueryError] {
      Planner.plan("default.unionAll(codes)", cat2)
    }
  }

  test("negative literals and numeric edge cases") {
    assert(run("default.filter(age > -1)").count() === 5)
    assert(run("default.map({neg := -42, negf := -3.14}).limit(1)")
      .select("neg", "negf").collect().head.toSeq === Seq(-42, -3.14))
    // Long.MinValue parses; magnitude+1 does not; bare overflow does not
    Parser.parse("default.filter(age > -9223372036854775808)")
    intercept[Parser.ParseError] {
      Parser.parse("default.filter(age > -9223372036854775809)")
    }
    intercept[Parser.ParseError] {
      Parser.parse("default.filter(age > 9223372036854775808)")
    }
    intercept[Parser.ParseError] { Parser.parse("default.filter(-'x')") }
  }

  test("resolution and syntax errors are typed") {
    intercept[QueryError] { run("default.filter(nope = 1)") }
    intercept[QueryError] { run("nosuchtable.limit(1)") }
    intercept[QueryError] { run("default.groupBy({x := sum(age)})") }
    intercept[QueryError] { run("default.mutations(minProportion := 0.1)") }
    intercept[Parser.ParseError] { Parser.parse("default.filter(") }
    intercept[Parser.ParseError] { Parser.parse("default.limit(1) extra") }
    // named-before-positional rejection
    intercept[Parser.ParseError] { Parser.parse("default.f(a := 1, 2)") }
  }

  test("filteredIds: the filter layer is independently addressable") {
    val ids = Planner.filteredIds("default",
      "country = 'Switzerland' && age > 30", "primary_key", catalog)
      .as[String].collect().toSet
    assert(ids === Set("k2"))
    intercept[QueryError] {
      Planner.filteredIds("default", "nope = 1", "primary_key", catalog)
    }
  }

  test("randomize is deterministic per seed") {
    val a = run("default.randomize(seed := 7)").collect().map(_.getString(0)).toSeq
    val b = run("default.randomize(seed := 7)").collect().map(_.getString(0)).toSeq
    val c = run("default.randomize(seed := 8)").collect().map(_.getString(0)).toSeq
    assert(a === b)
    assert(a !== c)
  }

  test("randomize hashes the primary key: duplicate-content rows get distinct sort keys") {
    // reference order_by_randomize.cpp:25-33 hashes the stable row ordinal —
    // identical-content rows must NOT tie. Rows here differ ONLY in pk.
    val dup = Seq(("a", "same", 1), ("b", "same", 1), ("c", "same", 1))
      .toDF("primary_key", "payload", "n")
    val cat = Catalog(tables = Map("dup" -> dup),
      primaryKeys = Map("dup" -> "primary_key"))
    val keyed = Planner.plan("dup.randomize(seed := 5)", cat)
      .withColumn("__k", xxhash64(col("primary_key"), lit(5L)))
      .select("primary_key", "__k").collect()
    assert(keyed.map(_.getLong(1)).distinct.length === 3) // no ties
    // and the realized order IS the (pk, seed)-hash order
    val expect = keyed.sortBy(_.getLong(1)).map(_.getString(0)).toSeq
    val got = Planner.plan("dup.randomize(seed := 5)", cat)
      .collect().map(_.getString(0)).toSeq
    assert(got === expect)
  }

  test("project(main) is full-length with N padding; null sequence rows project as null") {
    val t2 = SequenceModel.diff(
      Seq(("k1", Some("ACC")), ("k2", None)).toDF("primary_key", "seq"),
      "seq", ref, missingSyms = Set("N"))
    val cat2 = Catalog(tables = Map("seqs" -> t2),
      sequences = Map("seqs" -> Map("main" -> SeqBinding(ref))),
      primaryKeys = Map("seqs" -> "primary_key"))
    val out = Planner.plan("seqs.project({primary_key, main})", cat2)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("k1") === Some("ACCNNNNN")) // short read padded to genome length
    assert(out("k2") === None)             // null sequence -> NULL, not all-N
  }

  test("map({s := main.at(p)}) reads the symbol from the diff representation") {
    val out = run("seqs.map({s := main.at(3)}).project({primary_key, s})")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("k1" -> "G", "k2" -> "G", "k3" -> "C"))
    // past-end yields "" (at.cpp), grouped shape stays executable
    val past = run("seqs.map({s := main.at(9)}).groupBy({c := count()}, {s})")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(past === Set(("", 3L)))
  }

  test("filter over a versioned table routes numeric range conjuncts " +
    "through the stats-pruned layer chain") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/vt"
    // three time-ordered delta layers with disjoint id ranges
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0), (9L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((10L, "CH", 3.0), (19L, "DE", 4.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((20L, "CH", 5.0), (29L, "DE", 6.0)).toDF("id", "country", "val"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    def files(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(input_file_name()).distinct().as[String].collect().toSeq

    // between over the bare scan: only the middle layer's files are read,
    // and the row-wise conjuncts (INCLUDING the routed one) still apply
    val q = Planner.plan("vt.filter(between(id, 10, 12) && country = 'CH')", cat)
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(10L))
    assert(files(q).forall(_.contains("/v2/")), "expected only v2 files")

    // equality conjunct prunes the same way
    assert(Planner.plan("vt.filter(id = 25)", cat).count() === 0)
    val q3 = Planner.plan("vt.filter(id = 20)", cat)
    assert(q3.collect().map(_.getLong(0)).toSeq === Seq(20L))
    assert(files(q3).forall(_.contains("/v3/")))

    // non-intersecting envelope: empty result, schema intact
    val q4 = Planner.plan("vt.filter(between(id, 100, 200))", cat)
    assert(q4.count() === 0 && q4.columns.toSeq === Seq("id", "country", "val"))

    // NOT the bare scan (map() in between): no routing, still correct
    val q5 = Planner.plan(
      "vt.map({id2 := id}).filter(between(id, 12, 19))", cat)
    assert(q5.collect().map(_.getLong(0)).toSeq.sorted === Seq(19L))
    // a string equality routes through the lexicographic envelopes;
    // every layer here spans CH..DE so nothing is (wrongly) pruned
    assert(Planner.plan("vt.filter(country = 'CH')", cat).count() === 3)

    // merge-on-read chain: an upsert supersedes a row; routing must NOT
    // swap the registered (merged) frame for the raw pruned chain
    NdjsonIngest.upsertDelta(
      Seq((10L, "FR", 30.0)).toDF("id", "country", "val"), dir, "id")
    assert(!NdjsonIngest.chainMergeFree(dir, NdjsonIngest.latestLayers(dir)))
    val mcat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatestMerged(spark, dir, "id")),
      versionedDirs = Map("vt" -> dir))
    val m = Planner.plan("vt.filter(between(id, 10, 12))", mcat)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(m === Seq((10L, "FR"))) // merged winner, not the raw v2 row
  }

  test("date-typed range filters prune versioned layers by epoch-day stats") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/dt"
    def d(s: String) = java.sql.Date.valueOf(s)
    NdjsonIngest.appendVersion(
      Seq((1L, d("2021-01-05")), (2L, d("2021-01-20"))).toDF("id", "day"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, d("2021-02-03")), (4L, d("2021-02-25"))).toDF("id", "day"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, d("2021-03-10")), (6L, d("2021-03-28"))).toDF("id", "day"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    val q = Planner.plan(
      "vt.filter(between(day, '2021-02-01'::date, '2021-02-28'::date))", cat)
    assert(q.collect().map(_.getLong(0)).toSeq.sorted === Seq(3L, 4L))
    val files = q.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("/v2/")),
      s"expected only v2 files, got ${files.mkString(", ")}")
    // half-open between (null lower bound): conservative ∓∞ envelope
    val q2 = Planner.plan(
      "vt.filter(between(day, null, '2021-01-31'::date))", cat)
    assert(q2.collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
    assert(q2.select(input_file_name()).distinct().as[String].collect()
      .forall(_.contains("/v1/")))
  }

  test("string equality/in-set filters prune layers by lexicographic envelopes") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/st"
    // three layers clustered by country range (e.g. partitioned ingest)
    NdjsonIngest.appendVersion(
      Seq((1L, "AT"), (2L, "CH")).toDF("id", "country"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, "DE"), (4L, "FR")).toDF("id", "country"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, "IT"), (6L, "US")).toDF("id", "country"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    def files(q: String): Seq[String] =
      Planner.plan(q, cat).select(input_file_name()).distinct()
        .as[String].collect().toSeq
    val eq = Planner.plan("vt.filter(country = 'FR')", cat)
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(files("vt.filter(country = 'FR')").forall(_.contains("/v2/")))
    // in-set spanning two layers keeps exactly those two
    val set = files("vt.filter(in(country, {'CH','IT'}))")
    assert(set.nonEmpty && set.forall(f =>
      f.contains("/v1/") || f.contains("/v3/")))
    assert(Planner.plan("vt.filter(in(country, {'CH','IT'}))", cat)
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(2L, 5L))
    // a sought value outside every envelope: empty result, schema intact
    val none = Planner.plan("vt.filter(country = 'ZZ')", cat)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "country"))
    // string range + numeric range conjuncts narrow TOGETHER
    assert(Planner.plan(
      "vt.filter(country = 'FR' && between(id, 1, 3))", cat).count() === 0)
  }

  test("zone routing prunes the REGISTERED frame's chain, not the latest " +
    "pointer — a commit racing the plan cannot skew routed vs unrouted") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/rc"
    NdjsonIngest.appendVersion(
      Seq((1L, 10.0)).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((2L, 20.0)).toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    // a third layer commits AFTER the catalog registered its frame —
    // the routed read must see the registered snapshot (ids 1, 2), same
    // as the unrouted filter would, NOT the newer chain
    NdjsonIngest.appendDelta(Seq((3L, 30.0)).toDF("id", "v"), dir, "id")
    val routed = Planner.plan("vt.filter(between(id, 1, 100))", cat)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(routed === Seq(1L, 2L))
    val unrouted = Planner.plan("vt.filter(id > 0)", cat)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(unrouted === routed) // no skew between filter shapes
  }

  test("orderBy+limit over a stats-bearing chain routes to a bounded " +
    "top-k read; every other shape stays untouched") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/tk"
    NdjsonIngest.appendVersion(
      Seq((1L, 5.0), (2L, 3.0)).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 12.0), (4L, 11.0)).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, 25.0), (6L, 21.0)).toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    val q = "vt.orderBy({desc(v), id}).limit(2)"
    val routed = Planner.plan(q, cat)
    // the two largest v live in v3 alone (count 2 ≥ k) — v1/v2 never open
    assert(routed.inputFiles.forall(_.contains("/v3/")),
      routed.inputFiles.mkString(","))
    val noRoute = Planner.plan(q, cat.copy(versionedDirs = Map()))
    assert(routed.collect().map(_.getLong(0)).toSeq ===
      noRoute.collect().map(_.getLong(0)).toSeq)
    assert(routed.collect().map(_.getLong(0)).toSeq === Seq(5L, 6L))
    // ascending needs only the OLDEST layer
    val asc = Planner.plan("vt.orderBy({v, id}).limit(2)", cat)
    assert(asc.inputFiles.forall(_.contains("/v1/")))
    assert(asc.collect().map(_.getLong(0)).toSeq === Seq(2L, 1L))
    // an OPAQUE filter (not stats-decidable: bare comparison, no
    // between/equality shape) between scan and orderBy drops the note:
    // full chain read, same rows (conservative, never a semantic change)
    val filtered = Planner.plan(
      "vt.filter(id > 0).orderBy({desc(v), id}).limit(2)", cat)
    assert(filtered.collect().map(_.getLong(0)).toSeq === Seq(5L, 6L))
    // a STRING first key routes through the lexicographic `s:` envelopes
    // + the string non-null ledger: desc top-2 lives entirely in the
    // z-side layer, so v1 never opens
    val sdir = java.nio.file.Files.createTempDirectory("graft").toString + "/sk"
    NdjsonIngest.appendVersion(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), sdir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, "y"), (4L, "z")).toDF("id", "s"), sdir, "id")
    val sCat = Catalog(
      tables = Map("st" -> NdjsonIngest.readLatest(spark, sdir)),
      versionedDirs = Map("st" -> sdir))
    val byStr = Planner.plan("st.orderBy({desc(s), id}).limit(2)", sCat)
    val sLayers = byStr.inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(sLayers.sorted.toSeq === Seq("v2"),
      s"string top-k should open 1 of 2 layers, got ${sLayers.mkString(",")}")
    assert(byStr.collect().map(_.getLong(0)).toSeq === Seq(4L, 3L))
    assert(byStr.collect().map(_.getLong(0)).toSeq ===
      Planner.plan("st.orderBy({desc(s), id}).limit(2)",
        sCat.copy(versionedDirs = Map())).collect().map(_.getLong(0)).toSeq)
    // ascending needs only the a/b layer
    val sAsc = Planner.plan("st.orderBy({s, id}).limit(2)", sCat)
    assert(sAsc.inputFiles.forall(_.contains("/v1/")))
    assert(sAsc.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // an offset between orderBy and limit DEEPENS the bound (skip+k) and
    // re-applies: rows 3-4 of the ascending stream need v1+v2, never v3
    val off = Planner.plan("vt.orderBy({v, id}).offset(2).limit(2)", cat)
    assert(off.inputFiles.nonEmpty &&
      off.inputFiles.forall(f => f.contains("/v1/") || f.contains("/v2/")),
      off.inputFiles.mkString(","))
    assert(off.collect().map(_.getLong(0)).toSeq === Seq(4L, 3L))
    assert(off.collect().map(_.getLong(0)).toSeq ===
      Planner.plan("vt.orderBy({v, id}).offset(2).limit(2)",
        cat.copy(versionedDirs = Map())).collect().map(_.getLong(0)).toSeq)
  }

  test("filter+orderBy+limit composes: the scan opens only layers " +
    "satisfying BOTH the zone bound and the top-k bound") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/ftk"
    // four day-clustered layers, scores rising with the day — the
    // canonical `table.filter(window).orderBy(score).limit(k)` shape
    NdjsonIngest.appendVersion(
      Seq((1L, 1L, 10.0), (2L, 1L, 11.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 2L, 20.0), (4L, 2L, 21.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, 3L, 30.0), (6L, 3L, 31.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((7L, 4L, 40.0), (8L, 4L, 41.0)).toDF("id", "day", "score"),
      dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    val q = "t.filter(between(day, 2, 3)).orderBy({desc(score), id}).limit(2)"
    val routed = Planner.plan(q, cat)
    // the day window drops v1/v4 (zone bound); v3's fully-contained
    // envelope proves 2 qualifying rows at score >= 30, so v2 drops too
    // (top-k bound): 1 of 4 footers opens
    assert(layersOf(routed) === Seq("v3"), layersOf(routed).mkString(","))
    assert(routed.collect().map(_.getLong(0)).toSeq === Seq(6L, 5L))
    assert(routed.collect().map(_.getLong(0)).toSeq ===
      Planner.plan(q, cat.copy(versionedDirs = Map()))
        .collect().map(_.getLong(0)).toSeq)
    // an offset deepens the composed bound: rows 3-4 of the window's
    // descending stream need v2 as well, but still never v1/v4
    val off = Planner.plan("t.filter(between(day, 2, 3))" +
      ".orderBy({desc(score), id}).offset(2).limit(2)", cat)
    assert(layersOf(off) === Seq("v2", "v3"))
    assert(off.collect().map(_.getLong(0)).toSeq === Seq(4L, 3L))
    // a window matching no layer: empty result, schema kept
    val none = Planner.plan(
      "t.filter(between(day, 9, 10)).orderBy({desc(score), id}).limit(2)", cat)
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("id", "day", "score"))
    // a mixed conjunct set (string equality + range) still composes;
    // routed == unrouted on a partially-contained window
    val dir2 = java.nio.file.Files.createTempDirectory("graft").toString + "/ftk2"
    NdjsonIngest.appendVersion(
      Seq((1L, 1L, "A"), (2L, 2L, "B")).toDF("id", "v", "c"), dir2, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 3L, "A"), (4L, 4L, "B")).toDF("id", "v", "c"), dir2, "id")
    val cat2 = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir2)),
      versionedDirs = Map("t" -> dir2))
    val q2 = "t.filter(c = 'A' && between(v, 1, 3)).orderBy({desc(v), id}).limit(1)"
    assert(Planner.plan(q2, cat2).collect().map(_.getLong(0)).toSeq ===
      Planner.plan(q2, cat2.copy(versionedDirs = Map()))
        .collect().map(_.getLong(0)).toSeq)
    assert(Planner.plan(q2, cat2).collect().map(_.getLong(0)).toSeq === Seq(3L))
    // a PLAIN projection between the filter and the sort keeps the
    // composed bounds (row membership is projection-invariant): same
    // 1-of-4 footprint, projected columns only
    val proj = Planner.plan("t.filter(between(day, 2, 3))" +
      ".project({id, score}).orderBy({desc(score), id}).limit(2)", cat)
    assert(layersOf(proj) === Seq("v3"), layersOf(proj).mkString(","))
    assert(proj.columns.toSeq === Seq("id", "score"))
    assert(proj.collect().map(_.getLong(0)).toSeq === Seq(6L, 5L))
    // projection off the BARE scan seeds a note too
    val bareProj = Planner.plan(
      "t.project({id, score}).orderBy({desc(score), id}).limit(2)", cat)
    assert(layersOf(bareProj) === Seq("v4"))
    assert(bareProj.collect().map(_.getLong(0)).toSeq === Seq(8L, 7L))
    // projected metadata counts: row membership unchanged by projection
    val projCount = Planner.plan("t.filter(between(day, 2, 3))" +
      ".project({id}).groupBy({c := count()})", cat)
    assert(projCount.inputFiles.isEmpty)
    assert(projCount.collect().head.getLong(0) === 4L)
    // a projection DROPPING the sort key cannot route (the orderBy
    // rejects the unknown column, same as unrouted)
    intercept[graft.lang.Planner.QueryError] {
      Planner.plan("t.project({id}).orderBy({desc(score)}).limit(1)", cat)
    }
    // a column-ADDING map keeps the note too (row membership unchanged);
    // the added column survives the rewrite
    val mapped = Planner.plan("t.filter(between(day, 2, 3))" +
      ".map({tag := 'x'}).orderBy({desc(score), id}).limit(2)", cat)
    assert(layersOf(mapped) === Seq("v3"), layersOf(mapped).mkString(","))
    assert(mapped.columns.toSeq === Seq("id", "day", "score", "tag"))
    assert(mapped.collect().map(r => (r.getLong(0), r.getString(3))).toSeq ===
      Seq((6L, "x"), (5L, "x")))
    // bare map seeds a note; metadata count rides through it
    val mCount = Planner.plan(
      "t.map({tag := 'x'}).groupBy({c := count()})", cat)
    assert(mCount.inputFiles.isEmpty)
    assert(mCount.collect().head.getLong(0) === 8L)
    // a map SHADOWING a scan column drops the note — the stats under
    // that name no longer describe its values; plan stays unpruned and
    // value-identical to the unrouted one
    val shadowQ = "t.map({score := 1}).orderBy({desc(score), id}).limit(1)"
    val shadow = Planner.plan(shadowQ, cat)
    assert(layersOf(shadow).size === 4,
      s"shadowing map must not prune: ${layersOf(shadow).mkString(",")}")
    assert(shadow.collect().map(_.getLong(0)).toSeq ===
      Planner.plan(shadowQ, cat.copy(versionedDirs = Map()))
        .collect().map(_.getLong(0)).toSeq)
  }

  test("stacked and post-stage filters extend the zone note (≙ the " +
    "reference folding every filter into the scan, " +
    "filter_pushdown_pass.h:22-49)") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/sf"
    NdjsonIngest.appendVersion(
      Seq((1L, 1L, 10.0), (2L, 1L, 11.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 2L, 20.0), (4L, 2L, 21.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, 3L, 30.0), (6L, 3L, 31.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((7L, 4L, 40.0), (8L, 4L, 41.0)).toDF("id", "day", "score"),
      dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    def unrouted(q: String) = Planner.plan(q, cat.copy(versionedDirs = Map()))
    // filter∘filter + orderBy + limit: the windows INTERSECT in the note,
    // so the top-k bound still fires — 1 of 4 footers, like the
    // single-filter form
    val q1 = "t.filter(between(day, 2, 4)).filter(between(day, 2, 3))" +
      ".orderBy({desc(score), id}).limit(2)"
    val r1 = Planner.plan(q1, cat)
    assert(layersOf(r1) === Seq("v3"), layersOf(r1).mkString(","))
    assert(r1.collect().map(_.getLong(0)).toSeq === Seq(6L, 5L))
    assert(r1.collect().map(_.getLong(0)).toSeq ===
      unrouted(q1).collect().map(_.getLong(0)).toSeq)
    // filter∘filter + count: still a pure metadata answer, zero footers
    val c1 = Planner.plan("t.filter(between(day, 2, 4))" +
      ".filter(between(day, 2, 3)).groupBy({c := count()})", cat)
    assert(c1.inputFiles.isEmpty)
    assert(c1.collect().head.getLong(0) === 4L)
    // map∘filter: the column-adding map rides the bare-scan note, the
    // filter EXTENDS it, the top-k bound still fires — and the mapped
    // column replays after the narrowed scan
    val q2 = "t.map({tag := 'x'}).filter(between(day, 2, 3))" +
      ".orderBy({desc(score), id}).limit(2)"
    val r2 = Planner.plan(q2, cat)
    assert(layersOf(r2) === Seq("v3"), layersOf(r2).mkString(","))
    assert(r2.columns.toSeq === Seq("id", "day", "score", "tag"))
    assert(r2.collect().map(r => (r.getLong(0), r.getString(3))).toSeq ===
      Seq((6L, "x"), (5L, "x")))
    // project∘filter + count: zero footers through the projection
    val c2 = Planner.plan("t.project({id, day}).filter(between(day, 2, 3))" +
      ".groupBy({c := count()})", cat)
    assert(c2.inputFiles.isEmpty)
    assert(c2.collect().head.getLong(0) === 4L)
    // an OPAQUE second filter drops the note (counts/top-k would be
    // unsound) but KEEPS the first filter's zone narrowing
    val q3 = "t.filter(between(day, 2, 3)).filter(score <> 20.0)" +
      ".orderBy({desc(score), id}).limit(2)"
    val r3 = Planner.plan(q3, cat)
    assert(layersOf(r3) === Seq("v2", "v3"), layersOf(r3).mkString(","))
    assert(r3.collect().map(_.getLong(0)).toSeq ===
      unrouted(q3).collect().map(_.getLong(0)).toSeq)
    // a MIXED second filter (decidable + opaque conjunct) narrows the
    // scan on the decidable one but forms no note
    val q4 = "t.filter(between(day, 2, 4))" +
      ".filter(between(score, 25, 50) && score <> 30.0)" +
      ".orderBy({desc(score), id}).limit(10)"
    val r4 = Planner.plan(q4, cat)
    assert(layersOf(r4) === Seq("v3", "v4"), layersOf(r4).mkString(","))
    assert(r4.collect().map(_.getLong(0)).toSeq ===
      unrouted(q4).collect().map(_.getLong(0)).toSeq)
  }

  test("project/map between orderBy and limit ride the sort note as " +
    "post-sort stages — keys may be dropped or shadowed, bounds keep") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/ps"
    NdjsonIngest.appendVersion(
      Seq((1L, 1L, 10.0), (2L, 1L, 11.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 2L, 20.0), (4L, 2L, 21.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, 3L, 30.0), (6L, 3L, 31.0)).toDF("id", "day", "score"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((7L, 4L, 40.0), (8L, 4L, 41.0)).toDF("id", "day", "score"),
      dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    def unrouted(q: String) = Planner.plan(q, cat.copy(versionedDirs = Map()))
    // a projection DROPPING the sort key between orderBy and limit: the
    // rewrite sorts first, replays the projection after — 1 of 4 footers
    val q1 = "t.orderBy({desc(score), id}).project({id}).limit(2)"
    val r1 = Planner.plan(q1, cat)
    assert(layersOf(r1) === Seq("v4"), layersOf(r1).mkString(","))
    assert(r1.columns.toSeq === Seq("id"))
    assert(r1.collect().map(_.getLong(0)).toSeq === Seq(8L, 7L))
    assert(r1.collect().map(_.getLong(0)).toSeq ===
      unrouted(q1).collect().map(_.getLong(0)).toSeq)
    // a map SHADOWING the sort key post-sort: the pipeline sorts on the
    // ORIGINAL values then overwrites — so must the rewrite
    val q2 = "t.orderBy({desc(score), id}).map({score := 0}).limit(2)"
    val r2 = Planner.plan(q2, cat)
    assert(layersOf(r2) === Seq("v4"), layersOf(r2).mkString(","))
    assert(r2.collect().map(r => (r.getLong(0), r.getInt(2))).toSeq ===
      Seq((8L, 0), (7L, 0)))
    assert(r2.collect().map(_.getLong(0)).toSeq ===
      unrouted(q2).collect().map(_.getLong(0)).toSeq)
    // composed with a decidable filter: both bounds + the post-sort stage
    val q3 = "t.filter(between(day, 2, 3)).orderBy({desc(score), id})" +
      ".project({id}).limit(2)"
    val r3 = Planner.plan(q3, cat)
    assert(layersOf(r3) === Seq("v3"), layersOf(r3).mkString(","))
    assert(r3.collect().map(_.getLong(0)).toSeq === Seq(6L, 5L))
    // an offset around the interposed stage deepens the bound
    val q4 = "t.orderBy({desc(score), id}).project({id}).offset(2).limit(2)"
    val r4 = Planner.plan(q4, cat)
    assert(layersOf(r4) === Seq("v3", "v4"), layersOf(r4).mkString(","))
    assert(r4.collect().map(_.getLong(0)).toSeq === Seq(6L, 5L))
    assert(r4.collect().map(_.getLong(0)).toSeq ===
      unrouted(q4).collect().map(_.getLong(0)).toSeq)
  }

  test("disjunctive filters zone-prune on the UNION of the arms' " +
    "envelopes (≙ Or unioning bitmaps, filter/operators/or.cpp)") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/or"
    NdjsonIngest.appendVersion(
      Seq((1L, 1L, "A"), (2L, 1L, "B")).toDF("id", "day", "c"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 2L, "C"), (4L, 2L, "D")).toDF("id", "day", "c"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, 3L, "E"), (6L, 3L, "F")).toDF("id", "day", "c"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((7L, 4L, "G"), (8L, 4L, "H")).toDF("id", "day", "c"), dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    def unrouted(q: String) = Planner.plan(q, cat.copy(versionedDirs = Map()))
    // two disjoint windows: the union keeps v1 and v4 only
    val q1 = "t.filter(between(day, 1, 1) || between(day, 4, 4))"
    val r1 = Planner.plan(q1, cat)
    assert(layersOf(r1) === Seq("v1", "v4"), layersOf(r1).mkString(","))
    assert(r1.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q1).collect().map(_.getLong(0)).sorted.toSeq)
    // an arm may carry an opaque conjunct (the arm still prunes on its
    // decidable one); mixed range + string-equality arms union correctly
    val q2 = "t.filter((between(day, 1, 1) && id <> 2) || c = 'G')"
    val r2 = Planner.plan(q2, cat)
    assert(layersOf(r2) === Seq("v1", "v4"), layersOf(r2).mkString(","))
    assert(r2.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q2).collect().map(_.getLong(0)).sorted.toSeq)
    // an arm with NO decidable conjunct disables the group's pruning
    val q3 = "t.filter(between(day, 1, 1) || id <> 3)"
    val r3 = Planner.plan(q3, cat)
    assert(layersOf(r3).size === 4,
      s"opaque arm must not prune: ${layersOf(r3).mkString(",")}")
    assert(r3.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q3).collect().map(_.getLong(0)).sorted.toSeq)
    // an OR conjunct ANDed with a decidable window: both narrow
    val q4 = "t.filter(between(day, 1, 3) && (between(day, 1, 1) || between(day, 3, 4)))"
    val r4 = Planner.plan(q4, cat)
    assert(layersOf(r4) === Seq("v1", "v3"), layersOf(r4).mkString(","))
    assert(r4.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q4).collect().map(_.getLong(0)).sorted.toSeq)
    // disjunctions never feed the metadata count (sound fallback: the
    // narrowed counting scan) — the count is still correct
    val c1 = Planner.plan(q1 + ".groupBy({c := count()})", cat)
    assert(c1.collect().head.getLong(0) === 4L)
  }

  test("filters push through unionAll: both children zone-route " +
    "independently, stacked filters keep pushing") {
    import graft.sources.NdjsonIngest
    val base = java.nio.file.Files.createTempDirectory("graft").toString
    val dirA = s"$base/ua"; val dirB = s"$base/ub"
    Seq(dirA, dirB).foreach { d =>
      NdjsonIngest.appendVersion(
        Seq((1L, 1L, 10.0), (2L, 1L, 11.0)).toDF("id", "day", "score"),
        d, "id")
      NdjsonIngest.appendDelta(
        Seq((3L, 2L, 20.0), (4L, 2L, 21.0)).toDF("id", "day", "score"),
        d, "id")
      NdjsonIngest.appendDelta(
        Seq((5L, 3L, 30.0), (6L, 3L, 31.0)).toDF("id", "day", "score"),
        d, "id")
    }
    val cat = Catalog(
      tables = Map("a" -> NdjsonIngest.readLatest(spark, dirA),
        "b" -> NdjsonIngest.readLatest(spark, dirB)),
      versionedDirs = Map("a" -> dirA, "b" -> dirB))
    def files(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(f => f.split("/").takeRight(3).mkString("/"))
        .distinct.sorted.toSeq
    def unrouted(q: String) = Planner.plan(q, cat.copy(versionedDirs = Map()))
    // the window keeps only v2 of EACH side (4 of 12 footers total)
    val q1 = "a.unionAll(b).filter(between(day, 2, 2))"
    val r1 = Planner.plan(q1, cat)
    assert(files(r1).map(_.split("/")(1)).distinct === Seq("v2"),
      files(r1).mkString(","))
    assert(files(r1).exists(_.startsWith("ua/")) &&
      files(r1).exists(_.startsWith("ub/")), files(r1).mkString(","))
    assert(r1.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q1).collect().map(_.getLong(0)).sorted.toSeq)
    assert(r1.count() === 4) // rows 3,4 from each side
    // a SECOND filter keeps pushing through the rebuilt union
    val q2 = "a.unionAll(b).filter(between(day, 2, 3)).filter(between(day, 3, 3))"
    val r2 = Planner.plan(q2, cat)
    assert(files(r2).map(_.split("/")(1)).distinct === Seq("v3"),
      files(r2).mkString(","))
    assert(r2.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q2).collect().map(_.getLong(0)).sorted.toSeq)
    // project and map BETWEEN the union and the filter keep the
    // children routable (both are row-membership-invariant per child)
    val q3 = "a.unionAll(b).project({id, day}).filter(between(day, 2, 2))"
    val r3 = Planner.plan(q3, cat)
    assert(files(r3).map(_.split("/")(1)).distinct === Seq("v2"),
      files(r3).mkString(","))
    assert(r3.columns.toSeq === Seq("id", "day"))
    assert(r3.collect().map(_.getLong(0)).sorted.toSeq ===
      unrouted(q3).collect().map(_.getLong(0)).sorted.toSeq)
    val q4 = "a.unionAll(b).map({tag := 'x'}).filter(between(day, 2, 2))"
    val r4 = Planner.plan(q4, cat)
    assert(files(r4).map(_.split("/")(1)).distinct === Seq("v2"),
      files(r4).mkString(","))
    assert(r4.collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
      === Seq((3L, "x"), (3L, "x"), (4L, "x"), (4L, "x")))
    // metadata counts SUM across the union's children — zero footers
    val c1 = Planner.plan(
      "a.unionAll(b).filter(between(day, 2, 2)).groupBy({c := count()})", cat)
    assert(c1.inputFiles.isEmpty,
      "unioned filtered count must not plan a file scan")
    assert(c1.collect().head.getLong(0) === 4L)
    val c2 = Planner.plan("a.unionAll(b).groupBy({c := count()})", cat)
    assert(c2.inputFiles.isEmpty)
    assert(c2.collect().head.getLong(0) === 12L)
    // one UNREGISTERED side poisons the metadata sum (falls back to the
    // counting scan) but never the answer
    val half = cat.copy(versionedDirs = Map("a" -> dirA))
    val c3 = Planner.plan(
      "a.unionAll(b).filter(between(day, 2, 2)).groupBy({c := count()})", half)
    assert(c3.collect().head.getLong(0) === 4L)
    // top-k through the union: each side bounds its own read (the day
    // window admits v2+v3 per side; the top-2-by-day-desc bound keeps
    // only v3), then the merged frames re-sort and cut
    val q5 = "a.unionAll(b).filter(between(day, 2, 3))" +
      ".orderBy({desc(day), id}).limit(2)"
    val r5 = Planner.plan(q5, cat)
    assert(files(r5).map(_.split("/")(1)).distinct === Seq("v3"),
      files(r5).mkString(","))
    assert(r5.collect().map(_.getLong(0)).toSeq === Seq(5L, 5L))
    assert(r5.collect().map(_.getLong(0)).toSeq ===
      unrouted(q5).collect().map(_.getLong(0)).toSeq)
    // bare union top-k routes too; an offset over the union DEEPENS
    // each child's bound to skip+k and re-applies the skip after the
    // merge sort — rows 2-3 of the descending stream need v2+v3 of each
    // side, never v1
    val q6 = "a.unionAll(b).orderBy({desc(day), id}).limit(2)"
    val r6 = Planner.plan(q6, cat)
    assert(files(r6).map(_.split("/")(1)).distinct === Seq("v3"))
    assert(r6.collect().map(_.getLong(0)).toSeq === Seq(5L, 5L))
    val q7 = "a.unionAll(b).orderBy({desc(day), id}).offset(1).limit(2)"
    val r7 = Planner.plan(q7, cat)
    assert(files(r7).map(_.split("/")(1)).distinct.sorted === Seq("v2", "v3"),
      files(r7).mkString(","))
    assert(r7.collect().map(_.getLong(0)).toSeq === Seq(5L, 6L))
    assert(r7.collect().map(_.getLong(0)).toSeq ===
      unrouted(q7).collect().map(_.getLong(0)).toSeq)
    // a row-membership stage BETWEEN the union's orderBy and the limit
    // must keep the SORT (the per-child notes ride a separate slot —
    // rebuilding the frame from the unsorted children here would return
    // arbitrary rows): top-2 ids by day desc are 5,5 regardless of the
    // interposed project/map/filter
    val q8 = "a.unionAll(b).orderBy({desc(day), id}).project({id}).limit(2)"
    assert(Planner.plan(q8, cat).collect().map(_.getLong(0)).toSeq ===
      Seq(5L, 5L))
    val q9 = "a.unionAll(b).orderBy({desc(day), id}).map({t := 'x'}).limit(2)"
    assert(Planner.plan(q9, cat).collect().map(_.getLong(0)).toSeq ===
      Seq(5L, 5L))
    val q10 = "a.unionAll(b).orderBy({desc(day), id})" +
      ".filter(between(day, 1, 3)).limit(2)"
    assert(Planner.plan(q10, cat).collect().map(_.getLong(0)).toSeq ===
      Seq(5L, 5L))
    // a KEY-KEEPING projection between the union's orderBy and limit
    // still routes both sides (the merge re-sorts the projected frames)
    val q11 = "a.unionAll(b).orderBy({desc(day), id}).project({id, day})" +
      ".limit(2)"
    val r11 = Planner.plan(q11, cat)
    assert(files(r11).map(_.split("/")(1)).distinct === Seq("v3"),
      files(r11).mkString(","))
    assert(r11.columns.toSeq === Seq("id", "day"))
    assert(r11.collect().map(_.getLong(0)).toSeq === Seq(5L, 5L))
  }

  test("filtered counts stay exact with ONE loose conjunct: rows failing " +
    "the conjunction fail exactly that conjunct") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/lc"
    NdjsonIngest.appendVersion(
      Seq((1L, Option(1.0)), (2L, Option(2.0))).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, Option(5.0)), (4L, Option.empty[Double])).toDF("id", "v"),
      dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    // between(id, …) passes ALL rows of every layer (full containment,
    // no nulls); isNotNull(v) is the single loose conjunct — its exact
    // pass count IS the conjunction's count, no footer opens
    val q = "t.filter(between(id, 0, 100) && isNotNull(v))" +
      ".groupBy({c := count()})"
    val r = Planner.plan(q, cat)
    assert(r.inputFiles.isEmpty,
      "single-loose-conjunct count must answer from metadata")
    assert(r.collect().head.getLong(0) === 3L)
    assert(Planner.plan(q, cat.copy(versionedDirs = Map()))
      .collect().head.getLong(0) === 3L)
    // TWO loose conjuncts stay undecidable (failure overlap unknowable):
    // fallback scan, same answer
    val q2 = "t.filter(between(v, 1, 100) && isNotNull(v))" +
      ".groupBy({c := count()})"
    val r2 = Planner.plan(q2, cat)
    assert(r2.collect().head.getLong(0) === 3L)
    assert(Planner.plan(q2, cat.copy(versionedDirs = Map()))
      .collect().head.getLong(0) === 3L)
  }

  test("stats-driven bounds require the sort/group column in the PINNED " +
    "scan schema — a map-added name aliasing a dead column's stale stats " +
    "must not prune") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/ss"
    NdjsonIngest.appendVersion(
      Seq((1L, 10.0), (2L, 11.0)).toDF("id", "score"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 20.0), (4L, 21.0)).toDF("id", "score"), dir, "id")
    // simulate schema-evolution name reuse: every layer's sidecar still
    // records stats for a DEAD column `wk` (numeric envelope + ledger +
    // a complete string histogram), as if `wk` once existed with very
    // different values
    val enc = java.util.Base64.getEncoder
    def yB64 = enc.encodeToString("y".getBytes("UTF-8"))
    Seq("v1" -> "wk 0.0 1.0", "v2" -> "wk 100.0 200.0").foreach {
      case (l, env) =>
        val p = java.nio.file.Paths.get(dir, l, "_stats")
        java.nio.file.Files.writeString(p,
          s"\n$env\nc:wk 2\ngh:wk 1\ng:wk $yB64 2",
          java.nio.file.StandardOpenOption.APPEND)
    }
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    // top-k on the map-added `wk` (every row = 1): the stale envelopes
    // would keep only v2 and answer id=3; the real top-1 under the id
    // tiebreak is id=1
    val topQ = "t.map({wk := 1}).orderBy({desc(wk), id}).limit(1)"
    val top = Planner.plan(topQ, cat)
    assert(layersOf(top).size === 2,
      s"map-added sort key must not prune: ${layersOf(top).mkString(",")}")
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // grouped count on the map-added `wk` (every row = 'x'): the stale
    // histograms would answer ('y', 4); the real answer is ('x', 4)
    val grpQ = "t.map({wk := 'x'}).groupBy({cnt := count()}, {wk})"
    val grp = Planner.plan(grpQ, cat)
    assert(grp.inputFiles.nonEmpty,
      "map-added group column must not answer from layer histograms")
    assert(grp.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("x", 4L)))
  }

  test("filtered count composes with the zone note: decidable windows " +
    "answer from metadata alone; partial layers and ledger gaps fall back") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/fc"
    NdjsonIngest.appendVersion(
      Seq((1L, Option(1.0)), (2L, Option(2.0))).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, Option(5.0)), (4L, Option.empty[Double])).toDF("id", "v"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, Option(10.0)), (6L, Option(11.0))).toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    def q(pred: String) =
      Planner.plan(s"vt.filter($pred).groupBy({c := count()})", cat)
    def unrouted(pred: String) =
      Planner.plan(s"vt.filter($pred).groupBy({c := count()})",
        cat.copy(versionedDirs = Map())).collect().head.getLong(0)
    // fully decidable: v1/v2 zone-excluded, v3 fully contained, no nulls
    val w = q("between(v, 10, 20)")
    assert(w.inputFiles.isEmpty, "window count must not plan a file scan")
    assert(w.collect().head.getLong(0) === 2L)
    assert(unrouted("between(v, 10, 20)") === 2L)
    // still decidable WITH a null: single conjunct → the non-null ledger
    // pins v2's pass count exactly (1 of 2 rows)
    val all = q("between(v, 1, 20)")
    assert(all.inputFiles.isEmpty)
    assert(all.collect().head.getLong(0) === 5L)
    assert(unrouted("between(v, 1, 20)") === 5L)
    // several conjuncts + a null-bearing layer: the pass intersection is
    // unknowable from per-column ledgers → real counting scan, same value
    val multi = q("isNotNull(v) && between(v, 1, 20)")
    assert(multi.inputFiles.nonEmpty,
      "multi-conjunct with nulls must fall back to the counting scan")
    assert(multi.collect().head.getLong(0) === 5L)
    // partial containment: v1's envelope straddles the bound → scan
    val part = q("between(v, 2, 20)")
    assert(part.inputFiles.nonEmpty)
    assert(part.collect().head.getLong(0) === 4L)
    assert(unrouted("between(v, 2, 20)") === 4L)
    // isNull / isNotNull counts are single-conjunct ledger sums
    val nn = q("isNotNull(v)")
    assert(nn.inputFiles.isEmpty && nn.collect().head.getLong(0) === 5L)
    val nl = q("isNull(v)")
    assert(nl.inputFiles.isEmpty && nl.collect().head.getLong(0) === 1L)
  }

  test("grouped counts answer from the layer value histograms; entry " +
    "filters, null groups, and undecidable shapes behave") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/gc"
    NdjsonIngest.appendVersion(
      Seq((1L, 1.0, Option("a")), (2L, 1.0, Option("b")),
        (3L, 1.0, Option.empty[String])).toDF("id", "w", "c"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((4L, 5.0, Option("a")), (5L, 6.0, Option("c")))
        .toDF("id", "w", "c"), dir, "id")
    val cat = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("t" -> dir))
    def grouped(q: String) = Planner.plan(q, cat)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    def unrouted(q: String) = rowsOf(
      Planner.plan(q, cat.copy(versionedDirs = Map())))
    // bare grouped count: pure histogram sum, null group from the ledger
    val bare = grouped("t.groupBy({n := count()}, {c})")
    assert(bare.inputFiles.isEmpty, "grouped count must not plan a scan")
    assert(rowsOf(bare) === Set((Some("a"), 2L), (Some("b"), 1L),
      (Some("c"), 1L), (None, 1L)))
    assert(rowsOf(bare) === unrouted("t.groupBy({n := count()}, {c})"))
    // a group-col in-set applies ENTRY-WISE (null group drops with it)
    val inset = grouped("t.filter(in(c, {'a','c'})).groupBy({n := count()}, {c})")
    assert(inset.inputFiles.isEmpty)
    assert(rowsOf(inset) === Set((Some("a"), 2L), (Some("c"), 1L)))
    // isNull on the group column: only the null group, ledger-exact
    val nulls = grouped("t.filter(isNull(c)).groupBy({n := count()}, {c})")
    assert(nulls.inputFiles.isEmpty)
    assert(rowsOf(nulls) === Set((None, 1L)))
    // an OTHER conjunct that provably passes a whole layer keeps the
    // metadata path (v1 zone-excluded, v2 fully contained, no nulls)
    val oth = grouped("t.filter(between(w, 5, 9)).groupBy({n := count()}, {c})")
    assert(oth.inputFiles.isEmpty)
    assert(rowsOf(oth) === Set((Some("a"), 1L), (Some("c"), 1L)))
    assert(rowsOf(oth) ===
      unrouted("t.filter(between(w, 5, 9)).groupBy({n := count()}, {c})"))
    // a PARTIALLY contained other conjunct is undecidable per group:
    // real grouping scan, same rows (w in [1, 5.5) keeps only w=5 of v2)
    val part = grouped("t.filter(between(w, 1, 5.5)).groupBy({n := count()}, {c})")
    assert(part.inputFiles.nonEmpty,
      "partial other-conjunct must fall back to the grouping scan")
    assert(rowsOf(part) ===
      unrouted("t.filter(between(w, 1, 5.5)).groupBy({n := count()}, {c})"))
    // a mid-cardinality column (20 ≤ the cap) still answers from the
    // histogram; past the cap the bounded aggregate nulls out and the
    // plan falls back to the grouping scan (cardinalities derived from
    // the CONSTANT so a cap retune can't silently invert the test)
    val cap = NdjsonIngest.HistogramMaxEntries
    val dir2 = java.nio.file.Files.createTempDirectory("graft").toString + "/gc2"
    NdjsonIngest.appendVersion(
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "c"), dir2, "id")
    val cat2 = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir2)),
      versionedDirs = Map("t" -> dir2))
    val mid = Planner.plan("t.groupBy({n := count()}, {c})", cat2)
    assert(mid.inputFiles.isEmpty,
      s"20 distinct values sit under the $cap-entry cap: metadata answer")
    assert(mid.count() === 20L)
    val over = cap + 44L
    val dir3 = java.nio.file.Files.createTempDirectory("graft").toString + "/gc3"
    NdjsonIngest.appendVersion(
      (1L to over).map(i => (i, s"v$i")).toDF("id", "c"), dir3, "id")
    val cat3 = Catalog(
      tables = Map("t" -> NdjsonIngest.readLatest(spark, dir3)),
      versionedDirs = Map("t" -> dir3))
    val wide = Planner.plan("t.groupBy({n := count()}, {c})", cat3)
    assert(wide.inputFiles.nonEmpty,
      s"${cap + 1}+ distinct values must not pretend to have a " +
        "complete histogram")
    assert(wide.count() === over)
  }

  test("merge-on-read zone routing: excluded layers shadow with pk-only " +
    "scans — no resurrection, no leak, column decode provably narrowed") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/mz"
    // v1: ids 1,2 in the window        v2: id 1 upserted OUT of it
    // v3: id 3 upserted INTO it        v4: id 2 tombstoned
    NdjsonIngest.appendVersion(
      Seq((1L, 10L, "a1"), (2L, 15L, "a2")).toDF("id", "v", "payload"),
      dir, "id")
    NdjsonIngest.upsertDelta(
      Seq((1L, 100L, "b1")).toDF("id", "v", "payload"), dir, "id")
    NdjsonIngest.upsertDelta(
      Seq((3L, 12L, "c1")).toDF("id", "v", "payload"), dir, "id")
    NdjsonIngest.deleteDelta(Seq(2L).toDF("id"), dir, "id")
    val frame = NdjsonIngest.readLatestMerged(spark, dir, "id")
    val cat = Catalog(
      tables = Map("mt" -> frame),
      primaryKeys = Map("mt" -> "id"),
      mergedVersionedDirs = Map("mt" -> dir))
    val q = "mt.filter(between(v, 10, 20))"
    val routed = Planner.plan(q, cat)
    // id 1's OLD version (v=10, in window) must NOT resurrect: v2 is
    // zone-excluded (v=100) yet still shadows it; id 2 stays tombstoned;
    // id 3 is the only survivor
    assert(routed.select("id").as[Long].collect().sorted.toSeq === Seq(3L))
    assert(routed.select("payload").as[String].collect().toSeq === Seq("c1"))
    // routed ≡ unrouted (the plain merged frame + row-wise filter)
    val unrouted = Planner.plan(q, cat.copy(mergedVersionedDirs = Map()))
    assert(routed.collect().map(_.toString).sorted.toSeq ===
      unrouted.collect().map(_.toString).sorted.toSeq)
    // the zone-excluded layer v2 participates via a PK-ONLY scan: its
    // parquet read decodes one column, candidates read all three
    val fmt = routed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val blocks = fmt.split("\n\n").filter(_.contains("Scan parquet"))
    def readSchemaOf(layer: String): Seq[String] = blocks.toSeq
      .filter(b => b.contains(s"/$layer]") || b.contains(s"/$layer/"))
      .flatMap(_.linesIterator.find(_.trim.startsWith("ReadSchema")))
    assert(readSchemaOf("v2").nonEmpty &&
      readSchemaOf("v2").forall(_.contains("struct<id:bigint>")),
      s"v2 must be pk-only: ${readSchemaOf("v2")}")
    assert(readSchemaOf("v3").exists(_.contains("payload")),
      s"candidate v3 must read the payload: ${readSchemaOf("v3")}")
    // no-window-match: every data layer degrades to pk-only, result empty
    val none = Planner.plan("mt.filter(between(v, 500, 600))", cat)
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("id", "v", "payload"))
  }

  test("isNull/isNotNull conjuncts prune layers via the null ledger") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/nl"
    NdjsonIngest.appendVersion(
      Seq((1L, Option(1.0)), (2L, Option(2.0))).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, Option.empty[Double]), (4L, Option(4.0))).toDF("id", "v"),
      dir, "id")
    NdjsonIngest.appendDelta(
      Seq((5L, Option.empty[Double]), (6L, Option.empty[Double]))
        .toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    def layersOf(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.sorted.toSeq
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    // isNull: the null-free layer v1 never opens
    val nullQ = Planner.plan("vt.filter(isNull(v))", cat)
    assert(layersOf(nullQ) === Seq("v2", "v3"), layersOf(nullQ).mkString(","))
    assert(ids(nullQ) === Seq(3L, 5L, 6L))
    // isNotNull: the all-null layer v3 never opens
    val notNullQ = Planner.plan("vt.filter(isNotNull(v))", cat)
    assert(layersOf(notNullQ) === Seq("v1", "v2"))
    assert(ids(notNullQ) === Seq(1L, 2L, 4L))
    // conjuncts narrow together: the range drops v1, the ledger drops v3
    val both = Planner.plan("vt.filter(isNotNull(v) && between(v, 3, 10))", cat)
    assert(layersOf(both) === Seq("v2"))
    assert(ids(both) === Seq(4L))
    // routed ≡ unrouted on all three
    val bare = cat.copy(versionedDirs = Map())
    Seq("vt.filter(isNull(v))", "vt.filter(isNotNull(v))",
        "vt.filter(isNotNull(v) && between(v, 3, 10))").foreach { q =>
      assert(ids(Planner.plan(q, cat)) === ids(Planner.plan(q, bare)), q)
    }
  }

  test("ungrouped count over a stats-bearing chain answers from layer " +
    "metadata alone — no parquet scan") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/mc"
    NdjsonIngest.appendVersion(
      Seq((1L, 5.0), (2L, 3.0)).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 12.0), (4L, 11.0), (5L, 1.0)).toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    val c = Planner.plan("vt.groupBy({c := count()})", cat)
    assert(c.inputFiles.isEmpty, "metadata count must not plan a file scan")
    assert(c.collect().map(_.getLong(0)).toSeq === Seq(5L))
    // value-identical to the counting scan
    assert(Planner.plan("vt.groupBy({c := count()})",
      cat.copy(versionedDirs = Map())).collect().head.getLong(0) === 5L)
    // a filter in between drops the fast path: real counting scan
    val f = Planner.plan("vt.filter(v > 4.0).groupBy({c := count()})", cat)
    assert(f.collect().head.getLong(0) === 3L)
    // grouped counts keep the scan too
    val g = Planner.plan("vt.groupBy({c := count()}, {id})", cat)
    assert(g.count() === 5L)
    // an upsert layer disqualifies the layer-sum (merge-on-read counts
    // differ from the sum): the fallback must count the MERGED rows
    NdjsonIngest.upsertDelta(
      Seq((5L, 99.0), (6L, 7.0)).toDF("id", "v"), dir, "id")
    val cat2 = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatestMerged(spark, dir, "id")),
      versionedDirs = Map("vt" -> dir))
    val m = Planner.plan("vt.groupBy({c := count()})", cat2)
    assert(m.collect().head.getLong(0) === 6L)
  }

  test("zone routing pins the registered frame's SCHEMA too — a schema-" +
    "evolving commit racing the plan cannot widen the routed output") {
    import graft.sources.NdjsonIngest
    val dir = java.nio.file.Files.createTempDirectory("graft").toString + "/se"
    NdjsonIngest.appendVersion(
      Seq((1L, 10.0)).toDF("id", "v"), dir, "id")
    val cat = Catalog(
      tables = Map("vt" -> NdjsonIngest.readLatest(spark, dir)),
      versionedDirs = Map("vt" -> dir))
    // a schema-EVOLVING layer commits after the catalog registered its
    // frame: the routed read re-resolving the newest schema sidecar
    // would surface `extra` as a null column the unrouted frame lacks
    NdjsonIngest.appendDeltaEvolve(
      Seq((2L, 20.0, "x")).toDF("id", "v", "extra"), dir, "id")
    val routed = Planner.plan("vt.filter(between(id, 1, 100))", cat)
    val unrouted = Planner.plan("vt.filter(id > 0)", cat)
    assert(routed.columns.toSeq === unrouted.columns.toSeq,
      "routed and unrouted paths must share one schema under the race")
    assert(routed.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // the stats-bounded top-k path pins the schema the same way
    val topk = Planner.plan("vt.orderBy({v, id}).limit(1)", cat)
    assert(topk.columns.toSeq === unrouted.columns.toSeq,
      "routed top-k must not widen under a schema-evolving race")
    assert(topk.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }
}

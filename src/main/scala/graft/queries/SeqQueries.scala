package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.seq.{Mutations, SeqPredicates, SequenceModel}
import graft.trees.{LineageTree, PhyloTree}

/** The genomic operator surface (SURVEY.md §1.3/§2.4) made verifiable on
  * the generic test tables: deterministic "aligned sequences" are derived
  * from `documents.text` (first 60 non-space chars of the canonical form)
  * and diffed against a fixed reference string, so every sequence operator
  * — mutations(), position predicates, profile distance, insertions()
  * — runs through the real diff-representation machinery while a DuckDB
  * oracle recomputes the same answer naively from the raw strings.
  *
  * Lineage and phylo operators run over the region→nation hierarchy as the
  * tree (reference trees are broadcast-sized auxiliary structures; here the
  * edge tables are the region/nation dims).
  */
object SeqQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Majority symbol per position over sf0.01 — plays the role of the
    * reference genome (any constant works; majority minimizes diff density
    * like the reference's local-reference adaptation,
    * vertical_sequence_index.h:62-81).
    */
  val REF = "sartearaeeaaaeaoaeaaerarrerrreeeeaaeaeraraeartaraerraaaererr"

  /** REF with 5 positions edited — the mutation-profile probe. */
  val PROFILE: String = {
    val b = REF.toCharArray
    b(2) = 'z'; b(6) = 'q'; b(19) = 'x'; b(39) = 'k'; b(54) = 'm'
    new String(b)
  }

  /** The 16-symbol nucleotide alphabet in enum order — md5 hex digit i
    * maps to symbol i, giving deterministic sequences with real ambiguity
    * codes and missing-N on both the Spark and DuckDB side.
    */
  val NUC_ALPHABET = "-ACGTRYSWKMBDHVN"

  /** 32-position concrete reference for the IUPAC-aware profile probe. */
  val REF_AMBIG = "ACGTACGTACGTACGTACGTACGTACGTACGT"

  /** REF_AMBIG with ambiguity codes, N-skips, a gap, and a concrete
    * mismatch mixed in (1-based positions 1,4,7,10,13,16,19,22,25,28,31).
    */
  val PROFILE_AMBIG: String = {
    val b = REF_AMBIG.toCharArray
    b(0) = 'R'; b(3) = 'N'; b(6) = 'Y'; b(9) = '-'; b(12) = 'B'
    b(15) = 'A'; b(18) = 'W'; b(21) = 'M'; b(24) = 'K'; b(27) = 'S'
    b(30) = 'V'
    new String(b)
  }

  // sequence derivation, shared between Spark and oracle
  private val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  private val seqSql = s"substr(regexp_replace($normSql, ' ', '', 'g'), 1, 60)"
  private def seqCol = substring(
    regexp_replace(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ", ""), 1, 60)

  private def diffedDocs(s: SparkSession, dir: String, langFilter: Option[String]): DataFrame = {
    val base = t(s, dir, "documents")
    val f = langFilter.map(l => base.filter(col("lang") === l)).getOrElse(base)
    // rebalance the one-file scan before the per-row SeqDiff
    // derivation (the established narrow-input-before-heavy-map pattern)
    SequenceModel.diff(
      f.repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), seqCol.as("seq")), "seq", REF)
  }

  val defs: Seq[QDef] = Seq(

    // ---- mutations(minProportion) — the flagship genomic aggregation ----
    QDef("q_seq_mutations",
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents WHERE lang = 'en'),
         |chars AS (SELECT doc_id, CAST(p AS INTEGER) AS p, substr(seq, p, 1) AS sym
         |  FROM seqs, range(1, 61) r(p) WHERE p <= len(seq)),
         |cov AS (SELECT p, count(*) AS coverage FROM chars GROUP BY p),
         |muts AS (SELECT p, sym, count(*) AS cnt FROM chars
         |  WHERE sym <> substr('$REF', p, 1) GROUP BY p, sym)
         |SELECT m.p AS position, substr('$REF', m.p, 1) AS mutation_from,
         |  m.sym AS mutation_to, CAST(m.cnt AS BIGINT) AS count,
         |  CAST(c.coverage AS BIGINT) AS coverage,
         |  round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) AS proportion
         |FROM muts m JOIN cov c ON m.p = c.p
         |WHERE round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) >= 0.05
         |ORDER BY position, mutation_to""".stripMargin) { (s, dir) =>
      Mutations.mutations(diffedDocs(s, dir, Some("en")), REF, 0.05)
        .orderBy("position", "mutation_to")
    },

    // ---- mutations() over ADAPTED local-reference storage ----
    // The global reference is deliberately far from the data ('a' at every
    // position), so ingest-time adaptation (SequenceModel.
    // adaptLocalReference ≙ sequence_column.cpp:157-196 finalize) re-bases
    // nearly every position onto the per-position majority symbol and the
    // dominant rows become diff-free. The oracle knows NOTHING about
    // adaptation — it recomputes mutations naively from the raw strings
    // against the global reference — so a hash match proves the
    // local↔global translation in mutations() is exact.
    QDef("q_seq_localref", {
      val aRef = "a" * 60
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents WHERE lang = 'en'),
         |chars AS (SELECT doc_id, CAST(p AS INTEGER) AS p, substr(seq, p, 1) AS sym
         |  FROM seqs, range(1, 61) r(p) WHERE p <= len(seq)),
         |cov AS (SELECT p, count(*) AS coverage FROM chars GROUP BY p),
         |muts AS (SELECT p, sym, count(*) AS cnt FROM chars
         |  WHERE sym <> substr('$aRef', p, 1) GROUP BY p, sym)
         |SELECT m.p AS position, substr('$aRef', m.p, 1) AS mutation_from,
         |  m.sym AS mutation_to, CAST(m.cnt AS BIGINT) AS count,
         |  CAST(c.coverage AS BIGINT) AS coverage,
         |  round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) AS proportion
         |FROM muts m JOIN cov c ON m.p = c.p
         |WHERE round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) >= 0.05
         |ORDER BY position, mutation_to""".stripMargin
    }) { (s, dir) =>
      val aRef = "a" * 60
      val base = t(s, dir, "documents").filter(col("lang") === "en")
      // materialize at the two ingest boundaries (diff-at-insert, then the
      // finalize-time rebase) — exactly where the reference persists storage.
      // Without the cut, every downstream reference to `muts` textually
      // inlines the whole diff derivation (CollapseProject), and the 6
      // aggregation passes of adapt+mutations() re-evaluate it per row —
      // 20s instead of ~2s at sf0.1 with the former interpreted chain.
      val raw = SequenceModel.diff(
        base.repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), seqCol.as("seq")), "seq", aRef)
        .localCheckpoint()
      val (adapted, localRef) = SequenceModel.adaptLocalReference(
        raw, aRef, symbolOrder = "abcdefghijklmnopqrstuvwxyz",
        candidateSyms = ('a' to 'z').toSet)
      // no checkpoint on the re-based frame: mutations() is single-pass
      // now (one tagged-event scan), so the rebase transform evaluates
      // once either way and the materialization was pure overhead
      Mutations.mutations(adapted, aRef, 0.05, localRef = localRef)
        .orderBy("position", "mutation_to")
    },

    // ---- nucleotideEquals (reference-match case) + hasMutation ----
    QDef("q_seq_symbol_equals",
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents)
         |SELECT doc_id FROM seqs
         |WHERE len(seq) >= 5 AND substr(seq, 5, 1) = 'e'
         |  AND len(seq) >= 10 AND substr(seq, 10, 1) <> '${REF.charAt(9)}'
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      diffedDocs(s, dir, None)
        .filter(SeqPredicates.symbolEquals(5, "e", REF) &&
          SeqPredicates.hasMutation(10))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // ---- mutationProfile conservative distance ----
    QDef("q_seq_profile",
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents),
         |d AS (SELECT doc_id, CAST(len(list_filter(range(1, len(seq) + 1),
         |    p -> substr(seq, p, 1) <> substr('$PROFILE', p, 1))) AS INTEGER) AS dist
         |  FROM seqs)
         |SELECT doc_id, dist FROM d WHERE dist <= 45 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      diffedDocs(s, dir, None)
        .withColumn("dist",
          SeqPredicates.profileDistance(PROFILE, REF).cast("int"))
        .filter(col("dist") <= 45)
        .select("doc_id", "dist")
        .orderBy("doc_id")
    },

    // ---- mutationProfile with IUPAC ambiguity-compatible counting ----
    // Sequences carry real ambiguity codes: each md5 hex digit of doc_id
    // maps to one of the 16 nucleotide symbols, so stored R/Y/…/N appear
    // and exact-match vs compatible-match answers genuinely differ. The
    // oracle hardcodes the public IUPAC AMBIGUITY_SYMBOLS table
    // (reference nucleotide_symbols.cpp:47-67): stored symbol y at pos p
    // is a difference iff y ∉ AMBIGUITY_SYMBOLS[profile[p]]; profile-N
    // positions are skipped (mutation_profile.cpp:220-247).
    QDef("q_seq_profile_ambig",
      s"""WITH seqs AS (SELECT doc_id,
         |    translate(md5(CAST(doc_id AS VARCHAR)),
         |      '0123456789abcdef', '$NUC_ALPHABET') AS seq FROM documents),
         |d AS (SELECT doc_id, CAST(len(list_filter(range(1, 33),
         |    p -> strpos(CASE substr('$PROFILE_AMBIG', p, 1)
         |      WHEN 'A' THEN 'ARWMDHVN' WHEN 'C' THEN 'CYSMBHVN'
         |      WHEN 'G' THEN 'GRSKBDVN' WHEN 'T' THEN 'TYWKBDHN'
         |      WHEN '-' THEN '-N'
         |      WHEN 'R' THEN 'RDVN' WHEN 'Y' THEN 'YBHN'
         |      WHEN 'S' THEN 'SBVN' WHEN 'W' THEN 'WDHN'
         |      WHEN 'K' THEN 'KBDN' WHEN 'M' THEN 'MHVN'
         |      WHEN 'B' THEN 'BN' WHEN 'D' THEN 'DN'
         |      WHEN 'H' THEN 'HN' WHEN 'V' THEN 'VN'
         |      ELSE NULL END, substr(seq, p, 1)) = 0)) AS INTEGER) AS dist
         |  FROM seqs)
         |SELECT doc_id, dist FROM d WHERE dist <= 15 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val seq = translate(md5(col("doc_id").cast("string")),
        "0123456789abcdef", NUC_ALPHABET)
      val diffed = SequenceModel.diff(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), seq.as("seq")),
        "seq", REF_AMBIG)
      diffed
        .withColumn("dist", SeqPredicates.profileDistance(
          PROFILE_AMBIG, REF_AMBIG, graft.seq.Ambiguity.nucCodesFor, 'N').cast("int"))
        .filter(col("dist") <= 15)
        .select("doc_id", "dist")
        .orderBy("doc_id")
    },

    // ---- mut-index routing: a selective position predicate through the
    //      SaneQL planner consults the row-level posting index (pruned
    //      (pos, sym) scan + pk semi-join — the reference's IndexScan
    //      choice, symbol_in_set.cpp case 1) instead of scanning rows.
    //      The oracle knows nothing about the index — it recomputes by
    //      substring compare — so a hash match proves routing preserves
    //      semantics; PlanSpec asserts the semi-join shape. ----
    QDef("q_seq_idxroute",
      s"""WITH seqs AS (SELECT doc_id,
         |    translate(md5(CAST(doc_id AS VARCHAR)),
         |      '0123456789abcdef', '$NUC_ALPHABET') AS seq FROM documents)
         |SELECT doc_id FROM seqs WHERE substr(seq, 5, 1) = 'G'
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      idxRouteQuery(s, dir)
    },

    // ---- ins-index routing: insertionContains through the SaneQL
    //      planner consults the insertion posting index (pruned pos scan,
    //      regex over the posting values, pk semi-join) when the
    //      per-position posting count passes the selectivity gate. The
    //      oracle recomputes by scanning tokens — routing-blind — and uses
    //      regexp_full_match: insertion search is a FULL match
    //      (RE2::FullMatch, insertion_index.cpp:121,134,148), not a
    //      substring search. ----
    // ---- routed mutations(): the vertical-index fast path. The same
    //      indexed catalog as q_seq_idxroute; the filter routes through
    //      the posting semi-join AND mutations() sources its diff
    //      multiset from `postings ⋉ F_ids` (mutations_node.cpp:153-189)
    //      instead of exploding the fact table's muts arrays
    //      (DatabaseSpec asserts the plan shape). The oracle is
    //      routing-blind: it recomputes mutations by substring compare
    //      over the filtered subset. Ambiguity codes (RYSWKMBDHVN) are
    //      invalid mutation symbols — excluded from the output AND from
    //      the coverage denominator (mutations_node.cpp:303-307). ----
    QDef("q_seq_mutroute",
      s"""WITH seqs AS (SELECT doc_id,
         |    translate(md5(CAST(doc_id AS VARCHAR)),
         |      '0123456789abcdef', '$NUC_ALPHABET') AS seq FROM documents),
         |f AS (SELECT doc_id, seq FROM seqs WHERE substr(seq, 5, 1) = 'G'),
         |chars AS (SELECT doc_id, CAST(p AS INTEGER) AS p, substr(seq, p, 1) AS sym
         |  FROM f, range(1, ${REF_AMBIG.length + 1}) r(p)),
         |cov AS (SELECT p, count(*) FILTER (WHERE sym NOT IN
         |    ('R','Y','S','W','K','M','B','D','H','V','N')) AS coverage
         |  FROM chars GROUP BY p),
         |muts AS (SELECT p, sym, count(*) AS cnt FROM chars
         |  WHERE sym <> substr('$REF_AMBIG', p, 1)
         |    AND sym IN ('-','A','C','G','T') GROUP BY p, sym)
         |SELECT substr('$REF_AMBIG', m.p, 1) AS mutationFrom, m.sym AS mutationTo,
         |  m.p AS position, 'main' AS sequenceName,
         |  round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) AS proportion,
         |  CAST(c.coverage AS BIGINT) AS coverage, CAST(m.cnt AS BIGINT) AS count
         |FROM muts m JOIN cov c ON m.p = c.p
         |WHERE round(CAST(m.cnt AS DOUBLE) / c.coverage, 4) >= 0.05
         |ORDER BY position, mutationTo""".stripMargin) { (s, dir) =>
      mutRouteQuery(s, dir)
    },

    QDef("q_seq_insroute",
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents),
         |u AS (SELECT doc_id, unnest(tk) AS t, unnest(range(1, len(tk) + 1)) AS p FROM toks)
         |SELECT DISTINCT doc_id FROM u
         |WHERE p = 3 AND len(t) >= 8 AND regexp_full_match(t, 'cust.*')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      insRouteQuery(s, dir)
    },

    // ---- routed insertionContains at a WIDE position (every row has an
    //      insertion at position 1, far over the 10% selectivity gate):
    //      the per-position regex scan is not routable, so the planner
    //      takes the 3-mer inverted index (reference insertion_index.cpp:
    //      96-140) — candidates from a pushed kmer='the' equality scan,
    //      regex-verified, then the pk semi-join. Oracle is routing-blind:
    //      full-match on the first token. ----
    QDef("q_seq_ins3route",
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk FROM documents)
         |SELECT doc_id FROM toks
         |WHERE len(tk) >= 1 AND len(tk[1]) >= 1 AND regexp_full_match(tk[1], 'the.*')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ins3RouteQuery(s, dir)
    },

    // ---- insertions(): per (position, inserted string) counts ----
    QDef("q_seq_insertions",
      s"""WITH toks AS (SELECT doc_id, string_split($normSql, ' ') AS tk
         |  FROM documents WHERE lang = 'en'),
         |u AS (SELECT doc_id, unnest(tk) AS t, unnest(range(1, len(tk) + 1)) AS p FROM toks)
         |SELECT CAST(p AS INTEGER) AS position, t AS inserted_symbols,
         |  count(*) AS count
         |FROM u WHERE len(t) >= 8 GROUP BY 1, 2
         |ORDER BY position, inserted_symbols""".stripMargin) { (s, dir) =>
      import graft.functions.{TextFunctions => TF}
      t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
        .filter(length(col("col")) >= 8)
        .groupBy((col("pos") + 1).cast("int").as("position"),
          col("col").as("inserted_symbols"))
        .agg(count(lit(1)).as("count"))
        .orderBy("position", "inserted_symbols")
    },

    // ---- co-occurrence: map({s := main.at(p)}) + groupBy count — the
    //      reference's BitmapAggregation benchmark workload, computed from
    //      the diff representation (symbol at pos = mut sym, else ref if
    //      covered, else null) without materializing sequences ----
    QDef("q_seq_cooccurrence",
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents),
         |s AS (SELECT
         |  CASE WHEN len(seq) >= 5 THEN substr(seq, 5, 1) END AS s5,
         |  CASE WHEN len(seq) >= 40 THEN substr(seq, 40, 1) END AS s40
         |  FROM seqs)
         |SELECT s5, s40, count(*) AS cnt FROM s GROUP BY s5, s40
         |ORDER BY s5 NULLS FIRST, s40 NULLS FIRST""".stripMargin) { (s, dir) =>
      def symAt(p: Int): org.apache.spark.sql.Column = {
        val m = filter(col("muts"), x => x.getField("pos") === p)
        when(lit(p) >= col("cov_start") && lit(p) <= col("cov_end") &&
            !array_contains(col("missing"), p),
          coalesce(try_element_at(m, lit(1)).getField("sym"),
            graft.seq.SequenceModel.refAt(REF, lit(p))))
      }
      diffedDocs(s, dir, None)
        .groupBy(symAt(5).as("s5"), symAt(40).as("s40"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("s5", "s40")
    },

    // ---- mut_index routing: count-only groupBy answered from the
    //      pre-aggregated vertical-index table (≙ BitmapAggregationRewrite) ----
    QDef("q_seq_mutindex",
      s"""WITH seqs AS (SELECT doc_id, $seqSql AS seq FROM documents),
         |chars AS (SELECT doc_id, CAST(p AS INTEGER) AS p, substr(seq, p, 1) AS sym
         |  FROM seqs, range(1, 61) r(p) WHERE p <= len(seq))
         |SELECT p AS pos, sym, count(*) AS cnt FROM chars
         |WHERE sym <> substr('$REF', p, 1) GROUP BY p, sym
         |ORDER BY pos, sym""".stripMargin) { (s, dir) =>
      graft.seq.SequenceModel.mutIndex(diffedDocs(s, dir, None))
        .orderBy("pos", "sym")
    },

    // ---- lineage(column, value, includeSublineages) over region→nation ----
    QDef("q_lineage_filter",
      """SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      // ONE driver action rebuilds the broadcast lineage tree: collect the
      // LEFT-joined (region, nation) rows — regions without nations still
      // become tree nodes — and derive the clade root and both edge
      // levels from that single result
      val rows = region.join(nation,
          col("n_regionkey") === col("r_regionkey"), "left")
        .select(col("r_name"), col("n_name"), col("r_regionkey")).collect()
      val cladeRoot = rows.find(_.getInt(2) == 2)
        .getOrElse(sys.error("region 2 missing")).getString(0)
      // lineage-relation edge rows (broadcast-sized): REGION_k → root,
      // NATION_i → its region
      val regionEdges = rows.map(_.getString(0)).distinct.toSeq
        .map(r => (r, Option("root")))
      val nationEdges = rows.filterNot(_.isNullAt(1))
        .map(r => (r.getString(1), Option(r.getString(0)))).toSeq
      val tree = LineageTree.fromEdges(regionEdges ++ nationEdges :+ ("root" -> None))
      val clade = tree.descendants(cladeRoot, LineageTree.DoNotFollow)
      t(s, dir, "customer")
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(clade.toSeq.sorted: _*))
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // ---- mostRecentCommonAncestor over the 3-level phylo tree ----
    QDef("q_phylo_mrca",
      """SELECT CASE WHEN count(DISTINCT n_name) = 1 THEN min(n_name)
        |            WHEN count(DISTINCT n_regionkey) = 1 THEN min(r_name)
        |            ELSE 'root' END AS mrca_node,
        |  CAST(count(DISTINCT n_name) AS BIGINT) AS node_count
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_acctbal > 9000""".stripMargin) { (s, dir) =>
      val tree = regionNationTree(s, dir)
      val names = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select("n_name").distinct().collect().map(_.getString(0)).toSet
      val (m, _) = tree.mrca(names)
      import s.implicits._
      Seq((m.getOrElse("root"), names.size.toLong)).toDF("mrca_node", "node_count")
    },

    // ---- phyloSubtree: Newick of the induced subtree. Reference
    //      semantics (phylo_tree.cpp toNewickString): rooted at the
    //      selection's MRCA, children in REVERSE declaration order (the
    //      tree declares children name-sorted, so the oracle emits them
    //      name-DESC), single-child regions contracted away. ----
    QDef("q_phylo_subtree",
      """WITH sel AS (SELECT DISTINCT n_name, r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 8000),
        |g AS (SELECT r_name, string_agg(n_name, ',' ORDER BY n_name DESC) AS kids,
        |  count(*) AS k FROM sel GROUP BY 1),
        |e AS (SELECT r_name, CASE WHEN k = 1 THEN kids
        |  ELSE '(' || kids || ')' || r_name END AS part FROM g)
        |SELECT CASE
        |  WHEN (SELECT count(*) FROM sel) = 1
        |    THEN (SELECT n_name FROM sel) || ';'
        |  WHEN (SELECT count(*) FROM g) = 1
        |    THEN (SELECT '(' || kids || ')' || r_name FROM g) || ';'
        |  ELSE '(' || (SELECT string_agg(part, ',' ORDER BY r_name DESC) FROM e)
        |    || ')root;'
        |END AS newick""".stripMargin) { (s, dir) =>
      val tree = regionNationTree(s, dir)
      val names = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 8000)
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select("n_name").distinct().collect().map(_.getString(0)).toSet
      import s.implicits._
      Seq(tree.subtreeNewick(names, contractUnary = true)).toDF("newick")
    })

  /** Memoized routed-query catalogs: the posting index registration is a
    * PREPROCESSING step in the production path (Database.build), not part
    * of any query — so the bench-visible query functions reuse a
    * per-(session, sf-dir) catalog whose indexes persisted once to
    * parquet index tables in a temp dir. Parquet-backed postings are
    * recomputable, so a harness that unpersists every RDD between
    * queries (Bench.cleanup) cannot strand them, unlike checkpointed
    * frames.
    */
  private final case class RoutedCat(catalog: graft.lang.Planner.Catalog,
      idxDir: java.io.File)
  private val routeCatalogs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String),
      RoutedCat]()
  private def memoCatalog(s: SparkSession, dir: String, kind: String)(
      build: String => graft.lang.Planner.Catalog): graft.lang.Planner.Catalog = {
    // evict entries whose session has stopped: their frames are dead and
    // would otherwise pin the session — and orphan the index temp dir —
    // for the JVM lifetime (a test JVM runs many sessions)
    val it = routeCatalogs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1.sparkContext.isStopped) {
        org.apache.commons.io.FileUtils.deleteQuietly(e.getValue.idxDir)
        it.remove()
      }
    }
    routeCatalogs.computeIfAbsent((s, dir, kind), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_idx_$kind")
      RoutedCat(build(tmp.toString), tmp.toFile)
    }).catalog
  }

  /** The routed-filter query of q_seq_idxroute, also plan-checked by
    * PlanSpec: a catalog with a registered mut index makes the SaneQL
    * filter route `nucleotideEquals(5, 'G')` (≈6% of rows under the
    * md5-nibble alphabet) through a posting semi-join.
    */
  def idxRouteQuery(s: SparkSession, dir: String): DataFrame =
    graft.lang.Planner.plan(
      """seqs
        |  .filter(nucleotideEquals(position := 5, symbol := 'G', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      mutRouteCatalog(s, dir))

  /** The routed-mutations query of q_seq_mutroute: same indexed catalog
    * as [[idxRouteQuery]]; the SaneQL pipeline filters (routed posting
    * semi-join) then aggregates mutations whose diff multiset comes from
    * the posting index, never the exploded fact table.
    */
  def mutRouteQuery(s: SparkSession, dir: String): DataFrame =
    graft.lang.Planner.plan(
      """seqs
        |  .filter(nucleotideEquals(position := 5, symbol := 'G', sequenceName := 'main'))
        |  .mutations(minProportion := 0.05, sequenceNames := {main})
        |  .orderBy({position, mutationTo})""".stripMargin,
      mutRouteCatalog(s, dir))

  /** The md5-nibble-sequence catalog with a registered mut posting index
    * (memoized per session+dir), shared by q_seq_idxroute and
    * q_seq_mutroute.
    */
  def mutRouteCatalog(s: SparkSession, dir: String): graft.lang.Planner.Catalog =
    memoCatalog(s, dir, "mut") { idxDir =>
      import graft.lang.Planner
      val seq = translate(md5(col("doc_id").cast("string")),
        "0123456789abcdef", NUC_ALPHABET)
      val diffed = SequenceModel.diff(
        t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), seq.as("seq")),
        "seq", REF_AMBIG)
      Planner.Catalog(
        tables = Map("seqs" -> diffed),
        sequences = Map("seqs" -> Map("main" -> Planner.SeqBinding(REF_AMBIG))),
        primaryKeys = Map("seqs" -> "doc_id"),
        mutIndexes = Map("seqs" -> Map("main" ->
          Planner.SeqIndex.build(diffed, "doc_id", indexDir = Some(idxDir)))))
    }

  /** The routed insertionContains query of q_seq_insroute (also
    * plan-checked by PlanSpec): documents' long tokens (≥ 8 chars) play
    * the insertions at their token position; `cust.*` at position 3 is
    * ~3% of rows, under the selectivity gate.
    */
  def insRouteQuery(s: SparkSession, dir: String): DataFrame =
    graft.lang.Planner.plan(
      """seqs
        |  .filter(insertionContains(position := 3, value := 'cust.*', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      insRouteCatalog(s, dir))

  /** The wide-position routed query of q_seq_ins3route: EVERY doc carries
    * its first token as an insertion at position 1 (≈100% density), so the
    * per-position selectivity gate refuses the plain posting-regex route
    * and the planner must subset through the 3-mer inverted index.
    */
  def ins3RouteQuery(s: SparkSession, dir: String): DataFrame =
    graft.lang.Planner.plan(
      """seqs
        |  .filter(insertionContains(position := 1, value := 'the.*', sequenceName := 'main'))
        |  .project({doc_id})
        |  .orderBy({doc_id})""".stripMargin,
      ins3RouteCatalog(s, dir))

  /** Catalog where position 1 holds every doc's first token (memoized;
    * indexes persist to parquet once — including the ins3 3-mer table).
    */
  def ins3RouteCatalog(s: SparkSession, dir: String): graft.lang.Planner.Catalog =
    memoCatalog(s, dir, "ins3") { idxDir =>
      import graft.lang.Planner
      val first = element_at(graft.functions.TextFunctions.tokens(col("text")), 1)
      val ins = when(length(first) >= 1,
        array(struct(lit(1).cast("int").as("pos"), first.as("ins"))))
        .otherwise(array().cast("array<struct<pos:int,ins:string>>"))
      val diffed = SequenceModel.diff(
        t(s, dir, "documents")
          .select(col("doc_id"), seqCol.as("seq"), ins.as("ins")),
        "seq", REF)
      Planner.Catalog(
        tables = Map("seqs" -> diffed),
        sequences = Map("seqs" -> Map("main" -> Planner.SeqBinding(REF))),
        primaryKeys = Map("seqs" -> "doc_id"),
        mutIndexes = Map("seqs" -> Map("main" ->
          Planner.SeqIndex.build(diffed, "doc_id", insCol = Some("ins"),
            indexDir = Some(idxDir)))))
    }

  /** Catalog with the diffed docs + a synthetic `ins` column + registered
    * mut/ins posting indexes (memoized; indexes persist to parquet once).
    */
  def insRouteCatalog(s: SparkSession, dir: String): graft.lang.Planner.Catalog =
    memoCatalog(s, dir, "ins") { idxDir =>
      import graft.lang.Planner
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val ins = filter(
        transform(toks, (tok, i) =>
          struct((i + 1).cast("int").as("pos"), tok.as("ins"))),
        x => length(x.getField("ins")) >= 8)
      val diffed = SequenceModel.diff(
        t(s, dir, "documents")
          .select(col("doc_id"), seqCol.as("seq"), ins.as("ins")),
        "seq", REF)
      Planner.Catalog(
        tables = Map("seqs" -> diffed),
        sequences = Map("seqs" -> Map("main" -> Planner.SeqBinding(REF))),
        primaryKeys = Map("seqs" -> "doc_id"),
        mutIndexes = Map("seqs" -> Map("main" ->
          Planner.SeqIndex.build(diffed, "doc_id", insCol = Some("ins"),
            indexDir = Some(idxDir)))))
    }

  private def regionNationTree(s: SparkSession, dir: String): PhyloTree = {
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    // ONE collect builds both levels; LEFT join so a region without
    // nations still becomes a tree node. Edges sorted by name: child
    // DECLARATION order is part of the tree's identity now (subtree
    // serialization emits reverse declaration order), so it must not
    // depend on collect() partition order
    val rows = region.join(nation, col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("r_name"), col("n_name")).collect()
    val regionEdges = rows.map(_.getString(0)).distinct.sorted.toSeq
      .map(r => (r, "root"))
    val nationEdges = rows.filterNot(_.isNullAt(1))
      .map(r => (r.getString(1), r.getString(0))).toSeq
      .sortBy(e => (e._2, e._1))
    PhyloTree.fromEdges(regionEdges ++ nationEdges)
  }
}

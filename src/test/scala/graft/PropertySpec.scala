package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.seq.{SeqPredicates, SequenceModel}
import graft.trees.LineageTree

/** Property-based checks (raw scalacheck generators, deterministic seeds):
  * randomized sequences must round-trip through the diff representation,
  * and diff-space arithmetic must agree with naive string computation.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  val ref = "ACGTTGCAACGT"
  val seqGen: Gen[String] = for {
    n <- Gen.choose(1, ref.length)
    cs <- Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T', 'N', '-'))
  } yield cs.mkString

  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("diff → reconstruct round-trips arbitrary sequences") {
    val seqs = samples(seqGen, 24)
    val df = SequenceModel.diff(
      seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "seq"),
      "seq", ref, missingSyms = Set("N"))
    val out = df.select($"id", SequenceModel.reconstruct(ref).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    seqs.zipWithIndex.foreach { case (s, i) =>
      assert(out(i.toLong) === s, s"seq $s")
    }
  }

  test("profileDistance agrees with naive mismatch counting") {
    val profGen = Gen.listOfN(ref.length, Gen.oneOf('A', 'C', 'G', 'T', 'N')).map(_.mkString)
    val profiles = samples(profGen, 4)
    val seqs = samples(seqGen, 8)
    profiles.foreach { profile =>
      val df = SequenceModel.diff(
        seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "seq"),
        "seq", ref, missingSyms = Set("N"))
      val out = df.select($"id",
        SeqPredicates.profileDistance(profile, ref).as("d"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      seqs.zipWithIndex.foreach { case (s, i) =>
        // missing is compatible both ways: stored N never a difference,
        // profile N positions skipped entirely
        val naive = s.zipWithIndex.count { case (c, j) =>
          c != 'N' && profile(j) != 'N' && c != profile(j)
        }
        assert(out(i.toLong) === naive, s"seq=$s profile=$profile")
      }
    }
  }

  test("lineage clades are monotone in the recombinant mode") {
    val tree = LineageTree(Map(
      "A" -> Seq("root"), "B" -> Seq("root"),
      "A1" -> Seq("A"), "A2" -> Seq("A"), "B1" -> Seq("B"),
      "X" -> Seq("A2", "B1"), "X1" -> Seq("X")))
    Seq("A", "B", "A1", "A2", "B1", "X", "X1", "root").foreach { n =>
      val none = tree.descendants(n, LineageTree.DoNotFollow)
      val full = tree.descendants(n, LineageTree.FollowIfFullyContained)
      val always = tree.descendants(n, LineageTree.AlwaysFollow)
      assert(none.subsetOf(full), s"node $n")
      assert(full.subsetOf(always), s"node $n")
      assert(none.contains(n))
    }
  }

  test("insertionKmers is a sound candidate filter for full-match search") {
    // soundness invariant of the 3-mer route (reference extractThreeMers,
    // insertion_index.cpp:43-58): any value FULL-matching the pattern
    // must contain every extracted 3-mer as a substring — so filtering
    // candidates to values containing all kmers can never drop a match.
    val runGen = for {
      n <- Gen.choose(0, 7)
      cs <- Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T', 'N', '-'))
    } yield cs.mkString
    val patGen = for {
      k <- Gen.choose(1, 4)
      runs <- Gen.listOfN(k, runGen)
    } yield runs.mkString(".*")
    val valGen = for {
      n <- Gen.choose(0, 18)
      cs <- Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T', 'N', '-'))
    } yield cs.mkString
    val pats = samples(patGen, 60)
    val vals = samples(valGen, 120)
    var checkedMatches = 0
    for (p <- pats; v <- vals) {
      val kmers = graft.lang.Planner.insertionKmers(p)
      kmers.foreach(km => assert(km.length === 3, s"pattern $p kmer $km"))
      // soundness against the ACTUAL verifier regex (what both the
      // row-wise predicate and the routed scans evaluate), not a naive
      // raw-pattern match — the two must never diverge
      if (v.matches(SeqPredicates.anchoredInsertionRegex(p))) {
        checkedMatches += 1
        kmers.foreach(km =>
          assert(v.contains(km), s"value $v matches $p but lacks kmer $km"))
      }
      // the anchored rebuild preserves raw-pattern semantics for
      // escape-free patterns
      assert(v.matches(SeqPredicates.anchoredInsertionRegex(p)) ===
        v.matches(p), s"value $v pattern $p")
    }
    assert(checkedMatches > 30) // the property was actually exercised
    // escape handling: '\*' is the literal stop codon, not a quantifier
    assert(graft.lang.Planner.insertionKmers("""\*EP.*EPE""") ===
      Seq("*EP", "EPE"))
    assert(graft.lang.Planner.insertionKmers(".*AB.*") === Seq())
    assert(graft.lang.Planner.insertionKmers("ABCD") === Seq("ABC"))
    assert(graft.lang.Planner.insertionKmers("ABCDEF") === Seq("ABC", "DEF"))
  }

  test("escaped pattern characters are literals in the verifier regex") {
    import SeqPredicates.anchoredInsertionRegex
    // `\X` is charToSymbol(X) in the reference's parse
    // (insertion_index.cpp:24-41) — never a regex class or anchor. The
    // rebuilt verifier must agree with the 3-mer extraction on that, or
    // the routed and row-wise paths return different rows.
    assert("ACG".matches(anchoredInsertionRegex("""\ACG""")))
    assert(!"CG".matches(anchoredInsertionRegex("""\ACG"""))) // not an \A anchor
    assert("*EP".matches(anchoredInsertionRegex("""\*EP""")))
    assert(!"XEP".matches(anchoredInsertionRegex("""\*EP""")))
    assert("TTTACGTTT".matches(anchoredInsertionRegex(""".*ACG.*""")))
    assert(!"ACGT".matches(anchoredInsertionRegex("""ACG"""))) // full match
    // escaped literal run feeds the kmer extraction identically
    assert(graft.lang.Planner.insertionKmers("""\ACG""") === Seq("ACG"))
  }

  test("saltedCount equals plain groupBy count") {
    import graft.operators.RelationalOps
    val df = Seq.tabulate(500)(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i))
      .toDF("k", "v")
    val plain = df.groupBy("k").count().as[(String, Long)].collect().toMap
    val salted = RelationalOps.saltedCount(df, Seq("k"), 8)
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("PNG encode → pixel-decode round-trips arbitrary images exactly") {
    import graft.multimodal.Media
    val caseGen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 24)
      ct <- Gen.oneOf(0, 2, 4, 6) // gray, rgb, gray+alpha, rgba
      a <- Gen.choose(1, 255)
      b <- Gen.choose(0, 255)
    } yield (w, h, ct, a, b)
    samples(caseGen, 32).foreach { case (w, h, ct, a, b) =>
      def px(x: Int, y: Int, c: Int): Int = (x * a + y * 31 + c * 7 + b) % 256
      val blob = Media.pngPixelBytes(w, h, colorType = ct)(px)
      val ch = Seq(1, 0, 3, 0, 2, 0, 4)(ct)
      val vs = for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        yield px(x, y, c).toDouble
      val want = math.rint(vs.sum / vs.length * 10000) / 10000
      assert(Media.decodePngPixelMean(blob) === Some(want), s"($w,$h,$ct,$a,$b)")
      assert(Media.decode(blob).map(d => (d.width, d.height)) === Some((w, h)))
    }
  }

  test("GIF encode → LZW-decode round-trips arbitrary images exactly") {
    import graft.multimodal.Media
    val caseGen = for {
      w <- Gen.choose(1, 30)
      h <- Gen.choose(1, 20)
      nPal <- Gen.oneOf(2, 4, 7, 16, 64)
      s <- Gen.choose(0, 1000)
    } yield (w, h, nPal, s)
    samples(caseGen, 24).foreach { case (w, h, nPal, s) =>
      val pal = (0 until nPal).map(c =>
        ((c * 37 + s) % 256, (c * 59 + s) % 256, (c * 83 + s) % 256))
      def px(x: Int, y: Int): Int = (x * 7 + y * 13 + s) % nPal
      val blob = Media.gifPixelBytes(w, h, pal)(px)
      val vs = for (y <- 0 until h; x <- 0 until w;
        v <- Seq(pal(px(x, y))._1, pal(px(x, y))._2, pal(px(x, y))._3))
        yield v.toDouble
      val want = math.rint(vs.sum / vs.length * 10000) / 10000
      assert(Media.decodeGifPixelMean(blob) === Some(want), s"($w,$h,$nPal,$s)")
      assert(Media.decode(blob).map(d => (d.width, d.height)) === Some((w, h)))
    }
  }

  test("merge-on-read agrees with an in-memory model over random op sequences") {
    import graft.sources.NdjsonIngest
    // ops over a small key space so upserts/deletes actually collide
    sealed trait Op
    case class Upsert(rows: Map[Long, Double]) extends Op
    case class Delete(keys: Set[Long]) extends Op
    case class UpdateWhere(thr: Double, nv: Double) extends Op
    case class DeleteWhere(thr: Double) extends Op
    case object Compact extends Op
    val opGen: Gen[Op] = Gen.frequency(
      5 -> (for {
        n <- Gen.choose(1, 4)
        ks <- Gen.listOfN(n, Gen.choose(1L, 12L))
        vs <- Gen.listOfN(n, Gen.choose(0, 999))
      } yield Upsert(ks.zip(vs.map(_.toDouble)).toMap)),
      3 -> (for {
        n <- Gen.choose(1, 3)
        ks <- Gen.listOfN(n, Gen.choose(1L, 12L))
      } yield Delete(ks.toSet)),
      2 -> (for {
        thr <- Gen.choose(0, 999)
        nv <- Gen.choose(0, 999)
      } yield UpdateWhere(thr.toDouble, nv.toDouble)),
      2 -> Gen.choose(0, 999).map(t => DeleteWhere(t.toDouble)),
      1 -> Gen.const(Compact))
    val seqGen = Gen.choose(4, 9).flatMap(n => Gen.listOfN(n, opGen))
    samples(seqGen, 6).zipWithIndex.foreach { case (ops, caseIdx) =>
      val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
      var model = Map.empty[Long, Double]
      // seed so the chain always has a data layer
      NdjsonIngest.appendVersion(
        Seq((100L, 0.0)).toDF("id", "val"), dir, "id")
      model += 100L -> 0.0
      ops.foreach {
        case Upsert(rows) =>
          NdjsonIngest.upsertDelta(rows.toSeq.toDF("id", "val"), dir, "id")
          model ++= rows
        case Delete(keys) =>
          NdjsonIngest.deleteDelta(keys.toSeq.toDF("id"), dir, "id")
          model --= keys
        case UpdateWhere(thr, nv) =>
          // predicate-level UPDATE: upsert exactly the merged rows
          // matching the filter, rewritten (no-match → no commit)
          val changed = NdjsonIngest.readLatestMerged(spark, dir, "id")
            .filter(col("val") >= thr).withColumn("val", lit(nv))
          if (!changed.isEmpty) NdjsonIngest.upsertDelta(changed, dir, "id")
          model = model.map { case (k, v) => k -> (if (v >= thr) nv else v) }
        case DeleteWhere(thr) =>
          val keys = NdjsonIngest.readLatestMerged(spark, dir, "id")
            .filter(col("val") < thr).select("id")
          if (!keys.isEmpty) NdjsonIngest.deleteDelta(keys, dir, "id")
          model = model.filter { case (_, v) => v >= thr }
        case Compact =>
          NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 1)
      }
      val got = NdjsonIngest.readLatestMerged(spark, dir, "id")
        .as[(Long, Double)].collect().toMap
      assert(got === model, s"case $caseIdx ops=$ops")

      // CHANGE-FEED INVARIANT: replaying the full feed (insert/delete
      // events in _commit order) into a map reconstructs exactly the
      // merged table — the contract every incremental consumer relies on.
      val head = NdjsonIngest.commits(dir).last
      val feed = NdjsonIngest.readChanges(spark, dir, "id", 0L, head)
        .select(col("id"), col("val"), col("_change_type"), col("_commit"))
        .as[(Long, Option[Double], String, Long)].collect()
        .sortBy(_._4)
      val replayed = feed.foldLeft(Map.empty[Long, Double]) {
        case (m, (id, v, "delete", _)) => m - id
        case (m, (id, v, _, _)) => m + (id -> v.get)
      }
      assert(replayed === model, s"feed replay diverged, case $caseIdx ops=$ops")
    }
  }

  test("AnnIndex.syncFromFeed keeps exactly one live code per vector over " +
      "random op/crash-replay sequences") {
    import graft.ann.AnnIndex
    import graft.sources.{ChangeFeedConsumer, NdjsonIngest}
    val dim = 4
    def vec(id: Long, v: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(id * 7.0 + v * 13.0 + i).toFloat)
    sealed trait Op
    case class Ins(n: Int) extends Op
    case class Del(picks: Seq[Int]) extends Op
    case class Ups(picks: Seq[Int]) extends Op
    case object Tick extends Op
    case class Rewind(pick: Int) extends Op
    val opGen: Gen[Op] = Gen.frequency(
      4 -> Gen.choose(1, 3).map(Ins),
      2 -> Gen.listOfN(2, Gen.choose(0, 99)).map(Del),
      2 -> Gen.listOfN(2, Gen.choose(0, 99)).map(Ups),
      3 -> Gen.const(Tick),
      2 -> Gen.choose(0, 99).map(Rewind))
    val opsGen = Gen.choose(5, 8).flatMap(n => Gen.listOfN(n, opGen))
    samples(opsGen, 3).zipWithIndex.foreach { case (ops, caseIdx) =>
      val base = java.nio.file.Files.createTempDirectory("annprop").toString
      val tableDir = s"$base/emb"; val idxDir = s"$base/idx"
      val stateDir = s"$base/state"
      var nextId = 0L
      var liveVer = Map.empty[Long, Int] // live id → vector version
      def rows(ids: Seq[Long]) =
        ids.map(id => (id, vec(id, liveVer(id)))).toDF("vec_id", "embedding")
      def freshIds(n: Int) = (0 until n).map { _ => nextId += 1; nextId }
      def sync() = AnnIndex.syncFromFeed(spark, tableDir, idxDir, stateDir,
        "vec_id", "embedding", dim, cells = 2, m = 2, k = 4, iters = 1)
      val seed = freshIds(4); seed.foreach(id => liveVer += id -> 0)
      NdjsonIngest.appendVersion(rows(seed), tableDir, "vec_id")
      sync() // bootstrap
      ops.foreach {
        case Ins(n) =>
          val ids = freshIds(n); ids.foreach(id => liveVer += id -> 0)
          NdjsonIngest.appendDelta(rows(ids), tableDir, "vec_id")
        case Del(picks) =>
          val pool = liveVer.keys.toSeq.sorted
          if (pool.nonEmpty) {
            val ids = picks.map(p => pool(p % pool.size)).distinct
            NdjsonIngest.deleteDelta(ids.toDF("vec_id"), tableDir, "vec_id")
            liveVer --= ids
          }
        case Ups(picks) =>
          val pool = liveVer.keys.toSeq.sorted
          if (pool.nonEmpty) {
            val ids = picks.map(p => pool(p % pool.size)).distinct
            ids.foreach(id => liveVer += id -> (liveVer(id) + 1))
            NdjsonIngest.upsertDelta(rows(ids), tableDir, "vec_id")
          }
        case Tick => sync()
        case Rewind(pick) =>
          // crash simulation: some earlier tick's artifacts committed but
          // its cursor write was lost; commits landing afterwards WIDEN
          // the replayed range. A crash only LOSES cursor progress —
          // never advances it — so only rewind backward.
          val cs = 0L +: NdjsonIngest.commits(tableDir)
          val target = cs(pick % cs.size)
          if (target < ChangeFeedConsumer.cursor(stateDir))
            ChangeFeedConsumer.writeCursor(stateDir, target)
      }
      sync()
      // invariant: the committed chain holds EXACTLY one code per live
      // vector — no tombstoned leftovers, no replay duplicates
      val h = AnnIndex.load(spark, idxDir).get
      val codeIds =
        if (h.layers.isEmpty) Seq.empty[Long]
        else spark.read.option("basePath", s"$idxDir/codes")
          .parquet(h.layers.map(l => s"$idxDir/codes/layer=$l"): _*)
          .select(col("id")).as[Long].collect().toSeq
      assert(codeIds.sorted === liveVer.keys.toSeq.sorted,
        s"case $caseIdx ops=$ops")
    }
  }

  test("additive schema evolution chains read exactly under the head schema") {
    import graft.sources.NdjsonIngest
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val caseGen: Gen[List[(Boolean, Int)]] = for {
      nOps <- Gen.choose(2, 6)
      evolves <- Gen.listOfN(nOps, Gen.prob(0.4))
      sizes <- Gen.listOfN(nOps, Gen.choose(1, 4))
    } yield evolves.zip(sizes)
    samples(caseGen, 10).zipWithIndex.foreach { case (ops, ci) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"evoprop$ci").toString + "/t"
      var nCols = 0 // evolution columns in the committed head schema
      var nextId = 0L
      // model: id -> evolution-column values the row's OWN batch carried
      val model = scala.collection.mutable.Map.empty[Long, Map[Int, Double]]
      ops.foreach { case (addCol, bs) =>
        val batchCols = if (addCol) nCols + 1 else nCols
        val schema = StructType(
          StructField("id", LongType, nullable = false) +:
          StructField("v", DoubleType, nullable = false) +:
          (1 to batchCols).map(k =>
            StructField(s"c$k", DoubleType, nullable = true)))
        val rows = (0 until bs).map { _ =>
          val id = nextId; nextId += 1
          model(id) = (1 to batchCols).map(k => k -> (id * 10.0 + k)).toMap
          Row.fromSeq(id +: (id * 1.5) +:
            (1 to batchCols).map(k => id * 10.0 + k))
        }
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava), schema)
        if (addCol) {
          NdjsonIngest.appendDeltaEvolve(df, dir, "id")
          nCols += 1
        } else if (NdjsonIngest.commits(dir).isEmpty) {
          NdjsonIngest.appendDeltaEvolve(df, dir, "id") // initial snapshot
        } else {
          NdjsonIngest.appendDelta(df, dir, "id") // strict: head schema
        }
      }
      val got = NdjsonIngest.readLatest(spark, dir)
      assert(got.schema.fieldNames.toSeq ===
        "id" +: "v" +: (1 to nCols).map(k => s"c$k"),
        s"case $ci ops=$ops head schema drifted")
      val byId = got.collect().map(r => r.getLong(0) -> r).toMap
      assert(byId.keySet === model.keySet, s"case $ci ops=$ops row set")
      model.foreach { case (id, cvals) =>
        val r = byId(id)
        assert(r.getDouble(1) === id * 1.5, s"case $ci id=$id v")
        (1 to nCols).foreach { k =>
          val idx = 1 + k
          cvals.get(k) match {
            case Some(expect) =>
              assert(!r.isNullAt(idx) && r.getDouble(idx) === expect,
                s"case $ci ops=$ops id=$id c$k")
            case None =>
              // the column post-dates this row's batch: null under the
              // head schema, never a default or a neighbor's value
              assert(r.isNullAt(idx), s"case $ci ops=$ops id=$id c$k not null")
          }
        }
      }
      // append-only chain: the merge-on-read view must agree exactly
      val merged = NdjsonIngest.readLatestMerged(spark, dir, "id")
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(merged === byId.map { case (k, r) => k -> r.toSeq },
        s"case $ci merged view diverged")
    }
  }

  test("MP4 frame sampling replays arbitrary chunk layouts exactly") {
    import graft.multimodal.Media
    val caseGen: Gen[(List[Int], List[Int], Int, Boolean)] = for {
      n <- Gen.choose(1, 24)
      sizes <- Gen.listOfN(n, Gen.choose(1, 40))
      // random partition of n samples into chunks
      cuts <- Gen.listOfN(n - 1, Gen.prob(0.3))
      step <- Gen.choose(1, 6)
      co64 <- Gen.oneOf(true, false)
    } yield {
      val chunks = scala.collection.mutable.ArrayBuffer(1)
      cuts.foreach(cut =>
        if (cut) chunks += 1 else chunks(chunks.length - 1) += 1)
      (sizes, chunks.toList, step, co64)
    }
    samples(caseGen, 40).zipWithIndex.foreach {
      case ((sizes, chunks, step, co64), ci) =>
        val blob = Media.mp4BytesWithSamples(1000, sizes.length.toLong, 16, 16,
          sizes, chunks, co64)((s, j) => (s * 7 + j).toByte)
        val frames = Media.frameSampleRanges(blob, step, maxFrames = 64).get
        // model: chunk-contiguous layout → offset(s) is the plain prefix
        // sum of sizes over the mdat body, regardless of chunking
        val base = frames.head.offset - 0 // sample 0 starts the body
        val prefix = sizes.scanLeft(0L)(_ + _)
        val expect = sizes.indices.filter(_ % step == 0)
          .map(s => (s, base + prefix(s), sizes(s).toLong))
        assert(frames.map(f => (f.idx, f.offset, f.size)) === expect.toVector,
          s"case $ci sizes=$sizes chunks=$chunks step=$step co64=$co64")
        // and every range addresses that sample's payload bytes
        frames.foreach { f =>
          (0 until f.size.toInt).foreach { j =>
            assert(blob(f.offset.toInt + j) === (f.idx * 7 + j).toByte)
          }
        }
    }
  }

  test("incremental component refresh equals from-scratch on random growing graphs") {
    import graft.operators.ConnectedComponents
    // random (old graph, new batch) pairs: edges among old nodes, then a
    // batch of new nodes with random new-new AND new-old edges — refresh
    // over the old labels must equal recomputing components from scratch
    val caseGen = for {
      nOld <- Gen.choose(5, 30)
      nNew <- Gen.choose(1, 15)
      oldEdges <- Gen.listOf(for {
        a <- Gen.choose(0, nOld - 1); b <- Gen.choose(0, nOld - 1)
      } yield (a.toLong, b.toLong))
      newEdges <- Gen.listOf(for {
        a <- Gen.choose(nOld, nOld + nNew - 1) // at least one new endpoint
        b <- Gen.choose(0, nOld + nNew - 1)
      } yield (a.toLong, b.toLong))
    } yield (nOld, nNew, oldEdges, newEdges)
    samples(caseGen, 12).zipWithIndex.foreach {
      case ((nOld, nNew, oldEdges, newEdges), ci) =>
        val oldNodes = (0L until nOld.toLong)
        val allNodes = (0L until (nOld + nNew).toLong)
        val oldLabels = ConnectedComponents.components(
          oldEdges.toDF("a", "b"), "a", "b", oldNodes.toDF("id"), "id")
        val got = ConnectedComponents.refresh(oldLabels,
          newEdges.toDF("a", "b"), "a", "b",
          (nOld.toLong until (nOld + nNew).toLong).toDF("id"), "id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val scratch = ConnectedComponents.components(
          (oldEdges ++ newEdges).toDF("a", "b"), "a", "b",
          allNodes.toDF("id"), "id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === scratch,
          s"case $ci nOld=$nOld nNew=$nNew old=$oldEdges new=$newEdges")
    }
  }

  test("cluster-scoped repair equals from-scratch on random delete/upsert ticks") {
    import graft.operators.ConnectedComponents
    // model of a delete/upsert tick over a signature graph: edges between
    // two UNTOUCHED nodes never change (their signatures didn't); edges
    // incident to a touched node are arbitrarily dropped/added; deleted
    // nodes vanish. repair must equal components-from-scratch over the
    // current graph, and must probe ONLY affected-cluster members
    val caseGen = for {
      nOld <- Gen.choose(5, 22)
      nNew <- Gen.choose(0, 4) // upsert-inserted newcomers
      oldEdges <- Gen.listOf(for {
        a <- Gen.choose(0, nOld - 1); b <- Gen.choose(0, nOld - 1)
      } yield (a.toLong, b.toLong))
      touchedOld <- Gen.someOf(0L until nOld.toLong)
      delFlags <- Gen.listOfN(touchedOld.size, Gen.oneOf(true, false))
      rawTouchEdges <- Gen.listOf(for {
        a <- Gen.choose(0, nOld + nNew - 1); b <- Gen.choose(0, nOld + nNew - 1)
      } yield (a.toLong, b.toLong))
    } yield (nOld, nNew, oldEdges, touchedOld.toSeq, delFlags, rawTouchEdges)
    samples(caseGen, 10).zipWithIndex.foreach {
      case ((nOld, nNew, oldEdges, touchedOld, delFlags, rawTouchEdges), ci) =>
        val newcomers = (nOld.toLong until (nOld + nNew).toLong).toSeq
        val touched = touchedOld ++ newcomers
        val deleted = touchedOld.zip(delFlags).collect { case (n, true) => n }.toSet
        val live = ((0L until nOld.toLong).filterNot(deleted) ++ newcomers).toSeq
        val liveSet = live.toSet
        val touchedSet = touched.toSet
        // current edges: untouched-untouched edges survive verbatim;
        // touched-incident ones are replaced by the random new set
        val ecur = (oldEdges.filterNot { case (a, b) =>
          touchedSet(a) || touchedSet(b) } ++
          rawTouchEdges.filter { case (a, b) =>
            (touchedSet(a) || touchedSet(b)) && liveSet(a) && liveSet(b) })
          .distinct
        val oldLabels = ConnectedComponents.components(
          oldEdges.toDF("a", "b"), "a", "b", (0L until nOld.toLong).toDF("id"), "id")
          .localCheckpoint()
        // the probe scope repair is allowed: members of clusters holding a
        // touched node, minus tombstones, plus live newcomers
        val oldMap = oldLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val affComps = touchedOld.map(oldMap).toSet
        val allowed = oldMap.collect {
          case (n, c) if affComps(c) && !deleted(n) => n }.toSet ++ newcomers
        val probed = scala.collection.mutable.Set[Long]()
        val edgesFor = (ids: org.apache.spark.sql.DataFrame) => {
          probed ++= ids.collect().map(_.getLong(0))
          val e = ecur.toDF("a", "b")
          val ma = ids.select(col("node").as("a"))
          val mb = ids.select(col("node").as("b"))
          e.join(ma, Seq("a"), "left_semi")
            .union(e.join(mb, Seq("b"), "left_semi")).distinct()
        }
        val got = ConnectedComponents.repair(oldLabels,
          touched.toDF("node"), live.toDF("node"), edgesFor)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val scratch = ConnectedComponents.components(
          ecur.toDF("a", "b"), "a", "b", live.toDF("id"), "id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === scratch,
          s"case $ci nOld=$nOld touched=$touched deleted=$deleted ecur=$ecur")
        // scope: the fixpoint probed ONLY affected members — untouched
        // clusters were never recomputed, just (possibly) remapped
        assert(probed.toSet === allowed,
          s"case $ci probed=$probed allowed=$allowed touched=$touched")
    }
  }

  test("zone-map routed filters ALWAYS equal the unrouted filter " +
    "(randomized layers, ranges, equality, in-sets)") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    val countries = Vector("AT", "CH", "DE", "FR", "IT", "JP", "US")
    val caseGen = for {
      nLayers <- Gen.choose(1, 4)
      rows <- Gen.listOfN(nLayers, Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, for {
          v <- Gen.choose(-50L, 50L)
          c <- Gen.oneOf(countries)
        } yield (v, c))))
      lo <- Gen.choose(-60L, 60L)
      w <- Gen.choose(0L, 40L)
      eqv <- Gen.choose(-60L, 60L)
      cs <- Gen.someOf(countries)
    } yield (rows, lo, lo + w, eqv, cs.toList)
    samples(caseGen, 12).zipWithIndex.foreach {
      case ((layerRows, lo, hi, eqv, cs), ci) =>
        val dir = java.nio.file.Files.createTempDirectory("zprop")
          .toString + "/t"
        layerRows.zipWithIndex.foreach { case (rs, li) =>
          // `n` is a nullable copy of v (null where v % 3 == 0), so the
          // null tests below meet layers with zero, some and only nulls
          val df = rs.zipWithIndex.map { case ((v, c), ri) =>
            (li * 100L + ri, v, c) }.toDF("id", "v", "country")
            .withColumn("n", when(col("v") % 3 =!= 0, col("v")))
          if (li == 0) NdjsonIngest.appendVersion(df, dir, "id")
          else NdjsonIngest.appendDelta(df, dir, "id")
        }
        val frame = NdjsonIngest.readLatest(spark, dir)
        val routed = Catalog(tables = Map("t" -> frame),
          versionedDirs = Map("t" -> dir))
        val unrouted = Catalog(tables = Map("t" -> frame))
        val qs = Seq(
          s"t.filter(between(v, $lo, $hi))",
          s"t.filter(v = $eqv)",
          s"t.filter(between(v, $lo, null))") ++
          (if (cs.nonEmpty)
            Seq(s"t.filter(in(country, {${cs.map(c => s"'$c'").mkString(",")}}))",
              s"t.filter(country = '${cs.head}' && between(v, $lo, $hi))")
          else Nil)
        // null tests, a disjunction, stacked filters and a filter after
        // a map: every shape the filter stage folds into one zone
        val nullQs = Seq(
          "t.filter(isNull(n))",
          "t.filter(isNotNull(n))",
          s"t.filter(isNull(n) && between(v, $lo, $hi))",
          s"t.filter(between(v, $lo, $hi) || isNull(n))",
          s"t.filter(v = $eqv || between(n, $lo, $hi))",
          s"t.filter(between(v, $lo, null)).filter(isNotNull(n))",
          s"t.filter(isNull(n)).filter(between(v, null, $hi))",
          s"t.map({w := v}).filter(between(v, $lo, $hi))",
          "t.map({w := v}).filter(isNotNull(n))")
        (qs ++ nullQs).foreach { q =>
          def ids(cat: Catalog) = Planner.plan(q, cat)
            .select("id").as[Long].collect().sorted.toSeq
          assert(ids(routed) === ids(unrouted), s"case $ci query $q")
        }
        // grouped counts (1 and 2 group columns) under the same
        // conjuncts: the sidecar answer equals the grouping scan
        val groupQs = nullQs.filterNot(_.startsWith("t.map")).flatMap { q =>
          Seq(s"$q.groupBy({c := count()}, {country})",
            s"$q.groupBy({c := count()}, {country, n})")
        } ++ Seq("t.groupBy({c := count()}, {n})",
          s"t.filter(between(v, $lo, $hi)).groupBy({c := count()}, {n})")
        groupQs.foreach { q =>
          def groups(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
          assert(groups(routed) === groups(unrouted), s"case $ci query $q")
        }
    }
  }

  test("stats-bounded top-k and metadata count ALWAYS equal the " +
    "unrouted plans (randomized layers, ties, offsets, k)") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    val caseGen = for {
      nLayers <- Gen.choose(1, 4)
      // a narrow value range so duplicate sort keys (ties) are common —
      // the unique id tiebreak must keep routed/unrouted byte-identical —
      // and NULLS mixed in (they sort first asc / last desc; the pruning
      // ledger must place them on the right end)
      rows <- Gen.listOfN(nLayers, Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(
          4 -> Gen.choose(-8L, 8L).map(Option(_)),
          1 -> Gen.const(Option.empty[Long])))))
      k <- Gen.choose(1, 8)
      off <- Gen.choose(0, 4)
      descend <- Gen.oneOf(true, false)
    } yield (rows, k, off, descend)
    samples(caseGen, 12).zipWithIndex.foreach {
      case ((layerRows, k, off, desc), ci) =>
        val dir = java.nio.file.Files.createTempDirectory("tkprop")
          .toString + "/t"
        layerRows.zipWithIndex.foreach { case (rs, li) =>
          val df = rs.zipWithIndex.map { case (v, ri) =>
            (li * 100L + ri, v) }.toDF("id", "v")
          if (li == 0) NdjsonIngest.appendVersion(df, dir, "id")
          else NdjsonIngest.appendDelta(df, dir, "id")
        }
        val frame = NdjsonIngest.readLatest(spark, dir)
        val routed = Catalog(tables = Map("t" -> frame),
          versionedDirs = Map("t" -> dir))
        val unrouted = Catalog(tables = Map("t" -> frame))
        val key = if (desc) "desc(v)" else "v"
        // mixed-direction tiebreaks route too: the layer bound depends
        // only on the first key, tie order never crosses an exclusion
        Seq(s"t.orderBy({$key, id}).limit($k)",
            s"t.orderBy({$key, id}).offset($off).limit($k)",
            s"t.orderBy({$key, desc(id)}).limit($k)",
            s"t.orderBy({$key, desc(id)}).offset($off).limit($k)").foreach { q =>
          def seqOf(cat: Catalog) = Planner.plan(q, cat)
            .select("id").as[Long].collect().toSeq // ORDERED compare
          assert(seqOf(routed) === seqOf(unrouted), s"case $ci query $q")
        }
        def cnt(cat: Catalog) = Planner.plan("t.groupBy({c := count()})", cat)
          .collect().head.getLong(0)
        assert(cnt(routed) === cnt(unrouted), s"case $ci count")
        // the grouped count over the same null-bearing, tie-heavy layers
        def grouped(cat: Catalog) =
          Planner.plan("t.groupBy({c := count()}, {v})", cat).collect()
            .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
            .toSeq.sortBy(_.toString)
        assert(grouped(routed) === grouped(unrouted), s"case $ci grouped count")
    }
  }

  test("merge-on-read zone routing ALWAYS equals the unrouted merged " +
    "filter (randomized upsert/delete/compact sequences and windows)") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    sealed trait Op
    case class Upsert(rows: Map[Long, Long]) extends Op
    case class Delete(keys: Set[Long]) extends Op
    case object Compact extends Op
    val opGen: Gen[Op] = Gen.frequency(
      5 -> (for {
        n <- Gen.choose(1, 4)
        ks <- Gen.listOfN(n, Gen.choose(1L, 12L))
        vs <- Gen.listOfN(n, Gen.choose(0L, 99L))
      } yield Upsert(ks.zip(vs).toMap)),
      3 -> (for {
        n <- Gen.choose(1, 3)
        ks <- Gen.listOfN(n, Gen.choose(1L, 12L))
      } yield Delete(ks.toSet)),
      1 -> Gen.const(Compact))
    val caseGen = for {
      ops <- Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, opGen))
      lo <- Gen.choose(0L, 99L)
      w <- Gen.choose(0L, 50L)
    } yield (ops, lo, lo + w)
    samples(caseGen, 10).zipWithIndex.foreach { case ((ops, lo, hi), ci) =>
      val dir = java.nio.file.Files.createTempDirectory("mzprop")
        .toString + "/t"
      // `n` is a nullable copy of v (null where v % 3 == 0) for the
      // isNull/isNotNull windows
      def withN(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("n", when(col("v") % 3 =!= 0, col("v")))
      NdjsonIngest.appendVersion(withN(Seq((100L, 50L)).toDF("id", "v")),
        dir, "id")
      ops.foreach {
        case Upsert(rows) =>
          NdjsonIngest.upsertDelta(withN(rows.toSeq.toDF("id", "v")), dir,
            "id")
        case Delete(keys) =>
          NdjsonIngest.deleteDelta(keys.toSeq.toDF("id"), dir, "id")
        case Compact =>
          NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 1)
      }
      val frame = NdjsonIngest.readLatestMerged(spark, dir, "id")
      val routed = Catalog(tables = Map("t" -> frame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> dir))
      val unrouted = Catalog(tables = Map("t" -> frame))
      Seq(s"t.filter(between(v, $lo, $hi))",
          s"t.filter(v = $lo)",
          s"t.filter(between(v, $lo, null))",
          // disjunctive windows over a merged chain: candidacy is the
          // UNION of the arms, shadow/tombstone semantics unchanged
          s"t.filter(between(v, $lo, $hi) || v = ${hi + 5})",
          // STACKED filters on a merged chain: the second filter
          // extends the merged note and re-plans through the shadow-
          // aware reader with the combined conjuncts
          s"t.filter(between(v, $lo, null)).filter(between(v, null, $hi))",
          s"t.filter(between(v, $lo, $hi))" +
            s".filter(between(v, ${lo + 1}, $hi))",
          // null windows: isNull/isNotNull alone, under a range, as a
          // disjunction arm, and stacked
          "t.filter(isNull(n))",
          "t.filter(isNotNull(n))",
          s"t.filter(isNotNull(n) && between(v, $lo, $hi))",
          s"t.filter(isNull(n) || between(v, $lo, $hi))",
          s"t.filter(between(v, $lo, null)).filter(isNull(n))").foreach { q =>
        def rows(cat: Catalog) = Planner.plan(q, cat)
          .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
        assert(rows(routed) === rows(unrouted), s"case $ci query $q")
      }
      // the metadata count BRACKET must contain the true merged count
      // under any upsert/delete/compact history (and collapse to the
      // exact count right after a compact resets the chain)
      NdjsonIngest.chainCountBracket(
          dir, NdjsonIngest.latestLayers(dir)).foreach { case Seq((_, lo2, hi2)) =>
        val truth = frame.count()
        assert(lo2 <= truth && truth <= hi2,
          s"case $ci bracket [$lo2, $hi2] misses true count $truth")
        if (ops.lastOption.contains(Compact))
          assert(lo2 === truth && hi2 === truth,
            s"case $ci post-compact bracket [$lo2, $hi2] not exact ($truth)")
      }
      // the approxCount() surface rides the same bracket: routed must
      // bracket the truth from metadata; unrouted counts exactly
      locally {
        val truth = frame.count()
        val ac = Planner.plan("t.approxCount()", routed).collect().head
        assert(ac.getLong(0) <= truth && truth <= ac.getLong(1),
          s"case $ci approxCount [${ac.getLong(0)}, ${ac.getLong(1)}] " +
            s"misses $truth")
        val acU = Planner.plan("t.approxCount()", unrouted).collect().head
        assert(acU.getLong(0) === truth && acU.getLong(1) === truth)
      }
      // merged top-k: the shadow-loss-aware bound must stay a superset
      // of the true suppliers under any upsert/delete/compact history
      Seq("t.orderBy({desc(v), id}).limit(3)",
          "t.orderBy({v, id}).limit(3)",
          s"t.filter(between(v, $lo, $hi)).orderBy({desc(v), id}).limit(3)",
          s"t.filter(between(v, $lo, $hi)).orderBy({v, id})" +
            ".offset(1).limit(2)",
          // stacked merged filters compose with the merged top-k bound
          s"t.filter(between(v, $lo, null)).filter(between(v, null, $hi))" +
            ".orderBy({desc(v), id}).limit(3)",
          // filter AFTER the sort absorbs into the merged note too
          s"t.orderBy({desc(v), id}).filter(between(v, $lo, $hi))" +
            ".limit(3)",
          "t.filter(isNotNull(n)).orderBy({desc(v), id}).limit(3)",
          "t.filter(isNull(n)).orderBy({v, id}).limit(3)").foreach { q =>
        def seqOf(cat: Catalog) = Planner.plan(q, cat)
          .select("id").as[Long].collect().toSeq // ORDERED compare
        assert(seqOf(routed) === seqOf(unrouted), s"case $ci query $q")
      }
    }
  }

  test("NESTED-union top-k, count, and grouped count ALWAYS equal the " +
    "unrouted plans (random union shapes, filters, offsets)") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    // random union TREES over three registered chains: the flattened
    // sorted-union note must bound every leaf regardless of nesting
    val shapes = Seq(
      "t1.unionAll(t2).unionAll(t3)",
      "t1.unionAll(t2.unionAll(t3))",
      "t1.unionAll(t2).unionAll(t3).unionAll(t1)",
      "t1.unionAll(t2.unionAll(t3).unionAll(t1))")
    val caseGen = for {
      nLayers <- Gen.choose(1, 3)
      rows <- Gen.listOfN(nLayers, Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(
          4 -> Gen.choose(-8L, 8L).map(Option(_)),
          1 -> Gen.const(Option.empty[Long])))))
      k <- Gen.choose(1, 8)
      off <- Gen.choose(0, 3)
      descend <- Gen.oneOf(true, false)
      lo <- Gen.choose(-10L, 10L)
      w <- Gen.choose(0L, 10L)
      shape <- Gen.oneOf(shapes)
    } yield (rows, k, off, descend, lo, lo + w, shape)
    samples(caseGen, 10).zipWithIndex.foreach {
      case ((layerRows, k, off, desc, lo, hi, shape), ci) =>
        val dir = java.nio.file.Files.createTempDirectory("nuprop")
          .toString + "/t"
        layerRows.zipWithIndex.foreach { case (rs, li) =>
          val df = rs.zipWithIndex.map { case (v, ri) =>
            (li * 100L + ri, v, s"g${ri % 2}") }.toDF("id", "v", "g")
          if (li == 0) NdjsonIngest.appendVersion(df, dir, "id")
          else NdjsonIngest.appendDelta(df, dir, "id")
        }
        val frame = NdjsonIngest.readLatest(spark, dir)
        val names = Seq("t1", "t2", "t3")
        val routed = Catalog(
          tables = names.map(_ -> frame).toMap,
          versionedDirs = names.map(_ -> dir).toMap)
        val unrouted = Catalog(tables = names.map(_ -> frame).toMap)
        val key = if (desc) "desc(v)" else "v"
        Seq(
          s"$shape.orderBy({$key, id}).limit($k)",
          s"$shape.filter(between(v, $lo, $hi)).orderBy({$key, id}).limit($k)",
          s"$shape.filter(between(v, $lo, $hi)).orderBy({$key, id})" +
            s".offset($off).limit($k)",
          s"$shape.filter(between(v, $lo, $hi)).project({id, v})" +
            s".orderBy({$key, id}).limit($k)",
          // a key-keeping projection BETWEEN the union's orderBy and
          // its limit replays per leaf after the rewrite's sort
          s"$shape.orderBy({$key, id}).project({id, v}).limit($k)",
          // a filter BETWEEN the union's orderBy and its limit absorbs
          // into every leaf's note (one unabsorbable leaf would drop
          // the whole bound); offset-before-filter must fall back
          s"$shape.orderBy({$key, id}).filter(between(v, $lo, $hi))" +
            s".limit($k)",
          s"$shape.orderBy({$key, id}).offset($off)" +
            s".filter(between(v, $lo, $hi)).limit($k)").foreach { q =>
          // ORDERED compare on the full sort key (id alone is not
          // total here: the same chain registers under all three
          // names, so ids repeat across leaves)
          def seqOf(cat: Catalog) = Planner.plan(q, cat)
            .select("v", "id").as[(Option[Long], Long)].collect().toSeq
          assert(seqOf(routed) === seqOf(unrouted), s"case $ci query $q")
        }
        Seq(s"$shape.filter(between(v, $lo, $hi)).groupBy({c := count()})",
            s"$shape.groupBy({c := count()})").foreach { q =>
          def cnt(cat: Catalog) = Planner.plan(q, cat).collect().head.getLong(0)
          assert(cnt(routed) === cnt(unrouted), s"case $ci query $q")
        }
        Seq(s"$shape.groupBy({n := count()}, {g})",
            s"$shape.filter(between(v, $lo, $hi))" +
              ".groupBy({n := count()}, {g})").foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
    }
  }

  test("MIXED-storage union top-k (append-only leaf + merge-on-read " +
    "leaf) ALWAYS equals the unrouted plans") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    val caseGen = for {
      nLayers <- Gen.choose(1, 3)
      rows <- Gen.listOfN(nLayers, Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-8L, 8L))))
      ups <- Gen.listOfN(3, Gen.zip(Gen.choose(0L, 20L), Gen.choose(-8L, 8L)))
      dels <- Gen.listOfN(2, Gen.choose(0L, 20L))
      k <- Gen.choose(1, 6)
      descend <- Gen.oneOf(true, false)
      lo <- Gen.choose(-10L, 10L)
      w <- Gen.choose(0L, 10L)
    } yield (rows, ups, dels, k, descend, lo, lo + w)
    samples(caseGen, 8).zipWithIndex.foreach {
      case ((layerRows, ups, dels, k, desc, lo, hi), ci) =>
        val base = java.nio.file.Files.createTempDirectory("muprop").toString
        val aDir = s"$base/a"; val mDir = s"$base/m"
        // append-only leaf
        layerRows.zipWithIndex.foreach { case (rs, li) =>
          val df = rs.zipWithIndex.map { case (v, ri) =>
            (1000L + li * 100L + ri, v) }.toDF("id", "v")
          if (li == 0) NdjsonIngest.appendVersion(df, aDir, "id")
          else NdjsonIngest.appendDelta(df, aDir, "id")
        }
        // merge-on-read leaf with upserts + deletes over ids 0-20
        NdjsonIngest.appendVersion(
          (0L to 20L by 3).map(i => (i, i - 8)).toDF("id", "v"), mDir, "id")
        NdjsonIngest.upsertDelta(ups.toDF("id", "v"), mDir, "id")
        NdjsonIngest.deleteDelta(dels.toDF("id"), mDir, "id")
        val aFrame = NdjsonIngest.readLatest(spark, aDir)
        val mFrame = NdjsonIngest.readLatestMerged(spark, mDir, "id")
        val routed = Catalog(
          tables = Map("ta" -> aFrame, "tm" -> mFrame),
          versionedDirs = Map("ta" -> aDir),
          primaryKeys = Map("tm" -> "id"),
          mergedVersionedDirs = Map("tm" -> mDir))
        val unrouted = Catalog(tables = Map("ta" -> aFrame, "tm" -> mFrame))
        val key = if (desc) "desc(v)" else "v"
        Seq(
          s"ta.unionAll(tm).orderBy({$key, id}).limit($k)",
          s"tm.unionAll(ta).filter(between(v, $lo, $hi))" +
            s".orderBy({$key, id}).limit($k)",
          s"ta.unionAll(tm).filter(between(v, $lo, $hi))" +
            s".orderBy({$key, id}).offset(1).limit($k)").foreach { q =>
          def seqOf(cat: Catalog) = Planner.plan(q, cat)
            .select("v", "id").as[(Long, Long)].collect().toSeq
          assert(seqOf(routed) === seqOf(unrouted), s"case $ci query $q")
        }
        // the filtered count through the mixed union must stay exact
        // (the merged leaf can't answer from metadata — the union
        // count path must fall back WHOLE, never sum a scan count
        // with a wrong metadata count)
        Seq(s"ta.unionAll(tm).filter(between(v, $lo, $hi))" +
            ".groupBy({c := count()})").foreach { q =>
          def cnt(cat: Catalog) = Planner.plan(q, cat).collect().head.getLong(0)
          assert(cnt(routed) === cnt(unrouted), s"case $ci query $q")
        }
    }
  }

  test("FILTERED top-k (zone + top-k bounds composed) and STRING-keyed " +
    "top-k ALWAYS equal the unrouted plans (randomized layers, nulls, " +
    "ties, offsets, filters)") {
    import graft.lang.Planner
    import graft.lang.Planner.Catalog
    import graft.sources.NdjsonIngest
    val countries = Vector("AT", "CH", "DE", "FR", "IT", "JP", "US")
    val caseGen = for {
      nLayers <- Gen.choose(1, 4)
      // narrow ranges so ties are common; nulls in BOTH the numeric and
      // the string column (string envelopes + the new string ledger must
      // place them on the right end of the sort)
      rows <- Gen.listOfN(nLayers, Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, for {
          v <- Gen.frequency(
            4 -> Gen.choose(-8L, 8L).map(Option(_)),
            1 -> Gen.const(Option.empty[Long]))
          c <- Gen.frequency(
            4 -> Gen.oneOf(countries).map(Option(_)),
            1 -> Gen.const(Option.empty[String]))
        } yield (v, c))))
      k <- Gen.choose(1, 8)
      off <- Gen.choose(0, 4)
      descend <- Gen.oneOf(true, false)
      lo <- Gen.choose(-10L, 10L)
      w <- Gen.choose(0L, 10L)
      cs <- Gen.someOf(countries)
    } yield (rows, k, off, descend, lo, lo + w, cs.toList)
    samples(caseGen, 12).zipWithIndex.foreach {
      case ((layerRows, k, off, desc, lo, hi, cs), ci) =>
        val dir = java.nio.file.Files.createTempDirectory("ftkprop")
          .toString + "/t"
        layerRows.zipWithIndex.foreach { case (rs, li) =>
          // x: a DOUBLE copy of v — float between is to-EXCLUSIVE, so
          // this arm proves the envelopes encode that bound correctly
          // lc: a per-LAYER-constant string — the two-column grouped
          // metadata count (histogram × constant) must equal the scan
          // s: a low-cardinality INT — integer layer histograms must
          // group-count exactly like the string/date ones
          // bl: a LONG beyond ±2^53 — its histogram is SUPPRESSED (the
          // double-token collision guard), so grouping on it must fall
          // back to the scan and still agree
          val df = rs.zipWithIndex.map { case ((v, c), ri) =>
            (li * 100L + ri, v, c, v.map(_ * 0.5), s"L$li", ri % 3,
              (1L << 53) * 2 + ri)
          }.toDF("id", "v", "c", "x", "lc", "s", "bl")
          if (li == 0) NdjsonIngest.appendVersion(df, dir, "id")
          else NdjsonIngest.appendDelta(df, dir, "id")
        }
        val frame = NdjsonIngest.readLatest(spark, dir)
        val routed = Catalog(tables = Map("t" -> frame),
          versionedDirs = Map("t" -> dir))
        val unrouted = Catalog(tables = Map("t" -> frame))
        val key = if (desc) "desc(v)" else "v"
        val sKey = if (desc) "desc(c)" else "c"
        val qs = Seq(
          // filter + top-k composed, numeric sort key (and a DESC
          // tiebreak — the note is tiebreak-direction-agnostic)
          s"t.filter(between(v, $lo, $hi)).orderBy({$key, id}).limit($k)",
          s"t.filter(between(v, $lo, $hi)).orderBy({$key, desc(id)})" +
            s".limit($k)",
          s"t.filter(between(v, $lo, $hi)).orderBy({$key, id})" +
            s".offset($off).limit($k)",
          s"t.filter(isNotNull(v)).orderBy({$key, id}).limit($k)",
          s"t.filter(isNull(v)).orderBy({$sKey, id}).limit($k)",
          // string sort key, bare and filtered
          s"t.orderBy({$sKey, id}).limit($k)",
          s"t.filter(between(v, $lo, $hi)).orderBy({$sKey, id}).limit($k)",
          // DOUBLE window (exclusive upper bound) + double sort key
          s"t.filter(between(x, ${lo * 0.5}, ${hi * 0.5}))" +
            s".orderBy({${if (desc) "desc(x)" else "x"}, id}).limit($k)",
          // plain projections between the stages keep every bound
          s"t.filter(between(v, $lo, $hi)).project({id, v})" +
            s".orderBy({$key, id}).limit($k)",
          s"t.project({id, v, c}).orderBy({$sKey, id}).limit($k)",
          // STACKED filters must route exactly like their && forms
          s"t.filter(between(v, $lo, $hi)).filter(isNotNull(c))" +
            s".orderBy({$key, id}).limit($k)",
          s"t.filter(isNotNull(v)).filter(between(v, $lo, $hi))" +
            s".orderBy({$key, id}).limit($k)",
          // a column-adding map BETWEEN the scan and the filter
          s"t.map({tag := 'z'}).filter(between(v, $lo, $hi))" +
            s".orderBy({$key, id}).limit($k)",
          // disjunctive windows prune on the UNION of the arms
          s"t.filter(between(v, $lo, $hi) || between(v, ${lo - 6}, ${lo - 3}))" +
            s".orderBy({$key, id}).limit($k)",
          s"t.filter(between(v, $lo, $hi) || isNull(v))" +
            s".orderBy({$key, id}).limit($k)",
          // an OR with an opaque arm must not prune at all (still equal)
          s"t.filter(between(v, $lo, $hi) || v <> $lo)" +
            s".orderBy({$key, id}).limit($k)",
          // filter BETWEEN orderBy and limit: absorbed into the note
          // when decidable (sort∘filter commutes for the limit's
          // output); shadowed conjuncts and offset-before-filter must
          // fall back — and still equal the unrouted plan
          s"t.orderBy({$key, id}).filter(between(v, $lo, $hi)).limit($k)",
          s"t.orderBy({$key, id}).filter(between(v, $lo, $hi))" +
            s".offset($off).limit($k)",
          s"t.orderBy({$key, id}).project({id, v})" +
            s".filter(between(v, $lo, $hi)).limit($k)",
          s"t.filter(isNotNull(c)).orderBy({$key, id})" +
            s".filter(between(v, $lo, $hi)).limit($k)",
          s"t.orderBy({$key, id}).map({v := 0})" +
            s".filter(between(v, 0, 0)).limit($k)",
          s"t.orderBy({$key, id}).offset($off)" +
            s".filter(between(v, $lo, $hi)).limit($k)",
          // post-sort stages: a key-dropping projection and a
          // key-shadowing map between orderBy and limit replay AFTER
          // the rewrite's sort
          s"t.orderBy({$key, id}).project({id}).limit($k)",
          s"t.filter(between(v, $lo, $hi)).orderBy({$key, id})" +
            s".project({id}).limit($k)",
          s"t.orderBy({$key, id}).map({v := 0}).limit($k)",
          s"t.orderBy({$key, id}).project({id}).offset($off).limit($k)") ++
          (if (cs.nonEmpty) {
            val set = cs.map(c => s"'$c'").mkString(",")
            Seq(s"t.filter(in(c, {$set})).orderBy({$key, id}).limit($k)",
              s"t.filter(c = '${cs.head}' && between(v, $lo, $hi))" +
                s".orderBy({$sKey, id}).limit($k)")
          } else Nil)
        qs.foreach { q =>
          def seqOf(cat: Catalog) = Planner.plan(q, cat)
            .select("id").as[Long].collect().toSeq // ORDERED compare
          assert(seqOf(routed) === seqOf(unrouted), s"case $ci query $q")
        }
        // filtered metadata counts: the same random windows/ledgers must
        // agree with the real counting scan whichever path they take
        Seq(s"t.filter(between(v, $lo, $hi)).groupBy({c := count()})",
            s"t.filter(between(x, ${lo * 0.5}, ${hi * 0.5}))" +
              ".groupBy({c := count()})",
            "t.filter(isNotNull(v)).groupBy({c := count()})",
            "t.filter(isNull(v)).groupBy({c := count()})",
            s"t.filter(isNotNull(v) && between(v, $lo, $hi))" +
              ".groupBy({c := count()})",
            // stacked-filter counts compose in the note
            s"t.filter(isNotNull(v)).filter(between(v, $lo, $hi))" +
              ".groupBy({c := count()})",
            s"t.filter(between(v, $lo, $hi))" +
              s".filter(between(v, $lo, ${hi - 2})).groupBy({c := count()})",
            // disjunctions feed the count bound ONLY in the provably-
            // exact shapes (orGroupPassCount): disjoint same-column
            // windows, overlapping ones, a window beside isNull, an
            // opaque arm (must fall back), and an OR stacked under a
            // plain window — all must equal the counting scan
            s"t.filter(between(v, $lo, $hi) || isNull(v))" +
              ".groupBy({c := count()})",
            s"t.filter(between(v, ${lo - 9}, ${lo - 5}) || " +
              s"between(v, $lo, $hi)).groupBy({c := count()})",
            s"t.filter(between(v, $lo, $hi) || " +
              s"between(v, ${lo + 1}, ${hi + 3})).groupBy({c := count()})",
            s"t.filter(between(v, $lo, $hi) || v <> $lo)" +
              ".groupBy({c := count()})",
            s"t.filter(isNotNull(v))" +
              s".filter(between(v, ${lo - 9}, ${lo - 5}) || " +
              s"between(v, $lo, $hi)).groupBy({c := count()})",
            // windows SPLITTING a layer decide via the value histogram
            // (pass(a)+pass(b) per layer — orGroupHistCount); narrow
            // windows over the tight v range make straddles common
            s"t.filter(between(v, -2, 0) || between(v, 2, 4))" +
              ".groupBy({c := count()})",
            s"t.filter(between(v, -2, 0) || v = 3)" +
              ".groupBy({c := count()})",
            // THREE arms, still one column
            s"t.filter(between(v, $lo, $hi) || " +
              s"between(v, ${lo - 9}, ${lo - 5}) || v = ${hi + 2})" +
              ".groupBy({c := count()})",
            // arms on DIFFERENT columns: no single-column histogram
            // shape — must fall back (or pass-all) and still agree
            s"t.filter(between(v, -2, 0) || isNotNull(c))" +
              ".groupBy({c := count()})",
            s"t.filter(between(v, -2, 0) || in(c, {'AT','DE'}))" +
              ".groupBy({c := count()})",
            // single-column INT arms splitting every layer (s ∈ 0..2)
            "t.filter(between(s, 0, 0) || s = 2).groupBy({c := count()})")
          .foreach { q =>
          def cnt(cat: Catalog) = Planner.plan(q, cat).collect().head.getLong(0)
          assert(cnt(routed) === cnt(unrouted), s"case $ci query $q")
        }
        // GROUPED metadata counts (layer histograms) vs the grouping scan
        (Seq("t.groupBy({n := count()}, {c})",
            s"t.filter(between(v, $lo, $hi)).groupBy({n := count()}, {c})",
            // a disjunctive window under a grouped count: decidable only
            // when the or-group provably passes a whole layer
            s"t.filter(between(v, ${lo - 9}, ${lo - 5}) || " +
              s"between(v, $lo, $hi)).groupBy({n := count()}, {c})",
            "t.filter(isNotNull(c)).groupBy({n := count()}, {c})",
            "t.filter(isNull(c)).groupBy({n := count()}, {c})",
            // disjunction ON the string group column (in-set arms,
            // one null-accepting arm): entry-wise, null group kept
            "t.filter(in(c, {'AT','DE'}) || isNull(c))" +
              ".groupBy({n := count()}, {c})",
            "t.filter(in(c, {'AT','DE'}) || c = 'JP')" +
              ".groupBy({n := count()}, {c})",
            // a layer-splitting or-group NOT on the group column can't
            // split per group — must fall back and still agree
            s"t.filter(between(v, -2, 0) || between(v, 2, 4))" +
              ".groupBy({n := count()}, {c})") ++
          (if (cs.nonEmpty)
            Seq(s"t.filter(in(c, {${cs.map(x => s"'$x'").mkString(",")}}))" +
              ".groupBy({n := count()}, {c})")
          else Nil)).foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
        // INT-keyed grouped counts (integer layer histograms): bare,
        // under an unrelated window, under a range ON the int group
        // column, and under a DISJUNCTION on the group column (applies
        // entry-wise to the integer tokens — every layer is split by
        // the windows, no whole-layer pass exists)
        Seq("t.groupBy({n := count()}, {s})",
            s"t.filter(between(v, $lo, $hi)).groupBy({n := count()}, {s})",
            "t.filter(between(s, 0, 1)).groupBy({n := count()}, {s})",
            "t.filter(s = 2).groupBy({n := count()}, {s})",
            "t.filter(between(s, 0, 0) || s = 2).groupBy({n := count()}, {s})",
            "t.filter(between(s, 0, 0) || between(s, 2, 2))" +
              ".groupBy({n := count()}, {s})").foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (r.getInt(0), r.getLong(1))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
        // INT histogram × layer-constant string, both column orders,
        // plus a group-column DISJUNCTION applied entry-wise to the
        // histogram side and one the const side must veto per layer
        Seq("t.groupBy({n := count()}, {lc, s})",
            "t.groupBy({n := count()}, {s, lc})",
            "t.filter(between(s, 0, 0) || s = 2)" +
              ".groupBy({n := count()}, {lc, s})",
            "t.filter(lc = 'L0' || lc = 'L2')" +
              ".groupBy({n := count()}, {lc, s})").foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (r.get(0), r.get(1), r.getLong(2))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
        // LONG group keys: v (nullable, small — histogram answers) and
        // bl (beyond ±2^53 — histogram suppressed, scan fallback)
        Seq("t.groupBy({n := count()}, {v})",
            s"t.filter(between(v, $lo, $hi)).groupBy({n := count()}, {v})",
            "t.groupBy({n := count()}, {bl})").foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (Option(r.get(0)), r.getLong(1))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
        // the suppression itself: the over-range long must plan a scan
        assert(Planner.plan("t.groupBy({n := count()}, {bl})", routed)
          .inputFiles.nonEmpty,
          s"case $ci: over-2^53 long histogram must not answer from metadata")
        // TWO-column grouped counts (histogram × layer-constant) in both
        // column orders, bare / filtered / null-filtered
        Seq("t.groupBy({n := count()}, {lc, c})",
            "t.groupBy({n := count()}, {c, lc})",
            s"t.filter(between(v, $lo, $hi)).groupBy({n := count()}, {lc, c})",
            "t.filter(isNotNull(c)).groupBy({n := count()}, {c, lc})",
            "t.filter(isNull(c)).groupBy({n := count()}, {lc, c})").foreach { q =>
          def groupsOf(cat: Catalog) = Planner.plan(q, cat).collect()
            .map(r => (Option(r.getString(0)), Option(r.getString(1)),
              r.getLong(2))).toSet
          assert(groupsOf(routed) === groupsOf(unrouted), s"case $ci query $q")
        }
    }
  }
}

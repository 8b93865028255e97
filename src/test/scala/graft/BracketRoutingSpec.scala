package graft

import org.apache.spark.sql.functions._
import graft.sources.NdjsonIngest
import graft.lang.Planner

/** The merged-count bracket's two consumers: the top-k routing
  * heuristic in [[NdjsonIngest.chainTopKLayers]] (skip the bound
  * walk on shadow-heavy chains — the per-layer loss subtraction zeroes
  * every qualifying lower bound) and the `approxCount()` user surface.
  */
class BracketRoutingSpec extends SparkSpec {

  private def tmpDir(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bracket")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)))
    s"$tmp/t"
  }

  test("merged top-k routing FLIPS on the bracket: an upsert-light " +
      "chain bounds its read, a shadow-heavy chain skips the bound") {
    val session = spark
    import session.implicits._
    val n = 20
    // LIGHT: snapshot + three appends with ascending v ranges + one
    // 1-row upsert — shadow capacity 1 of 80 recorded rows
    val light = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      light, "id")
    (1 to 3).foreach(b => NdjsonIngest.appendDelta(
      (0 until n).map(i => ((b * n + i).toLong, (b * 1000 + i).toLong))
        .toDF("id", "v"), light, "id"))
    NdjsonIngest.upsertDelta(Seq((0L, 5L)).toDF("id", "v"), light, "id")
    val lightChain = NdjsonIngest.latestLayers(light)
    val keptLight = NdjsonIngest.chainTopKLayers(
      light, lightChain, "v", 3, descending = true)
    assert(keptLight.length < lightChain.length,
      s"upsert-light chain must bound its read: kept $keptLight " +
        s"of $lightChain")
    // HEAVY: snapshot + three FULL-REWRITE upserts (capacity 3n of 4n
    // recorded rows → bracket lower·2 < upper) — even though the newest
    // layer's envelope alone could bound a desc top-k, the heuristic
    // skips the walk and returns every surviving data layer
    val heavy = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      heavy, "id")
    (1 to 3).foreach(b => NdjsonIngest.upsertDelta(
      (0 until n).map(i => (i.toLong, (b * 1000 + i).toLong))
        .toDF("id", "v"), heavy, "id"))
    val heavyChain = NdjsonIngest.latestLayers(heavy)
    val Seq((_, lo, up)) =
      NdjsonIngest.chainCountBracket(heavy, heavyChain).get
    assert(lo * 2 < up, s"chain must read shadow-heavy: [$lo, $up]")
    val keptHeavy = NdjsonIngest.chainTopKLayers(
      heavy, heavyChain, "v", 3, descending = true)
    assert(keptHeavy.toSet === heavyChain.toSet,
      s"shadow-heavy chain must skip the bound: kept $keptHeavy")
    // the skipped bound is a SUPERSET read — results stay correct
    val frame = NdjsonIngest.readLatestMerged(spark, heavy, "id")
    val routed = Planner.plan("t.orderBy({desc(v), id}).limit(3)",
      Planner.Catalog(tables = Map("t" -> frame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> heavy)))
      .select("id").as[Long].collect().toSeq
    val unrouted = frame.orderBy(col("v").desc, col("id")).limit(3)
      .select("id").as[Long].collect().toSeq
    assert(routed === unrouted)
  }

  test("LEGACY merged chain — a tombstone layer without a `t:` line " +
      "(unknown capacity) still attempts the bound walk: a fresh " +
      "append's tight envelope prunes the old layers") {
    val session = spark
    import session.implicits._
    val n = 20
    val dir = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      dir, "id")
    NdjsonIngest.deleteDelta(Seq(3L, 7L).toDF("id"), dir, "id")
    // forge the legacy shape: strip the `t:` capacity line the modern
    // deleteDelta records, leaving a tombstone dir with unknown capacity
    val tombLayer = NdjsonIngest.latestLayers(dir).last
    val stats = java.nio.file.Paths.get(dir, tombLayer, "_stats")
    java.nio.file.Files.writeString(stats,
      java.nio.file.Files.readString(stats).linesIterator
        .filterNot(_.startsWith("t:")).mkString("\n"))
    NdjsonIngest.appendDelta(
      (0 until n).map(i => ((n + i).toLong, (1000 + i).toLong))
        .toDF("id", "v"), dir, "id")
    val chain = NdjsonIngest.latestLayers(dir)
    // unknown capacity → the bracket's lower bound collapses, but the
    // walk must still run: the newest append (loss 0 — nothing younger)
    // proves k qualifying rows and its envelope excludes the old layers
    val kept = NdjsonIngest.chainTopKLayers(
      dir, chain, "v", 3, descending = true)
    assert(kept.nonEmpty && !kept.contains(chain.head),
      s"the snapshot layer's envelope is excludable: kept $kept of $chain")
    // the pruned read stays correct end-to-end
    val frame = NdjsonIngest.readLatestMerged(spark, dir, "id")
    val routed = Planner.plan("t.orderBy({desc(v), id}).limit(3)",
      Planner.Catalog(tables = Map("t" -> frame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> dir)))
      .select("id").as[Long].collect().toSeq
    val unrouted = frame.orderBy(col("v").desc, col("id")).limit(3)
      .select("id").as[Long].collect().toSeq
    assert(routed === unrouted)
  }

  test("approxCount(): exact [c, c] from metadata on merge-free chains, " +
      "a true bracket with lo < hi on an upsert-heavy merged chain") {
    val session = spark
    import session.implicits._
    // merge-free: zero-footer exact answer
    val plain = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      plain, "id")
    NdjsonIngest.appendDelta(
      (10 until 25).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      plain, "id")
    val pf = Planner.plan("t.approxCount()",
      Planner.Catalog(
        tables = Map("t" -> NdjsonIngest.readLatest(spark, plain)),
        versionedDirs = Map("t" -> plain)))
    assert(pf.inputFiles.isEmpty,
      "merge-free approxCount must not plan a file scan")
    assert(pf.collect().head === org.apache.spark.sql.Row(25L, 25L))
    // merged: the bracket is strict (upserts may or may not shadow),
    // still zero footers, still containing the truth
    val merged = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 10).map(i => (i.toLong, 0L)).toDF("id", "v"), merged, "id")
    NdjsonIngest.upsertDelta(
      (0 until 6).map(i => (i.toLong, 1L)).toDF("id", "v"), merged, "id")
    NdjsonIngest.deleteDelta(Seq(9L).toDF("id"), merged, "id")
    val frame = NdjsonIngest.readLatestMerged(spark, merged, "id")
    val mf = Planner.plan("t.approxCount()",
      Planner.Catalog(tables = Map("t" -> frame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> merged)))
    assert(mf.inputFiles.isEmpty,
      "merged approxCount must answer from the sidecars alone")
    val row = mf.collect().head
    val truth = frame.count()
    assert(row.getLong(0) < row.getLong(1), s"bracket must be strict: $row")
    assert(row.getLong(0) <= truth && truth <= row.getLong(1))
    // an UNREGISTERED frame still answers — one exact counting pass
    val uf = Planner.plan("t.approxCount()",
      Planner.Catalog(tables = Map("t" -> frame)))
    assert(uf.collect().head === org.apache.spark.sql.Row(truth, truth))
  }

  test("filtered approxCount on random merged histories: the routed " +
      "bracket always contains the exact count, zero footers") {
    val session = spark
    import session.implicits._
    // deterministic pseudo-random per seed (Date.now-free)
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val dir = tmpDir()
      val n = 40
      NdjsonIngest.appendVersion(
        (0 until n).map(i => (i.toLong, rnd.nextInt(100).toLong))
          .toDF("id", "v"), dir, "id")
      // a random history of appends / upserts / deletes / compactions
      (0 until 5).foreach { step =>
        rnd.nextInt(4) match {
          case 0 => NdjsonIngest.appendDelta(
            (0 until 10).map(i =>
              ((1000 + seed * 100 + step * 10 + i).toLong,
                rnd.nextInt(100).toLong)).toDF("id", "v"), dir, "id")
          case 1 => NdjsonIngest.upsertDelta(
            rnd.shuffle((0 until n).toList).take(8)
              .map(i => (i.toLong, rnd.nextInt(100).toLong))
              .toDF("id", "v"), dir, "id")
          case 2 => NdjsonIngest.deleteDelta(
            (0 until 3).map(_ => rnd.nextInt(n).toLong).distinct.toDF("id"),
            dir, "id")
          case 3 =>
            NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 2)
            ()
        }
      }
      val frame = NdjsonIngest.readLatestMerged(spark, dir, "id")
      val catalog = Planner.Catalog(tables = Map("t" -> frame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> dir))
      val routed = Planner.plan(
        "t.filter(between(v, 20, 60)).approxCount()", catalog)
      assert(routed.inputFiles.isEmpty,
        s"seed $seed: filtered merged approxCount must answer from sidecars")
      val row = routed.collect().head
      val truth = frame.filter(col("v").between(20, 60)).count()
      assert(row.getLong(0) <= truth && truth <= row.getLong(1),
        s"seed $seed: bracket $row must contain $truth")
      // the planner's answer IS the metadata bracket (not a disguised
      // exact counting fallback)
      val direct = NdjsonIngest.chainCountBracket(
        dir, NdjsonIngest.latestLayers(dir),
        NdjsonIngest.Zone(ranges = Seq(("v", 20.0, 60.0))))
      direct.foreach { case Seq((_, lo, hi)) =>
        assert(row.getLong(0) === lo && row.getLong(1) === hi,
          s"seed $seed: planner must surface the routed bracket " +
            s"($lo, $hi), got $row") }
    }
  }

  test("approxCount through unionAll: leaf brackets sum — a merge-free " +
      "leaf contributes exactly, a merged leaf its shadow bracket") {
    val session = spark
    import session.implicits._
    val plain = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 12).map(i => (i.toLong, i.toLong)).toDF("id", "v"),
      plain, "id")
    val merged = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 10).map(i => (i.toLong, 0L)).toDF("id", "v"), merged, "id")
    NdjsonIngest.upsertDelta(
      (0 until 4).map(i => (i.toLong, 1L)).toDF("id", "v"), merged, "id")
    val pFrame = NdjsonIngest.readLatest(spark, plain)
    val mFrame = NdjsonIngest.readLatestMerged(spark, merged, "id")
    val catalog = Planner.Catalog(
      tables = Map("p" -> pFrame, "m" -> mFrame),
      versionedDirs = Map("p" -> plain),
      primaryKeys = Map("m" -> "id"),
      mergedVersionedDirs = Map("m" -> merged))
    val routed = Planner.plan("p.unionAll(m).approxCount()", catalog)
    assert(routed.inputFiles.isEmpty,
      "union approxCount must answer from the leaves' sidecars")
    val row = routed.collect().head
    val truth = pFrame.count() + mFrame.count()
    assert(row.getLong(0) <= truth && truth <= row.getLong(1),
      s"union bracket $row must contain $truth")
    // 12 exact + merged [14−4, 14]: a counting fallback would emit
    // (22, 22) — the strict upper proves the leaf-wise bracket sum
    assert(row === org.apache.spark.sql.Row(22L, 26L),
      s"leaf-wise sum expected (22, 26): $row")
  }

  test("approxGroupCount on a merged chain: per-group brackets contain " +
      "each group's exact merged count, exact on merge-free, zero footers") {
    val session = spark
    import session.implicits._
    // merge-free: exact per group (lo == hi), including the null group
    val plain = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 12).map(i => (i.toLong,
        if (i % 5 == 4) null else s"g${i % 3}")).toDF("id", "g"),
      plain, "id")
    NdjsonIngest.appendDelta(
      (12 until 20).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g"),
      plain, "id")
    val pFrame = NdjsonIngest.readLatest(spark, plain)
    val pf = Planner.plan("t.approxGroupCount(g)",
      Planner.Catalog(tables = Map("t" -> pFrame),
        versionedDirs = Map("t" -> plain)))
    assert(pf.inputFiles.isEmpty,
      "merge-free grouped bracket must answer from the sidecars")
    val exact = pFrame.groupBy("g").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val got = pf.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    assert(got.map(g => g._1 -> g._2).toMap === exact)
    assert(got.forall { case (_, lo, hi) => lo === hi })
    // merged: upserts RE-GROUP rows (g0 → moved) and a delete removes
    // one — per-group brackets must contain each group's merged truth
    val merged = tmpDir()
    NdjsonIngest.appendVersion(
      (0 until 15).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g"),
      merged, "id")
    NdjsonIngest.upsertDelta(
      (0 until 4).map(i => (i.toLong, "g2")).toDF("id", "g"), merged, "id")
    NdjsonIngest.deleteDelta(Seq(14L).toDF("id"), merged, "id")
    val mFrame = NdjsonIngest.readLatestMerged(spark, merged, "id")
    val mf = Planner.plan("t.approxGroupCount(g)",
      Planner.Catalog(tables = Map("t" -> mFrame),
        primaryKeys = Map("t" -> "id"),
        mergedVersionedDirs = Map("t" -> merged)))
    assert(mf.inputFiles.isEmpty,
      "merged grouped bracket must answer from the sidecars")
    val truth = mFrame.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val brackets = mf.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    brackets.foreach { case (g, lo, hi) =>
      val t = truth.getOrElse(g, 0L)
      assert(lo <= t && t <= hi, s"group $g: bracket [$lo, $hi] vs $t")
    }
    // every live group is bracketed, and hi is the histogram sum
    // (15 recorded + 4 upsert rows, capacity 5 — a counting fallback
    // would emit lo == hi everywhere)
    assert(truth.keySet.subsetOf(brackets.map(_._1).toSet))
    assert(brackets.exists { case (_, lo, hi) => lo < hi },
      s"merged brackets must be strict somewhere: ${brackets.toSeq}")
    // the planner's answer IS the metadata bracket
    val direct = NdjsonIngest.chainCountBracket(
      merged, NdjsonIngest.latestLayers(merged), groupCols = Seq("g")).get
      .map { case (Seq(g), lo, hi) => (g.orNull, lo, hi) }.toSet
    assert(brackets.toSet === direct)
  }
}

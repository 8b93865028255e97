package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{NdjsonIngest, ZstdStringColumn}
import graft.operators.RelationalOps

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("country", StringType),
    StructField("val", DoubleType)))

  def tmpDir(): String = Files.createTempDirectory("graft").toString

  test("ndjson read with enforced schema") {
    val d = tmpDir()
    Files.writeString(java.nio.file.Paths.get(d, "in.ndjson"),
      """{"id":1,"country":"CH","val":1.5}
        |{"id":2,"country":"DE","val":2.5}
        |""".stripMargin)
    val df = NdjsonIngest.read(spark, s"$d/in.ndjson", schema)
    assert(df.schema === schema)
    assert(df.count() === 2)
  }

  test("zst/xz NDJSON files decompress transparently, mixed with plain") {
    val d = tmpDir()
    def lines(a: Int, b: Int): String =
      (a to b).map(i => s"""{"id":$i,"country":"CH","val":$i.5}""").mkString("", "\n", "\n")
    Files.writeString(java.nio.file.Paths.get(d, "plain.ndjson"), lines(1, 3))
    val zs = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(s"$d/part2.ndjson.zst"))
    zs.write(lines(4, 7).getBytes("UTF-8")); zs.close()
    val xs = new org.tukaani.xz.XZOutputStream(
      new java.io.FileOutputStream(s"$d/part3.ndjson.xz"),
      new org.tukaani.xz.LZMA2Options())
    xs.write(lines(8, 9).getBytes("UTF-8")); xs.close()
    val df = NdjsonIngest.read(spark,
      Seq(s"$d/plain.ndjson", s"$d/part2.ndjson.zst", s"$d/part3.ndjson.xz"),
      schema)
    assert(df.schema === schema)
    assert(df.select("id").as[Long].collect().sorted.toSeq === (1L to 9L))
    // values survive the decompress + FAILFAST parse
    assert(df.filter(col("id") === 5).select("val").as[Double].head() === 5.5)
    // a compressed-only read works too (no plain branch)
    assert(NdjsonIngest.read(spark, s"$d/part2.ndjson.zst", schema).count() === 4)
  }

  test("duplicate primary key aborts the append") {
    val df = Seq((1L, "CH", 1.0), (1L, "DE", 2.0)).toDF("id", "country", "val")
    val e = intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendVersion(df, tmpDir() + "/t", "id")
    }
    assert(e.keys === Seq("1"))
  }

  test("versioned append flips the latest pointer atomically") {
    val dir = tmpDir() + "/t"
    val v1 = NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0)).toDF("id", "country", "val"), dir, "id")
    assert(v1 === 1L)
    assert(spark.read.parquet(
      s"$dir/${NdjsonIngest.latestLayers(dir).head}").count() === 1)
    val v2 = NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0), (2L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    assert(v2 === 2L)
    assert(spark.read.parquet(
      s"$dir/${NdjsonIngest.latestLayers(dir).head}").count() === 2)
  }

  test("delta append writes only the batch; readers union the chain; compaction+gc bound it") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0)).toDF("id", "country", "val"), dir, "id")
    // a delta commit's version dir holds ONLY the batch — O(batch) write
    NdjsonIngest.appendDelta(
      Seq((2L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    assert(NdjsonIngest.latestLayers(dir).length === 2)
    val deltaDir = s"$dir/${NdjsonIngest.latestLayers(dir).last}"
    assert(spark.read.parquet(deltaDir).count() === 1)
    assert(NdjsonIngest.readLatest(spark, dir).count() === 2)
    // a pk already committed in an EARLIER layer still aborts loudly
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(
        Seq((1L, "XX", 9.0)).toDF("id", "country", "val"), dir, "id")
    }
    assert(NdjsonIngest.latestLayers(dir).length === 2) // failed commit left no layer
    // a batch with a drifted schema must abort at the commit boundary —
    // the multi-path reader would otherwise silently drop its columns
    intercept[NdjsonIngest.SchemaMismatch] {
      NdjsonIngest.appendDelta(
        Seq((99L, "CH", 1.0, "extra")).toDF("id", "country", "val", "note"), dir, "id")
    }
    assert(NdjsonIngest.latestLayers(dir).length === 2)
    // grow past the bound, compact to one snapshot layer, gc the rest
    (3L to 10L).foreach { i =>
      NdjsonIngest.appendDelta(
        Seq((i, "FR", i.toDouble)).toDF("id", "country", "val"), dir, "id")
    }
    assert(NdjsonIngest.latestLayers(dir).length === 10)
    assert(!NdjsonIngest.compactVersions(spark, dir, maxLayers = 10)) // under bound: no-op
    assert(NdjsonIngest.compactVersions(spark, dir, maxLayers = 8))
    assert(NdjsonIngest.latestLayers(dir).length === 1)
    assert(NdjsonIngest.readLatest(spark, dir).count() === 10)
    val dead = NdjsonIngest.gcVersions(dir)
    assert(dead.length === 10)
    assert(NdjsonIngest.readLatest(spark, dir).count() === 10)
    // the chain is a single snapshot layer again
    assert(spark.read.parquet(
      s"$dir/${NdjsonIngest.latestLayers(dir).head}").count() === 10)
  }

  test("layer stats prune the chain for range reads") {
    val dir = tmpDir() + "/t"
    def rangeRead(c: String, lo: Double, hi: Double) =
      NdjsonIngest.readChainRanges(spark, dir, NdjsonIngest.latestLayers(dir),
        NdjsonIngest.Zone(ranges = Seq((c, lo, hi))))
    // three delta layers with disjoint id ranges (time-ordered appends)
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0), (9L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((10L, "CH", 3.0), (19L, "DE", 4.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((20L, "CH", 5.0), (29L, "DE", 6.0)).toDF("id", "country", "val"), dir, "id")
    // the pruned read touches ONLY the middle layer's files
    val pruned = rangeRead("id", 10, 15)
    val files = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("/v2/")),
      s"expected only v2 files, got ${files.mkString(", ")}")
    // superset contract: precise filter on the pruned read == full read
    assert(pruned.filter(col("id").between(10, 19)).count() === 2)
    // PER-VALUE exclusion: [12, 15] sits inside v2's envelope but
    // matches none of its actual values {10, 19} — the complete layer
    // histogram excludes the layer entirely (envelope pruning alone
    // would have read it)
    assert(rangeRead("id", 12, 15)
      .select(input_file_name()).distinct().as[String].collect().isEmpty)
    // untouched range prunes everything but keeps the schema
    assert(rangeRead("id", 100, 200)
      .filter(col("id") > 0).count() === 0)
    // a column without stats (string) includes every layer
    assert(rangeRead("country", 0, 1).count() === 6)
  }

  test("chainTopKLayers: stats-bounded top-k opens only the layers that " +
    "can reach the k-th row") {
    // the limit rewrite's read: the selected layers, re-sorted and cut
    def topK(dir: String, chain: Seq[String], column: String, k: Int,
        descending: Boolean, tiebreak: Seq[(String, Boolean)] = Nil) = {
      val kept = NdjsonIngest.chainTopKLayers(dir, chain, column, k,
        descending)
      val keys = ((column, descending) +: tiebreak).map {
        case (c, d) => if (d) col(c).desc else col(c).asc }
      NdjsonIngest.readChainSubset(spark, dir, chain, kept)
        .orderBy(keys: _*).limit(k)
    }
    val dir = tmpDir() + "/t"
    // four layers clustered ascending by id, 3 rows each
    NdjsonIngest.appendVersion(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((11L, "d"), (12L, "e"), (13L, "f")).toDF("id", "s"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((21L, "g"), (22L, "h"), (23L, "i")).toDF("id", "s"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((31L, "j"), (32L, "k"), (33L, "l")).toDF("id", "s"), dir, "id")
    val chain = NdjsonIngest.latestLayers(dir)
    // ascending top-4: needs layers v1+v2 (3+3 ≥ 4 rows), never v3/v4
    val asc4 = topK(dir, chain, "id", 4, descending = false)
    val ascFiles = asc4.inputFiles.toSeq
    assert(ascFiles.nonEmpty &&
      ascFiles.forall(f => f.contains("/v1/") || f.contains("/v2/")),
      s"expected only v1/v2, got ${ascFiles.mkString(", ")}")
    assert(asc4.select("id").as[Long].collect().toSeq === Seq(1L, 2L, 3L, 11L))
    // descending top-2: only the last layer can reach the 2nd-best row
    val desc2 = topK(dir, chain, "id", 2, descending = true)
    assert(desc2.inputFiles.forall(_.contains("/v4/")))
    assert(desc2.select("id").as[Long].collect().toSeq === Seq(33L, 32L))
    // k past the row count: everything is read, full ordering intact
    val all = topK(dir, chain, "id", 100, descending = false)
    assert(all.count() === 12)
    // overlapping envelopes keep every intersecting layer (superset,
    // never a row loss): top-1 desc over overlapping ids
    val dir2 = tmpDir() + "/o"
    NdjsonIngest.appendVersion(Seq((1L, 5.0), (2L, 9.0)).toDF("id", "v"), dir2, "id")
    NdjsonIngest.appendDelta(Seq((3L, 8.0), (4L, 9.5)).toDF("id", "v"), dir2, "id")
    val top1 = topK(dir2, NdjsonIngest.latestLayers(dir2), "v", 1,
      descending = true, tiebreak = Seq("id" -> false))
    assert(top1.select("id").as[Long].collect().toSeq === Seq(4L))
    // NULLS in the sort column: they sort FIRST under asc, so a pruned
    // layer may never hide one — layer v2 here holds only a null and a
    // big value, yet asc top-2 must surface the null ahead of v1's 1.0
    val dir3 = tmpDir() + "/n"
    NdjsonIngest.appendVersion(
      Seq((1L, Option(1.0)), (2L, Option(2.0))).toDF("id", "v"), dir3, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, Option.empty[Double]), (4L, Option(99.0))).toDF("id", "v"),
      dir3, "id")
    val chain3 = NdjsonIngest.latestLayers(dir3)
    val ascNull = topK(dir3, chain3, "v", 2,
      descending = false, tiebreak = Seq("id" -> false))
    assert(ascNull.select("id").as[Long].collect().toSeq === Seq(3L, 1L))
    // desc: nulls sort LAST — with enough non-null rows the null layer's
    // count must not fake coverage; and when k exceeds the non-null
    // rows, the null still arrives at the tail
    val descNull = topK(dir3, chain3, "v", 4,
      descending = true, tiebreak = Seq("id" -> false))
    assert(descNull.select("id").as[Long].collect().toSeq ===
      Seq(4L, 2L, 1L, 3L))
  }

  test("a NaN in a double column never poisons layer pruning") {
    val dir = tmpDir() + "/t"
    def rangeRead(c: String, lo: Double, hi: Double) =
      NdjsonIngest.readChainRanges(spark, dir, NdjsonIngest.latestLayers(dir),
        NdjsonIngest.Zone(ranges = Seq((c, lo, hi))))
    NdjsonIngest.appendVersion(
      Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, 5.0), (4L, 6.0)).toDF("id", "val"), dir, "id")
    // the NaN layer writes NO stats line for `val` (a NaN envelope would
    // fail every intersection test → silent row loss); it must always be
    // conservatively included
    val r = rangeRead("val", 0.0, 2.0)
    assert(r.filter(col("val") === 1.0).count() === 1)
    // clean columns in the same layer still prune normally
    assert(rangeRead("id", 3, 4)
      .select(input_file_name()).distinct().as[String].collect()
      .forall(_.contains("/v2/")))
  }

  test("commit log: every version addressable; gc retention bounds travel") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((2L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((3L, "FR", 3.0)).toDF("id", "country", "val"), dir, "id")
    assert(NdjsonIngest.commits(dir) === Seq(1L, 2L, 3L))
    // time travel: each commit is a frozen, reproducible snapshot
    assert(NdjsonIngest.readCommit(spark, dir, 1L).count() === 1)
    assert(NdjsonIngest.readCommit(spark, dir, 2L).count() === 2)
    assert(NdjsonIngest.readCommit(spark, dir, 3L).count() === 3)
    // compaction is itself a commit; old commits stay readable until gc
    NdjsonIngest.compactVersions(spark, dir, maxLayers = 1)
    assert(NdjsonIngest.commits(dir) === Seq(1L, 2L, 3L, 4L))
    assert(NdjsonIngest.readCommit(spark, dir, 2L).count() === 2)
    // retention: keep the last 2 commits; older entries + their
    // now-unreferenced layers are reclaimed
    NdjsonIngest.gcVersions(dir, retainCommits = 2)
    assert(NdjsonIngest.commits(dir) === Seq(3L, 4L))
    assert(NdjsonIngest.readCommit(spark, dir, 3L).count() === 3)
    assert(NdjsonIngest.readLatest(spark, dir).count() === 3)
  }

  test("merge-on-read: upserts override, deletes tombstone, later upserts resurrect") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0), (2L, "DE", 2.0), (3L, "FR", 3.0))
        .toDF("id", "country", "val"), dir, "id")
    // upsert: override id=2, insert id=4 — the layer holds ONLY the batch
    NdjsonIngest.upsertDelta(
      Seq((2L, "DE", 20.0), (4L, "IT", 4.0)).toDF("id", "country", "val"), dir, "id")
    val upsertLayer = s"$dir/${NdjsonIngest.latestLayers(dir).last}"
    assert(spark.read.parquet(upsertLayer).count() === 2)
    val afterUpsert = NdjsonIngest.readLatestMerged(spark, dir, "id")
      .as[(Long, String, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(afterUpsert === Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 4L -> 4.0))
    // schema order survives resolution
    assert(NdjsonIngest.readLatestMerged(spark, dir, "id").columns.toSeq ===
      Seq("id", "country", "val"))
    // delete: ids 1 and 3 tombstoned (3 twice in the batch — distinct-ed)
    NdjsonIngest.deleteDelta(Seq(1L, 3L, 3L).toDF("id"), dir, "id")
    val afterDelete = NdjsonIngest.readLatestMerged(spark, dir, "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(afterDelete === Seq(2L, 4L))
    // a LATER upsert resurrects a deleted key
    NdjsonIngest.upsertDelta(Seq((3L, "FR", 33.0)).toDF("id", "country", "val"), dir, "id")
    val resurrected = NdjsonIngest.readLatestMerged(spark, dir, "id")
      .filter(col("id") === 3L).as[(Long, String, Double)].head()
    assert(resurrected === ((3L, "FR", 33.0)))
    // drifted upsert schema aborts at the commit boundary
    intercept[NdjsonIngest.SchemaMismatch] {
      NdjsonIngest.upsertDelta(Seq((9L, "CH")).toDF("id", "country"), dir, "id")
    }
    // time travel WITH merge semantics: commit 3 (post-delete) lacks 1,3;
    // commit 2 (pre-delete) still shows them
    assert(NdjsonIngest.readCommitMerged(spark, dir, "id", 3L)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 4L))
    assert(NdjsonIngest.readCommitMerged(spark, dir, "id", 2L)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("merge-on-read compaction folds the chain into a tombstone-free snapshot") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      (1L to 6L).map(i => (i, "CH", i.toDouble)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.upsertDelta(Seq((2L, "DE", 22.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.deleteDelta(Seq(5L).toDF("id"), dir, "id")
    val expect = NdjsonIngest.readLatestMerged(spark, dir, "id")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(!NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 3)) // under bound
    assert(NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 2))
    assert(NdjsonIngest.latestLayers(dir).length === 1)
    // the snapshot layer carries no tombstones, and plain + merged reads agree
    val snap = s"$dir/${NdjsonIngest.latestLayers(dir).head}"
    assert(!new java.io.File(snap, "_tombstones").exists())
    assert(NdjsonIngest.readLatest(spark, dir)
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq === expect)
    assert(NdjsonIngest.readLatestMerged(spark, dir, "id")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq === expect)
    assert(expect.map(_._1) === Seq(1L, 2L, 3L, 4L, 6L))
    assert(expect.find(_._1 == 2L).get._3 === 22.0)
    // gc reclaims the pre-compaction layers
    assert(NdjsonIngest.gcVersions(dir).nonEmpty)
    assert(NdjsonIngest.readLatest(spark, dir).count() === 5)
  }

  test("change feed: incremental consumers read O(changes) between commits") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(                                    // commit 1
      Seq((1L, "CH", 1.0), (2L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(                                      // commit 2
      Seq((3L, "FR", 3.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.upsertDelta(                                      // commit 3
      Seq((2L, "DE", 22.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.deleteDelta(Seq(1L).toDF("id"), dir, "id")        // commit 4
    NdjsonIngest.compactMerged(spark, dir, "id", maxLayers = 1)    // commit 5
    // the full feed since the snapshot: insert, upsert (typed as such —
    // it OVERWRITES pk 2, there is no delete half, so per-key consumers
    // must replace not add), then a delete — the compaction commit
    // contributes NOTHING (content unchanged)
    val feed = NdjsonIngest.readChanges(spark, dir, "id", 1L, 5L)
      .select("id", "_change_type", "_commit")
      .as[(Long, String, Long)].collect().sortBy(_._3).toSeq
    assert(feed === Seq((3L, "insert", 2L), (2L, "upsert", 3L), (1L, "delete", 4L)))
    // delete rows carry the pk + nulls (schema preserved for unions)
    val del = NdjsonIngest.readChanges(spark, dir, "id", 3L, 4L)
    assert(del.columns.toSeq === Seq("id", "country", "val", "_change_type", "_commit"))
    assert(del.as[(Long, Option[String], Option[Double], String, Long)].head() ===
      ((1L, None, None, "delete", 4L)))
    // a full-replacement commit surfaces as `snapshot` — the consumer's
    // signal to reset derived state
    assert(NdjsonIngest.readChanges(spark, dir, "id", 0L, 1L)
      .select("_change_type").distinct().as[String].collect().toSeq === Seq("snapshot"))
    // compact-only range → empty feed, schema intact
    assert(NdjsonIngest.readChanges(spark, dir, "id", 4L, 5L).count() === 0)
    // upserted value rides in the feed row
    assert(NdjsonIngest.readChanges(spark, dir, "id", 2L, 3L)
      .select("val").as[Double].head() === 22.0)
    // a gc'd range refuses loudly instead of returning a silent partial feed
    NdjsonIngest.gcVersions(dir, retainCommits = 1)
    val e = intercept[IllegalArgumentException] {
      NdjsonIngest.readChanges(spark, dir, "id", 1L, 4L)
    }
    assert(e.getMessage.contains("gc"))
  }

  test("change-feed consumer: durable cursor, crash-replay, no-op on empty feed") {
    import graft.sources.ChangeFeedConsumer
    val dir = tmpDir() + "/t"
    val state = tmpDir() + "/cursor"
    NdjsonIngest.appendVersion(                                     // commit 1
      Seq((1L, "CH", 1.0)).toDF("id", "country", "val"), dir, "id")
    NdjsonIngest.appendDelta(                                       // commit 2
      Seq((2L, "DE", 2.0)).toDF("id", "country", "val"), dir, "id")
    var seen = List.empty[(Long, String, Long)]
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      seen ++= df.select("id", "_change_type", "_commit")
        .as[(Long, String, Long)].collect().sortBy(_._3)
    // first call consumes everything from the beginning
    assert(ChangeFeedConsumer.process(spark, dir, "id", state)(sink) ===
      Some((0L, 2L)))
    assert(seen.map(_._1) === List(1L, 2L))
    assert(ChangeFeedConsumer.cursor(state) === 2L)
    // nothing new → callback not invoked, cursor untouched
    assert(ChangeFeedConsumer.process(spark, dir, "id", state)(sink) === None)
    assert(seen.size === 2)
    // a crash AFTER the callback but BEFORE the cursor advance replays the
    // same range on the next call (at-least-once)
    NdjsonIngest.deleteDelta(Seq(1L).toDF("id"), dir, "id")         // commit 3
    intercept[RuntimeException] {
      ChangeFeedConsumer.process(spark, dir, "id", state) { df =>
        sink(df); throw new RuntimeException("crash before cursor advance")
      }
    }
    assert(ChangeFeedConsumer.cursor(state) === 2L) // not advanced
    assert(ChangeFeedConsumer.process(spark, dir, "id", state)(sink) ===
      Some((2L, 3L)))
    // the delete arrived twice (replay) with the same _commit — the
    // consumer's idempotence key
    assert(seen.drop(2) === List((1L, "delete", 3L), (1L, "delete", 3L)))
  }

  test("append duplicate-pk check zone-prunes on the batch's pk " +
    "envelope — monotone-id appends validate against ~one layer, " +
    "clashes are still caught across the pruned path") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      (101L to 200L).map(i => (i, i.toDouble)).toDF("id", "val"), dir, "id")
    NdjsonIngest.appendDelta(
      (201L to 300L).map(i => (i, i.toDouble)).toDF("id", "val"), dir, "id")
    val layers = NdjsonIngest.latestLayers(dir)
    // the clash-side scan for a batch above every layer's envelope
    // opens NO layer at all
    val above = Seq((400L, 0.0)).toDF("id", "val")
    assert(NdjsonIngest.existingForClash(spark, dir, layers, above, "id")
      .inputFiles.isEmpty)
    // a batch inside v2's range opens exactly v2
    val mid = Seq((150L, 0.0)).toDF("id", "val")
    val read = NdjsonIngest.existingForClash(spark, dir, layers, mid, "id")
      .inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(read.toSeq === Seq("v2"), read.mkString(","))
    // correctness through the pruned path: the clash aborts, the clean
    // append commits
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(mid, dir, "id")
    }
    NdjsonIngest.appendDelta(above, dir, "id")
    assert(NdjsonIngest.readLatest(spark, dir).count() === 301L)
    // a pruned subset of only TOMBSTONE layers (no parquet footers)
    // must read as zero rows under the pinned schema, never a
    // schema-inference crash
    NdjsonIngest.deleteDelta(Seq(250L).toDF("id"), dir, "id")
    NdjsonIngest.appendDelta(Seq((500L, 0.0)).toDF("id", "val"), dir, "id")
    assert(NdjsonIngest.readLatestMerged(spark, dir, "id")
      .count() === 301L) // 301 + 1 appended − 1 tombstoned
    // a string-pk chain falls back to the full chain (no envelope form
    // for batched string ranges) and still catches clashes
    val sdir = tmpDir() + "/s"
    NdjsonIngest.appendVersion(
      Seq(("a", 1), ("b", 2)).toDF("k", "v"), sdir, "k")
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(Seq(("b", 9)).toDF("k", "v"), sdir, "k")
    }
  }

  test("pk bloom filters: point lookups prune row groups without touching data") {
    import graft.sources.ParquetBloom
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      (1L to 1000L).map(i => (i, s"c$i", i.toDouble)).toDF("id", "country", "val"),
      dir, "id")
    NdjsonIngest.appendDelta(
      (1001L to 1100L).map(i => (i, s"c$i", i.toDouble)).toDF("id", "country", "val"),
      dir, "id")
    // every layer's every row group carries a bloom on the pk...
    NdjsonIngest.latestLayers(dir).foreach { l =>
      assert(ParquetBloom.hasBloom(spark, s"$dir/$l", "id"), s"no bloom in $l")
    }
    // ...present keys pass the filter, absent keys are EXCLUDED by every
    // row group — the reader skips them all without decoding a data page
    val l0 = s"$dir/${NdjsonIngest.latestLayers(dir).head}"
    assert(ParquetBloom.mightContainLong(spark, l0, "id", 500L))
    assert(!ParquetBloom.mightContainLong(spark, l0, "id", 5000000L))
    // non-bloomed column reports conservatively (no pruning claim)
    assert(!ParquetBloom.hasBloom(spark, l0, "val"))
  }

  test("cross-table snapshots pin consistent commits and survive gc") {
    import graft.core.Snapshot
    val db = tmpDir()
    val docs = s"$db/docs"; val embs = s"$db/embs"
    NdjsonIngest.appendVersion(Seq((1L, "a")).toDF("id", "txt"), docs, "id")
    NdjsonIngest.appendVersion(Seq((1L, 0.5)).toDF("id", "e"), embs, "id")
    val snap = Snapshot.commit(db, Map("docs" -> docs, "embs" -> embs))
    // both tables move on (the embedding for id 1 is recomputed)
    NdjsonIngest.appendDelta(Seq((2L, "b")).toDF("id", "txt"), docs, "id")
    NdjsonIngest.appendVersion(
      Seq((1L, 0.9), (2L, 0.1)).toDF("id", "e"), embs, "id")
    // the snapshot still reads the consistent old world-state
    val world = Snapshot.read(spark, db, snap)
    assert(world("docs").count() === 1)
    assert(world("embs").as[(Long, Double)].head() === ((1L, 0.5)))
    // gc honoring the pins keeps the frozen commits readable...
    NdjsonIngest.gcVersions(embs, retainCommits = 1,
      pinned = Snapshot.pins(db, embs))
    assert(Snapshot.read(spark, db, snap)("embs")
      .as[(Long, Double)].head() === ((1L, 0.5)))
    // ...dropping the snapshot releases them for the next gc
    Snapshot.drop(db, snap)
    assert(Snapshot.pins(db, embs).isEmpty)
    NdjsonIngest.gcVersions(embs, retainCommits = 1)
    assert(NdjsonIngest.commits(embs) === Seq(2L))
    assert(NdjsonIngest.readLatest(spark, embs).count() === 2)
    // a merge-on-read table snapshots consistently too: the pinned read
    // resolves upserts/deletes (plain union would resurrect id 1's old row)
    NdjsonIngest.upsertDelta(Seq((1L, "a2")).toDF("id", "txt"), docs, "id")
    NdjsonIngest.deleteDelta(Seq(2L).toDF("id"), docs, "id")
    val snap2 = Snapshot.commit(db, Map("docs" -> docs))
    NdjsonIngest.upsertDelta(Seq((1L, "a3")).toDF("id", "txt"), docs, "id")
    val w2 = Snapshot.read(spark, db, snap2, pks = Map("docs" -> "id"))
    assert(w2("docs").as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a2")))
  }

  test("additive schema evolution: add-column is O(batch), travel sees old schema") {
    val dir = tmpDir() + "/t"
    NdjsonIngest.appendVersion(
      Seq((1L, "CH", 1.0)).toDF("id", "country", "val"), dir, "id") // commit 1
    // a batch with a NEW column evolves the table instead of aborting;
    // the old layer is not rewritten (still 3 physical columns)
    NdjsonIngest.appendDeltaEvolve(
      Seq((2L, "DE", 2.0, "web")).toDF("id", "country", "val", "source"),
      dir, "id") // commit 2
    val v1Dir = s"$dir/${NdjsonIngest.latestLayers(dir).head}"
    assert(spark.read.parquet(v1Dir).schema.fieldNames.toSeq ===
      Seq("id", "country", "val"))
    val evolved = NdjsonIngest.readLatest(spark, dir)
    assert(evolved.schema.fieldNames.toSeq ===
      Seq("id", "country", "val", "source"))
    assert(evolved.select("id", "source").as[(Long, Option[String])]
      .collect().toMap === Map(1L -> None, 2L -> Some("web")))
    // an OLD-schema batch still appends through the evolving path: its
    // missing column null-fills instead of aborting
    NdjsonIngest.appendDeltaEvolve(
      Seq((3L, "FR", 3.0)).toDF("id", "country", "val"), dir, "id") // commit 3
    assert(NdjsonIngest.readLatest(spark, dir)
      .filter(col("id") === 3L).select("source").as[Option[String]]
      .collect().toSeq === Seq(None))
    // the STRICT path still rejects drift — evolution is opt-in per append
    intercept[NdjsonIngest.SchemaMismatch] {
      NdjsonIngest.appendDelta(
        Seq((4L, "IT", 4.0)).toDF("id", "country", "val"), dir, "id")
    }
    // a TYPE change is a drift bug in both paths, never an evolution
    intercept[NdjsonIngest.SchemaMismatch] {
      NdjsonIngest.appendDeltaEvolve(
        Seq((5L, "ES", "oops")).toDF("id", "country", "val"), dir, "id")
    }
    // time travel: a pre-evolution commit reads under the PRE-evolution
    // schema; a post-evolution commit under the evolved one
    assert(NdjsonIngest.readCommit(spark, dir, 1L).schema.fieldNames.toSeq ===
      Seq("id", "country", "val"))
    assert(NdjsonIngest.readCommit(spark, dir, 2L).schema.fieldNames.toSeq ===
      Seq("id", "country", "val", "source"))
    // the change feed presents the whole range in the head schema
    val feed = NdjsonIngest.readChanges(spark, dir, "id", 0L, 3L)
    assert(feed.schema.fieldNames.take(4).toSeq ===
      Seq("id", "country", "val", "source"))
    assert(feed.count() === 3)
    // compaction folds the chain into a snapshot that materializes the
    // unified schema; dup-pk guard still works across the evolution
    (6L to 14L).foreach { i =>
      NdjsonIngest.appendDeltaEvolve(
        Seq((i, "FR", i.toDouble)).toDF("id", "country", "val"), dir, "id")
    }
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDeltaEvolve(
        Seq((2L, "XX", 0.0)).toDF("id", "country", "val"), dir, "id")
    }
    assert(NdjsonIngest.compactVersions(spark, dir, maxLayers = 8))
    val compacted = NdjsonIngest.readLatest(spark, dir)
    assert(compacted.schema.fieldNames.toSeq ===
      Seq("id", "country", "val", "source"))
    assert(compacted.count() === 12)
    assert(compacted.filter(col("source") === "web").count() === 1)
  }

  test("updateColumn: conditional scalar rewrite") {
    val df = Seq((1L, 10), (2L, 20)).toDF("id", "x")
    val out = RelationalOps.updateColumn(df, "x", lit(0), col("id") === 1L)
      .as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 0, 2L -> 20))
  }

  test("zstd column round-trips and the dictionary helps near-ref strings") {
    val ref = "ACGTACGT" * 500
    val nearRef = ref.updated(17, 'T').updated(1033, 'C')
    val rt = ZstdStringColumn.decompressBytes(
      ZstdStringColumn.compressBytes(nearRef, ref.getBytes("UTF-8")), ref.getBytes("UTF-8"))
    assert(rt === nearRef)
    val withDict = ZstdStringColumn.compressBytes(nearRef, ref.getBytes("UTF-8")).length
    val noDict = ZstdStringColumn.compressBytes(nearRef, Array.emptyByteArray).length
    assert(withDict < noDict, s"dict $withDict vs plain $noDict")
  }

  test("zstd compress/decompress as Columns") {
    val dict = "ACGTACGT" * 10
    val df = Seq("ACGTACGAACGT", null).toDF("s")
    val out = df.select(
      ZstdStringColumn.decompress(
        ZstdStringColumn.compress(col("s"), dict), dict).as("r"))
      .as[Option[String]].collect()
    assert(out.toSeq === Seq(Some("ACGTACGAACGT"), None))
  }
}

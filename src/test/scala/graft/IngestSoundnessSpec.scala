package graft

import org.apache.spark.sql.functions._
import graft.sources.NdjsonIngest

/** Ingest-lifecycle soundness regressions caught by adversarial review
  * of the commit/merge/feed machinery:
  *  - NULL primary keys are rejected outright (the clash semi-join can
  *    never match a null key, so one-null-per-batch used to accumulate
  *    one shadowing null row per commit while shadowCaps still credited
  *    append layers zero capacity — an unsound merged count bracket);
  *  - chainMergeFree's cache is stamp-validated (a wiped-and-reingested
  *    table can reproduce the same layer names under different commit
  *    kinds — a stale merge-free=true would resurrect superseded rows);
  *  - a crashed commit's valid-but-unpointed log entry is reconciled to
  *    a no-op on the next commit (left alone it is a PHANTOM: the
  *    change feed emits its rows as inserts that no later diff
  *    retracts).
  */
class IngestSoundnessSpec extends SparkSpec {

  private def tmpDir(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_sound")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)))
    s"$tmp/t"
  }

  test("NULL primary keys are rejected at every commit path — a key " +
      "that can't be compared for equality can't be a key") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    val withNull = Seq((Some(1L), "a"), (None: Option[Long], "b"))
      .toDF("id", "v")
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendVersion(withNull, dir, "id")
    }
    // and on the delta path against an existing chain
    NdjsonIngest.appendVersion(
      Seq((Some(1L), "a")).toDF("id", "v"), dir, "id")
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(
        Seq((None: Option[Long], "c")).toDF("id", "v"), dir, "id")
    }
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.upsertDelta(
        Seq((None: Option[Long], "c")).toDF("id", "v"), dir, "id")
    }
    ()
  }

  test("chainMergeFree re-verifies after a wipe-and-reingest that " +
      "reproduces the same layer names under different commit kinds") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    NdjsonIngest.appendVersion(
      Seq((1L, "a")).toDF("id", "v"), dir, "id")
    NdjsonIngest.appendDelta(
      Seq((2L, "b")).toDF("id", "v"), dir, "id")
    val chain = NdjsonIngest.latestLayers(dir)
    assert(NdjsonIngest.chainMergeFree(dir, chain),
      "two appends are merge-free")
    // wipe and re-ingest at the SAME path with the SAME layer names,
    // but v2 is now an UPSERT overwriting v1's key
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Thread.sleep(20) // past filesystem timestamp granularity
    NdjsonIngest.appendVersion(
      Seq((1L, "a")).toDF("id", "v"), dir, "id")
    NdjsonIngest.upsertDelta(
      Seq((1L, "a2")).toDF("id", "v"), dir, "id")
    val chain2 = NdjsonIngest.latestLayers(dir)
    assert(chain2 === chain, "the re-ingest must reproduce the layer names")
    assert(!NdjsonIngest.chainMergeFree(dir, chain2),
      "a stale cached merge-free verdict would resurrect the " +
        "superseded v1 row through the plain union readers")
  }

  test("a crashed commit's unpointed log entry is reconciled to a " +
      "no-op: the change feed never emits its phantom rows and the " +
      "table equals the pointed history") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    NdjsonIngest.appendVersion(
      Seq((1L, "a")).toDF("id", "v"), dir, "id")
    val pointerBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "latest"))
    // commit B, then simulate the crash BETWEEN the log-entry write and
    // the pointer rename by restoring the old pointer
    NdjsonIngest.appendDelta(
      Seq((2L, "b-phantom")).toDF("id", "v"), dir, "id")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "latest"), pointerBefore)
    // next commit reconciles seq 2 to a content-preserving no-op and
    // builds its chain from the POINTED state
    NdjsonIngest.appendDelta(
      Seq((3L, "c")).toDF("id", "v"), dir, "id")
    val table = NdjsonIngest.readLatest(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(table === Seq(1L, 3L), s"phantom layer must not serve: $table")
    // the feed over the full history carries A and C, never phantom B
    val last = NdjsonIngest.commits(dir).last
    val feed = NdjsonIngest.readChanges(spark, dir, "id", 0L, last)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(feed === Seq(1L, 3L),
      s"the phantom commit must not reach the change feed: $feed")
    ()
  }
}

package graft.seq

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The single-pass tagged-event restructure of mutations()/coverage
  * (Mutations.eventCounts): proves the exact-count equivalences the
  * optimization relies on, and the routed-path column contract (muts
  * never evaluated when a vertical index supplies the diff multiset) at
  * RUNTIME — the events fold inside one mapPartitions task, so the
  * plan-string greps DatabaseSpec used before cannot see them.
  */
class MutationEventsSpec extends SparkSpec {

  import spark.implicits._

  private val ref = "ACGTACGT"

  /** Hand-built diffed rows: (pk, cov_start, cov_end, muts, missing). */
  private def diffed = Seq(
    // full coverage, two diffs, one interior missing
    ("k1", Some(1), Some(8), Seq((2, "A"), (5, "G")), Seq(4)),
    // partial coverage, no diffs
    ("k2", Some(3), Some(6), Seq.empty[(Int, String)], Seq.empty[Int]),
    // same diff again at pos 2 (multiplicity), plus an ambiguity code
    ("k3", Some(1), Some(8), Seq((2, "A"), (7, "N")), Seq.empty[Int]),
    // null sequence: no coverage, no events
    ("k4", None, None, null, null))
    .toDF("pk", "cov_start", "cov_end", "rawmuts", "missing")
    .select(col("pk"), col("cov_start"), col("cov_end"),
      transform(col("rawmuts"), m =>
        struct(m.getField("_1").as("pos"), m.getField("_2").as("sym"))).as("muts"),
      col("missing"))

  test("mutations over events matches the hand-computed counts") {
    val out = Mutations.mutations(diffed, ref, 0.0, invalidSyms = Set("N"))
      .orderBy("position", "mutation_to")
      .collect()
      .map(r => (r.getInt(0), r.getString(2), r.getLong(3), r.getLong(4)))
    // pos 2: sym A ×2 (ref C), coverage = k1,k3 covered + k2 not (starts 3)
    //   → covered rows at pos 2 = k1,k3 = 2, no missing, no ambig → 2
    // pos 4: k1 has interior missing → coverage k1(miss) k2 k3 → 2
    // pos 5: G vs ref A: count 1, coverage = k1,k2,k3 = 3
    // pos 7: N is invalid → not emitted AND excluded from coverage there
    assert(out.toSeq === Seq(
      (2, "A", 2L, 2L),
      (5, "G", 1L, 3L)))
  }

  test("positionCoverage from events matches the naive interval recompute") {
    val cov = Mutations.positionCoverage(diffed, ref.length)
      .orderBy("pos").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val expected = (1 to 8).map { p =>
      val covraw = Seq((1, 8), (3, 6), (1, 8)).count { case (a, b) => a <= p && p <= b }
      val miss = if (p == 4) 1L else 0L
      (p, covraw.toLong, miss)
    }
    assert(cov.toSeq === expected)
  }

  test("routed path never evaluates the muts arrays (poisoned column)") {
    // muts poisoned: ANY evaluation of an element raises. The vertical-
    // index fast path (diffRows given) must complete regardless, because
    // its events are built withMuts = false — the runtime form of the
    // old "no explode(muts) in the plan" assertion.
    // repartition stops ConvertToLocalRelation from eagerly folding the
    // poisoned projection over the local Seq relation at optimize time —
    // the thing under test is runtime column pruning, not local folding
    val poisoned = diffed.repartition(2).withColumn("muts",
      transform(col("muts"), m => struct(
        (m.getField("pos") + assert_true(lit(false)).cast("int")).as("pos"),
        m.getField("sym").as("sym"))))
    val diffRows = Seq((2, "A"), (2, "A"), (5, "G"))
      .toDF("position", "sym")
    val out = Mutations.mutations(poisoned, ref, 0.0,
        invalidSyms = Set("N"), diffRows = Some(diffRows))
      .orderBy("position", "mutation_to").collect()
      .map(r => (r.getInt(0), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((2, "A", 2L), (5, "G", 1L)))
  }

  test("independent nulls: a row with null diff arrays still contributes coverage") {
    val odd = Seq(("k9", Some(1), Some(4))).toDF("pk", "cov_start", "cov_end")
      .withColumn("muts",
        lit(null).cast("array<struct<pos:int,sym:string>>"))
      .withColumn("missing", lit(null).cast("array<int>"))
    val cov = Mutations.positionCoverage(odd, ref.length)
      .orderBy("pos").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(cov.toSeq === (1 to 8).map(p => (p, if (p <= 4) 1L else 0L)))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ann.Similarity
import graft.functions.{VectorFunctions => VF}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = graft.core.Tables.load(spark, sfDir, "embeddings")

  def bruteForcePairs(threshold: Double): Set[(Long, Long)] = {
    val e = emb.select(col("vec_id"), col("embedding"),
      VF.norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("av"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(VF.dot(col("av"), col("bv")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
  }

  test("LSH candidates are verified (precision 1.0) with usable recall") {
    val truth = bruteForcePairs(0.4)
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      dim = 64, k = 4, tables = 8, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth), "verification must kill false positives")
    if (truth.nonEmpty) {
      val recall = lsh.size.toDouble / truth.size
      assert(recall >= 0.5, s"recall $recall too low (${lsh.size}/${truth.size})")
    }
  }

  test("semdedup production shape: cells scale with the corpus, " +
    "per-cell candidate pairs stay bounded") {
    val t = 64L
    val full = Similarity.semdedup(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.35, targetCellSize = t)
    val n = emb.count()
    assert(full.count() === n, "every vector gets a kept/dup verdict")
    // cells ≈ N/targetCellSize: the quantizer must spread the corpus over
    // ~n/t cells, and no single cell may hoard the corpus — the per-cell
    // self-join candidate count is maxCell², which must stay
    // O(targetCellSize²) for the total pair work to be linear in N
    val sizes = full.groupBy("cell").count()
      .collect().map(_.getLong(1))
    assert(sizes.length >= (n / t / 2).toInt,
      s"only ${sizes.length} cells for $n vectors at target $t")
    val maxCell = sizes.max
    assert(maxCell <= 4 * t,
      s"cell of $maxCell rows → ${maxCell * maxCell} candidate pairs; " +
        s"bound is ${4 * t} (4× target)")
    // halving the corpus must shrink the cell count (scaling is monotone
    // in N — the fixed-cell-count shape this replaces would not)
    val half = emb.orderBy("vec_id").limit((n / 2).toInt)
    val halfCells = Similarity.semdedup(half, "vec_id", "embedding", dim = 64,
      threshold = 0.35, targetCellSize = t)
      .select("cell").distinct().count()
    assert(halfCells < sizes.length,
      s"half corpus used $halfCells cells vs full ${sizes.length}")
    // greedy-representative invariants: dup_of always points at a
    // smaller id, and kept ⟺ dup_of is null
    val bad = full.filter((col("kept") && col("dup_of").isNotNull) ||
      (!col("kept") && (col("dup_of").isNull || col("dup_of") >= col("vec_id"))))
    assert(bad.count() === 0)
  }

  test("semdedup goes two-level past the per-level cell budget: >1 " +
    "coarse shard, verdicts equal to single-level on the same data") {
    // 12 groups of 5 EXACT copies on mutually orthogonal directions:
    // identical vectors always share a cell under ANY quantizer and
    // orthogonal pairs (cos 0) never pass the threshold, so the expected
    // kept/dup_of verdicts are quantizer-independent — the one data shape
    // where single-level and two-level MUST agree exactly
    val dim = 16
    val rows = for (g <- 0 until 12; j <- 0 until 5) yield {
      val v = Array.fill(dim)(0.0); v(g % dim) = 1.0
      (g * 10L + j, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    // n=60, targetCellSize=4 → 15 cells > budget 4 → 4 coarse shards
    val sharded = Similarity.semdedup(df, "vec_id", "embedding", dim,
      threshold = 0.35, targetCellSize = 4L, maxCellsPerLevel = 4)
      .select("vec_id", "kept", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1)
    val single = Similarity.semdedup(df, "vec_id", "embedding", dim,
      threshold = 0.35, targetCellSize = 4L)
      .select("vec_id", "kept", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1)
    val expected = rows.map { case (id, _) =>
      val rep = id / 10 * 10
      (id, id == rep, if (id == rep) None else Some(rep))
    }.sortBy(_._1)
    assert(sharded.toSeq === expected)
    assert(single.toSeq === expected)
    // the sharded run really used >1 shard (cell ids are offset by
    // shard × budget, so a second shard surfaces as cell >= budget) —
    // and the output schema stays IntegerType like the single-level path
    val shardedDf = Similarity.semdedup(df, "vec_id", "embedding", dim,
      threshold = 0.35, targetCellSize = 4L, maxCellsPerLevel = 4)
    assert(shardedDf.schema("cell").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "sharded path must keep the single-level cell schema")
    val maxCell = shardedDf.agg(max("cell")).collect()(0).getInt(0)
    assert(maxCell >= 4, s"two-level run stayed in one shard (max cell $maxCell)")
  }
}

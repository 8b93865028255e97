package graft

import org.apache.spark.sql.functions._
import graft.sources.NdjsonIngest

/** The layer-level pk bloom (`bl:` sidecar line + BloomSketch): the
  * per-value point-lookup structure for keys whose DISTRIBUTION denies
  * the envelopes (random uuids span every layer) and whose CARDINALITY
  * denies the complete histograms (> cap distinct per layer) — the
  * reference bar is per-value StringInSet bitmaps answering point
  * predicates regardless of key distribution (string_in_set.cpp:64,
  * equals.cpp:143-148).
  */
class BloomSpec extends SparkSpec {

  private def tmpDir(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)))
    s"$tmp/t"
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  // self-contained (no `this` capture → serializable closure)
  private val md5udf = udf((s: String) =>
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString)

  /** 5 layers × 1500 rows of md5-hex pks (uuid-shaped: random-looking,
    * > histogram cap per layer, every layer's lexicographic envelope
    * spans ~the whole key space).
    */
  private def uuidChain(): (String, Int => String) = {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    val key = (i: Int) => md5(s"key-$i")
    (0 until 5).foreach { b =>
      val df = (0 until 1500).map(i => (key(b * 1500 + i), b * 1500 + i))
        .toDF("pk", "n")
      if (b == 0) NdjsonIngest.appendVersion(df, dir, "pk")
      else NdjsonIngest.appendDelta(df, dir, "pk")
    }
    (dir, key)
  }

  test("string pk point lookup: the bl: line exists past the histogram " +
      "cap, a hit opens ~1 of 5 layers, a miss opens none — rows exact") {
    val (dir, key) = uuidChain()
    val chain = NdjsonIngest.latestLayers(dir)
    assert(chain.length === 5)
    chain.foreach { l =>
      val stats = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, l, "_stats"))
      assert(stats.linesIterator.exists(_.startsWith("bl:pk ")),
        s"layer $l must carry a pk bloom line")
      assert(!stats.linesIterator.exists(_.startsWith("gh:pk ")),
        s"1500 distinct pks must poison the complete histogram in $l")
    }
    // a hit from the middle layer: only bloom-positive layers open
    val hit = key(2 * 1500 + 77)
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(strEquals = Seq(("pk", Seq(hit)))))
    val layers = routed.inputFiles.map(_.split("/").takeRight(2).head)
      .distinct.toSeq
    assert(layers.contains(chain(2)) && layers.length <= 2,
      s"hit must prune to the holding layer (±1 false positive): $layers")
    assert(routed.filter(col("pk") === hit).count() === 1)
    // a miss: every layer's bloom excludes (allow ≤1 false positive);
    // the row-wise filter stays exact either way
    val missHits = (0 until 50).map { i =>
      val miss = md5(s"absent-$i")
      val df = NdjsonIngest.readChainRanges(spark, dir, chain,
        NdjsonIngest.Zone(strEquals = Seq(("pk", Seq(miss)))))
      assert(df.filter(col("pk") === miss).count() === 0,
        s"a bloom false positive must still verify row-wise: $miss")
      df.inputFiles.map(_.split("/").takeRight(2).head).distinct.length
    }
    // 50 misses × 5 layers = 250 probes at ~10 bits/key: expect ~1%
    // false positives — a run with > 10% would mean broken hashing
    assert(missHits.sum <= 25, s"false-positive layers: ${missHits.sum}/250")
    assert(missHits.count(_ == 0) >= 40,
      s"most misses must open zero layers: $missHits")
  }

  test("numeric pk point lookup: RANDOM long ids (envelopes span, " +
      "histogram poisoned) prune via the double-kind bloom") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    // deterministic random-looking ids: bit-reversal is a bijection
    // (injective → pk-unique) that scatters consecutive ints across
    // [0, 2^52) — every layer's envelope spans the space, and values
    // stay exactly double-representable
    def id(b: Int, i: Int): Long =
      java.lang.Long.reverse(b * 1500L + i + 1) >>> 12
    (0 until 5).foreach { b =>
      val df = (0 until 1500).map(i => (id(b, i), i)).toDF("id", "n")
      if (b == 0) NdjsonIngest.appendVersion(df, dir, "id")
      else NdjsonIngest.appendDelta(df, dir, "id")
    }
    val chain = NdjsonIngest.latestLayers(dir)
    val probe = id(3, 500).toDouble
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(ranges = Seq(("id", probe, probe))))
    val layers = routed.inputFiles.map(_.split("/").takeRight(2).head)
      .distinct.toSeq
    assert(layers.contains(chain(3)) && layers.length <= 2,
      s"numeric point probe must prune via the bloom: $layers")
    assert(routed.filter(col("id") === id(3, 500)).count() === 1)
    // a RANGE probe (lo < hi) must NOT consult the bloom — it only
    // covers point encodings
    val lo = probe - 1e12
    val hi = probe + 1e12
    val ranged = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(ranges = Seq(("id", lo, hi))))
    assert(ranged.filter(col("id").between(lo, hi)).count() ===
      spark.read.parquet(chain.map(l => s"$dir/$l"): _*)
        .filter(col("id").between(lo, hi)).count())
  }

  test("saturation: a layer with far more keys than the written cap " +
      "serves writes NO bl: line — absence reads as conservative keep") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    val df = (0 until 60000).map(i => (md5(s"big-$i"), i)).toDF("pk", "n")
    NdjsonIngest.appendVersion(df, dir, "pk")
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "v1", "_stats"))
    assert(!stats.linesIterator.exists(_.startsWith("bl:pk ")),
      "a saturated bloom is dead sidecar weight — must not be written")
    val chain = NdjsonIngest.latestLayers(dir)
    val probe = md5("big-123")
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(strEquals = Seq(("pk", Seq(probe)))))
    assert(routed.filter(col("pk") === probe).count() === 1)
  }

  test("string-pk append clash check prunes through the layer blooms: " +
      "a fresh-keys batch reads no layer, an overlapping batch reads " +
      "only the holding layer, a true duplicate still aborts") {
    val session = spark
    import session.implicits._
    val (dir, key) = uuidChain()
    val chain = NdjsonIngest.latestLayers(dir)
    // all-fresh keys: every layer's bloom excludes the whole batch —
    // the dup-pk check reads ZERO layers (was: one full-chain scan per
    // commit for any non-numeric pk)
    val fresh = (0 until 50).map(i => (md5(s"new-$i"), 100000 + i))
      .toDF("pk", "n")
    val freshScan = NdjsonIngest.existingForClash(
      spark, dir, chain, fresh, "pk")
    val freshLayers = freshScan.inputFiles
      .map(_.split("/").takeRight(2).head).distinct
    assert(freshLayers.length <= 1,
      s"fresh batch must skip (almost) every layer: ${freshLayers.toSeq}")
    NdjsonIngest.appendDelta(fresh, dir, "pk") // and the commit works
    // a batch overlapping layer 1 keeps (at least) layer 1
    val overlap = Seq((key(1 * 1500 + 9), -1)).toDF("pk", "n")
    val overlapLayers = NdjsonIngest.existingForClash(
        spark, dir, chain, overlap, "pk")
      .inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(overlapLayers.contains(chain(1)) && overlapLayers.length <= 2,
      s"overlap batch must read the holding layer: ${overlapLayers.toSeq}")
    // and the pruned check still ENFORCES uniqueness
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(overlap, dir, "pk")
    }
    ()
  }

  test("NON-pk id-shaped columns get blooms too (iff their complete " +
      "histogram is not written): a uuid-shaped session column prunes " +
      "point probes, a low-cardinality category column does not waste " +
      "bloom bytes next to its histogram") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    // numeric pk (tight envelopes), a >cap-cardinality session string
    // (histogram poisons → bloom written), a 3-value status string
    // (complete histogram written → NO bloom)
    (0 until 5).foreach { b =>
      val df = (0 until 1500).map { i =>
        val n = b * 1500 + i
        (n, md5(s"sess-$n"), s"st${n % 3}")
      }.toDF("id", "session", "status")
      if (b == 0) NdjsonIngest.appendVersion(df, dir, "id")
      else NdjsonIngest.appendDelta(df, dir, "id")
    }
    val chain = NdjsonIngest.latestLayers(dir)
    chain.foreach { l =>
      val stats = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, l, "_stats"))
      assert(stats.linesIterator.exists(_.startsWith("bl:session ")),
        s"poisoned-histogram session column must carry a bloom in $l")
      assert(!stats.linesIterator.exists(_.startsWith("bl:status ")),
        s"a complete histogram answers strictly more — no status bloom in $l")
      assert(stats.linesIterator.exists(_.startsWith("gh:status ")))
    }
    // a session point probe prunes to the holding layer via the bloom
    // (every layer's lexicographic envelope spans the md5 space)
    val hit = md5(s"sess-${3 * 1500 + 21}")
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(strEquals = Seq(("session", Seq(hit)))))
    val layers = routed.inputFiles.map(_.split("/").takeRight(2).head)
      .distinct.toSeq
    assert(layers.contains(chain(3)) && layers.length <= 2,
      s"non-pk point probe must prune via the session bloom: $layers")
    assert(routed.filter(col("session") === hit).count() === 1)
    // and a miss excludes (almost) everything
    val missLayers = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(strEquals =
        Seq(("session", Seq(md5("sess-absent"))))))
      .inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(missLayers.length <= 1,
      s"a session miss must open (almost) no layer: ${missLayers.toSeq}")
  }

  test("bloom aggregates cap at MaxBloomColumns on wide id tables") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    // 12 uuid-shaped string columns + the pk: at most MaxBloomColumns
    // blooms total (pk first, then schema order)
    val base = (0 until 1500).map(i => i).toDF("id")
    val df = (0 until 12).foldLeft(base) { (d, j) =>
      d.withColumn(s"u$j", md5udf(concat(lit(s"c$j-"), col("id"))))
    }
    NdjsonIngest.appendVersion(df, dir, "id")
    val stats = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "v1", "_stats"))
    val blCount = stats.linesIterator.count(_.startsWith("bl:"))
    assert(blCount <= NdjsonIngest.MaxBloomColumns,
      s"bloom lines must cap at ${NdjsonIngest.MaxBloomColumns}: $blCount")
    assert(stats.linesIterator.exists(_.startsWith("bl:id ")),
      "the pk bloom always comes first")
  }

  test("signed zero: a layer holding -0.0 stays INCLUDABLE for a " +
      "pk = 0.0 point probe — zero-sign equality is path-dependent in " +
      "Spark (IEEE == in codegen treats -0.0 = 0.0 as equal; the " +
      "parquet pushdown comparator's total order does not), so the " +
      "bloom canonicalizes both sides and conservatively keeps") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    // double pks never get complete histograms (histCand excludes
    // float/double), so the point probe consults the bloom directly
    NdjsonIngest.appendVersion(
      (1 to 100).map(i => (i * 1.5, i)).toDF("pk", "n"), dir, "pk")
    NdjsonIngest.appendDelta(
      ((-0.0, 0) +: (1 to 99).map(i => (-i * 2.5, i))).toDF("pk", "n"),
      dir, "pk")
    val chain = NdjsonIngest.latestLayers(dir)
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(ranges = Seq(("pk", 0.0, 0.0))))
    // the conservative-keep contract: whichever equality semantics the
    // row-wise path exhibits, the sign-flipped-zero layer must be READ,
    // never bloom-pruned (under doubleToLongBits hashing without
    // canonicalization it would be silently excluded)
    assert(routed.inputFiles.exists(_.contains("/v2/")),
      s"the -0.0 layer must stay includable: ${routed.inputFiles.toSeq}")
    // routed ≡ unrouted under the SAME row-wise filter
    val full = spark.read.parquet(chain.map(l => s"$dir/$l"): _*)
    assert(routed.filter(col("pk") === 0.0).count() ===
      full.filter(col("pk") === 0.0).count())
    // and the stored -0.0 stays reachable through its own point probe
    val routedNeg = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(ranges = Seq(("pk", -0.0, -0.0))))
    assert(routedNeg.filter(col("pk") === -0.0).count() === 1)
  }

  test("numeric-pk append clash check prunes through the 'd'-kind " +
      "layer blooms: random-id batches (every envelope spans) read " +
      "(almost) no layer fresh, the holding layer on overlap, and a " +
      "true duplicate still aborts") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    def id(b: Int, i: Int): Long =
      java.lang.Long.reverse(b * 1500L + i + 1) >>> 12
    (0 until 5).foreach { b =>
      val df = (0 until 1500).map(i => (id(b, i), i)).toDF("id", "n")
      if (b == 0) NdjsonIngest.appendVersion(df, dir, "id")
      else NdjsonIngest.appendDelta(df, dir, "id")
    }
    val chain = NdjsonIngest.latestLayers(dir)
    // all-fresh random ids: the batch envelope spans every layer (the
    // old path read the whole chain); the bloom bitmask reads ~none
    val fresh = (0 until 50).map(i => (id(9, i), -i)).toDF("id", "n")
    val freshLayers = NdjsonIngest.existingForClash(
        spark, dir, chain, fresh, "id")
      .inputFiles.map(_.split("/").takeRight(2).head).distinct
    // 50 keys × 5 layers = 250 probes at ~1% FP — a couple of
    // false-positive layers are expected; the win is 5 → ≤2 reads
    assert(freshLayers.length <= 2,
      s"fresh random-id batch must skip (almost) every layer: " +
        freshLayers.toSeq)
    NdjsonIngest.appendDelta(fresh, dir, "id")
    // an overlapping batch keeps (at least) the holding layer
    val overlap = Seq((id(2, 7), -1)).toDF("id", "n")
    val overlapLayers = NdjsonIngest.existingForClash(
        spark, dir, chain, overlap, "id")
      .inputFiles.map(_.split("/").takeRight(2).head).distinct
    assert(overlapLayers.contains(chain(2)) && overlapLayers.length <= 2,
      s"overlap batch must read the holding layer: ${overlapLayers.toSeq}")
    intercept[NdjsonIngest.DuplicatePrimaryKey] {
      NdjsonIngest.appendDelta(overlap, dir, "id")
    }
    ()
  }

  test("property: routed point probes ≡ the full-chain scan over a " +
      "seeded random long-pk chain — hits, misses, and the ±2^53 " +
      "double-collision boundary stay conservative") {
    val session = spark
    import session.implicits._
    val dir = tmpDir()
    val rnd = new scala.util.Random(20260816)
    // 3 layers × 1200 rows of random longs (distinct by construction:
    // disjoint strides + jitter), plus the 2^53 boundary pair in layer 1
    // — insert and probe share the canonical double cast, so two longs
    // that collide in a double stay MUTUALLY conservative (the bloom
    // keeps the layer; the row-wise filter stays exact)
    val p53 = 1L << 53
    // materialized ONCE (the jitter draw must match between insert and
    // probe); distinct by construction: disjoint strides + jitter < gap
    val layerKeys: Map[Int, Seq[Long]] = (0 until 3).map(b =>
      b -> (0 until 1200).map(i =>
        b * 4000000L + i * 3000L + rnd.nextInt(2000))).toMap
    val extra = Seq(p53, p53 + 1) // both round to 2^53.0
    (0 until 3).foreach { b =>
      val ks = if (b == 1) layerKeys(b) ++ extra else layerKeys(b)
      val df = ks.map(k => (k, b)).toDF("pk", "n")
      if (b == 0) NdjsonIngest.appendVersion(df, dir, "pk")
      else NdjsonIngest.appendDelta(df, dir, "pk")
    }
    val chain = NdjsonIngest.latestLayers(dir)
    val full = spark.read.parquet(chain.map(l => s"$dir/$l"): _*)
    val rnd2 = new scala.util.Random(7)
    val hitProbes = (0 until 6).map(_ =>
      layerKeys(rnd2.nextInt(3))(rnd2.nextInt(1200)))
    val missProbes = (0 until 6).map(_ => -1L - rnd2.nextInt(1 << 20))
    (hitProbes ++ missProbes ++ extra).foreach { k =>
      val v = k.toDouble
      val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
        NdjsonIngest.Zone(ranges = Seq(("pk", v, v))))
      assert(routed.filter(col("pk") === k).count() ===
        full.filter(col("pk") === k).count(),
        s"routed ≢ unrouted for pk = $k")
    }
    // the boundary pair: each probe finds exactly its own row
    extra.foreach { k =>
      val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
        NdjsonIngest.Zone(ranges = Seq(("pk", k.toDouble, k.toDouble))))
      assert(routed.filter(col("pk") === k).count() === 1)
    }
  }

  test("forged over-full bloom (all bits set): every probe is a " +
      "'maybe' — pure conservative keep, rows stay exact") {
    val (dir, key) = uuidChain()
    val chain = NdjsonIngest.latestLayers(dir)
    // forge layer 1's bloom to all-ones: everything becomes a maybe
    val p = java.nio.file.Paths.get(dir, chain(1), "_stats")
    val ones = java.util.Base64.getEncoder.encodeToString(
      Array.fill[Byte](1024)(-1))
    val forged = java.nio.file.Files.readString(p).linesIterator.map {
      case l if l.startsWith("bl:pk ") =>
        val parts = l.split(" ")
        s"${parts(0)} ${parts(1)} ${parts(2)} $ones"
      case l => l
    }.mkString("\n")
    java.nio.file.Files.writeString(p, forged)
    val hit = key(4 * 1500 + 3) // lives in layer 4
    val routed = NdjsonIngest.readChainRanges(spark, dir, chain,
      NdjsonIngest.Zone(strEquals = Seq(("pk", Seq(hit)))))
    val layers = routed.inputFiles.map(_.split("/").takeRight(2).head)
      .distinct.toSeq
    assert(layers.contains(chain(1)) && layers.contains(chain(4)),
      s"the forged layer must stay a maybe, the true layer must open: $layers")
    assert(routed.filter(col("pk") === hit).count() === 1)
  }
}

package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.seq.SequenceModel

/** Equivalence property suite for the SeqDiff codegen kernel vs the
  * higher-order-function chain it replaced ([[SeqDiffChain.diffLegacy]]):
  * identical schema and identical rows on adversarial UTF-8 input —
  * multi-byte code points, combining marks, astral-plane symbols, empty
  * and null sequences — plus corpus-like text, for literal and per-row
  * column offsets, under both codegen and interpreted evaluation.
  */
class SeqDiffSpec extends SparkSpec {

  private val REF = "sartearaeeaaaeaoaeaaerarrerrreeeeaaeaeraraeartaraerraaaererr"
  // a reference that itself contains multi-byte and astral code points
  private val REF_UNI = "aéb𝄞c你N-xyz"

  private def corpus: Seq[String] = Seq(
    "", // split("","") == [""] -> one empty symbol at position 1
    "a",
    "sartear",
    "exact match of the reference prefix sartearaeeaaaeao",
    "héllo wörld", // 2-byte code points
    "e\u0301x", // combining mark: separate code point, separate piece
    "a𝄞b𝄞", // astral (4-byte) symbols
    "你好世界", // CJK
    "NNNNN", // missing symbols only
    "aNaéN𝄞N", // missing interleaved with multi-byte
    REF, // zero diffs against REF
    REF_UNI,
    "x" * 200, // longer than both references
    "é" * 61 // multi-byte, one past the 60-char probe window
  )

  // `off` is a per-row int offset: 0, then growing past the references
  private def base: DataFrame = {
    import spark.implicits._
    (corpus.map(Option(_)) :+ (None: Option[String]))
      .zipWithIndex.map { case (s, i) => (s, i, i * 5) }
      .toDF("seq", "id", "off")
  }

  private def frames(ref: String, missing: Set[String],
      offset: Column = lit(0), input: DataFrame = base) = {
    val kernel = SequenceModel.diff(input, "seq", ref, missing, offset)
    val legacy = SeqDiffChain.diffLegacy(input, "seq", ref, missing, offset, "")
    (kernel, legacy)
  }

  private def assertSame(kernel: DataFrame, legacy: DataFrame): Unit = {
    assert(kernel.schema === legacy.schema, "schema drift")
    assert(kernel.orderBy("id").collect().toSeq ===
      legacy.orderBy("id").collect().toSeq, "row drift")
  }

  private def interpreted[T](body: => T): T = {
    val conf = spark.conf
    val oldWs = conf.get("spark.sql.codegen.wholeStage", "true")
    val oldFm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally {
      conf.set("spark.sql.codegen.wholeStage", oldWs)
      conf.set("spark.sql.codegen.factoryMode", oldFm)
    }
  }

  test("every diff() plan contains seqdiff") {
    // SeqDiff is the only diff implementation: no offset shape may route
    // around it (and the chain, the spec it is compared against, never
    // contains it, so no equivalence test below is trivially chain≡chain)
    for (offset <- Seq(lit(0), lit(7), col("off"))) {
      val (kernel, legacy) = frames(REF, Set("N"), offset)
      assert(kernel.queryExecution.analyzed.toString.contains("seqdiff"),
        s"diff() with offset $offset did not run the SeqDiff kernel")
      assert(!legacy.queryExecution.analyzed.toString.contains("seqdiff"))
    }
  }

  test("kernel == HOF chain: ascii reference, no missing symbols") {
    val (k, l) = frames(REF, Set())
    assertSame(k, l)
  }

  test("kernel == HOF chain: ascii reference, missing symbol N") {
    val (k, l) = frames(REF, Set("N"))
    assertSame(k, l)
  }

  test("kernel == HOF chain: multi-byte reference, two missing symbols") {
    val (k, l) = frames(REF_UNI, Set("N", "é"))
    assertSame(k, l)
  }

  test("kernel == HOF chain under interpreted (non-codegen) eval") {
    val (k, l) = frames(REF, Set("N"))
    interpreted(assertSame(k, l))
  }

  test("kernel == HOF chain: literal positive offset") {
    for (ref <- Seq(REF, REF_UNI)) {
      val (k, l) = frames(ref, Set("N", "é"), lit(3))
      assertSame(k, l)
      interpreted(assertSame(k, l))
    }
  }

  test("kernel == HOF chain: per-row int column offset") {
    for (ref <- Seq(REF, REF_UNI)) {
      val (k, l) = frames(ref, Set("N", "é"), col("off"))
      assertSame(k, l)
      interpreted(assertSame(k, l))
    }
  }

  test("kernel == HOF chain on seeded random unicode strings") {
    import spark.implicits._
    val alphabet: IndexedSeq[String] = ("abcde" + "NRY-").map(_.toString) ++
      Seq("é", "́", "𝄞", "你", " ", "q")
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { i =>
      val n = rnd.nextInt(80)
      (Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString, i,
        rnd.nextInt(40))
    }
    val input = rows.toDF("seq", "id", "off")
    for (offset <- Seq(lit(0), col("off"))) {
      val (k, l) = frames(REF, Set("N"), offset, input)
      assertSame(k, l)
    }
  }

  test("non-int offsets and non-string sequences fail at analysis time") {
    import spark.implicits._
    def rejects(input: DataFrame, offset: Column): Unit = {
      val e = intercept[AnalysisException](
        SequenceModel.diff(input, "seq", REF, Set("N"), offset))
      assert(e.getMessage.contains("SeqDiff requires a string sequence and an int offset"),
        e.getMessage)
    }
    // a long or double zero would once have silently widened `pos`
    rejects(base, lit(0L))
    rejects(base, lit(0.0))
    rejects(base, lit("0"))
    rejects(base, col("seq"))
    rejects(Seq((1, 0)).toDF("seq", "id"), lit(0))
  }
}

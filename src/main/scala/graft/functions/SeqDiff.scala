package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass diff of an aligned-sequence string against a reference —
  * the kernel behind every [[graft.seq.SequenceModel.diff]] call. `seq`
  * is placed at the int `offset` (a literal or a per-row column, the
  * input_format.md offset of a short read inside a longer reference):
  * code point `i` (1-based) sits at absolute position `offset + i`, is
  * compared against the reference there and reported at that position.
  * Returns
  * `struct<muts: array<struct<pos:int, sym:string>>, missing: array<int>>`,
  * value-identical to the higher-order-function chain (kept in test
  * scope as the executable spec):
  *
  * {{{
  *   chars   = split(seq, "")                     // one piece per CODE POINT
  *   zipped  = zip_with(chars, sequence(1, size(chars)),
  *                      (s,p) => (p + offset, s))
  *   muts    = filter(zipped, s != substr(ref, pos, 1) && s ∉ missingSyms)
  *   missing = transform(filter(zipped, s ∈ missingSyms), pos)
  * }}}
  *
  * Equivalence obligations (each pinned by SeqDiffSpec against the HOF
  * chain on non-ASCII corpus-like text, for literal and column offsets):
  *  - `split(seq, "")` yields one piece per Unicode CODE POINT (combining
  *    marks are their own pieces, astral chars are ONE piece), with NO
  *    trailing empty piece, and `"" -> [""]` (verified against
  *    UTF8String.split on this exact Spark build) — mirrored by byte-wise
  *    UTF-8 lead-byte iteration, with the empty string special-cased to a
  *    single empty symbol;
  *  - `substr(ref, pos, 1)` indexes by code point and yields "" past the
  *    end — mirrored by pre-splitting `ref` into code-point pieces once at
  *    construction. Positions below 1 (only reachable with a negative
  *    offset, which ingest rejects) compare against "" here, whereas
  *    `substr` would read the reference from its end;
  *  - UTF8String equality is byte equality; pieces sliced from the input
  *    share its bytes, so comparisons never re-encode. Parquet strings are
  *    valid UTF-8 by contract (invalid lead bytes would advance 1 byte,
  *    matching numBytesForFirstByte);
  *  - null sequence -> null result (the HOF columns are all null), so the
  *    struct's getFields propagate null exactly like the old columns. A
  *    null offset also yields null (ingest coalesces an absent offset
  *    to 0).
  *
  * Input types are checked at analysis: a non-string sequence or a
  * non-int offset is a typed AnalysisException, never a runtime cast
  * failure or a silently widened `pos`.
  *
  * Why not the HOF chain: zip_with/filter/transform do not participate in
  * whole-stage codegen — every element pays interpreted Expression eval
  * (a regex split, a per-element literal substr, an array_contains), which
  * made the diff derivation the dominant cost of every diffed table. This
  * kernel is one loop over the UTF-8 bytes.
  */
case class SeqDiff(
    seq: Expression,
    offset: Expression,
    ref: String,
    missingSyms: Seq[String])
    extends BinaryExpression {

  override def left: Expression = seq
  override def right: Expression = offset

  override def dataType: DataType = SeqDiff.outType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (seq.dataType, offset.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (s, o) => TypeCheckResult.TypeCheckFailure(
        s"SeqDiff requires a string sequence and an int offset, " +
          s"got ${s.catalogString} and ${o.catalogString}")
    }

  @transient private lazy val refPieces: Array[UTF8String] =
    SeqDiff.codePointPieces(ref)
  @transient private lazy val missPieces: Array[UTF8String] =
    missingSyms.map(UTF8String.fromString).toArray

  override protected def nullSafeEval(s: Any, off: Any): Any =
    SeqDiff.compute(s.asInstanceOf[UTF8String], off.asInstanceOf[Int],
      refPieces, missPieces)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refsRef = ctx.addReferenceObj("refPieces", refPieces,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val missRef = ctx.addReferenceObj("missPieces", missPieces,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, (s, off) =>
      s"${ev.value} = graft.functions.SeqDiff.compute($s, $off, $refsRef, $missRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeqDiff =
    copy(seq = newLeft, offset = newRight)
}

object SeqDiff {

  val mutType: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = true),
    StructField("sym", StringType, nullable = true)))

  // nullability mirrors the HOF chain exactly (pinned by SeqDiffSpec):
  // filter(zip_with(...)) yields containsNull=false elements whose struct
  // fields are nullable; transform(...)'s int elements are containsNull=true
  val outType: StructType = StructType(Seq(
    StructField("muts", ArrayType(mutType, containsNull = false), nullable = true),
    StructField("missing", ArrayType(IntegerType, containsNull = true),
      nullable = true)))

  /** One UTF8String piece per Unicode code point (the `split(s, "")`
    * pieces for a non-empty string).
    */
  def codePointPieces(s: String): Array[UTF8String] = {
    val u = UTF8String.fromString(s)
    val bytes = u.getBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < bytes.length) {
      val len = math.min(
        UTF8String.numBytesForFirstByte(bytes(i)), bytes.length - i)
      out += UTF8String.fromBytes(bytes, i, len)
      i += len
    }
    out.toArray
  }

  /** The per-row kernel: iterate the sequence's code points once, emitting
    * (pos, sym) for symbols that differ from the reference and are not
    * missing symbols, and pos for missing symbols, where the first code
    * point sits at absolute position `offset + 1`. `seq` must be non-null.
    */
  def compute(
      seq: UTF8String,
      offset: Int,
      refPieces: Array[UTF8String],
      missPieces: Array[UTF8String]): InternalRow = {
    val bytes = seq.getBytes
    val muts = new scala.collection.mutable.ArrayBuffer[Any]
    val missing = new scala.collection.mutable.ArrayBuffer[Any]

    def emit(piece: UTF8String, pos: Int): Unit = {
      var isMissing = false
      var k = 0
      while (k < missPieces.length && !isMissing) {
        if (missPieces(k).equals(piece)) isMissing = true
        k += 1
      }
      if (isMissing) {
        missing += Integer.valueOf(pos)
      } else {
        // substr(ref, pos, 1) yields "" past the reference end; a piece is
        // never empty here except for the empty-sequence special case
        val refPiece =
          if (pos >= 1 && pos <= refPieces.length) refPieces(pos - 1)
          else UTF8String.EMPTY_UTF8
        if (!piece.equals(refPiece)) {
          muts += new GenericInternalRow(
            Array[Any](Integer.valueOf(pos), piece))
        }
      }
    }

    if (bytes.length == 0) {
      // split("", "") == [""]: one empty piece at the first position
      emit(UTF8String.EMPTY_UTF8, offset + 1)
    } else {
      var i = 0
      var pos = offset + 1
      while (i < bytes.length) {
        val len = math.min(
          UTF8String.numBytesForFirstByte(bytes(i)), bytes.length - i)
        emit(UTF8String.fromBytes(bytes, i, len), pos)
        i += len
        pos += 1
      }
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(muts.toArray),
      new GenericArrayData(missing.toArray)))
  }
}

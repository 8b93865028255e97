package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.seq.SequenceModel.refAt

/** The higher-order-function diff chain that the SeqDiff kernel replaced
  * — kept in test scope as the executable spec [[SeqDiffSpec]] and
  * [[DatabaseSpec]] compare [[graft.seq.SequenceModel.diff]] against.
  */
object SeqDiffChain {

  def diffLegacy(
      df: DataFrame,
      seqCol: String,
      ref: String,
      missingSyms: Set[String],
      offset: Column,
      prefix: String): DataFrame = {
    val chars = split(col(seqCol), "")
    val zipped = zip_with(chars, sequence(lit(1), size(chars)),
      (s, p) => struct((p + offset).as("pos"), s.as("sym")))
    val missLit = array(missingSyms.toSeq.sorted.map(lit): _*)
    val muts = filter(zipped, x =>
      x.getField("sym") =!= refAt(ref, x.getField("pos")) &&
        !array_contains(missLit, x.getField("sym")))
    val missing = transform(
      filter(zipped, x => array_contains(missLit, x.getField("sym"))),
      x => x.getField("pos"))
    // a null sequence has NO coverage anywhere: cov_start must be null too,
    // or the +1 prefix-sum delta at cov_start is never cancelled by the
    // (null) cov_end and every position ≥ cov_start gains phantom coverage
    df.withColumn(s"${prefix}cov_start",
        when(col(seqCol).isNotNull, (offset + 1).cast("int")))
      .withColumn(s"${prefix}cov_end", (offset + length(col(seqCol))).cast("int"))
      .withColumn(s"${prefix}muts", muts)
      .withColumn(s"${prefix}missing", missing)
      .drop(seqCol)
  }
}

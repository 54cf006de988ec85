package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Evaluation harness (SURVEY.md §3.3): predicted vs gold triples via
  * set-oriented joins — inner = TP, anti = FP, reversed anti = FN
  * (J7/A8, tests/integration_tests.rs:34-67). */
object Eval {

  final case class Prf(tp: Long, fp: Long, fn: Long, precision: Double, recall: Double, f1: Double)

  /** The reference's quality tiers over an F1 score
    * (examples/webnlg_evaluation.rs:310-318): ≥0.9 excellent, ≥0.75
    * good, ≥0.6 fair, else needs_improvement. */
  def qualityBand(f1: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(f1 >= 0.9, "excellent")
      .when(f1 >= 0.75, "good")
      .when(f1 >= 0.6, "fair")
      .otherwise("needs_improvement")

  def prf(predicted: DataFrame, gold: Dataset[GoldTriple]): Prf = {
    val p = predicted.select("url", "subj", "pred", "obj").distinct()
    val g = gold.toDF.select("url", "subj", "pred", "obj").distinct()
    val keys = Seq("url", "subj", "pred", "obj")
    val tp = p.join(g, keys, "left_semi").count()
    val fp = p.join(g, keys, "left_anti").count()
    val fn = g.join(p, keys, "left_anti").count()
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    Prf(tp, fp, fn, precision, recall, f1)
  }

  /** Tag each distinct key with side-membership flags in ONE shuffle:
    * union the two sides with flag columns and groupBy the key —
    * row-identical to distinct-each-side + full-outer join (a key in
    * pred gets max(in_pred)=1 else null, same for gold) but one
    * exchange instead of three (two distincts + the join; guide §2.4).
    * Precondition: no key column is null. The join never matches a null
    * key, but groupBy puts nulls in one group, so a null-keyed row in
    * both sides would count as a hit here and as a miss there. */
  private[graft] def membershipFlags(predicted: DataFrame, gold: DataFrame,
      keys: Seq[String]): DataFrame =
    predicted.select(keys.map(col) :+ lit(1).as("in_pred") :+
        lit(null).cast("int").as("in_gold"): _*)
      .unionByName(gold.select(keys.map(col) :+ lit(null).cast("int").as("in_pred") :+
        lit(1).as("in_gold"): _*))
      .groupBy(keys.map(col): _*)
      .agg(max(col("in_pred")).as("in_pred"), max(col("in_gold")).as("in_gold"))

  /** The same computation as one Dataset job (for queries()/bench). */
  def prfDf(predicted: DataFrame, gold: DataFrame): DataFrame = {
    val keys = Seq("url", "subj", "pred", "obj")
    val joined = membershipFlags(predicted, gold, keys)
    joined.agg(
      sum(when(col("in_pred").isNotNull && col("in_gold").isNotNull, 1).otherwise(0)).as("tp"),
      sum(when(col("in_pred").isNotNull && col("in_gold").isNull, 1).otherwise(0)).as("fp"),
      sum(when(col("in_pred").isNull && col("in_gold").isNotNull, 1).otherwise(0)).as("fn"))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp") / (col("tp") + col("fn")))
      .withColumn("f1", lit(2) * col("precision") * col("recall") / (col("precision") + col("recall")))
  }
}

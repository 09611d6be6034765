package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline-evaluation operators. The north-rule acceptance metric for a
  * quality filter is keep/drop F1 against reference labels — this computes
  * it distributed, in ONE fused aggregate. */
object Evaluation {

  /** Binary confusion matrix + precision/recall/F1 between a label column
    * and a prediction column (both boolean). One codegen'd sum-when pass —
    * no shuffle beyond the final 4-long reduction; the ratios are single
    * IEEE divisions of exact longs, so results are bit-reproducible
    * across engines and partitionings. Null label/pred rows count toward
    * no quadrant (null && x never evaluates true); an empty input yields
    * zero counts, not the NULLs a bare sum-over-nothing returns. */
  def binaryConfusion(df: DataFrame, labelCol: Column,
      predCol: Column): DataFrame = {
    val sums = confusionSums(labelCol, predCol)
      .map { case (name, s) => coalesce(s, lit(0L)).as(name) }
    val counts = df.agg(sums.head, sums.tail: _*)
    // degenerate matrices (no predicted / no actual positives) → NULL
    // metric, not an ANSI DIVIDE_BY_ZERO that kills the job
    def ratio(num: Column, denom: Column): Column =
      when(denom > 0, num.cast(DoubleType) / denom)
        .otherwise(lit(null).cast(DoubleType))
    counts.select(col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(col("tp") * 2, col("tp") * 2 + col("fp") + col("fn")).as("f1"))
  }

  /** The confusion counts tp, fp, fn, tn as (name, sum-when aggregate)
    * pairs, shared by [[binaryConfusion]] and the windowed
    * `StreamingValidate.confusionDriftStream`. */
  def confusionSums(labelCol: Column, predCol: Column): Seq[(String, Column)] =
    Seq("tp" -> (labelCol && predCol), "fp" -> (!labelCol && predCol),
      "fn" -> (labelCol && !predCol), "tn" -> (!labelCol && !predCol))
      .map { case (name, hit) => name -> sum(when(hit, 1L).otherwise(0L)) }

  /** Per-query recall of an approximate neighbor list against the exact
    * one: |approx ∩ exact| / |exact|. The quality dial every ANN
    * deployment needs next to its latency dial. Shuffles only
    * (query, item) id pairs; the ratio is one IEEE division of exact
    * longs. Queries the approximate side missed entirely surface with
    * n_hit = 0 (left join from the exact side). */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryCol: String,
      itemCol: String): DataFrame = {
    val a = approx.select(col(queryCol).as("__q"), col(itemCol).as("__i"))
      .dropDuplicates("__q", "__i")
    val x = exact.select(col(queryCol).as("__q"), col(itemCol).as("__i"))
      .dropDuplicates("__q", "__i")
    val hits = x.join(a, Seq("__q", "__i"), "left_semi")
      .groupBy("__q").agg(count(lit(1)).as("n_hit"))
    x.groupBy("__q").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_true"),
        (coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("n_true"))
          .as("recall"))
  }
}

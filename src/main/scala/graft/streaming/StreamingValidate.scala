package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{KlMath, MapExpectation}
import graft.operators.Evaluation
import graft.transcripts.QualityFilter

/** Structured-Streaming validation. The reference is strictly batch
  * (SURVEY.md §1.1: no readStream/writeStream anywhere); this extends the
  * same expectation semantics to streams:
  *
  *  - `validateStream`: per-event-time-window EVR metrics — each map
  *    expectation's unexpected/missing counts aggregate inside a watermarked
  *    tumbling window, so late data is bounded and state is evictable.
  *  - `roleSeqStateful`: the one rule that needs cross-row order
  *    (role-sequence validity) runs as `flatMapGroupsWithState` keyed by
  *    conv_id, carrying (last_turn_idx, last_role) per conversation —
  *    the streaming analogue of the batch lag window.
  *
  * Every other quality-filter column is stateless, so a stream takes it
  * from the batch kernel unchanged: `QualityFilter.withScoresFused(stream)`
  * (StreamingSpec pins it row for row against the batch pipeline).
  *
  * The drift monitors share their aggregates with the batch checks: the
  * confusion sums with `Evaluation.binaryConfusion`, the bin counts and
  * holdout-scaled expected weights with the continuous KL expectation
  * (`KlMath`). Every operator starts from one event-time prefix,
  * [[watermarked]], and every windowed one from [[windowedAgg]].
  */
object StreamingValidate {

  /** The event-time prefix of every operator here: `tsCol` cast to a
    * timestamp (parquet reads it back as TIMESTAMP_NTZ) and watermarked. */
  private def watermarked(stream: DataFrame, tsCol: String,
      watermarkDelay: String): DataFrame =
    stream.withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermarkDelay)

  /** One watermarked tumbling-window aggregate: `window`, `element_count`,
    * then `aggs`. */
  private def windowedAgg(stream: DataFrame, tsCol: String,
      watermarkDelay: String, windowDur: String)(aggs: Seq[Column]): DataFrame =
    watermarked(stream, tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("element_count"), aggs: _*)

  /** Windowed suite metrics for map expectations over a stream. */
  def validateStream(stream: DataFrame, exps: Seq[(String, MapExpectation)],
      tsCol: String, watermarkDelay: String, windowDur: String): DataFrame =
    windowedAgg(stream, tsCol, watermarkDelay, windowDur)(exps.flatMap {
      case (name, e) => Seq(
        sum(when(e.unexpectedCondition, 1L).otherwise(0L)).as(s"${name}_unexpected"),
        sum(when(e.missingCondition, 1L).otherwise(0L)).as(s"${name}_missing"))
    })

  final case class TurnKey(conv_id: String, turn_idx: Int, role: String)
  final case class RoleState(lastIdx: Int, lastRole: String)
  final case class RoleSeqOut(conv_id: String, turn_idx: Int, role_seq_ok: Boolean)

  /** Stateful per-conversation role-sequence validity. Within a micro-batch
    * the group is sorted by turn_idx; state carries the last seen turn so
    * IN-ORDER conversations spanning micro-batches stay correct. A LATE
    * turn (turn_idx ≤ state's lastIdx — its true predecessor was already
    * consumed by an earlier batch) cannot be adjacency-checked: it gets
    * the order-free rules only (allowed role, turn-0-is-system) and does
    * NOT regress the state, so subsequent turns keep validating against
    * the genuinely latest one. */
  def roleSeqStateful(turns: Dataset[TurnKey]): Dataset[RoleSeqOut] = {
    import turns.sparkSession.implicits._
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[RoleState, RoleSeqOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[TurnKey], state: GroupState[RoleState]) =>
          val sorted = it.toSeq.sortBy(_.turn_idx)
          var prev = state.getOption
          val out = sorted.map { t =>
            val base = QualityFilter.AllowedRoles.contains(t.role) &&
              (t.turn_idx != 0 || t.role == "system")
            val late = prev.exists(p => t.turn_idx <= p.lastIdx)
            val ok =
              if (late) base // predecessor unknown: adjacency rule skipped
              else base && prev.forall(p => t.role != p.lastRole || t.role == "tool")
            if (!late) prev = Some(RoleState(t.turn_idx, t.role))
            RoleSeqOut(t.conv_id, t.turn_idx, ok)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** Windowed filter-agreement monitor: confusion counts between a
    * reference label column and a cheap proxy per event-time window —
    * "is my cheap filter still agreeing with the full one as the stream
    * drifts?". Stateless columns only, ONE watermarked sum-when
    * aggregate; exact long counts, so downstream ratios are
    * bit-deterministic. The sums are Evaluation.binaryConfusion's, which
    * coalesces them to 0 for an empty input; a window always holds a
    * row, so its sums stay bare (and keep their nullable schema). */
  def confusionDriftStream(stream: DataFrame, labelCol: Column,
      predCol: Column, tsCol: String,
      watermarkDelay: String, windowDur: String): DataFrame =
    windowedAgg(stream, tsCol, watermarkDelay, windowDur)(
      Evaluation.confusionSums(labelCol, predCol)
        .map { case (name, s) => s.as(name) })

  /** Streaming distribution-drift monitor: per-event-time-window
    * categorical KL divergence of the stream's value histogram against an
    * expected partition — the continuous-ingestion analogue of
    * expect_column_kl_divergence_to_be_less_than, the check a training-data
    * pipeline runs to catch source drift as it happens.
    *
    * Everything stays inside ONE watermarked streaming aggregate: the
    * per-window counts for each expected value (plus the pooled
    * out-of-partition bucket) are sum-when columns, and the divergence is
    * a deterministic post-aggregation EXPRESSION over them — no second
    * stateful operator, no driver-side math, state = one row per open
    * window. Out-of-partition values are POOLED into a single tail bucket
    * weighted `tailWeightHoldout` (the batch expectation splits the
    * holdout over the distinct unexpected values; a streaming monitor
    * cannot know that count without a second aggregation, and the pooled
    * form is equivalent when one unexpected value dominates — documented
    * divergence). tailWeightHoldout = 0 ⇒ any unexpected value drives the
    * divergence to +∞ ⇒ drift. */
  def categoricalDriftStream(stream: DataFrame, valueCol: String,
      tsCol: String, watermarkDelay: String, windowDur: String,
      values: Seq[String], weights: Seq[Double], threshold: Double,
      tailWeightHoldout: Double = 0.0): DataFrame = {
    require(values.size == weights.size && weights.sum > 0,
      "expected partition: |values| must equal |weights|, weights non-empty")
    val c = col(valueCol)
    val counts = values.zipWithIndex.map { case (v, i) =>
      sum(when(c === lit(v), 1L).otherwise(0L)).as(s"__n$i")
    }
    val windowed = windowedAgg(stream, tsCol, watermarkDelay, windowDur)(
      counts :+ count(c).as("__nn"))
    // scipy-entropy arithmetic as columns: p from the window's counts, q
    // from the holdout-scaled expected weights (coefficients precomputed
    // in Scala so both engines see identical IEEE doubles)
    val nn = col("__nn").cast("double")
    val wSum = weights.sum
    val inTerms = values.indices.map { i =>
      klTerm(col(s"__n$i").cast("double") / nn,
        weights(i) / wSum * (1 - tailWeightHoldout))
    }
    val otherCount =
      col("__nn") - values.indices.map(i => col(s"__n$i")).reduce(_ + _)
    val otherTerm = klTerm(otherCount.cast("double") / nn, tailWeightHoldout)
    val kl = (inTerms :+ otherTerm).reduce(_ + _)
    windowed.select(
      (Seq(col("window"), col("element_count")) ++
        values.indices.map(i => col(s"__n$i")) :+
        col("__nn").as("nonnull_count") :+
        otherCount.as("other_count") :+
        kl.as("kl") :+
        (!(kl <= lit(threshold))).as("drift")): _*)
  }

  /** scipy-entropy term as a Column: p·ln(p/q), with q=0 driving +∞ on any
    * observed mass (shared by the two drift monitors). */
  private def klTerm(p: Column, q: Double) =
    if (q == 0.0)
      when(p > 0.0, lit(Double.PositiveInfinity)).otherwise(lit(0.0))
    else when(p > 0.0, p * log(p / lit(q))).otherwise(lit(0.0))

  /** Continuous (binned) drift monitor — the numeric twin of
    * [[categoricalDriftStream]], and EXACTLY the batch finite-endpoint
    * continuous KL semantics (two tail buckets at tailWeightHoldout/2,
    * internal holdout spread over zero-weight bins): per-window histogram
    * counts as sum-when columns in one watermarked aggregate, divergence
    * as a post-aggregation expression. np.histogram bin semantics (last
    * bin right-closed). */
  def continuousDriftStream(stream: DataFrame, valueCol: String,
      tsCol: String, watermarkDelay: String, windowDur: String,
      binEdges: Seq[Double], binWeights: Seq[Double], threshold: Double,
      tailWeightHoldout: Double = 0.0,
      internalWeightHoldout: Double = 0.0): DataFrame = {
    require(binEdges.size == binWeights.size + 1 &&
      binEdges.sliding(2).forall(p => p(1) > p.head),
      "bins must be |weights|+1 strictly increasing edges")
    val windowed = windowedAgg(stream, tsCol, watermarkDelay, windowDur)(
      KlMath.binCounts(col(valueCol), binEdges, "__"))
    // expected weights precomputed in Scala, so both engines see identical
    // IEEE doubles
    val expW = KlMath.expectedWeights(binWeights, tailWeightHoldout,
      internalWeightHoldout)
    val nn = col("__nn").cast("double")
    val terms =
      klTerm(col("__below").cast("double") / nn, tailWeightHoldout / 2) +:
        binWeights.indices.map(i =>
          klTerm(col(s"__b$i").cast("double") / nn, expW(i))) :+
        klTerm(col("__above").cast("double") / nn, tailWeightHoldout / 2)
    val kl = terms.reduce(_ + _)
    windowed.select(
      (Seq(col("window"), col("element_count")) ++
        binWeights.indices.map(i => col(s"__b$i")) :+
        col("__below").as("below_count") :+
        col("__above").as("above_count") :+
        col("__nn").as("nonnull_count") :+
        kl.as("kl") :+
        (!(kl <= lit(threshold))).as("drift")): _*)
  }

  /** Streaming exact dedup: first occurrence of each normalized-text
    * digest wins, with state bounded by the event-time watermark
    * (dropDuplicatesWithinWatermark) — the streaming analogue of
    * Dedup.exactDedup for continuous ingestion. State holds one 32-byte
    * digest per distinct doc inside the watermark horizon. */
  def exactDedupStream(stream: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String): DataFrame =
    watermarked(stream, tsCol, watermarkDelay)
      .withColumn("__text_hash",
        md5(graft.operators.Dedup.normText(col(textCol))))
      .dropDuplicatesWithinWatermark("__text_hash")
      .drop("__text_hash")
}

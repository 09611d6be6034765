package graft.transcripts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The north-rule quality-filter + scrub pipeline.
  *
  * Recasts the reference's expectation-suite model (SURVEY.md §1) as one
  * Catalyst column-expression DAG over transcript turns:
  *
  *   - role-sequence validity via `Window.partitionBy(conv_id)
  *     .orderBy(turn_idx)` (same primitive as the reference's
  *     column_values_increasing, column_values_increasing.py:96-99, but
  *     conversation-partitioned and therefore shuffle-parallel).
  *   - every other rule from ONE native expression per turn
  *     (graft.functions.QfScore): language-ID + unigram log-prob over two
  *     code-defined models (stopword set + log-prob table), Gopher/C4-style
  *     heuristics (token count, symbol ratio, repetition), and the
  *     compiled-regex PII/toxicity scrub emitting `scrubbed_text` plus
  *     per-rule flags; the final `keep` label combines them. Model
  *     log-probs are exact multiples of 0.5, so score sums are exact in
  *     IEEE double regardless of summation order — bit-reproducible across
  *     engines and partitionings.
  *
  * Every rule is deterministic and integer/boolean-valued (or exact-double),
  * so the DuckDB oracle reproduces it bit-for-bit.
  */
object QualityFilter {

  // --- models (deterministic, code-defined; stand-ins for fastText / KenLM
  // --- artifacts which would be broadcast the same way) ---------------------
  val enStopwords: Set[String] = Set(
    "the", "a", "and", "we", "with", "over", "during", "before", "was", "so",
    "but", "when", "if", "until", "please", "because", "although", "since",
    "while", "after")

  /** Unigram log-prob table; all values are multiples of 0.5 (exact in
    * binary), OOV penalty -7.0, acceptance threshold avg >= -4.0. */
  val unigramLogProb: Map[String, Double] = {
    val stop = enStopwords.map(_ -> -1.0)
    val content = Set(
      "quick", "brown", "fox", "jumps", "lazy", "dog", "sleeps", "quietly",
      "discussed", "project", "plan", "model", "answers", "hard", "questions",
      "spark", "jobs", "run", "very", "fast", "data", "quality", "matters",
      "lot", "check", "latest", "results", "then", "continued", "working",
      "many", "more", "details", "today", "large", "input", "table", "long",
      "review", "session", "next", "planned", "step", "answer", "clear",
      "some", "parts", "were", "slow", "cluster", "busy", "tests", "kept",
      "passing", "saved", "team", "agreed", "quickly", "pipeline", "stayed",
      "green", "costs", "low", "ready", "schema", "stays", "stable", "job",
      "done").map(_ -> -2.5)
    val rare = Set("contact", "me", "at", "user", "example", "com", "call",
      "my", "is", "ssn", "noise").map(_ -> -3.0)
    (stop ++ content ++ rare).toMap
  }
  val OovLogProb = -7.0
  val PplThreshold = -4.0
  val MinStopwordHits = 2

  // --- compiled scrub patterns ----------------------------------------------
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val ToxRe = "\\bdamn\\b"
  val AllowedRoles = Seq("system", "user", "assistant", "tool")

  /** Role-sequence validity via the conv_id window (batch only —
    * the lag window needs the whole conversation; streams use
    * graft.streaming.StreamingValidate.roleSeqStateful instead). */
  def withRoleSeq(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    // materialize lag(role) ONCE: referencing the window expression twice
    // in roleSeqOk plants two identical lag frames in the WindowExec
    // (visible as _we0/_we1 in the plan) — the named column keeps it to one
    val withPrev = df.withColumn("__prev_role", lag(col("role"), 1).over(w))
    val roleSeqOk = col("role").isin(AllowedRoles: _*) &&
      (col("turn_idx") =!= 0 || col("role") === "system") &&
      (col("__prev_role").isNull || col("role") =!= col("__prev_role") ||
        col("role") === "tool")
    withPrev.withColumn("role_seq_ok", roleSeqOk).drop("__prev_role")
  }

  private def withKeep(df: DataFrame): DataFrame =
    df.withColumn("keep",
      col("lang_ok") && col("ppl_ok") && col("len_ok") && col("symbol_ok") &&
        col("rep_ok") && col("role_seq_ok") && !col("tox_found"))

  /** All stateless scoring columns from ONE fused expression
    * (graft.functions.QfScore): langid + log-prob + token stats + scrub
    * over a single text decode and character loop. Adds lang_ok, ppl_ok,
    * avg_logprob, n_tokens, len_ok, symbol_ok, rep_ok, the four *_found
    * flags, scrubbed_text and pii_found. No window or state, so it runs
    * unchanged on a streaming DataFrame. Derived flags reference the
    * struct COLUMN so the kernel evaluates exactly once per row
    * (CollapseProject keeps multi-referenced non-cheap aliases). */
  def withScoresFused(df: DataFrame): DataFrame = {
    import graft.functions.QfScore.qf_score
    val withQ = df.withColumn("__qf", qf_score(col("text")))
    val nTok = col("__qf.n_tokens")
    val textLen = length(col("text"))
    val symRatio = when(textLen === 0, lit(1.0)).otherwise(
      col("__qf.n_symbols").cast(DoubleType) / textLen.cast(DoubleType))
    val distinctRatio = when(nTok === 0, lit(0.0)).otherwise(
      col("__qf.n_distinct").cast(DoubleType) / nTok.cast(DoubleType))
    withQ
      .withColumn("lang_ok", col("__qf.en_hits") >= lit(MinStopwordHits))
      .withColumn("ppl_ok", col("__qf.avg_logprob") >= lit(PplThreshold))
      .withColumn("avg_logprob", col("__qf.avg_logprob"))
      .withColumn("n_tokens", nTok)
      .withColumn("len_ok", nTok.between(3, 64) && textLen <= lit(500))
      .withColumn("symbol_ok", symRatio <= lit(0.25))
      .withColumn("rep_ok", nTok < lit(8) || distinctRatio >= lit(0.5))
      .withColumn("email_found", col("__qf.email_found"))
      .withColumn("phone_found", col("__qf.phone_found"))
      .withColumn("ssn_found", col("__qf.ssn_found"))
      .withColumn("tox_found", col("__qf.tox_found"))
      .withColumn("scrubbed_text", col("__qf.scrubbed_text"))
      .withColumn("pii_found",
        col("email_found") || col("phone_found") || col("ssn_found"))
      .drop("__qf")
  }

  /** Full pipeline: transcripts in → per-turn flags + scrubbed text + keep.
    *
    * Stage order matters at scale: the role-seq WINDOW runs first, on the
    * slim input columns, so the conv_id shuffle moves only the original
    * turns — not the scrubbed copy + flag columns, which would roughly
    * double shuffle bytes. All expensive per-row work then runs as ONE
    * fused expression (one text decode) post-shuffle in the output stage. */
  def apply(transcripts: DataFrame): DataFrame =
    withKeep(withScoresFused(withRoleSeq(transcripts)))

  /** Conversation-level stats with salted two-phase aggregation: hot
    * conv_ids (10^12-turn scale can put ~10% of turns in a few
    * conversations) are split across `saltBuckets` partial groups before the
    * final merge, so no single reducer owns a hot key. */
  def convStatsSalted(filtered: DataFrame, saltBuckets: Int = 16): DataFrame = {
    val salted = filtered.withColumn("__salt",
      pmod(hash(col("turn_idx")), lit(saltBuckets)))
    val partial = salted.groupBy(col("conv_id"), col("__salt")).agg(
      count(lit(1)).as("pn"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("pk"),
      max(col("turn_idx")).as("pmax"))
    partial.groupBy(col("conv_id")).agg(
      sum(col("pn")).as("n_turns"),
      sum(col("pk")).as("n_keep"),
      max(col("pmax")).as("max_turn_idx"))
  }
}

package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{ExpectColumnValuesToBeInSet, ExpectColumnValuesToNotBeNull, MapExpectation}
import graft.streaming.StreamingValidate
import graft.transcripts.{QualityFilter, Transcripts}

/** Oracle-checked STREAMING queries: the synthesized transcript table is
  * staged to parquet, replayed as a bounded file stream
  * (Trigger.AvailableNow, several micro-batches via maxFilesPerTrigger),
  * run through the streaming operators to completion, and the final sink
  * contents are compared against DuckDB computing the same answer in
  * batch — closing the "streaming path has no oracle" gap. Results are
  * arrival-order-free by construction (windowed sums; the distinct
  * surviving digest set), so the comparison is deterministic. */
object StreamingQueries {

  /** Stage the transcripts for `dir` to a temp parquet dir (4 files → 4+
    * micro-batches with maxFilesPerTrigger=1). */
  private def stage(s: SparkSession, dir: String): String = {
    val out = Files.createTempDirectory("graft_stream_q").toString
    Transcripts.fromEvents(s, dir).repartition(4)
      .write.mode("overwrite").parquet(out)
    out
  }

  private def replay(s: SparkSession, staged: String): DataFrame = {
    val schema = s.read.parquet(staged).schema
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(staged)
  }

  private def runToMemory(df: DataFrame, mode: String): String = {
    val name = "q_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    // a timed-out AvailableNow run would leave a PARTIAL memory table that
    // reads as a (misleading) oracle mismatch — fail loudly instead
    require(q.awaitTermination(300000),
      "streaming query did not complete within 300s — partial sink")
    name
  }

  /** Staged-input cleanup: the memory sink is driver-resident once the
    * query terminates, so the replay parquet can be deleted eagerly
    * (repeated Verify/bench invocations must not accumulate temp copies
    * of the transcript table). */
  private def dropStaged(staged: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_stream_validate" -> ((s, dir) => {
      // windowed streaming suite metrics (watermark + 1-day tumbling
      // windows aligned to epoch = date_trunc('day')) run to completion
      val staged = stage(s, dir)
      val exps: Seq[(String, MapExpectation)] = Seq(
        "text_not_null" -> ExpectColumnValuesToNotBeNull("text"),
        "role_in_set" -> ExpectColumnValuesToBeInSet("role",
          QualityFilter.AllowedRoles))
      val view = runToMemory(StreamingValidate.validateStream(
        replay(s, staged), exps, "ts", "1 hour", "1 day"), "complete")
      dropStaged(staged)
      s.sql(s"""SELECT date_format(window.start, 'yyyy-MM-dd') AS day,
        element_count, text_not_null_unexpected AS text_null_n,
        role_in_set_unexpected AS bad_role_n
        FROM $view ORDER BY day""")
    }),
    "q61_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup run to completion; the SURVIVING DIGEST SET
      // is arrival-order-free (which representative row wins is not),
      // so it is the deterministic oracle surface
      val staged = stage(s, dir)
      val view = runToMemory(StreamingValidate.exactDedupStream(
        replay(s, staged), "text", "ts", "3650 days"), "append")
      dropStaged(staged)
      s.table(view)
        .select(md5(graft.functions.TextFunctions.normText(col("text")))
          .as("text_hash"))
        .distinct().orderBy("text_hash")
    }),
    "q70_stream_kl_drift" -> ((s, dir) => {
      // windowed categorical-KL drift monitor over the event stream: one
      // watermarked aggregate per day window, divergence as a
      // post-aggregation expression (StreamingValidate.categoricalDriftStream)
      val staged = Files.createTempDirectory("graft_stream_ev").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val view = runToMemory(StreamingValidate.categoricalDriftStream(
        stream, "event_type", "ts", "1 hour", "1 day",
        DriftValues, DriftWeights, DriftThreshold, DriftTail), "complete")
      dropStaged(staged)
      s.sql(s"""SELECT date_format(window.start, 'yyyy-MM-dd') AS day,
        element_count, __n0 AS n_click, __n1 AS n_view, __n2 AS n_purchase,
        nonnull_count, other_count, drift
        FROM $view ORDER BY day""")
    }),
    "q71_stream_cont_drift" -> ((s, dir) => {
      // binned numeric drift monitor over events.value — the batch
      // finite-endpoint continuous-KL semantics per day window
      val staged = Files.createTempDirectory("graft_stream_ev2").toString
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val view = runToMemory(StreamingValidate.continuousDriftStream(
        stream, "value", "ts", "1 hour", "1 day",
        CBinEdges, CBinWeights, CThreshold, CTail), "complete")
      dropStaged(staged)
      s.sql(s"""SELECT date_format(window.start, 'yyyy-MM-dd') AS day,
        element_count, __b0 AS b0, __b1 AS b1, __b2 AS b2, __b3 AS b3,
        below_count, above_count, nonnull_count, drift
        FROM $view ORDER BY day""")
    }),
    "q87_stream_filter_agreement" -> ((s, dir) => {
      // per-day confusion between the STATELESS keep label (all rules
      // minus the stateful role-sequence one) and the cheap lang+len
      // proxy — the monitor that catches a proxy filter drifting away
      // from the full one
      val staged = stage(s, dir)
      val qf = QualityFilter.withScoresFused(replay(s, staged))
      val label = col("lang_ok") && col("ppl_ok") && col("len_ok") &&
        col("symbol_ok") && col("rep_ok") && !col("tox_found")
      val pred = col("lang_ok") && col("len_ok")
      val view = runToMemory(StreamingValidate.confusionDriftStream(
        qf, label, pred, "ts", "1 hour", "1 day"), "complete")
      dropStaged(staged)
      s.sql(s"""SELECT date_format(window.start, 'yyyy-MM-dd') AS day,
        element_count, tp, fp, fn, tn FROM $view ORDER BY day""")
    }),
    "q80_stream_decontaminate" -> ((s, dir) => {
      // stream-static decontamination: the corpus replays as a bounded
      // file stream and each micro-batch semi-joins the STATIC broadcast
      // benchmark shingle dictionary (the production shape for filtering
      // continuous ingest against a fixed benchmark set); the running
      // per-doc hit counts aggregate in complete mode. Final answer ==
      // the batch q73 — the shared oracle asserts it.
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bench = docs.filter(col("doc_id") % 37 === 0)
      val staged = Files.createTempDirectory("graft_stream_docs").toString
      docs.filter(col("doc_id") % 37 =!= 0).repartition(4)
        .write.mode("overwrite").parquet(staged)
      val schema = s.read.parquet(staged).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val view = runToMemory(
        graft.operators.Dedup.decontaminate(stream, bench, "doc_id", "text"),
        "complete")
      dropStaged(staged)
      s.sql(s"SELECT doc_id, n_hits FROM $view ORDER BY doc_id")
    }))

  // q70 drift parameters (threshold far from the data's actual divergence
  // so the boolean is robust to last-ulp ln differences across engines)
  private val DriftValues = Seq("click", "view", "purchase")
  private val DriftWeights = Seq(0.5, 0.3, 0.2)
  private val DriftThreshold = 0.5
  private val DriftTail = 0.1

  // q71 continuous-drift parameters over events.value (0.03..327.5)
  private val CBinEdges = Seq(0.0, 25.0, 50.0, 100.0, 350.0)
  private val CBinWeights = Seq(0.3, 0.3, 0.3, 0.1)
  private val CThreshold = 2.0
  private val CTail = 0.1

  // NOTE: stripMargin must run on the literal BEFORE the transcript CTE is
  // prepended — transcriptSql itself contains '||' at line starts, which
  // stripMargin would mangle into single '|'s
  val oracles: Map[String, String] = Map(
    "q60_stream_validate" ->
      (Transcripts.oracleCtePrefix + "\n" +
        """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          |  count(*) AS element_count,
          |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_null_n,
          |  CAST(sum(CASE WHEN role NOT IN ('system','user','assistant','tool')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS bad_role_n
          |FROM transcripts GROUP BY 1 ORDER BY day""".stripMargin),
    "q61_stream_dedup" ->
      (Transcripts.oracleCtePrefix + "\n" +
        s"""SELECT DISTINCT md5(${graft.functions.TextFunctions.normTextSql("text")})
           |  AS text_hash
           |FROM transcripts ORDER BY text_hash NULLS FIRST""".stripMargin),
    "q70_stream_kl_drift" -> q70Oracle,
    "q71_stream_cont_drift" -> q71Oracle,
    // stream-static replay computes EXACTLY the batch decontamination
    "q80_stream_decontaminate" -> PipelineQueries.decontaminateOracle,
    // NOTE: no stripMargin — qfTurnsSql's interpolated lines start with ||
    "q87_stream_filter_agreement" ->
      (s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
  count(*) AS element_count,
  CAST(sum(CASE WHEN lbl AND prd THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN NOT lbl AND prd THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(sum(CASE WHEN lbl AND NOT prd THEN 1 ELSE 0 END) AS BIGINT) AS fn,
  CAST(sum(CASE WHEN NOT lbl AND NOT prd THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM (SELECT ts,
    (lang_ok AND ppl_ok AND len_ok AND symbol_ok AND rep_ok AND NOT tox_found) AS lbl,
    (lang_ok AND len_ok) AS prd
  FROM (${TranscriptOracles.qfTurnsSql}) q) p
GROUP BY 1 ORDER BY day"""))

  /** q71: per-day histogram + the same finite-endpoint continuous-KL
    * arithmetic as the streaming expression (np.histogram last-bin-closed;
    * holdout-scaled expected weights as Scala-precomputed IEEE doubles). */
  private def q71Oracle: String = {
    def qlit(v: Double): String = s"CAST('${v}' AS DOUBLE)"
    def term(p: String, q: String): String =
      s"CASE WHEN $p > 0 THEN $p * ln($p / $q) ELSE 0 END"
    val scaled = CBinWeights.map(_ * (1 - CTail))
    val binSel = CBinWeights.indices.map { i =>
      val hi = if (i == CBinWeights.size - 1) s"value <= ${CBinEdges(i + 1)}"
               else s"value < ${CBinEdges(i + 1)}"
      s"CAST(sum(CASE WHEN value >= ${CBinEdges(i)} AND $hi THEN 1 ELSE 0 END) AS BIGINT) AS b$i"
    }
    val terms =
      term(s"(CAST(below_count AS DOUBLE) / nn)", qlit(CTail / 2)) +:
        CBinWeights.indices.map(i =>
          term(s"(CAST(b$i AS DOUBLE) / nn)", qlit(scaled(i)))) :+
        term(s"(CAST(above_count AS DOUBLE) / nn)", qlit(CTail / 2))
    s"""SELECT day, element_count, b0, b1, b2, b3, below_count, above_count,
       |  nn AS nonnull_count,
       |  NOT ((${terms.mkString(" + ")}) <= $CThreshold) AS drift
       |FROM (
       |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       |    count(*) AS element_count,
       |    ${binSel.mkString(",\n    ")},
       |    CAST(sum(CASE WHEN value < ${CBinEdges.head} THEN 1 ELSE 0 END) AS BIGINT) AS below_count,
       |    CAST(sum(CASE WHEN value > ${CBinEdges.last} THEN 1 ELSE 0 END) AS BIGINT) AS above_count,
       |    CAST(count(value) AS BIGINT) AS nn
       |  FROM events GROUP BY 1) w
       |ORDER BY day""".stripMargin
  }

  /** Same KL arithmetic as the streaming expression: p from counts, q
    * coefficients precomputed in SCALA and emitted as CAST('…' AS DOUBLE)
    * (a bare 17-digit literal would go through DuckDB DECIMAL and can
    * misround; DuckDB also evaluates 0.2*0.9 in exact decimal ≠ IEEE). */
  private def q70Oracle: String = {
    def qlit(v: Double): String = s"CAST('${v}' AS DOUBLE)"
    val coeffs = DriftWeights.map(w => w / DriftWeights.sum * (1 - DriftTail))
    def term(p: String, q: String): String =
      s"CASE WHEN $p > 0 THEN $p * ln($p / $q) ELSE 0 END"
    val names = Seq("n_click", "n_view", "n_purchase")
    val terms = names.zip(coeffs).map { case (n, q) =>
      term(s"(CAST($n AS DOUBLE) / nn)", qlit(q))
    } :+ term("(CAST(nn - n_click - n_view - n_purchase AS DOUBLE) / nn)",
      qlit(DriftTail))
    s"""SELECT day, element_count, n_click, n_view, n_purchase,
       |  nn AS nonnull_count, nn - n_click - n_view - n_purchase AS other_count,
       |  NOT ((${terms.mkString(" + ")}) <= $DriftThreshold) AS drift
       |FROM (
       |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       |    count(*) AS element_count,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       |    CAST(count(event_type) AS BIGINT) AS nn
       |  FROM events GROUP BY 1) w
       |ORDER BY day""".stripMargin
  }
}

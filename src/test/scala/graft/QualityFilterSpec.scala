package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.transcripts.{Checkpoint, QualityFilter, Transcripts, Turn}

/** Hand-labeled keep/drop + scrub cases for the quality-filter pipeline
  * (FIXTURES.md §3). */
class QualityFilterSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  def run(turns: Seq[Turn]): Map[(String, Int), org.apache.spark.sql.Row] = {
    val df = QualityFilter(turns.toDF())
    df.collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r).toMap
  }

  val goodText = "we discussed the project plan with many more details today"

  test("clean English conversation keeps") {
    val rows = run(Seq(
      Turn("c1", 0, "system", goodText, null, ts(0)),
      Turn("c1", 1, "user", "please check the latest results and the team agreed quickly", null, ts(1)),
      Turn("c1", 2, "assistant", goodText, null, ts(2))))
    assert(rows.values.forall(_.getAs[Boolean]("keep")))
    assert(rows.values.forall(r => r.getAs[String]("scrubbed_text") == r.getAs[String]("text")))
  }

  test("email is scrubbed, turn kept, pii flagged") {
    val t = s"$goodText contact me at user42@example.com"
    val rows = run(Seq(Turn("c1", 0, "system", t, null, ts(0))))
    val r = rows(("c1", 0))
    assert(r.getAs[Boolean]("pii_found"))
    assert(r.getAs[Boolean]("email_found"))
    assert(r.getAs[String]("scrubbed_text") == s"$goodText contact me at [EMAIL]")
    assert(r.getAs[Boolean]("keep"))
  }

  test("phone and ssn scrub exact") {
    val t = s"$goodText call 555-123-4567 my ssn is 219-09-9999"
    val r = run(Seq(Turn("c1", 0, "system", t, null, ts(0))))(("c1", 0))
    assert(r.getAs[String]("scrubbed_text") ==
      s"$goodText call [PHONE] my ssn is [SSN]")
    assert(r.getAs[Boolean]("phone_found") && r.getAs[Boolean]("ssn_found"))
  }

  test("profanity drops and is redacted") {
    val t = s"$goodText damn it"
    val r = run(Seq(Turn("c1", 0, "system", t, null, ts(0))))(("c1", 0))
    assert(r.getAs[Boolean]("tox_found"))
    assert(!r.getAs[Boolean]("keep"))
    assert(r.getAs[String]("scrubbed_text") == s"$goodText [REDACTED] it")
  }

  test("non-English drops via langid + ppl") {
    val r = run(Seq(Turn("c1", 0, "system",
      "der die das und nicht ich sie wir haben sein werden", null, ts(0))))(("c1", 0))
    assert(!r.getAs[Boolean]("lang_ok"))
    assert(!r.getAs[Boolean]("ppl_ok"))
    assert(!r.getAs[Boolean]("keep"))
  }

  test("repetition drops") {
    val r = run(Seq(Turn("c1", 0, "system",
      "again again again again again again again again again again", null,
      ts(0))))(("c1", 0))
    assert(!r.getAs[Boolean]("rep_ok"))
    assert(!r.getAs[Boolean]("keep"))
  }

  test("symbol noise and empty drop") {
    val rows = run(Seq(
      Turn("c1", 0, "system", "!!! ### $$$ %%% ^^^ &&&", null, ts(0)),
      Turn("c1", 1, "user", "", null, ts(1))))
    assert(!rows(("c1", 0)).getAs[Boolean]("symbol_ok"))
    assert(!rows(("c1", 1)).getAs[Boolean]("len_ok"))
    assert(rows.values.forall(!_.getAs[Boolean]("keep")))
  }

  test("role sequence: first turn must be system; no duplicate roles except tool") {
    val rows = run(Seq(
      Turn("c1", 0, "user", goodText, null, ts(0)), // bad: not system
      Turn("c1", 1, "assistant", goodText, null, ts(1)),
      Turn("c1", 2, "assistant", goodText, null, ts(2)), // bad: duplicate
      Turn("c1", 3, "tool", goodText, "checkout", ts(3)),
      Turn("c1", 4, "tool", goodText, "checkout", ts(4)), // ok: tool streak
      Turn("c1", 5, "operator", goodText, null, ts(5)))) // bad: invalid role
    assert(!rows(("c1", 0)).getAs[Boolean]("role_seq_ok"))
    assert(rows(("c1", 1)).getAs[Boolean]("role_seq_ok"))
    assert(!rows(("c1", 2)).getAs[Boolean]("role_seq_ok"))
    assert(rows(("c1", 3)).getAs[Boolean]("role_seq_ok"))
    assert(rows(("c1", 4)).getAs[Boolean]("role_seq_ok"))
    assert(!rows(("c1", 5)).getAs[Boolean]("role_seq_ok"))
  }

  test("ppl scoring is exact (multiples of 0.5 sum exactly)") {
    // "the quick brown fox jumps": -1.0 + 4*-2.5 = -11.0; avg = -2.2
    val r = run(Seq(Turn("c1", 0, "system",
      "the quick brown fox jumps", null, ts(0))))(("c1", 0))
    assert(r.getAs[Double]("avg_logprob") == -11.0 / 5)
  }

  /** Independent reference for every QualityFilter column plus the
    * kernel's raw counts (en_hits, n_distinct, n_symbols), written with
    * Spark built-ins only (split, array_distinct, regexp_replace, rlike,
    * aggregate over a literal vocab map) — the formulation the DuckDB
    * oracle (TranscriptOracles.qfTurnsSql) uses, sharing none of the
    * QfScore kernel's loops. */
  private def referenceFilter(t: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import QualityFilter._
    val text = col("text")
    val words = filter(split(lower(text), "[^a-z]+"), w => w =!= "")
    val tokens = split(trim(text), " +")
    val nTok = when(trim(text) === "", 0).otherwise(size(tokens))
    val nDistinct = when(trim(text) === "", 0).otherwise(size(array_distinct(tokens)))
    val vocab = typedLit(unigramLogProb)
    val stop = typedLit(enStopwords.toSeq)
    val lpSum = aggregate(words, lit(0.0),
      (acc, w) => acc + coalesce(try_element_at(vocab, w), lit(OovLogProb)))
    val avg = when(size(words) === 0, lit(OovLogProb)).otherwise(lpSum / size(words))
    val nSym = length(regexp_replace(text, "[a-zA-Z0-9 ]", ""))
    val symRatio = when(length(text) === 0, lit(1.0))
      .otherwise(nSym.cast("double") / length(text).cast("double"))
    val distinctRatio = when(nTok === 0, lit(0.0))
      .otherwise(nDistinct.cast("double") / nTok.cast("double"))
    val prev = lag(col("role"), 1).over(
      Window.partitionBy(col("conv_id")).orderBy(col("turn_idx")))
    val scrubbed = Seq(EmailRe -> "[EMAIL]", SsnRe -> "[SSN]",
      PhoneRe -> "[PHONE]", ToxRe -> "[REDACTED]")
      .foldLeft(text) { case (c, (re, rep)) => regexp_replace(c, re, rep) }
    t.withColumn("en_hits", size(filter(words, w => array_contains(stop, w))))
      .withColumn("n_distinct", nDistinct)
      .withColumn("n_symbols", nSym)
      .withColumn("role_seq_ok", col("role").isin(AllowedRoles: _*) &&
        (col("turn_idx") =!= 0 || col("role") === "system") &&
        (prev.isNull || col("role") =!= prev || col("role") === "tool"))
      .withColumn("lang_ok", col("en_hits") >= MinStopwordHits)
      .withColumn("avg_logprob", avg)
      .withColumn("ppl_ok", avg >= PplThreshold)
      .withColumn("n_tokens", nTok)
      .withColumn("len_ok", nTok.between(3, 64) && length(text) <= 500)
      .withColumn("symbol_ok", symRatio <= 0.25)
      .withColumn("rep_ok", nTok < 8 || distinctRatio >= 0.5)
      .withColumn("email_found", text.rlike(EmailRe))
      .withColumn("phone_found", text.rlike(PhoneRe))
      .withColumn("ssn_found", text.rlike(SsnRe))
      .withColumn("tox_found", text.rlike(ToxRe))
      .withColumn("pii_found",
        col("email_found") || col("phone_found") || col("ssn_found"))
      .withColumn("scrubbed_text", scrubbed)
      .withColumn("keep", col("lang_ok") && col("ppl_ok") && col("len_ok") &&
        col("symbol_ok") && col("rep_ok") && col("role_seq_ok") && !col("tox_found"))
  }

  test("QualityFilter ≡ built-in reference on every column") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // the synthesized corpus plants every rule; the hand rows add the
    // edges: blank text, case, runs of spaces, supplementary-plane and
    // non-ASCII symbols, and PII made adjacent by an earlier substitution
    val edges = Seq(
      "", "   ", "The  QUICK brown   Fox and the dog",
      "we \uD83D\uDE00 discussed caf\u00e9 the plan with the team",
      "reach me a@b.com555-123-4567 and the dog",
      "a@b.co 219-09-9999 x 555-123-4567 damn the damned plan",
      "damn damn damn", "__ -- the and __ ~~ ~~")
      .zipWithIndex.map { case (txt, i) => Turn("edge", i, "system", txt, null, ts(i)) }
      .toDF()
    val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .unionByName(edges)
    // the raw counts reach the output only through thresholds, so they are
    // pinned too: an off-by-one symbol count must not hide below 0.25
    val got = QualityFilter(t)
      .withColumn("__qf", graft.functions.QfScore.qf_score(col("text")))
      .withColumn("en_hits", col("__qf.en_hits"))
      .withColumn("n_distinct", col("__qf.n_distinct"))
      .withColumn("n_symbols", col("__qf.n_symbols"))
      .drop("__qf")
    val want = referenceFilter(t)
    assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq)
    val cols = got.columns.sorted.toSeq
    val a = got.select(cols.head, cols.tail: _*)
    val b = want.select(cols.head, cols.tail: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      a.exceptAll(b).limit(5).collect().mkString("\n"))
    // the compare covers every rule outcome, not only the common one
    val flags = Seq("lang_ok", "ppl_ok", "len_ok", "symbol_ok", "rep_ok",
      "email_found", "phone_found", "ssn_found", "tox_found", "keep")
    val r = got.agg(count(lit(1)), flags.map(f => sum(col(f).cast("int"))): _*).head()
    flags.zipWithIndex.foreach { case (f, i) =>
      val n = r.getLong(i + 1)
      assert(n > 0 && n < r.getLong(0), s"$f is constant over the fixture")
    }
  }

  test("adjacent PII: earlier substitution enables later pattern, as chained") {
    import org.apache.spark.sql.functions.col
    // "…com555-…" has no \b before 555 in the ORIGINAL text; the [EMAIL]
    // substitution creates one — the chained regexp_replace (and the DuckDB
    // oracle) scrub the phone, so the engine must too
    val d = Seq((1L, "reach me a@b.com555-123-4567")).toDF("id", "text")
    val q = d.select(graft.functions.QfScore.qf_score(col("text")).as("s"))
      .select(col("s.scrubbed_text"), col("s.phone_found")).head()
    assert(q.getString(0) == "reach me [EMAIL][PHONE]", q.getString(0))
    assert(!q.getBoolean(1)) // flag reflects the ORIGINAL text (no \b there)
  }

  test("replicated user_ids keep distinct conversations (no lpad truncation)") {
    val t = Bench.replicatedTranscripts(spark, "/root/testdata/sf0.001", 3)
    val users = t.select("conv_id").distinct().count()
    val base = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .select("conv_id").distinct().count()
    assert(users == base * 3, s"replication must multiply conversations: $users vs $base")
    // and (conv_id, turn_idx) stays unique — the window-shape invariant
    assert(t.select("conv_id", "turn_idx").distinct().count() == t.count())
  }

  test("synthesized transcripts: deterministic, ordered, conv-unique") {
    val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val n = t.count()
    assert(n == 1000)
    assert(t.select("conv_id", "turn_idx").distinct().count() == n)
    val again = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    assert(t.exceptAll(again).isEmpty)
  }

  test("salted conv stats match unsalted groupBy") {
    val filtered = QualityFilter(Transcripts.fromEvents(spark, "/root/testdata/sf0.001"))
    val salted = QualityFilter.convStatsSalted(filtered, 8)
      .orderBy("conv_id").collect()
    val plain = filtered.groupBy("conv_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_turns"))
      .orderBy("conv_id").collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("qf plan: clustered+sorted cached input runs the role-seq window " +
      "with NO Exchange and NO Sort") {
    import org.apache.spark.sql.functions.col
    // the layout a 10^12-turn deployment writes once as the table's sort
    // order: the cached scan forwards partitioning+ordering, so the
    // per-conversation window must add neither a shuffle nor a sort
    val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .repartition(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .persist()
    try {
      t.count()
      // assert over the plan ABOVE the cache boundary only — the
      // InMemoryRelation's child records the one-time layout job (its
      // Exchange/Sort is the table write, outside the steady-state query)
      val full = QualityFilter(t).queryExecution.executedPlan.toString
      val plan = full.substring(0, full.indexOf("InMemoryRelation"))
      assert(plan.contains("InMemoryTableScan"), s"expected cached scan:\n$full")
      assert(!plan.contains("Exchange"),
        s"unexpected Exchange in the quality-filter plan:\n$plan")
      assert(!plan.split("\n").exists(l =>
          l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort ")),
        s"unexpected Sort in the quality-filter plan:\n$plan")
    } finally { t.unpersist(); () }
  }

  test("qf plan from events: ONE conv_id exchange serves both windows; " +
      "the fresh-run write observes one metric") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new AdaptiveSparkPlanHelper {}
    val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val q = QualityFilter(t)
    q.collect()
    // the final AQE plan, query stages included
    val plan = q.queryExecution.executedPlan
    val shuffles = plans.collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1,
      s"expected one exchange, got ${shuffles.map(_.outputPartitioning)}")
    shuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), _) =>
        assert(a.name == "conv_id", s"exchange keyed on ${a.name}")
      case p => fail(s"exchange is not hash(conv_id): $p")
    }

    val metrics = collection.mutable.ArrayBuffer.empty[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
        metrics.synchronized {
          metrics ++= plans.collect(qe.executedPlan) {
            case c: CollectMetricsExec => c.metricExpressions.size }
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Checkpoint.runResumable(t, tempDir("qf_plan"), buckets = 64)
      org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
      assert(metrics.synchronized(metrics.toList) == List(1),
        "fresh-run write: one CollectMetrics with one metric")
    } finally spark.listenerManager.unregister(listener)
  }

  test("conv_id is the conversation key: user_ids that lpad truncates to one " +
      "conv_id form ONE conversation with unique turn_idx") {
    // lpad(…, 12, '0') keeps the first 12 characters, so both ids render
    // 'conv-100000000000'; numbering per user_id would repeat turn_idx 0..2
    val dir = tempDir("conv_key")
    Seq(1000000000000L, 1000000000001L).zipWithIndex.flatMap { case (u, i) =>
      (0 until 3).map(k => (100L * i + k, ts(10L * k + i), u, "view"))
    }.toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val t = Transcripts.fromEvents(spark, dir)
    val rows = t.select("conv_id", "turn_idx").orderBy("turn_idx").collect()
    assert(rows.map(_.getString(0)).toSet == Set("conv-100000000000"))
    assert(rows.map(_.getInt(1)).toSeq == (0 until 6))
  }

  test("repetition_stats: counts, top word, 2-gram dups, growth, null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import graft.functions.RepetitionStats.repetition_stats
    import spark.implicits._
    def stats(s: String): Row =
      Seq(s).toDF("t").select(repetition_stats(col("t")).as("r"))
        .select("r.*").collect().head
    // "a a a b b c": 6 words, 3 distinct, top=3; 2-grams
    // [a a, a a, a b, b b, b c] → 5 total, 4 distinct
    assert(stats("a a a b b c") == Row(6, 3, 3, 5, 4))
    assert(stats("solo") == Row(1, 1, 1, 0, 0))
    // growth past the 256-entry scratch: 300 distinct + 5 repeats of w0
    val many = ((0 until 300).map(i => s"w$i") ++ Seq.fill(5)("w0")).mkString(" ")
    assert(stats(many) == Row(305, 300, 6, 304, 301))
    // null → all-zero row (engine treats missing text as empty)
    val r = Seq((1, Option.empty[String])).toDF("id", "t")
      .select(repetition_stats(col("t")).as("r")).select("r.*").collect().head
    assert(r == Row(0, 0, 0, 0, 0))
  }
}

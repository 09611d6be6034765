package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Round-4 training-data-pipeline additions: benchmark decontamination,
  * Gopher-style repetition metrics, weighted source mixing, and C4-style
  * keep-first dedup — each with a bit-parity DuckDB oracle built from the
  * same constants. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    ScanSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))

  private val normSql = graft.functions.TextFunctions.normTextSql("text")

  /** Guarded word list: DuckDB string_split('') is [''] (1 word) but the
    * engine's tokens('') is [] — the CASE keeps empty docs at 0 words. */
  private val wordsSql =
    s"CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[]) ELSE string_split($normSql, ' ') END"

  /** The q57 shingle CTE pair (docs must already be bound upstream). */
  private val shingleCtes =
    s"""normd AS (SELECT doc_id, string_split($normSql, ' ') AS w, $normSql AS norm FROM docs),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |  THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |  ELSE [norm] END) AS s FROM normd)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    /** Benchmark decontamination: docs sharing any 3-gram shingle with the
      * (doc_id % 37 = 0) benchmark slice, with distinct-shingle hit
      * counts. Broadcast semi-join — no corpus shuffle. */
    "q73_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(
        corpus = d.filter(col("doc_id") % 37 =!= 0),
        benchmark = d.filter(col("doc_id") % 37 === 0),
        idCol = "doc_id", textCol = "text")
        .orderBy("doc_id")
    }),

    /** Gopher-style repetition signals per document: most-common-word
      * fraction and duplicate-2-gram fraction, from ONE map-side pass
      * (native repetition_stats) — integer counts, so fractions are a
      * single bit-deterministic IEEE division on both sides. */
    "q74_repetition" -> ((s, dir) =>
      graft.core.TextProfiler.annotate(docs(s, dir), "text")
        .select("doc_id", "n_words", "n_distinct", "top_count",
          "top_word_frac", "dup_2gram_frac")
        .orderBy("doc_id")),

    /** Weighted source mixing: sample each of the 20 sources at a rate
      * cycling 1.0/0.5/0.25/0.125 (binary fractions → exact thresholds),
      * then report achieved counts per source. */
    "q75_mix_sample" -> ((s, dir) => {
      graft.sources.Partitioners.sampleWeighted(
          docs(s, dir), "doc_id", "source", mixRates)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "q76_keepfirst_turns" -> (q76(_, _)),

    /** Exact-moment stddev through the ENGINE path (exactMoments = true):
      * integer-valued l_quantity makes the sum-of-squares form
      * bit-reproducible, so the stdev metric — Welford-only and therefore
      * golden-only until now — gets a full value oracle. Mean rides along
      * (sum/count is exact for the same reason). */
    "q77_stdev_exact" -> ((s, dir) => {
      import s.implicits._
      import graft.core._
      val d = s.read.parquet(s"$dir/lineitem.parquet").selectExpr(
        "CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS q")
      val sr = Graft.validate(d, Suite("stdev_exact", Seq(
        ExpectColumnStdevToBeBetween("q", Some(10.0), Some(20.0),
          exactMoments = true),
        ExpectColumnMeanToBeBetween("q", Some(1.0), Some(50.0)))))
      sr.results.map(r => (r.expectationType, r.success,
          r.result("observed_value").asInstanceOf[Number].doubleValue()))
        .toDF("expectation_type", "success", "observed")
        .orderBy("expectation_type")
    }),

    /** Exact-moment z-score (mostly-gated) through the ENGINE path: the
      * per-row |x-mean|/std comparison is bit-deterministic because the
      * injected moments are. Uniform 1..50 has ~58% inside |z|<1, so the
      * 0.9-mostly gate fails — asserted by the oracle's literal FALSE. */
    "q78_zscore_exact" -> ((s, dir) => {
      import s.implicits._
      import graft.core._
      val d = s.read.parquet(s"$dir/lineitem.parquet").selectExpr(
        "CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS q")
      val sr = Graft.validate(d, Suite("z_exact", Seq(
        ExpectColumnValueZScoresToBeLessThan("q", 1.0, doubleSided = true,
          mostly = 0.9, exactMoments = true))))
      sr.results.map(r => (r.expectationType, r.success,
          r.result("element_count").asInstanceOf[Long],
          r.result("unexpected_count").asInstanceOf[Long]))
        .toDF("expectation_type", "success", "element_count",
          "unexpected_count")
    }),

    /** Exact quantiles through the ENGINE path (exact = true): Spark's
      * exact percentile interpolates identically to DuckDB quantile_cont,
      * and integer data at quartiles keeps every interpolated value
      * binary-exact — closing the quantile metric's oracle gap. */
    "q79_quantiles_exact" -> ((s, dir) => {
      import s.implicits._
      import graft.core._
      val d = s.read.parquet(s"$dir/lineitem.parquet").selectExpr(
        "CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS q")
      val qs = Seq(0.25, 0.5, 0.75)
      val sr = Graft.validate(d, Suite("quantiles_exact", Seq(
        ExpectColumnQuantileValuesToBeBetween("q", qs,
          qs.map(_ => (Some(1.0), Some(50.0))), exact = true))))
      val r = sr.results.head
      val obs = r.result("observed_value").asInstanceOf[Map[String, Any]]
      val vals = obs("values").asInstanceOf[Seq[Double]]
      qs.zip(vals).map { case (p, v) => (p, v, r.success) }
        .toDF("quantile", "value", "success").orderBy("quantile")
    }),

    /** Keep/drop F1 — the north-rule acceptance metric — computed by the
      * distributed evaluation operator: the full pipeline's keep label
      * vs a cheaper 3-rule proxy, confusion counts + P/R/F1 in one fused
      * sum-when aggregate (exact longs → bit-deterministic ratios). */
    "q81_keep_f1" -> ((s, dir) => {
      val qf = graft.transcripts.QualityFilter(
        graft.transcripts.Transcripts.fromEvents(s, dir))
      graft.operators.Evaluation.binaryConfusion(qf, col("keep"),
        col("lang_ok") && col("len_ok") && col("role_seq_ok"))
    }),

    /** End-to-end composition of the pipeline operators: decontaminate
      * against the benchmark slice, drop repetitive docs (integer-exact
      * 5·top_count ≤ n_words gate — no float compare), then mix-sample
      * per source; report kept docs + chars per source. Every stage's
      * oracle CTE composes into one DuckDB query. */
    "q82_pipeline_compose" -> ((s, dir) => {
      import graft.functions.{RepetitionStats, TextFunctions}
      val d = docs(s, dir)
      val clean = Dedup.removeContaminated(
        d.filter(col("doc_id") % 37 =!= 0),
        d.filter(col("doc_id") % 37 === 0), "doc_id", "text")
      val rep = clean.withColumn("__r",
          RepetitionStats.repetition_stats(TextFunctions.normText(col("text"))))
        .filter(col("__r.top_count") * 5 <= col("__r.n_words"))
        .drop("__r")
      graft.sources.Partitioners.sampleWeighted(rep, "doc_id", "source", mixRates)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        .orderBy("source")
    }),

    /** Text-column profiler: gates DERIVED from the corpus — token-count
      * quartiles via exact percentile, repetition ceilings as observed
      * maxima (per-row exact divisions + max selection = reproducible). */
    "q83_text_profile" -> ((s, dir) =>
      graft.core.TextProfiler.profileText(docs(s, dir), "text")
        .orderBy("metric")),

    /** Sliding word-window passage chunking (size 20, stride 10) — the
      * reshaping step before a trainer/RAG index; byte-deterministic
      * chunk text from the shared normalized token array. */
    "q85_chunk_words" -> ((s, dir) =>
      graft.operators.Chunking.chunkWords(docs(s, dir), "doc_id", "text",
          size = 20, stride = 10)
        .withColumn("n_words",
          size(split(col("chunk_text"), " ")).cast(IntegerType))
        .orderBy("doc_id", "chunk_idx")),

    /** Conversation-level rollup via the SALTED two-phase aggregation
      * (hot conv_ids split across partial groups before the merge — the
      * skew defense the north star names) — oracle-checked against a
      * plain single-phase GROUP BY. */
    "q89_conv_stats" -> ((s, dir) => {
      val qf = graft.transcripts.QualityFilter(
        graft.transcripts.Transcripts.fromEvents(s, dir))
      graft.transcripts.QualityFilter.convStatsSalted(qf).orderBy("conv_id")
    }),

    /** Conversation-level gating: drop whole conversations whose keep
      * rate falls below 1/2 — integer-exact 2·n_keep ≥ n_turns, the
      * whole-document quality gate stacked on the per-turn filter. */
    "q91_conv_gate" -> ((s, dir) => {
      val qf = graft.transcripts.QualityFilter(
        graft.transcripts.Transcripts.fromEvents(s, dir))
      graft.transcripts.QualityFilter.convStatsSalted(qf)
        .filter(col("n_keep") * 2 >= col("n_turns"))
        .orderBy("conv_id")
    }),

    /** Temperature-flattened mixing (alpha = 1/2) over the skewed
      * first-source-digit grouping (digit '1' covers src1 + src10..19 =
      * 11× the mass of the others): keep rate sqrt(n_g / n_max), rates
      * derived in-plan. */
    "q88_temperature_mix" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("grp", substring(col("source"), 4, 1))
      graft.sources.Partitioners.sampleTemperatureHalf(d, "doc_id", "grp")
        .groupBy("grp").agg(count(lit(1)).as("n_kept"))
        .orderBy("grp")
    }),

    /** Corpus boilerplate census: top-25 3-gram shingles by DOCUMENT
      * frequency — the measurement that tunes the stop-shingle /
      * hot-bucket caps (Lsh.DefaultMaxDf) on a real corpus instead of a
      * guess. Map-side explode → partial-agg groupBy → TakeOrdered
      * (per-partition heaps, never a full sort); gram-text tie-break
      * makes the top-k deterministic. */
    "q93_ngram_census" -> ((s, dir) =>
      Dedup.ngramDocFreqTopK(docs(s, dir), "text", n = 3, k = 25)),

    /** Shard-parallel sequence packing at a 512-word budget: seq_id from
      * the exclusive prefix sum within each source shard. */
    "q86_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("n_words",
        size(graft.functions.TextFunctions.tokens(col("text"))).cast(LongType))
      graft.operators.Chunking.packByCumulativeWords(d, "source", "doc_id",
          "n_words", budget = 512)
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
        .orderBy("source", "seq_id")
    }))

  /** The conv-stats aggregation over qfTurnsSql — ONE definition shared
    * by q89 and q91's oracles so the rollup can never diverge between
    * them. (No stripMargin anywhere near this: qfTurnsSql's interpolated
    * lines start with "||".) */
  private def convStatsAggSql: String =
    s"""SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  CAST(max(turn_idx) AS INT) AS max_turn_idx
FROM (${TranscriptOracles.qfTurnsSql}) q
GROUP BY 1"""

  /** src0..src19 → rate by index mod 4 (shared with the q75 oracle). */
  private val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> Seq(1.0, 0.5, 0.25, 0.125)(i % 4)).toMap

  /** C4-style keep-first exact dedup of transcript turns: first
    * (conv_id, turn_idx) occurrence of each normalized turn text
    * survives; the synthesized transcripts are heavily repetitive, so
    * this prunes most of the corpus. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    // hash once as a named column so keepFirst's key and the output column
    // reference the same expression (not two md5+regexp evaluations), and
    // slim the projection to the three output columns BEFORE keepFirst, so
    // its one exchange carries (conv_id, turn_idx, 32-char hash) ≈ 50 B/turn
    val t = graft.transcripts.Transcripts.fromEvents(s, dir)
      .withColumn("text_hash",
        md5(graft.functions.TextFunctions.normText(col("text"))))
      .select("conv_id", "turn_idx", "text_hash")
    Dedup.keepFirst(t, col("text_hash"),
        Seq(col("conv_id"), col("turn_idx")))
      .select("conv_id", "turn_idx", "text_hash")
      .orderBy("conv_id", "turn_idx")
  }

  /** Shared by q73 (batch) and q80 (stream-static replay of the same
    * computation — identical final answer by construction). */
  val decontaminateOracle: String =
    s"""WITH docs AS (SELECT * FROM documents),
       |$shingleCtes,
       |cpost AS (SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 37 <> 0),
       |bsh AS (SELECT DISTINCT unnest(s) AS sg FROM sh WHERE doc_id % 37 = 0)
       |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |FROM cpost c JOIN bsh b USING (sg) GROUP BY 1 ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q73_decontaminate" -> decontaminateOracle,

    "q93_ngram_census" ->
      s"""WITH docs AS (SELECT * FROM documents),
         |$shingleCtes,
         |posting AS (SELECT doc_id, unnest(s) AS gram FROM sh)
         |SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
         |FROM posting GROUP BY gram
         |ORDER BY n_docs DESC, gram LIMIT 25""".stripMargin,

    "q74_repetition" ->
      s"""WITH docs AS (SELECT * FROM documents),
         |normd AS (SELECT doc_id, $wordsSql AS w FROM docs),
         |wc AS (SELECT doc_id, word, count(*) AS n
         |  FROM (SELECT doc_id, unnest(w) AS word FROM normd) GROUP BY 1, 2),
         |wa AS (SELECT doc_id, CAST(sum(n) AS INT) AS n_words,
         |  CAST(count(*) AS INT) AS n_distinct, CAST(max(n) AS INT) AS top_count
         |  FROM wc GROUP BY 1),
         |g2 AS (SELECT doc_id,
         |  CAST(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END AS INT) AS n2,
         |  CAST(CASE WHEN len(w) >= 2 THEN len(list_distinct(
         |    list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])))
         |    ELSE 0 END AS INT) AS d2 FROM normd)
         |SELECT n.doc_id, COALESCE(n_words, 0) AS n_words,
         |  COALESCE(n_distinct, 0) AS n_distinct,
         |  COALESCE(top_count, 0) AS top_count,
         |  CASE WHEN COALESCE(n_words, 0) = 0 THEN NULL
         |       ELSE CAST(top_count AS DOUBLE) / n_words END AS top_word_frac,
         |  CASE WHEN n2 = 0 THEN NULL
         |       ELSE 1.0 - CAST(d2 AS DOUBLE) / n2 END AS dup_2gram_frac
         |FROM normd n LEFT JOIN wa USING (doc_id) JOIN g2 ON g2.doc_id = n.doc_id
         |ORDER BY n.doc_id""".stripMargin,

    "q75_mix_sample" -> {
      val cases = mixRates.toSeq.sortBy(_._1).map { case (g, r) =>
        s"WHEN source = '$g' THEN ${graft.sources.Partitioners.rateThreshold(r)}"
      }.mkString(" ")
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_kept FROM documents
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
         |  < (CASE $cases ELSE ${graft.sources.Partitioners.rateThreshold(1.0)} END)
         |GROUP BY source ORDER BY source""".stripMargin
    },

    // NOTE: no stripMargin here — the interpolated transcript SQL contains
    // lines beginning with "||" that stripMargin would corrupt into "|"
    "q76_keepfirst_turns" ->
      (graft.transcripts.Transcripts.oracleCtePrefix + s""",
h AS (SELECT conv_id, turn_idx,
  md5(${graft.functions.TextFunctions.normTextSql("text")}) AS text_hash
  FROM transcripts),
r AS (SELECT conv_id, turn_idx, text_hash,
  row_number() OVER (PARTITION BY text_hash ORDER BY conv_id, turn_idx) AS rn
  FROM h)
SELECT conv_id, turn_idx, text_hash FROM r WHERE rn = 1
ORDER BY conv_id, turn_idx"""),

    "q77_stdev_exact" ->
      """WITH s AS (SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL
        |    ELSE l_quantity END AS q FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'expect_column_mean_to_be_between' AS expectation_type,
        |    TRUE AS success, avg(q) AS observed FROM s
        |  UNION ALL
        |  SELECT 'expect_column_stdev_to_be_between', TRUE,
        |    sqrt((sum(q*q) - sum(q)*sum(q)/CAST(count(q) AS DOUBLE))
        |      / (CAST(count(q) AS DOUBLE) - 1.0)) FROM s
        |) u ORDER BY expectation_type""".stripMargin,

    "q78_zscore_exact" ->
      """WITH s AS (SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL
        |    ELSE l_quantity END AS q FROM lineitem),
        |m AS (SELECT sum(q)/CAST(count(q) AS DOUBLE) AS mean,
        |  sqrt((sum(q*q) - sum(q)*sum(q)/CAST(count(q) AS DOUBLE))
        |    / (CAST(count(q) AS DOUBLE) - 1.0)) AS std,
        |  CAST(count(*) AS BIGINT) AS ec FROM s)
        |SELECT 'expect_column_value_z_scores_to_be_less_than' AS expectation_type,
        |  FALSE AS success, m.ec AS element_count,
        |  CAST((SELECT count(*) FROM s, m
        |        WHERE q IS NOT NULL AND NOT (abs((q - m.mean) / m.std) < 1.0))
        |    AS BIGINT) AS unexpected_count
        |FROM m""".stripMargin,

    "q79_quantiles_exact" ->
      """WITH s AS (SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL
        |    ELSE l_quantity END AS q FROM lineitem),
        |l AS (SELECT quantile_cont(q, [0.25, 0.5, 0.75]) AS vs FROM s)
        |SELECT CAST(([0.25, 0.5, 0.75])[i] AS DOUBLE) AS quantile,
        |  vs[i] AS value, TRUE AS success
        |FROM l, (SELECT unnest(generate_series(1, 3)) AS i) t
        |ORDER BY quantile""".stripMargin,

    // no stripMargin: the interpolated transcript SQL has "||" line starts
    "q81_keep_f1" ->
      (s"""SELECT tp, fp, fn, tn,
  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
  CASE WHEN tp * 2 + fp + fn > 0
       THEN CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END AS f1
FROM (
  SELECT CAST(sum(CASE WHEN keep AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN NOT keep AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN keep AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN NOT keep AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM (SELECT keep, (lang_ok AND len_ok AND role_seq_ok) AS pred
        FROM (${TranscriptOracles.qfTurnsSql}) q) p
) c"""),

    "q82_pipeline_compose" -> {
      val cases = mixRates.toSeq.sortBy(_._1).map { case (g, r) =>
        s"WHEN source = '$g' THEN ${graft.sources.Partitioners.rateThreshold(r)}"
      }.mkString(" ")
      s"""WITH docs AS (SELECT * FROM documents),
         |$shingleCtes,
         |bsh AS (SELECT DISTINCT unnest(s) AS sg FROM sh WHERE doc_id % 37 = 0),
         |cont AS (SELECT DISTINCT c.doc_id FROM
         |  (SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 37 <> 0) c
         |  JOIN bsh USING (sg)),
         |clean AS (SELECT d.* FROM docs d WHERE d.doc_id % 37 <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)),
         |gw AS (SELECT doc_id, $wordsSql AS w FROM docs),
         |wc AS (SELECT n.doc_id, word, count(*) AS n
         |  FROM (SELECT gw.doc_id, unnest(gw.w) AS word FROM gw
         |        JOIN clean ON clean.doc_id = gw.doc_id) n GROUP BY 1, 2),
         |wa AS (SELECT doc_id, CAST(sum(n) AS INT) AS n_words,
         |  CAST(max(n) AS INT) AS top_count FROM wc GROUP BY 1),
         |keepids AS (SELECT c.doc_id FROM clean c LEFT JOIN wa USING (doc_id)
         |  WHERE COALESCE(top_count, 0) * 5 <= COALESCE(n_words, 0)),
         |sampled AS (SELECT c.* FROM clean c JOIN keepids USING (doc_id)
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT)
         |    < (CASE $cases ELSE ${graft.sources.Partitioners.rateThreshold(1.0)} END))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars
         |FROM sampled GROUP BY source ORDER BY source""".stripMargin
    },

    "q83_text_profile" ->
      s"""WITH docs AS (SELECT * FROM documents),
         |normd AS (SELECT doc_id, $wordsSql AS w FROM docs),
         |wc AS (SELECT doc_id, word, count(*) AS n
         |  FROM (SELECT doc_id, unnest(w) AS word FROM normd) GROUP BY 1, 2),
         |wa AS (SELECT doc_id, CAST(sum(n) AS INT) AS n_words,
         |  CAST(max(n) AS INT) AS top_count FROM wc GROUP BY 1),
         |g2 AS (SELECT doc_id,
         |  CAST(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END AS INT) AS n2,
         |  CAST(CASE WHEN len(w) >= 2 THEN len(list_distinct(
         |    list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])))
         |    ELSE 0 END AS INT) AS d2 FROM normd),
         |per AS (SELECT n.doc_id, COALESCE(n_words, 0) AS n_words,
         |  CASE WHEN COALESCE(n_words, 0) = 0 THEN NULL
         |       ELSE CAST(top_count AS DOUBLE) / n_words END AS twf,
         |  CASE WHEN n2 = 0 THEN NULL
         |       ELSE 1.0 - CAST(d2 AS DOUBLE) / n2 END AS dgf
         |  FROM normd n LEFT JOIN wa USING (doc_id) JOIN g2 ON g2.doc_id = n.doc_id),
         |agg AS (SELECT quantile_cont(CAST(n_words AS DOUBLE), [0.25, 0.75]) AS q,
         |  max(twf) AS twf, max(dgf) AS dgf FROM per)
         |SELECT * FROM (
         |  SELECT 'token_count_iqr' AS metric, q[1] AS p1, q[2] AS p2 FROM agg
         |  UNION ALL SELECT 'top_word_frac_max', twf, CAST(NULL AS DOUBLE) FROM agg
         |  UNION ALL SELECT 'dup_2gram_frac_max', dgf, CAST(NULL AS DOUBLE) FROM agg
         |) u ORDER BY metric""".stripMargin,

    "q85_chunk_words" ->
      s"""WITH docs AS (SELECT * FROM documents),
         |normd AS (SELECT doc_id, $wordsSql AS w FROM docs),
         |n2 AS (SELECT doc_id, w, len(w) AS n FROM normd),
         |ch AS (SELECT doc_id, s AS chunk_idx,
         |  array_to_string(list_transform(
         |    generate_series(s*10+1, least(s*10+20, n)), j -> w[j]), ' ') AS chunk_text,
         |  CAST(least(s*10+20, n) - s*10 AS INT) AS n_words
         |  FROM n2, unnest(generate_series(0,
         |    CAST(floor(CAST(n-1 AS DOUBLE)/10) AS INT))) AS u(s))
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text, n_words
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // no stripMargin: qfTurnsSql's interpolated lines start with ||
    "q89_conv_stats" -> (convStatsAggSql + "\nORDER BY conv_id"),

    "q91_conv_gate" ->
      (s"""SELECT conv_id, n_turns, n_keep, max_turn_idx FROM (
$convStatsAggSql
) c WHERE n_keep * 2 >= n_turns ORDER BY conv_id"""),

    "q88_temperature_mix" ->
      """WITH d AS (SELECT doc_id, substr(source, 4, 1) AS grp FROM documents),
        |c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |m AS (SELECT max(n) AS nmax FROM c),
        |r AS (SELECT grp, sqrt(CAST(n AS DOUBLE) / CAST(nmax AS DOUBLE)) AS rate
        |      FROM c, m)
        |SELECT d.grp, CAST(count(*) AS BIGINT) AS n_kept
        |FROM d JOIN r USING (grp)
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS DOUBLE)
        |  < rate * 4294967296.0
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    "q86_pack_sequences" ->
      s"""WITH docs AS (SELECT * FROM documents),
         |normd AS (SELECT doc_id, source,
         |  CAST(len($wordsSql) AS BIGINT) AS nw FROM docs),
         |c AS (SELECT *, COALESCE(sum(nw) OVER (PARTITION BY source ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre FROM normd),
         |p AS (SELECT source,
         |  CAST(floor(CAST(pre AS DOUBLE) / 512) AS BIGINT) AS seq_id, nw FROM c)
         |SELECT source, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words
         |FROM p GROUP BY 1, 2 ORDER BY source, seq_id""".stripMargin)
}

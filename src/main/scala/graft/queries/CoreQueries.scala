package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.transcripts.{QualityFilter, Transcripts}
import OracleGen._

/** First-wave queries: the fused validation runner over testdata tables, the
  * transcript synthesis + quality-filter pipeline, and the scan/partition/
  * sample/aggregate operator families — each with a DuckDB oracle. */
object CoreQueries {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A suite's EVR rows ordered by (expectation_type, domain) on the driver,
    * as Spark orders strings (binary UTF-8, nulls first): an `orderBy` on the
    * local relation would start three jobs to sort a dozen rows. */
  private def sortedResults(s: SparkSession, sr: SuiteResult): DataFrame = {
    val df = Graft.resultsToDF(s, sr)
    def key(v: String) = Option(v).map(org.apache.spark.unsafe.types.UTF8String.fromString)
    val rows = df.collect().sortBy(r => (key(r.getString(0)), key(r.getString(1))))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  // --- q01: fused suite over lineitem ---------------------------------------
  private val lineitemSuite = Suite("lineitem_core", Seq(
    ExpectColumnValuesToNotBeNull("l_quantity"),
    ExpectColumnValuesToBeBetween("l_quantity", Some(1), Some(50)),
    ExpectColumnValuesToBeInSet("l_returnflag", Seq("A", "N", "R"), mostly = 0.9),
    ExpectColumnValuesToMatchRegex("l_linestatus", "^[OF]$"),
    ExpectColumnValueLengthsToEqual("l_returnflag", 1),
    ExpectColumnValuesToBeUnique("l_orderkey"),
    ExpectColumnPairValuesAToBeGreaterThanB("l_extendedprice", "l_discount"),
    ExpectSelectColumnValuesToBeUniqueWithinRecord(Seq("l_partkey", "l_suppkey")),
    ExpectColumnMeanToBeBetween("l_quantity", Some(20), Some(30)),
    ExpectColumnMinToBeBetween("l_quantity", Some(0), Some(5)),
    ExpectColumnMaxToBeBetween("l_quantity", Some(45), Some(50)),
    ExpectColumnSumToBeBetween("l_quantity", Some(0), None),
    ExpectColumnUniqueValueCountToBeBetween("l_returnflag", Some(1), Some(5)),
    ExpectTableRowCountToBeBetween(Some(100), None)))

  private val lineitemSuiteOracle: String = {
    def m(tp: String, dom: String, unexp: String, miss: String = "FALSE",
        mostly: Double = 1.0, from: String = "lineitem") =
      mapSql(MapBranch(tp, dom, unexp, miss, mostly, from))
    def a(tp: String, dom: String, obs: String, succ: String) =
      aggSql(AggBranch(tp, dom, obs, succ, "lineitem"))
    union(Seq(
      m("expect_column_values_to_not_be_null", "l_quantity", "l_quantity IS NULL"),
      m("expect_column_values_to_be_between", "l_quantity",
        "l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50)",
        "l_quantity IS NULL"),
      m("expect_column_values_to_be_in_set", "l_returnflag",
        "l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')",
        "l_returnflag IS NULL", 0.9),
      m("expect_column_values_to_match_regex", "l_linestatus",
        "l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$')",
        "l_linestatus IS NULL"),
      m("expect_column_value_lengths_to_equal", "l_returnflag",
        "l_returnflag IS NOT NULL AND length(l_returnflag) <> 1",
        "l_returnflag IS NULL"),
      m("expect_column_values_to_be_unique", "l_orderkey",
        "l_orderkey IS NOT NULL AND __w > 1", "l_orderkey IS NULL", 1.0,
        "(SELECT *, count(*) OVER (PARTITION BY l_orderkey) AS __w FROM lineitem) tt"),
      m("expect_column_pair_values_a_to_be_greater_than_b",
        "l_extendedprice,l_discount",
        "NOT (l_extendedprice IS NULL AND l_discount IS NULL) AND NOT (l_extendedprice > l_discount)",
        "l_extendedprice IS NULL AND l_discount IS NULL"),
      m("expect_select_column_values_to_be_unique_within_record",
        "l_partkey,l_suppkey",
        "NOT (l_partkey IS NULL AND l_suppkey IS NULL) AND (l_partkey IS NOT DISTINCT FROM l_suppkey)",
        "l_partkey IS NULL AND l_suppkey IS NULL"),
      a("expect_column_mean_to_be_between", "l_quantity", "avg(l_quantity)",
        "avg(l_quantity) >= 20 AND avg(l_quantity) <= 30"),
      a("expect_column_min_to_be_between", "l_quantity", "min(l_quantity)",
        "min(l_quantity) >= 0 AND min(l_quantity) <= 5"),
      a("expect_column_max_to_be_between", "l_quantity", "max(l_quantity)",
        "max(l_quantity) >= 45 AND max(l_quantity) <= 50"),
      a("expect_column_sum_to_be_between", "l_quantity", "sum(l_quantity)",
        "sum(l_quantity) >= 0"),
      a("expect_column_unique_value_count_to_be_between", "l_returnflag",
        "count(DISTINCT l_returnflag)",
        "count(DISTINCT l_returnflag) >= 1 AND count(DISTINCT l_returnflag) <= 5"),
      aggSql(AggBranch("expect_table_row_count_to_be_between", null,
        "count(*)", "count(*) >= 100", "lineitem"))))
  }

  // --- q04: suite over synthesized transcripts -------------------------------
  private def transcriptSuite = Suite("transcript_core", Seq(
    ExpectColumnValuesToNotBeNull("text"),
    ExpectColumnValuesToBeInSet("role", QualityFilter.AllowedRoles, mostly = 0.95),
    ExpectCompoundColumnsToBeUnique(Seq("conv_id", "turn_idx")),
    ExpectColumnValuesToBeIncreasing("ts",
      partitionBy = Seq("conv_id"), orderBy = Seq("turn_idx")),
    ExpectColumnValueLengthsToBeBetween("text", None, Some(500)),
    ExpectColumnValuesToNotMatchRegex("text", QualityFilter.EmailRe, mostly = 0.95),
    ExpectTableRowCountToBeBetween(Some(100), None)))

  private val transcriptSuiteOracle: String = {
    val email = QualityFilter.EmailRe
    val branches = union(Seq(
      mapSql(MapBranch("expect_column_values_to_not_be_null", "text",
        "text IS NULL", "FALSE", 1.0, "transcripts")),
      mapSql(MapBranch("expect_column_values_to_be_in_set", "role",
        "role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')",
        "role IS NULL", 0.95, "transcripts")),
      mapSql(MapBranch("expect_compound_columns_to_be_unique", "conv_id,turn_idx",
        "NOT (conv_id IS NULL AND turn_idx IS NULL) AND __w > 1",
        "conv_id IS NULL AND turn_idx IS NULL", 1.0,
        "(SELECT *, count(*) OVER (PARTITION BY conv_id, turn_idx) AS __w FROM transcripts) tt")),
      mapSql(MapBranch("expect_column_values_to_be_increasing", "ts",
        "ts IS NOT NULL AND NOT (__prev IS NULL OR ts >= __prev)",
        "ts IS NULL", 1.0,
        "(SELECT *, last_value(ts IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __prev FROM transcripts) tt")),
      mapSql(MapBranch("expect_column_value_lengths_to_be_between", "text",
        "text IS NOT NULL AND NOT (length(text) <= 500)", "text IS NULL", 1.0,
        "transcripts")),
      mapSql(MapBranch("expect_column_values_to_not_match_regex", "text",
        s"text IS NOT NULL AND regexp_matches(text, '$email')", "text IS NULL",
        0.95, "transcripts")),
      aggSql(AggBranch("expect_table_row_count_to_be_between", null,
        "count(*)", "count(*) >= 100", "transcripts"))))
    s"${Transcripts.oracleCtePrefix} SELECT * FROM ($branches) u ORDER BY expectation_type, domain NULLS FIRST"
  }

  private val qfTurnsCols = Seq("conv_id", "turn_idx", "role", "text", "tool",
    "ts", "n_tokens", "lang_ok", "ppl_ok", "avg_logprob", "len_ok", "symbol_ok",
    "rep_ok", "role_seq_ok", "email_found", "phone_found", "ssn_found",
    "pii_found", "tox_found", "scrubbed_text", "keep")

  // ---------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_suite_lineitem" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // spread by l_orderkey when the scan cannot split (ScanSpread), so the
      // uniqueness groupBy needs no further exchange. Results are
      // partitioning-invariant: counts/sums are exact and the observed
      // means are integer-valued exact sums (oracle float-parity rules).
      // (measured: pinning the spread with localCheckpoint to share one
      // shuffle across the suite's branches cost MORE than a re-shuffle per
      // branch, so each branch keeps its own scan+spread)
      val li = ScanSpread(t(dir, "lineitem")
        .select("l_quantity", "l_returnflag", "l_linestatus", "l_orderkey",
          "l_extendedprice", "l_discount", "l_partkey", "l_suppkey"),
        col("l_orderkey"))
      sortedResults(s, Graft.validate(li, lineitemSuite))
    }),
    "q02_transcripts" -> ((s, dir) =>
      Transcripts.fromEvents(s, dir).orderBy("conv_id", "turn_idx")),
    "q03_qf_turns" -> ((s, dir) =>
      QualityFilter(Transcripts.fromEvents(s, dir))
        .select(qfTurnsCols.map(col): _*).orderBy("conv_id", "turn_idx")),
    "q04_suite_transcripts" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      sortedResults(s, Graft.validate(Transcripts.fromEvents(s, dir), transcriptSuite))
    }),
    "q05_q1_agg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // spread before the aggregation when the scan cannot split
      // (ScanSpread), so the decimal partial agg runs on all cores (sums are
      // exact decimals / integer-valued doubles — partitioning-invariant);
      // column pruning pushes through the repartition, so the shuffle
      // carries only the 5 referenced columns
      ScanSpread(t(dir, "lineitem"), col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          avg(col("l_quantity")).as("avg_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DecimalType(30, 4)).as("revenue"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q06_partition_year_month" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // partitioner: partition_on_year_and_month (sparkdf_data_partitioner.py:51)
      // as a RANGE predicate so it reaches the parquet scan (PushedFilters)
      graft.sources.Partitioners.onYearMonth(t(dir, "events"), "ts", 2024, 1)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),
    "q07_sample_mod" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // sampler: sample_using_mod (sparkdf_data_sampler.py:68-74)
      t(dir, "events").filter(col("event_id") % 10 === 3)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),
    "q08_sample_hash" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // sampler: sample_using_hash via md5 (sparkdf_data_sampler.py:120-165
      // matches on the TRAILING hash digits, as Partitioners.sampleHash does)
      graft.sources.Partitioners.sampleHash(t(dir, "events"), "event_id", 1, "a")
        .select(col("event_id"), col("event_type")).orderBy(col("event_id"))
    }),
    "q09_column_stats" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "lineitem").agg(
        min(col("l_quantity")).as("min_q"),
        max(col("l_quantity")).as("max_q"),
        sum(col("l_quantity")).as("sum_q"),
        avg(col("l_quantity")).as("mean_q"),
        count_distinct(col("l_returnflag")).as("distinct_rf"),
        percentile(col("l_quantity"), lit(0.5)).as("median_q"),
        count(lit(1)).as("n"))
    }),
    "q10_histogram" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // column.histogram: uniform bins of width 7 from 1 (column_histogram.py:210-281)
      t(dir, "lineitem")
        .select(floor((col("l_quantity") - 1) / 7).cast(IntegerType).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n")).orderBy(col("bucket"))
    }),
    "q11_value_counts" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // column.value_counts (column_value_counts.py:138-180): nulls dropped
      t(dir, "lineitem").filter(col("l_returnflag").isNotNull)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q12_row_condition" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // row_condition compute-domain (sparkdf_execution_engine.py:665-676)
      val suite = Suite("cond", Seq(
        ExpectColumnValuesToBeBetween("l_quantity", Some(1), Some(50),
          rowCondition = Some("l_shipdate >= TIMESTAMP '1995-07-01 00:00:00'")),
        ExpectColumnMeanToBeBetween("l_quantity", Some(10), Some(40),
          rowCondition = Some("l_shipdate >= TIMESTAMP '1995-07-01 00:00:00'"))))
      Graft.resultsToDF(s, Graft.validate(t(dir, "lineitem"), suite))
        .orderBy("expectation_type")
    }),
    "q13_unexpected_rows" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val suite = Suite("ur", Seq(UnexpectedRowsExpectation(
        "SELECT * FROM {batch} WHERE l_quantity > 100")))
      Graft.resultsToDF(s, Graft.validate(t(dir, "lineitem"), suite))
    }))

  val oracles: Map[String, String] = Map(
    "q01_suite_lineitem" ->
      s"SELECT * FROM (${lineitemSuiteOracle}) u ORDER BY expectation_type, domain NULLS FIRST",
    "q02_transcripts" ->
      s"${Transcripts.oracleCtePrefix} SELECT * FROM transcripts ORDER BY conv_id, turn_idx",
    "q03_qf_turns" -> TranscriptOracles.qfTurnsSql,
    "q04_suite_transcripts" -> transcriptSuiteOracle,
    "q05_q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | avg(l_quantity) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(30,4)) AS revenue,
        | count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q06_partition_year_month" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE year(ts) = 2024 AND month(ts) = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_sample_mod" ->
      "SELECT event_id, user_id, event_type FROM events WHERE event_id % 10 = 3 ORDER BY event_id",
    "q08_sample_hash" ->
      "SELECT event_id, event_type FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 32, 1) = 'a' ORDER BY event_id",
    "q09_column_stats" ->
      """SELECT min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        | sum(l_quantity) AS sum_q, avg(l_quantity) AS mean_q,
        | count(DISTINCT l_returnflag) AS distinct_rf,
        | median(l_quantity) AS median_q, count(*) AS n FROM lineitem""".stripMargin,
    "q10_histogram" ->
      """SELECT CAST(floor((l_quantity - 1) / 7) AS INT) AS bucket, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_value_counts" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_returnflag IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_row_condition" -> (union(Seq(
      mapSql(MapBranch("expect_column_values_to_be_between", "l_quantity",
        "l_quantity IS NOT NULL AND NOT (l_quantity >= 1 AND l_quantity <= 50)",
        "l_quantity IS NULL", 1.0,
        "(SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-07-01 00:00:00') tt")),
      aggSql(AggBranch("expect_column_mean_to_be_between", "l_quantity",
        "avg(l_quantity)", "avg(l_quantity) >= 10 AND avg(l_quantity) <= 40",
        "(SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-07-01 00:00:00') tt")))) +
      " ORDER BY expectation_type"),
    "q13_unexpected_rows" ->
      """SELECT 'unexpected_rows_expectation' AS expectation_type,
        | CAST(NULL AS VARCHAR) AS domain, count(*) = 0 AS success,
        | CAST(NULL AS BIGINT) AS element_count, CAST(NULL AS BIGINT) AS missing_count,
        | CAST(count(*) AS BIGINT) AS unexpected_count, CAST(NULL AS DOUBLE) AS observed
        |FROM lineitem WHERE l_quantity > 100""".stripMargin)
}

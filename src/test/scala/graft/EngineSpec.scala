package graft

import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // SQL registration under test
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Engine semantics ported from the reference's golden corpus shapes
  * (FIXTURES.md §2): null handling (§1.3), mostly math, vacuous truth,
  * result-format fields, caps, window conditions, pair ignore_row_if. */
class EngineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical fixture: x dense ints, z ints with nulls, alpha strings. */
  lazy val df: DataFrame = {
    val rows = (1 to 10).map { i =>
      (i, if (i <= 5) Some(i) else None,
        ('a' + i - 1).toChar.toString, if (i % 2 == 0) "even" else "odd")
    }
    rows.toDF("x", "z", "alpha", "parity")
  }

  def one(e: Expectation, format: ResultFormat = ResultFormat.Summary): Evr =
    Graft.validate(df, Suite("t", Seq(e)), format).results.head

  test("null semantics: element/missing/nonnull counts (§1.3)") {
    val r = one(ExpectColumnValuesToBeBetween("z", Some(1), Some(3)))
    assert(r.result("element_count") == 10L)
    assert(r.result("missing_count") == 5L)
    assert(r.result("unexpected_count") == 2L) // 4, 5
    assert(!r.success)
    // count identity: element = missing + nonnull
    assert(r.result("element_count").asInstanceOf[Long] ==
      r.result("missing_count").asInstanceOf[Long] + 5L)
  }

  test("mostly threshold: (nonnull - unexpected)/nonnull >= mostly") {
    assert(one(ExpectColumnValuesToBeBetween("z", Some(1), Some(3), mostly = 0.6)).success)
    assert(!one(ExpectColumnValuesToBeBetween("z", Some(1), Some(3), mostly = 0.61)).success)
  }

  test("vacuous truth on empty domain") {
    val empty = df.filter("x > 100")
    val r = Graft.validate(empty,
      Suite("t", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(2))))).results.head
    assert(r.success)
    assert(r.result("element_count") == 0L)
    assert(r.result("unexpected_percent") == null)
  }

  test("to_be_null / not_be_null use unfiltered denominator") {
    val r = one(ExpectColumnValuesToBeNull("z", mostly = 0.5))
    assert(r.success) // 5/10 nulls >= 0.5
    assert(r.result("missing_count") == 0L)
    val r2 = one(ExpectColumnValuesToNotBeNull("z", mostly = 0.5))
    assert(r2.success)
    assert(r2.result("unexpected_count") == 5L)
  }

  test("result format BOOLEAN_ONLY strips result fields") {
    val r = one(ExpectColumnValuesToBeBetween("x", Some(1), Some(5)),
      ResultFormat.BooleanOnly)
    assert(r.result.isEmpty)
  }

  test("BASIC/SUMMARY fields and partial_unexpected caps") {
    val big = (1 to 100).toDF("x")
    val r = Graft.validate(big,
      Suite("t", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(10)))),
      ResultFormat.Summary).results.head
    assert(r.result("unexpected_count") == 90L)
    val partial = r.result("partial_unexpected_list").asInstanceOf[Seq[_]]
    assert(partial.size == 20) // MAX partial cap
    val counts = r.result("partial_unexpected_counts").asInstanceOf[Seq[_]]
    assert(counts.nonEmpty)
  }

  test("COMPLETE unexpected_list capped at 200 and index list present") {
    val big = (1 to 400).toDF("x")
    val sr = new SuiteRunner(ResultFormat.Complete, idColumns = Seq("x"))
      .run(big, Suite("t", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(10)))))
    val r = sr.results.head
    assert(r.result("unexpected_list").asInstanceOf[Seq[_]].size == 200)
    assert(r.result("unexpected_index_list").asInstanceOf[Seq[_]].size == 200)
  }

  test("in_set with empty set marks all non-null values unexpected") {
    val r = one(ExpectColumnValuesToBeInSet("alpha", Nil))
    assert(!r.success)
  }

  test("unique window condition: duplicates unexpected, nulls masked") {
    val d = Seq(Some(1), Some(1), Some(2), None, None).toDF("v")
    val r = Graft.validate(d,
      Suite("t", Seq(ExpectColumnValuesToBeUnique("v")))).results.head
    assert(r.result("unexpected_count") == 2L)
    assert(r.result("missing_count") == 2L)
    assert(!r.success)
  }

  test("increasing within partition, null-skipping lag") {
    val d = Seq(
      ("c1", 1, Some(10)), ("c1", 2, None), ("c1", 3, Some(9)),
      ("c2", 1, Some(1)), ("c2", 2, Some(2))).toDF("conv", "idx", "v")
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValuesToBeIncreasing("v",
        partitionBy = Seq("conv"), orderBy = Seq("idx"))))).results.head
    assert(r.result("unexpected_count") == 1L) // 9 after 10 (null skipped)
  }

  test("pair ignore_row_if both_values_are_missing") {
    val d = Seq(
      (Some(2), Some(1)), (Some(1), Some(2)),
      (None, Some(1)), (None, None)).toDF("a", "b")
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnPairValuesAToBeGreaterThanB("a", "b")))).results.head
    assert(r.result("element_count") == 4L)
    assert(r.result("missing_count") == 1L) // only the all-null row
    // (1,2) fails; (null,1) -> a>b is null -> not counted unexpected
    assert(r.result("unexpected_count") == 1L)
  }

  test("pair values in set (null-safe struct membership)") {
    val d = Seq((Some(1), Some(2)), (Some(3), Some(4)), (None, None),
      (Some(1), None)).toDF("a", "b")
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnPairValuesToBeInSet("a", "b", Seq((1, 2), (1, null)))))).results.head
    assert(r.result("missing_count") == 1L) // the all-null row
    assert(r.result("unexpected_count") == 1L) // (3,4); (1,null) matches via <=>
  }

  test("multicolumn sum equal with coalesce-null-to-zero") {
    val d = Seq((1, 2, 3), (2, 2, 2), (6, 0, 0)).toDF("c1", "c2", "c3")
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectMulticolumnSumToEqual(Seq("c1", "c2", "c3"), 6.0)))).results.head
    assert(r.success)
  }

  test("z-score two-phase resolution") {
    val d = (1 to 99).map(_.toDouble).toDF("v")
      .union(Seq(1000.0).toDF("v"))
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValueZScoresToBeLessThan("v", 3.0, mostly = 0.99)))).results.head
    assert(r.result("unexpected_count") == 1L) // the outlier
    assert(r.success)
  }

  test("exact-moment stdev/z-score agree with Welford and mix in one suite") {
    val d = (1 to 100).toDF("v")
    // (column, exactMoments) keying: both variants of both metrics in ONE
    // suite — each resolves its own moments without colliding
    val sr = Graft.validate(d, Suite("m", Seq(
      ExpectColumnStdevToBeBetween("v", Some(28.0), Some(30.0), exactMoments = true),
      ExpectColumnStdevToBeBetween("v", Some(28.0), Some(30.0)),
      ExpectColumnValueZScoresToBeLessThan("v", 3.0, exactMoments = true),
      ExpectColumnValueZScoresToBeLessThan("v", 3.0))))
    assert(sr.success, sr.results.map(_.exception).mkString("; "))
    val Seq(exact, welford) = sr.results.take(2).map(
      _.result("observed_value").asInstanceOf[Number].doubleValue())
    assert(math.abs(exact - welford) < 1e-9, s"$exact vs $welford")
    // sample sd of 1..100: sum((x-mean)²) = (n³-n)/12 = 83325, over n-1
    assert(math.abs(exact - math.sqrt(83325.0 / 99)) < 1e-12)
    // both z-score variants flag the same (zero) outliers
    assert(sr.results.drop(2).forall(_.result("unexpected_count") == 0L))
  }

  test("exact-moment stdev on a single-row domain: NULL observed, like Welford") {
    val d = Seq(7).toDF("v")
    val sr = Graft.validate(d, Suite("one", Seq(
      ExpectColumnStdevToBeBetween("v", Some(0.0), None, exactMoments = true),
      ExpectColumnStdevToBeBetween("v", Some(0.0), None))))
    // both variants observe NULL at n=1 (Spark 4 default stddev_samp is
    // NULL with legacy.statisticalAggregate off) and fail identically —
    // no DIVIDE_BY_ZERO aborting the fused pass
    assert(sr.results.map(_.success) == Seq(false, false))
    assert(sr.results.forall(_.result("observed_value") == null),
      sr.results.map(_.result("observed_value")).mkString(","))
  }

  test("aggregate expectations share the fused pass and validate bounds") {
    val sr = Graft.validate(df, Suite("t", Seq(
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)),
      ExpectColumnSumToBeBetween("x", Some(55.0), Some(55.0)),
      ExpectColumnStdevToBeBetween("x", Some(2.0), Some(4.0)),
      ExpectTableRowCountToBeBetween(Some(10.0), Some(10.0)))))
    assert(sr.success)
    assert(sr.statistics.successfulExpectations == 4)
  }

  test("schema expectations") {
    val sr = Graft.validate(df, Suite("t", Seq(
      ExpectColumnToExist("x"),
      ExpectColumnValuesToBeOfType("x", "IntegerType"),
      ExpectTableColumnCountToEqual(4),
      ExpectTableColumnsToMatchOrderedList(Seq("x", "z", "alpha", "parity")),
      ExpectTableColumnsToMatchSet(Seq("alpha", "parity", "x", "z")))))
    assert(sr.success)
  }

  test("distinct set expectations") {
    val sr = Graft.validate(df, Suite("t", Seq(
      ExpectColumnDistinctValuesToBeInSet("parity", Seq("even", "odd", "other")),
      ExpectColumnDistinctValuesToContainSet("parity", Seq("even")),
      ExpectColumnDistinctValuesToEqualSet("parity", Seq("even", "odd")))))
    assert(sr.success)
  }

  test("median and quantiles") {
    val r = one(ExpectColumnMedianToBeBetween("x", Some(5.5), Some(5.5)))
    assert(r.success)
    assert(r.result("observed_value") == 5.5)
    val rq = one(ExpectColumnQuantileValuesToBeBetween("x",
      Seq(0.0, 0.5, 1.0),
      Seq((Some(0.0), Some(2.0)), (Some(4.0), Some(7.0)), (Some(9.0), Some(10.0)))))
    assert(rq.success)
  }

  test("KL divergence categorical") {
    val r = one(ExpectColumnKlDivergenceToBeLessThan("parity",
      Seq("even", "odd"), Seq(0.5, 0.5), 0.01))
    assert(r.success)
    assert(r.result("observed_value").asInstanceOf[Double] < 1e-12)
    val r2 = one(ExpectColumnKlDivergenceToBeLessThan("parity",
      Seq("even"), Seq(1.0), 0.5))
    assert(!r2.success) // observed value outside partition → ∞
  }

  test("row_condition defines the compute domain") {
    val r = Graft.validate(df, Suite("t", Seq(
      ExpectColumnValuesToBeBetween("x", Some(6), Some(10),
        rowCondition = Some("parity = 'even'"))))).results.head
    assert(r.result("element_count") == 5L)
    assert(r.result("unexpected_count") == 2L) // 2, 4
  }

  test("failed expectation isolates, suite statistics correct") {
    val sr = Graft.validate(df, Suite("t", Seq(
      ExpectColumnValuesToBeBetween("nonexistent_col", Some(1), Some(2)),
      ExpectColumnValuesToBeBetween("x", Some(1), Some(10)))))
    assert(!sr.results.head.success)
    assert(sr.results.head.exception.isDefined)
    assert(sr.results(1).success)
    assert(sr.statistics.successPercent.contains(50.0))
  }

  test("strftime format translation") {
    val d = Seq("2024-01-02 03:04:05", "not-a-date").toDF("s")
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValuesToMatchStrftimeFormat("s", "%Y-%m-%d %H:%M:%S")))).results.head
    assert(r.result("unexpected_count") == 1L)
  }

  test("row-condition mini-DSL parses the reference grammar") {
    assert(df.filter(RowConditionDsl.toColumn("""col("x") > 5""")).count() == 5)
    assert(df.filter(RowConditionDsl.toColumn("""col("parity") == "even"""")).count() == 5)
    assert(df.filter(RowConditionDsl.toColumn("""col("z").notNull()""")).count() == 5)
    assert(df.filter(RowConditionDsl.toColumn("""col("x") != 1""")).count() == 9)
    intercept[IllegalArgumentException] {
      RowConditionDsl.toColumn("""col("x") > 5 AND col("x") < 7""")
    }
  }

  test("json schema validator subset") {
    import graft.functions.JsonSchema
    val sch = """{"type":"object","required":["k"],"properties":{"k":{"type":"integer","minimum":0}}}"""
    assert(JsonSchema.validates("""{"k": 3}""", sch))
    assert(!JsonSchema.validates("""{"k": -1}""", sch))
    assert(!JsonSchema.validates("""{"k": "s"}""", sch))
    assert(!JsonSchema.validates("""{"j": 3}""", sch))
    assert(!JsonSchema.validates("""{"k": 3}}""", sch)) // trailing token
    assert(JsonSchema.validates("""[1,2]""", """{"type":"array","items":{"type":"integer"}}"""))
    assert(!JsonSchema.validates("""[1,"x"]""", """{"type":"array","items":{"type":"integer"}}"""))
    assert(JsonSchema.validates(""""ab"""", """{"type":"string","minLength":2,"maxLength":3}"""))
    assert(!JsonSchema.validates(""""a"""", """{"type":"string","minLength":2}"""))
    assert(JsonSchema.validates("2", """{"enum":[1,2,3]}"""))
    assert(!JsonSchema.validates("5", """{"enum":[1,2,3]}"""))
    // required constrains only objects (jsonschema semantics)
    assert(JsonSchema.validates(""""hello"""", """{"required":["a"]}"""))
    assert(!JsonSchema.validates("""{"b":1}""", """{"required":["a"]}"""))
  }

  test("unexpected rows query expectation") {
    val sr = Graft.validate(df, Suite("t", Seq(
      UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > 100"),
      UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > 5"))))
    assert(sr.results.head.success)
    assert(!sr.results(1).success)
    assert(sr.results(1).result("observed_value") == "5 unexpected rows")
    assert(sr.results(1).result("unexpected_count") == 5L)
  }

  test("result_format parameter object: caps, exclusion, index columns") {
    val big = (1 to 100).toDF("x")
    // custom partial cap
    val r1 = new SuiteRunner(ResultFormatSpec(ResultFormat.Summary,
      partialUnexpectedCount = 3, unexpectedIndexColumnNames = Seq("x")))
      .run(big, Suite("t", Seq(
        ExpectColumnValuesToBeBetween("x", Some(1), Some(10))))).results.head
    assert(r1.result("partial_unexpected_list").asInstanceOf[Seq[_]].size == 3)
    assert(r1.result("partial_unexpected_counts").asInstanceOf[Seq[_]].size == 3)
    assert(r1.result("partial_unexpected_index_list").asInstanceOf[Seq[_]].size == 3)
    assert(r1.result("unexpected_count") == 90L) // counts never capped
    // exclude_unexpected_values drops value lists but keeps counts/indexes
    val r2 = new SuiteRunner(ResultFormatSpec(ResultFormat.Complete,
      excludeUnexpectedValues = true, unexpectedIndexColumnNames = Seq("x")))
      .run(big, Suite("t", Seq(
        ExpectColumnValuesToBeBetween("x", Some(1), Some(10))))).results.head
    assert(!r2.result.contains("partial_unexpected_list"))
    assert(!r2.result.contains("unexpected_list"))
    assert(r2.result("unexpected_count") == 90L)
    assert(r2.result("unexpected_index_list").asInstanceOf[Seq[_]].nonEmpty)
    // return_unexpected_index_query=false suppresses the query string
    val r3 = new SuiteRunner(ResultFormatSpec(ResultFormat.Complete,
      returnUnexpectedIndexQuery = false))
      .run(big, Suite("t", Seq(
        ExpectColumnValuesToBeBetween("x", Some(1), Some(10))))).results.head
    assert(!r3.result.contains("unexpected_index_query"))
  }

  test("z-score on undefined-stats column fails only itself") {
    val d = Seq((Option.empty[Double], 1), (None, 2), (None, 3)).toDF("v", "k")
    val sr = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValueZScoresToBeLessThan("v", 3.0), // all-null: no mean
      ExpectColumnValuesToBeBetween("k", Some(1), Some(3)))))
    assert(!sr.results.head.success)
    assert(sr.results.head.exception.isDefined)
    assert(sr.results(1).success) // rest of the fused domain unaffected
    // constant column: stddev = 0 → exception EVR, not NPE/∞
    val const = Seq(2.0, 2.0, 2.0).toDF("v")
    val r = Graft.validate(const, Suite("t", Seq(
      ExpectColumnValueZScoresToBeLessThan("v", 3.0)))).results.head
    assert(!r.success && r.exception.isDefined)
  }

  test("mixed suite: fused pass is window-free, window exps run isolated") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val plans = collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val sr = Graft.validate(df, Suite("mixed", Seq(
        ExpectColumnValuesToBeBetween("x", Some(0), Some(99)),
        ExpectColumnValuesToNotBeNull("alpha"),
        ExpectColumnValuesToBeIncreasing("x", orderBy = Seq("x")), // global window
        ExpectColumnValuesToBeUnique("alpha"))))
      assert(sr.success)
      // QueryExecutionListener events ride the listener bus: drain it
      GraftSparkShim.drainListeners(spark.sparkContext)
      val snap = plans.synchronized(plans.toList)
      // the walk descends through the final AQE plan's query stages
      object Aqe extends AdaptiveSparkPlanHelper
      // the fused aggregate is the one that computes __uc1 (≥2 fused map
      // exps); the union pads the other branches with a null __uc1
      def fusedAgg(p: SparkPlan) = p match {
        case a: BaseAggregateExec => a.resultExpressions.exists {
          case Alias(_: Literal, _) => false
          case n => n.name.endsWith("__uc1")
        }
        case _ => false
      }
      def has(p: SparkPlan)(f: SparkPlan => Boolean) = Aqe.find(p)(f).isDefined
      val isWindow = (p: SparkPlan) => p.isInstanceOf[WindowExec]
      val fused = snap.filter(has(_)(fusedAgg))
      assert(fused.nonEmpty, "expected a fused multi-expectation job")
      fused.foreach { plan =>
        Aqe.collect(plan) { case a if fusedAgg(a) => a }.foreach(a =>
          assert(!has(a)(isWindow), "fused pass must not contain a Window operator"))
      }
      // window expectations still run, each in a union branch of its own
      val branches = snap.flatMap(Aqe.collect(_) { case u: UnionExec => u.children }).flatten
      val windowed = branches.filter(has(_)(isWindow))
      assert(windowed.size == 1,
        s"the window expectation should run in one branch of its own: $snap")
      assert(windowed.forall(!has(_)(fusedAgg)),
        "the window branch must not hold the fused aggregate")
    } finally spark.listenerManager.unregister(listener)
  }

  test("pooled suite jobs carry the caller's job group, not a stale one") {
    // two window rules + a value expectation: the combined action's jobs
    // (fused, uniqueness and window branches) and the median job all run
    // under the caller's job group, including on a second run with a new
    // group
    val suite = Suite("groups", Seq(
      ExpectColumnValuesToNotBeNull("alpha"),
      ExpectColumnValuesToBeUnique("alpha"),
      ExpectColumnValuesToBeIncreasing("x", orderBy = Seq("x")),
      ExpectColumnMedianToBeBetween("x", Some(0.0), Some(99.0))))
    val sc = spark.sparkContext
    try {
      sc.setJobGroup("a", "first run")
      assert(Graft.validate(df, suite).success)
      sc.setJobGroup("b", "second run")
      val seen = JobCapture(sc)(assert(Graft.validate(df, suite).success))
        .map(j => String.valueOf(j.group))
      assert(seen.size >= 4, s"expected the suite's jobs, saw $seen")
      assert(seen.forall(_ == "b"), s"jobs with a stale group: $seen")
    } finally sc.clearJobGroup()
  }

  test("every map/agg/window branch of a runAll resolves in ONE execution") {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        execs.add(fn)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        execs.add(fn)
    }
    // q01-shaped (fused map rules, aggregates, one uniqueness rule) plus a
    // window rule and a second row_condition domain; all pass, so no
    // sample pass runs
    val suite = Suite("one_action", Seq(
      ExpectColumnValuesToNotBeNull("x"),
      ExpectColumnValuesToBeBetween("x", Some(1), Some(10)),
      ExpectColumnValuesToBeInSet("parity", Seq("even", "odd")),
      ExpectColumnValuesToMatchRegex("alpha", "^[a-j]$"),
      ExpectColumnValueLengthsToEqual("alpha", 1),
      ExpectColumnValuesToBeUnique("alpha"),
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)),
      ExpectColumnMaxToBeBetween("x", Some(10), Some(10)),
      ExpectColumnUniqueValueCountToBeBetween("parity", Some(2), Some(2)),
      ExpectTableRowCountToBeBetween(Some(10), Some(10)),
      ExpectColumnValuesToBeIncreasing("x", orderBy = Seq("x")),
      ExpectColumnValuesToNotBeNull("z", rowCondition = Some("x <= 5"))))
    val runner = new SuiteRunner()
    // no earlier query's event may land after registration
    GraftSparkShim.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      (1 to 2).foreach { n =>
        assert(runner.run(df, suite).success)
        GraftSparkShim.drainListeners(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val data = execs.asScala.toList.filter(_ != "command")
        assert(data.size == n, s"runAll #$n: expected $n executions, saw $data")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("a suite run is one union action per wave: z-score moments, counts, samples") {
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        execs.add(fn)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        execs.add(fn)
    }
    val d = (1 to 2000).map(i =>
      (i.toLong, i % 7, s"v${i % 13}", if (i % 11 == 0) null else s"w$i"))
      .toDF("id", "grp", "cat", "maybe")
    // every not-null domain has null rows, so samples follow the counts
    val stress = Suite("stress", Seq(
      ExpectColumnValuesToNotBeNull("maybe", rowCondition = Some("grp = 0")),
      ExpectColumnValuesToNotBeNull("maybe", rowCondition = Some("grp = 1")),
      ExpectColumnValuesToNotBeNull("maybe"),
      ExpectColumnValuesToBeBetween("id", Some(1), Some(2000)),
      ExpectColumnValuesToMatchRegex("cat", "^v"),
      ExpectColumnValuesToBeUnique("id"),
      ExpectColumnValuesToBeUnique("cat"),
      ExpectColumnProportionOfUniqueValuesToBeBetween("cat", Some(0.0), Some(0.01)),
      ExpectColumnUniqueValueCountToBeBetween("cat", Some(13), Some(13)),
      ExpectColumnValuesToNotBeNull("no_such_column")))
    // z-score rules on three domains (each flags the tails of a uniform id)
    // and a failing not-null rule on a fourth
    val zscore = Suite("zscore", Seq(
      ExpectColumnValueZScoresToBeLessThan("id", 1.5, rowCondition = Some("grp = 0")),
      ExpectColumnValueZScoresToBeLessThan("id", 1.5, rowCondition = Some("grp = 1")),
      ExpectColumnValueZScoresToBeLessThan("id", 1.5),
      ExpectColumnValuesToNotBeNull("maybe", rowCondition = Some("grp = 2"))))
    val sc = spark.sparkContext
    // the executions of one run, and the parts named by its jobs' labels
    def waves(s: Suite): (Int, Set[Set[String]]) = {
      GraftSparkShim.drainListeners(sc)
      execs.clear()
      val jobs = JobCapture(sc) {
        val sr = Graft.validate(d, s)
        assert(sr.results.count(_.exception.isDefined) <= 1, sr.results)
        assert(sr.results.forall(e => e.success || e.exception.isDefined ||
          e.result("partial_unexpected_list").asInstanceOf[Seq[_]].nonEmpty), sr.results)
      }.map(_.description)
      assert(jobs.forall(j => j != null && j.startsWith(s"suite:${s.name}/")), jobs)
      import scala.jdk.CollectionConverters._
      (execs.asScala.count(_ != "command"),
        jobs.map(_.stripPrefix(s"suite:${s.name}/").split('+').toSet).toSet)
    }
    spark.listenerManager.register(listener)
    try {
      assert(waves(stress) == ((2, Set(Set("domains"), Set("samples")))))
      assert(waves(zscore) == ((3,
        Set(Set("zscore", "domains"), Set("domains", "samples"), Set("samples")))))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a failed z-score moments action fails only the z-score rules") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf((_: Long) => (throw new RuntimeException("injected moments failure")): Double)
    // not a local relation, whose projection the optimizer would evaluate
    // eagerly; x in 1..10: five unexpected rows, so the plain rule samples
    val d = spark.range(1, 11).toDF("x").withColumn("bad", boom(col("x")))
    val plain = ExpectColumnValuesToBeBetween("x", Some(1), Some(5))
    val alone = Graft.validate(d, Suite("t", Seq(plain))).results.head
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValueZScoresToBeLessThan("bad", 3.0), plain))).results
    assert(!r(0).success && r(0).exception.exists(_.contains("injected")), r(0))
    assert(r(1) == alone)
    assert(alone.result.get("unexpected_count").contains(5L), alone)
  }

  test("a runtime error in the combined action fails only its own branch") {
    // fused, uniqueness and window branches; '{' is a reserved pattern
    // character, so the fused branch throws while it evaluates
    val good = Seq(
      ExpectColumnValuesToNotBeNull("x"),
      ExpectColumnValuesToBeUnique("alpha"),
      ExpectColumnValuesToBeIncreasing("x", orderBy = Seq("x")))
    val bad = ExpectColumnValuesToMatchStrftimeFormat("alpha", "%Y{")
    val clean = Graft.validate(df, Suite("t", good)).results
    val r = Graft.validate(df, Suite("t", bad +: good)).results
    assert(r(0).exception.isDefined && r(1).exception.isDefined,
      "the fused branch's expectations get exception EVRs")
    assert(r.drop(2) == clean.drop(1), "other branches are unaffected")
    // a transient failure is still retried: the combined action's first
    // attempt dies, the second succeeds
    import org.apache.spark.sql.functions.{col, udf}
    EngineSpec.failuresLeft.set(1)
    val flaky = udf((x: Int) => {
      if (EngineSpec.failuresLeft.getAndDecrement() > 0)
        throw new RuntimeException("injected transient failure")
      x
    })
    try {
      val t = Graft.validate(df.withColumn("fx", flaky(col("x"))), Suite("t", Seq(
        ExpectColumnValuesToBeBetween("fx", Some(1), Some(10)),
        ExpectColumnValuesToBeUnique("alpha"),
        ExpectColumnValuesToBeIncreasing("x", orderBy = Seq("x"))))).results
      assert(t.forall(e => e.success && e.exception.isEmpty), t)
    } finally EngineSpec.failuresLeft.set(0)
  }

  test("deferred samples: min(cap, unexpected_count) entries, each failing its condition") {
    val d = spark.range(0, 2000, 1, 4).selectExpr("id",
      "concat(CASE WHEN id % 7 = 0 THEN 'x' ELSE 'v' END, id % 13) AS cat",
      "CASE WHEN id % 50 = 0 THEN 'bad' ELSE 'ok' END AS code",
      "CASE WHEN id % 200 = 0 THEN 'long' ELSE 'ab' END AS tag")
    val sr = Graft.validate(d, Suite("samples", Seq(
      ExpectColumnValuesToNotBeNull("id"),
      ExpectColumnValuesToMatchRegex("cat", "^v"),   // 286 unexpected
      ExpectColumnValuesToBeInSet("code", Seq("ok")), // 40 unexpected
      ExpectColumnValueLengthsToEqual("tag", 2))))    // 10 unexpected
    val cap = ResultFormat.PartialUnexpectedCount
    val fails: Seq[String => Boolean] = Seq(
      v => !v.startsWith("v"), v => v != "ok", v => v.length != 2)
    sr.results.drop(1).zip(fails).foreach { case (e, failsCondition) =>
      val uc = e.result("unexpected_count").asInstanceOf[Long]
      val list = e.result("partial_unexpected_list").asInstanceOf[Seq[String]]
      assert(list.size == math.min(cap.toLong, uc), e)
      assert(list.forall(failsCondition), e)
    }
    assert(sr.results.drop(1).map(_.result("unexpected_count")) == Seq(286L, 40L, 10L))
  }

  test("identical aggregates are deduped in the fused plan") {
    val sr = new SuiteRunner()
    val aggExps: Seq[(AggExpectation, Int)] = Seq(
      (ExpectColumnMeanToBeBetween("x", Some(0.0), Some(99.0)), 0),
      (ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)), 1))
    val (fused, resolve) = sr.fusedFrame(df, Nil, aggExps, _.unexpectedCondition)
    // both expectations resolve to the SAME aggregate alias
    assert(resolve((0, "observed")) == resolve((1, "observed")))
    assert(resolve((0, "__ec")) == resolve((1, "__ec")))
    // 3 dedup'd aggregates for BOTH expectations together: avg(x) +
    // the element/nonnull counts feeding the reference-shaped agg EVR
    assert(fused.columns.count(_.startsWith("__agg")) == 3)
    // and the suite still validates both correctly
    val r = Graft.validate(df, Suite("t", Seq(
      ExpectColumnMeanToBeBetween("x", Some(0.0), Some(99.0)),
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)))))
    assert(r.success)
  }

  test("KL divergence on an empty/all-null domain: observed null, not vacuous zero") {
    val empty = Seq.empty[Option[Double]].toDF("v")
    val r = Graft.validate(empty, Suite("t", Seq(
      ExpectColumnKlDivergenceContinuousToBeLessThan("v",
        Seq(0.0, 1.0, 2.0), Seq(0.5, 0.5), 0.5)))).results.head
    assert(!r.success, r.result)
    assert(r.result("observed_value") == null)
    val allNull = Seq[Option[Double]](None, None).toDF("v")
    val r2 = Graft.validate(allNull, Suite("t", Seq(
      ExpectColumnKlDivergenceContinuousToBeLessThan("v",
        Seq(0.0, 1.0, 2.0), Seq(0.5, 0.5), 0.5)))).results.head
    assert(!r2.success && r2.result("observed_value") == null)
  }

  test("review regressions: isolation, numeric KL keys, dates, views") {
    // (a) a malformed expectation (empty regex_list → reduce on empty)
    // fails alone, not its fused siblings
    val sr = Graft.validate(df, Suite("t", Seq(
      ExpectColumnValuesToMatchRegexList("alpha", Nil),
      ExpectColumnValuesToNotBeNull("x"))))
    assert(!sr.results.head.success && sr.results.head.exception.isDefined)
    assert(sr.results(1).success)
    // (b) categorical KL matches numerically: double 1.0/2.0 vs integer
    // partition values must NOT be spuriously +infinity
    val dd = Seq(1.0, 1.0, 2.0, 2.0).toDF("v")
    val r = Graft.validate(dd, Suite("t", Seq(
      ExpectColumnKlDivergenceToBeLessThan("v", Seq(1L, 2L),
        Seq(0.5, 0.5), 0.01)))).results.head
    assert(r.success, r.result)
    // (c) column lookup honors default case-insensitivity
    val rc = Graft.validate(df, Suite("t", Seq(
      ExpectColumnValuesToNotBeNull("X")))).results.head
    assert(rc.success, rc.exception)
    // (d) unexpected-rows view is unique and dropped; user views survive
    df.createOrReplaceTempView("batch")
    Graft.validate(df, Suite("t", Seq(
      UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > 100"))))
    assert(spark.catalog.tableExists("batch")) // user view untouched
    spark.catalog.dropTempView("batch")
    // (e) date min/max bounds compare temporally
    val dates = Seq("2024-01-05", "2024-03-01").toDF("s")
      .selectExpr("CAST(s AS DATE) AS d")
    val rd = Graft.validate(dates, Suite("t", Seq(
      ExpectColumnMinToBeBetween("d",
        Some(java.sql.Date.valueOf("2024-01-01")),
        Some(java.sql.Date.valueOf("2024-01-31")))))).results.head
    assert(rd.success, rd.result)
    // (f) "$10"-style AND identifier-shaped "$admin"-style literal data
    // values are plain values, never parameter refs (only the distinct
    // ParamRef type resolves)
    val money = Seq("$10", "$admin").toDF("price")
    val rm = Graft.validate(money, Suite("t", Seq(
      ExpectColumnValuesToBeInSet("price", Seq("$10", "$admin")))),
      suiteParameters = Map("admin" -> "root")).results.head
    assert(rm.success, rm.exception)
    // (g) distinct-set value sets resolve ParamRefs too
    val rg = Graft.validate(df, Suite("t", Seq(
      ExpectColumnDistinctValuesToEqualSet("parity",
        Seq(ParamRef("a"), ParamRef("b"))))),
      suiteParameters = Map("a" -> "even", "b" -> "odd")).results.head
    assert(rg.success, rg.result)
  }

  test("checkpoint run fans results out to actions") {
    val dir = tempDir("ckpt_run")
    val logged = collection.mutable.ArrayBuffer.empty[String]
    val r = SuiteCheckpoint.run("nightly",
      Seq(
        df -> Suite("s_ok", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(10)))),
        df -> Suite("s_bad", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(5))))),
      actions = Seq(SuiteCheckpoint.StoreResultJson(dir),
        SuiteCheckpoint.LogResult(logged += _)))
    assert(!r.success && r.results.head.success && !r.results(1).success)
    assert(logged.size == 2 && logged.head.contains("suite=s_ok success=true"))
    val stored = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/nightly/s_bad.json"))
    assert(stored.contains("\"success\":false"))
    assert(stored.contains("expect_column_values_to_be_between"))
  }

  test("custom expectations fuse like built-ins") {
    import org.apache.spark.sql.functions.{length => slen}
    val sr = Graft.validate(df, Suite("custom", Seq(
      CustomColumnMapExpectation("expect_alpha_short", "alpha", slen(_) <= 1),
      CustomColumnMapExpectation.regexBased("expect_vowelish", "alpha", "^[a-e]$",
        mostly = 0.5),
      CustomColumnMapExpectation.setBased("expect_parity_known", "parity",
        Seq("even", "odd")),
      CustomMulticolumnMapExpectation("expect_x_gt_z", Seq("x", "z"),
        cs => cs(0) >= cs(1)))))
    assert(sr.results(0).success)
    assert(sr.results(1).success) // 5 of 10 match ^[a-e]$
    assert(sr.results(1).result("unexpected_count") == 5L)
    assert(sr.results(2).success)
    assert(sr.results(3).success)
    assert(sr.results(3).result("missing_count") == 0L) // all_missing: none
  }

  test("suite parameters: $name placeholders resolve to runtime values") {
    val literal = Suite("s", Seq(
      ExpectColumnValuesToBeBetween("x", Some(2), Some(9)),
      ExpectColumnValuesToBeInSet("parity", Seq("even", "odd")),
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)),
      ExpectTableRowCountToBeBetween(Some(10.0), Some(10.0)),
      ExpectColumnValuesToBeBetween("x", Some(6), None,
        rowCondition = Some("parity = 'even'")),
      UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > 9")))
    val parameterized = Suite("s", Seq(
      ExpectColumnValuesToBeBetween("x", Some(ParamRef("min_qty")), Some(ParamRef("max_qty"))),
      ExpectColumnValuesToBeInSet("parity", Seq(ParamRef("p1"), ParamRef("p2"))),
      ExpectColumnMeanToBeBetween("x", Some(ParamRef("mean_lo")), Some(ParamRef("mean_hi"))),
      ExpectTableRowCountToBeBetween(Some(ParamRef("rows")), Some(ParamRef("rows"))),
      ExpectColumnValuesToBeBetween("x", Some(6), None,
        rowCondition = Some("parity = $p1")),
      UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > $max_qty")))
    val params = Map[String, Any]("min_qty" -> 2, "max_qty" -> 9,
      "p1" -> "even", "p2" -> "odd", "mean_lo" -> 5.0, "mean_hi" -> 6.0,
      "rows" -> 10.0)
    val a = Graft.validate(df, literal)
    val b = Graft.validate(df, parameterized, suiteParameters = params)
    a.results.zip(b.results).foreach { case (x, y) =>
      assert(x.success == y.success)
      assert(x.result.get("unexpected_count") == y.result.get("unexpected_count"))
      assert(x.result.get("element_count") == y.result.get("element_count"))
    }
    // undefined parameter fails that expectation, not the run
    val sr = Graft.validate(df, Suite("s", Seq(
      ExpectColumnValuesToBeBetween("x", Some(ParamRef("nope")), None),
      ExpectColumnValuesToNotBeNull("x"))),
      suiteParameters = Map("other" -> 1))
    assert(!sr.results.head.success && sr.results.head.exception.isDefined)
    assert(sr.results(1).success)
    // even with NO parameter map at all: refs must not evaluate literally
    val sr2 = Graft.validate(df, Suite("s", Seq(
      ExpectColumnValuesToBeBetween("x", Some(ParamRef("min_x")), None),
      ExpectColumnValuesToNotBeNull("x"))))
    assert(!sr2.results.head.success && sr2.results.head.exception.isDefined)
    assert(sr2.results(1).success)
    // a defined $min must not corrupt an undefined $min_qty (token match)
    val sr3 = Graft.validate(df, Suite("s", Seq(
      ExpectColumnValuesToNotBeNull("x",
        rowCondition = Some("x > $min_qty")))),
      suiteParameters = Map("min" -> 5))
    assert(!sr3.results.head.success && sr3.results.head.exception.isDefined)
  }

  test("transient job failure is retried up to 3 attempts") {
    import org.apache.spark.sql.functions.{col, udf}
    EngineSpec.failuresLeft.set(1) // first job attempt dies, second succeeds
    val flaky = udf((x: Int) => {
      if (EngineSpec.failuresLeft.getAndDecrement() > 0)
        throw new RuntimeException("injected transient failure")
      x
    })
    val d = df.withColumn("fx", flaky(col("x")))
    val r = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValuesToBeBetween("fx", Some(1), Some(10))))).results.head
    assert(r.success, r.exception)
    // a deterministic failure exhausts retries and surfaces the exception
    EngineSpec.failuresLeft.set(Int.MaxValue)
    val r2 = Graft.validate(d, Suite("t", Seq(
      ExpectColumnValuesToBeBetween("fx", Some(1), Some(10))))).results.head
    assert(!r2.success && r2.exception.isDefined)
    EngineSpec.failuresLeft.set(0)
    // attempts, counted on the retry wrapper itself
    var n = 0
    assert(SuiteRunner.withRetry { n += 1; if (n < 3) sys.error("transient"); n } == 3)
    n = 0
    intercept[RuntimeException](SuiteRunner.withRetry[Unit] { n += 1; sys.error("stuck") })
    assert(n == SuiteRunner.MaxAttempts)
    // an analysis error is deterministic: one attempt
    n = 0
    intercept[org.apache.spark.sql.AnalysisException](
      SuiteRunner.withRetry { n += 1; df.select("no_such_column").head() })
    assert(n == 1)
    // a fatal error is never caught
    n = 0
    intercept[OutOfMemoryError](
      SuiteRunner.withRetry[Unit] { n += 1; throw new OutOfMemoryError("injected") })
    assert(n == 1)
  }

  test("fused pass is sums-only: codegen'd HashAggregate, no ObjectHashAggregate") {
    val runner = new SuiteRunner()
    val mapExps: Seq[(MapExpectation, Int)] = Seq(
      (ExpectColumnValuesToBeBetween("x", Some(0), Some(99)), 0),
      (ExpectColumnValuesToNotBeNull("alpha"), 1),
      (ExpectColumnValuesToMatchRegex("alpha", "^[a-z]$"), 2))
    val aggExps: Seq[(AggExpectation, Int)] = Seq(
      (ExpectColumnMeanToBeBetween("x", Some(0.0), Some(99.0)), 3))
    val (fused, _) = runner.fusedFrame(df, mapExps, aggExps,
      _.unexpectedCondition)
    fused.collect() // finalize THIS queryExecution's adaptive plan
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"fused agg must be sums-only (samples are deferred): $plan")
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("*("),
      s"fused agg must sit inside WholeStageCodegen: $plan")
  }

  test("cross-suite metric cache: shared fused domain is ONE Spark job") {
    val plans = collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val s1 = Suite("a", Seq(
        ExpectColumnValuesToBeBetween("x", Some(0), Some(99)),
        ExpectColumnMeanToBeBetween("x", Some(0.0), Some(99.0))))
      val s2 = Suite("b", Seq(
        ExpectColumnValuesToNotBeNull("alpha"),
        // same avg(x) aggregate as s1's, different bounds: the VALUE is
        // shared, the verdicts differ
        ExpectColumnMeanToBeBetween("x", Some(6.0), Some(9.0))))
      val r = SuiteCheckpoint.run("cc", Seq(df -> s1, df -> s2))
      assert(r.results.map(_.suiteName) == Seq("a", "b"))
      assert(r.results(0).success)
      assert(r.results(1).results(0).success && !r.results(1).results(1).success)
      assert(r.results(0).results(1).result("observed_value") ==
        r.results(1).results(1).result("observed_value"))
      // QueryExecutionListener events ride the listener bus: drain it
      GraftSparkShim.drainListeners(spark.sparkContext)
      val snap = plans.synchronized(plans.toList)
      // both suites' map+agg expectations over the same (unconditioned)
      // domain of the same batch must plan as ONE fused aggregate job
      val fused = snap.filter(_.contains("__uc0"))
      assert(fused.size == 1, s"expected one fused job, saw ${fused.size}")
      assert(snap.size == 1, s"expected one execution total, saw ${snap.size}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("distinct-set compare is distributed; categorical KL caps loudly") {
    // a 1M-distinct column: success comes from anti-join counts and the
    // observed sample is a capped ordered top-k — no uncapped driver collect
    val big = spark.range(1000000L).toDF("v")
    val sr = Graft.validate(big, Suite("t", Seq(
      ExpectColumnDistinctValuesToBeInSet("v", Seq(1L, 2L)),
      ExpectColumnDistinctValuesToContainSet("v", Seq(1L, 999999L, -5L)),
      ExpectColumnDistinctValuesToContainSet("v", Seq(0L, 999999L)),
      ExpectColumnDistinctValuesToEqualSet("v", Seq(1L)))))
    assert(!sr.results(0).success) // extras beyond {1,2}
    assert(!sr.results(1).success) // -5 never observed
    assert(sr.results(2).success)  // 0 and 999999 both observed
    assert(!sr.results(3).success)
    val obs = sr.results(0).result("observed_value").asInstanceOf[Seq[_]]
    assert(obs.size <= ResultFormat.MaxResultRecords)
    // categorical KL must fail ITS expectation loudly above the cap
    // instead of collecting 1M distinct values to the driver
    val kl = Graft.validate(big, Suite("t", Seq(
      ExpectColumnKlDivergenceToBeLessThan("v", Seq(1L), Seq(1.0), 0.5),
      ExpectColumnValuesToNotBeNull("v"))))
    assert(!kl.results(0).success && kl.results(0).exception.exists(
      _.contains("distinct")))
    assert(kl.results(1).success)
  }

  test("unexpected-rows query: true count + capped sample in ONE job") {
    val plans = collection.mutable.ArrayBuffer.empty[(String, String)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += ((fn, qe.analyzed.toString)) }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val big = (1 to 500).toDF("x")
    big.count() // materialize outside the measured window
    spark.listenerManager.register(listener)
    try {
      // the predicate literal is unique to THIS query so the async-bus
      // plan filter below can never match a concurrent query's plan
      val r = Graft.validate(big, Suite("t", Seq(
        UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE x > -424242"))))
        .results.head
      assert(!r.success)
      assert(r.result("unexpected_count") == 500L) // true count, beyond the cap
      assert(r.result("observed_value") == "500 unexpected rows")
      assert(r.result("details").asInstanceOf[Map[String, Any]]("unexpected_rows")
        .asInstanceOf[Seq[_]].size == 20)
      // QueryExecutionListener events ride the listener bus: drain it
      GraftSparkShim.drainListeners(spark.sparkContext)
      // "command" entries are the temp-view create/drop, not data jobs.
      // Listener delivery is async, so the pre-registration big.count()
      // event can land AFTER registration — keep only plans carrying this
      // query's unique predicate before counting jobs.
      val snap = plans.synchronized(plans.toList)
        .filter { case (fn, plan) => fn != "command" && plan.contains("-424242") }
        .map(_._1)
      assert(snap.size == 1,
        s"count + sample must fuse into one job, saw ${snap.size}: $snap")
    } finally spark.listenerManager.unregister(listener)
  }

  test("resultsToDF is a local relation: collecting it starts no job") {
    val sr = Graft.validate(df, Suite("local", Seq(
      ExpectColumnValuesToNotBeNull("z"),
      ExpectColumnValuesToBeInSet("parity", Seq("even")),
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)),
      ExpectTableRowCountToBeBetween(Some(10), None))))
    val out = Graft.resultsToDF(spark, sr)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = JobCapture(spark.sparkContext) { rows = out.collect() }
    assert(jobs.isEmpty, jobs)
    // the same rows as the parallelized form it replaced
    val parallel = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    assert(parallel.collect().toSeq == rows.toSeq)
    assert(rows.toSeq.map(r => (r.getString(0), r.getBoolean(2), Option(r.get(5)))) ==
      sr.results.map(e => (e.expectationType, e.success,
        e.result.get("unexpected_count").map(_.asInstanceOf[Number].longValue))))
    assert(rows.count(_.getBoolean(2)) == 2)
  }
}

object EngineSpec {
  /** Shared fault-injection counter for the retry test (local mode: executor
    * threads share the JVM, so the static is visible to tasks). */
  val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(0)
}

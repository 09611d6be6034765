package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Round-trip: Suite → GE JSON document (SuiteWriter) → SuiteJson reader →
  * the SAME case classes, for every JSON-expressible expectation type. */
class SuiteWriterSpec extends AnyFunSuite with TempDirs {

  private val battery = Suite("roundtrip_suite", Seq(
    ExpectColumnValuesToBeNull("a"),
    ExpectColumnValuesToNotBeNull("a", mostly = 0.9),
    ExpectColumnValuesToBeInSet("a", Seq("x", "y"), mostly = 0.8,
      rowCondition = Some("b > 3")),
    ExpectColumnValuesToNotBeInSet("a", Seq(1L, 2L)),
    ExpectColumnValuesToBeBetween("a", Some(1L), Some(9L),
      strictMin = true, strictMax = true, mostly = 0.7),
    ExpectColumnValuesToBeBetween("a", None, Some(ParamRef("max_q"))),
    ExpectColumnValuesToMatchRegex("a", "^x"),
    ExpectColumnValuesToNotMatchRegex("a", "z$"),
    ExpectColumnValuesToMatchRegexList("a", Seq("^a", "b$"), matchOn = "all"),
    ExpectColumnValuesToNotMatchRegexList("a", Seq("^c")),
    ExpectColumnValuesToMatchLikePattern("a", "x%"),
    ExpectColumnValuesToMatchLikePattern("a", "y%", negate = true),
    ExpectColumnValuesToMatchLikePatternList("a", Seq("%v%"), matchOn = "all"),
    ExpectColumnValuesToMatchLikePatternList("a", Seq("w_"), negate = true),
    ExpectColumnValueLengthsToBeBetween("a", Some(1), Some(10)),
    ExpectColumnValueLengthsToEqual("a", 3),
    ExpectColumnValuesToBeUnique("a"),
    ExpectColumnValuesToBeIncreasing("a", strictly = true,
      partitionBy = Seq("g"), orderBy = Seq("ts")),
    ExpectColumnValuesToBeDecreasing("a"),
    ExpectColumnValuesToMatchStrftimeFormat("a", "%Y-%m-%d"),
    ExpectColumnValuesToBeJsonParseable("a"),
    ExpectColumnValuesToMatchJsonSchema("a", """{"type":"object"}"""),
    ExpectColumnValuesToBeDateutilParseable("a"),
    ExpectColumnValueZScoresToBeLessThan("a", 1.96, doubleSided = false),
    ExpectColumnValueZScoresToBeLessThan("a", 3.0, exactMoments = true),
    ExpectColumnPairValuesToBeEqual("a", "b",
      ignoreRowIf = IgnoreRowIf.EitherValueIsMissing),
    ExpectColumnPairValuesAToBeGreaterThanB("a", "b", orEqual = true),
    ExpectColumnPairValuesToBeInSet("a", "b", Seq(("x", 1L), ("y", 2L))),
    ExpectCompoundColumnsToBeUnique(Seq("a", "b"),
      ignoreRowIf = IgnoreRowIf.AnyValueIsMissing),
    ExpectMulticolumnSumToEqual(Seq("a", "b", "c"), 100.0),
    ExpectSelectColumnValuesToBeUniqueWithinRecord(Seq("a", "b")),
    ExpectColumnMinToBeBetween("a", Some(0L), None, strictMin = true),
    ExpectColumnMaxToBeBetween("a", None, Some(50L)),
    ExpectColumnSumToBeBetween("a", Some(0L), Some(1000L)),
    ExpectColumnMeanToBeBetween("a", Some(1.5), Some(2.5)),
    ExpectColumnStdevToBeBetween("a", Some(0.1), None),
    ExpectColumnStdevToBeBetween("a", Some(0.1), None, exactMoments = true),
    ExpectColumnUniqueValueCountToBeBetween("a", Some(1L), Some(10L)),
    ExpectColumnProportionOfUniqueValuesToBeBetween("a", Some(0.1), Some(0.9)),
    ExpectTableRowCountToBeBetween(Some(100L), None),
    ExpectTableRowCountToEqual(42L),
    ExpectColumnMedianToBeBetween("a", Some(5.0), Some(6.0)),
    ExpectColumnQuantileValuesToBeBetween("a", Seq(0.25, 0.75),
      Seq((Some(1.0), Some(2.0)), (None, Some(9.0))), relativeError = 1e-3),
    ExpectColumnQuantileValuesToBeBetween("a", Seq(0.5),
      Seq((Some(1.0), Some(9.0))), exact = true),
    ExpectColumnMostCommonValueToBeInSet("a", Seq("m"), tiesOkay = true),
    ExpectColumnDistinctValuesToBeInSet("a", Seq(1L, 2L)),
    ExpectColumnDistinctValuesToBeInSet("a", Nil, universalSet = true),
    ExpectColumnDistinctValuesToContainSet("a", Seq("p")),
    ExpectColumnDistinctValuesToEqualSet("a", Seq("p", "q")),
    ExpectColumnKlDivergenceToBeLessThan("a", Seq("x", "y"), Seq(0.5, 0.5),
      0.1, tailWeightHoldout = 0.05),
    ExpectColumnKlDivergenceContinuousToBeLessThan("a", Seq(0.0, 1.0, 2.0),
      Seq(0.4, 0.6), 0.2, tailWeightHoldout = 0.1,
      internalWeightHoldout = 0.05),
    ExpectColumnKlDivergenceAutoToBeLessThan("a", 0.3, bins = "ntile",
      nBins = 7),
    ExpectColumnChisquareTestPValueToBeGreaterThan("a", Seq("x", "y"),
      Seq(0.6, 0.4), p = 0.01, tailWeightHoldout = 0.2),
    ExpectColumnParameterizedDistributionKsTestPValueToBeGreaterThan(
      "a", "norm", IndexedSeq(0.0, 1.0), pValue = 0.1),
    ExpectColumnBootstrappedKsTestPValueToBeGreaterThan("a",
      Seq(0.0, 1.0, 2.0), Seq(0.5, 0.5), p = 0.1, bootstrapSamples = 500,
      bootstrapSampleSize = 25, seed = 7L),
    ExpectColumnBootstrappedKsTestPValueToBeGreaterThan("a",
      Seq(0.0, 1.0, 2.0), Seq(0.5, 0.5), p = 0.1, bootstrapSamples = 100,
      bootstrapSampleSize = 20, seed = 7L, exact = true),
    ExpectColumnPairCramersPhiValueToBeLessThan("a", "b",
      binsB = Some(Seq(Seq("p", "q"), Seq("r"))), nBinsA = Some(3),
      threshold = 0.2),
    ExpectColumnToExist("a", Some(2)),
    ExpectColumnValuesToBeOfType("a", "IntegerType"),
    ExpectColumnValuesToBeInTypeList("a", Seq("IntegerType", "LongType")),
    ExpectTableColumnCountToBeBetween(Some(2), Some(8)),
    ExpectTableColumnCountToEqual(5),
    ExpectTableColumnsToMatchOrderedList(Seq("a", "b")),
    ExpectTableColumnsToMatchOrderedList(Nil, vacuous = true),
    ExpectTableColumnsToMatchSet(Seq("a", "b"), exactMatch = false),
    UnexpectedRowsExpectation("SELECT * FROM {batch} WHERE a < 0")))

  /** Numeric kwargs JSON-canonicalize (1L → 1 → Long again on read), so
    * compare after normalizing numbers to double where both are numbers. */
  private def canon(e: Expectation): Expectation = e match {
    case x: ExpectColumnValuesToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectColumnValuesToBeInSet => x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnValuesToNotBeInSet => x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnPairValuesToBeInSet =>
      x.copy(valuePairs = x.valuePairs.map(p => (canonV(p._1), canonV(p._2))))
    case x: ExpectColumnMinToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectColumnMaxToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectColumnSumToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectColumnUniqueValueCountToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectTableRowCountToBeBetween => x.copy(
      minValue = x.minValue.map(canonV), maxValue = x.maxValue.map(canonV))
    case x: ExpectColumnMostCommonValueToBeInSet =>
      x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnDistinctValuesToBeInSet =>
      x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnDistinctValuesToContainSet =>
      x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnDistinctValuesToEqualSet =>
      x.copy(valueSet = x.valueSet.map(canonV))
    case x: ExpectColumnKlDivergenceToBeLessThan =>
      x.copy(partitionValues = x.partitionValues.map(canonV))
    case x: ExpectColumnChisquareTestPValueToBeGreaterThan =>
      x.copy(partitionValues = x.partitionValues.map(canonV))
    case x: ExpectColumnPairCramersPhiValueToBeLessThan =>
      x.copy(binsA = x.binsA.map(_.map(canonV)), binsB = x.binsB.map(_.map(canonV)))
    case other => other
  }

  private def canonV(v: Any): Any = v match {
    case n: Number => n.doubleValue()
    case s: Seq[_] => s.map(canonV)
    case other => other
  }

  test("every JSON-expressible expectation round-trips exactly") {
    val json = SuiteWriter.toJson(battery)
    val back = SuiteJson.fromJson(json)
    assert(back.name == battery.name)
    assert(back.expectations.size == battery.expectations.size)
    battery.expectations.zip(back.expectations).foreach { case (orig, got) =>
      assert(!got.isInstanceOf[InvalidExpectation],
        s"${orig.expectationType} failed to reload: $got")
      assert(canon(got) == canon(orig),
        s"round-trip mismatch for ${orig.expectationType}:\n  out: $orig\n  in:  $got")
    }
    // and a second pass is a fixpoint (write(read(write(s))) == write(s))
    assert(SuiteWriter.toJson(back) == json)
  }

  test("vacuous value_set:null and unknown types survive a load→save trip") {
    val doc =
      """{"expectation_suite_name":"store","expectations":[
        |{"expectation_type":"expect_column_values_to_be_in_set",
        | "kwargs":{"column":"a","value_set":null}},
        |{"expectation_type":"expect_column_values_to_not_be_in_set",
        | "kwargs":{"column":"a","value_set":null}},
        |{"expectation_type":"expect_totally_unknown_thing",
        | "kwargs":{"column":"a","custom_knob":3}}]}""".stripMargin
    val loaded = SuiteJson.fromJson(doc)
    assert(loaded.expectations(0)
      .asInstanceOf[ExpectColumnValuesToBeInSet].universalSet)
    val rewritten = SuiteWriter.toJson(loaded)
    val again = SuiteJson.fromJson(rewritten)
    assert(again.expectations(0) == loaded.expectations(0))
    assert(again.expectations(1) == loaded.expectations(1))
    // the unknown type keeps its kwargs blob verbatim
    assert(rewritten.contains(""""custom_knob":3"""))
    assert(again.expectations(2).expectationType == "expect_totally_unknown_thing")
  }

  test("live-object expectations fail loudly instead of serializing") {
    val e = intercept[IllegalArgumentException] {
      SuiteWriter.toJson(Suite("bad", Seq(CustomColumnMapExpectation(
        "custom", "a", c => c.isNotNull))))
    }
    assert(e.getMessage.contains("cannot be serialized"))
  }

  test("write/read through the filesystem") {
    val p = s"${tempDir("suites")}/s.json"
    SuiteWriter.write(battery, p)
    val back = SuiteJson.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(p)))
    assert(back.expectations.size == battery.expectations.size)
  }
}

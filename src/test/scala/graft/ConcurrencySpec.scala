package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** The runner collects every domain's branches with one action, whose
  * shuffle stages the DAG scheduler runs concurrently; these cases hammer
  * that path — many domains, VALUE jobs, window branches, and failure
  * isolation in one run — and require run-to-run stability. */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df = {
    import spark.implicits._
    (1 to 2000).map(i =>
      (i.toLong, i % 7, s"v${i % 13}", if (i % 11 == 0) null else s"w$i"))
      .toDF("id", "grp", "cat", "maybe")
  }

  private def suite = Suite("stress", Seq(
    // three distinct row_condition domains → three fused branches
    ExpectColumnValuesToNotBeNull("maybe", rowCondition = Some("grp = 0")),
    ExpectColumnValuesToNotBeNull("maybe", rowCondition = Some("grp = 1")),
    ExpectColumnValuesToNotBeNull("maybe"),
    ExpectColumnValuesToBeBetween("id", Some(1), Some(2000)),
    ExpectColumnValuesToMatchRegex("cat", "^v"),
    // uniqueness branches
    ExpectColumnValuesToBeUnique("id"),
    ExpectColumnValuesToBeUnique("cat"), // fails: 13 distinct over 2000
    // aggregates (incl. the count/count-distinct pair that must NOT dedup)
    ExpectColumnProportionOfUniqueValuesToBeBetween("cat",
      Some(0.0), Some(0.01)),
    ExpectColumnUniqueValueCountToBeBetween("cat", Some(13), Some(13)),
    // VALUE jobs
    ExpectColumnMedianToBeBetween("id", Some(1000.0), Some(1001.0)),
    ExpectColumnMostCommonValueToBeInSet("grp", Seq(1, 2, 3), tiesOkay = true),
    ExpectColumnDistinctValuesToContainSet("grp", Seq(0, 6)),
    // isolated failure must not poison any sibling
    ExpectColumnValuesToNotBeNull("no_such_column")))

  test("concurrent metric jobs: stable results across repeated runs") {
    val runs = (1 to 5).map(_ => Graft.validate(df, suite))
    val fingerprints = runs.map(_.results.map(e =>
      (e.expectationType, e.kwargs.get("column").orNull,
        e.success, e.exception.isDefined,
        e.result.get("unexpected_count"), e.observed)))
    assert(fingerprints.distinct.size == 1,
      s"unstable results across runs:\n${fingerprints.distinct.mkString("\n")}")
    val r = runs.head.results
    assert(r.count(_.exception.isDefined) == 1) // only the missing column
    assert(r(5).success && !r(6).success) // id unique, cat not
    assert(r(7).success) // 13/2000 = 0.0065 — count vs count_distinct intact
  }

  test("every suite job carries a suite: description; the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val jobs = JobCapture(sc) {
        SparkEntry.queries("q01_suite_lineitem")(spark, "/root/testdata/sf0.001")
        Graft.validate(df, suite)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      }.map(_.description)
      // q01 reads its parquet input before it validates, and Spark infers
      // the file's schema with one job of its own: the first, under the
      // caller's description. Every later job is the suite's.
      assert(jobs.headOption.contains("caller"), jobs)
      val suiteJobs = jobs.tail
      assert(suiteJobs.contains("suite:lineitem_core/domains"), jobs)
      assert(suiteJobs.contains("suite:stress/domains"), jobs)
      assert(suiteJobs.contains(
        "suite:stress/value:expect_column_median_to_be_between"), jobs)
      assert(suiteJobs.forall(d => d != null && d.startsWith("suite:")), jobs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  /** The shared test session is built withExtensions(new GraftExtensions),
    * so SQL registration is exercised end-to-end here. */
  lazy val spark: SparkSession = TestSpark.spark

  test("native expressions are callable from SQL") {
    import spark.implicits._
    Seq(
      ("the quick brown fox jumps", 1),
      ("der die das und nicht", 2),
      ("call 555-123-4567 now damn", 3)).toDF("text", "id")
      .createOrReplaceTempView("t")
    val r = spark.sql(
      """SELECT id,
        |  qf_score(text).avg_logprob AS lp,
        |  qf_score(text).scrubbed_text AS scrubbed,
        |  qf_score(text).phone_found AS phone,
        |  qf_score(text).n_tokens AS nt
        |FROM t ORDER BY id""".stripMargin).collect()
    assert(r(0).getAs[Double]("lp") == -11.0 / 5)
    assert(r(1).getAs[Double]("lp") == -7.0)
    assert(r(2).getAs[Boolean]("phone"))
    assert(r(2).getAs[String]("scrubbed") == "call [PHONE] now [REDACTED]")
    assert(r.map(_.getAs[Int]("nt")).toSeq == Seq(5, 5, 4))
    val agg = spark.sql(
      "SELECT collect_limited(id, 2) AS c FROM t").head()
    assert(agg.getAs[scala.collection.Seq[Int]]("c").size == 2)
  }

  test("token kernels survive texts with thousands of distinct tokens") {
    import spark.implicits._
    // regression: the exact distinct-token set's grow guard keyed on the
    // hash table (4× the aux arrays), overflowing at token 257
    val big = (0 until 5000).map(i => s"tok$i").mkString(" ")
    val r = Seq(big, "small text").toDF("text")
      .selectExpr("qf_score(text).n_tokens AS nt",
        "qf_score(text).n_distinct AS nd",
        "qf_score(text).avg_logprob AS lp")
      .collect()
    assert(r(0).getAs[Int]("nt") == 5000)
    assert(r(0).getAs[Int]("nd") == 5000)
    assert(!r(0).isNullAt(2))
  }
}

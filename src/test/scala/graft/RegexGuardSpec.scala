package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RegexGuard
import graft.transcripts.QualityFilter

/** The literal prefilter of regex expectations: which literal a pattern
  * must contain, and that the guarded predicate equals plain `rlike` on
  * every row. */
class RegexGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val expected: Seq[(String, Option[String])] = Seq(
    QualityFilter.EmailRe -> Some("@"),
    QualityFilter.PhoneRe -> Some("555-"),
    QualityFilter.ToxRe -> Some("damn"),
    "^[OF]$" -> None,
    "a|b" -> None,
    "(?i)abc" -> None,
    "\\Qa.b\\E" -> None,
    "\\x40" -> None,
    "ab?c" -> Some("a"),
    "(ab)+c" -> Some("c"))

  test("requiredLiteral: the literal every match contains, or None") {
    expected.foreach { case (re, lit) =>
      assert(RegexGuard.requiredLiteral(re) == lit, s"pattern $re")
    }
  }

  test("guarded rlike ≡ rlike on every row, nulls included") {
    val seeds = Seq("", "a", "ac", "abc", "abbc", "bc", "ababc", "c", "damn",
      "Damn", "DAMN", "damned", "oh damn it", "x@y", "bob@example.com",
      "BOB@EXAMPLE.COM", "a@b.c", "@@", "call 555-123-4567 now",
      "555-1234567", "x555-123-4567", "123-45-6789", "55-555-555",
      "O", "F", "OF", "a.b", "a|b", "@", "-", "0123456789")
    // strings built around matches: each seed, its case variants and
    // wrapped in text, with nulls mixed in
    val corpus = (seeds ++ seeds.map(_.toUpperCase) ++ seeds.map(_.toLowerCase) ++
      seeds.map(s => s"pre $s post") ++ seeds.map(s => s"$s-$s@9"))
      .map(Option(_)) ++ Seq(None, None)
    // a local relation folds the projection (interpreted evaluation); the
    // shuffled copy runs it in generated code
    val local = corpus.toDF("s")
    val shuffled = local.repartition(2)
    val patterns = expected.map(_._1) ++ Seq(QualityFilter.SsnRe, "a+b", "x{0,2}yz")
    patterns.foreach { re =>
      val guarded = RegexGuard.rlike(col("s"), re)
      Seq(local, shuffled).foreach { df =>
        val rows = df.select(col("s"), guarded.as("g"), col("s").rlike(re).as("r")).collect()
        assert(rows.length == corpus.length)
        rows.foreach(r =>
          assert(r.get(1) == r.get(2), s"pattern $re on ${r.get(0)}: ${r.get(1)} vs ${r.get(2)}"))
      }
      // the guard is in the executed plan whenever a literal exists
      val plan = shuffled.select(guarded).queryExecution.executedPlan.toString
      assert(plan.contains("Contains") == RegexGuard.requiredLiteral(re).isDefined,
        s"pattern $re:\n$plan")
    }
  }

  test("guarded rlike on a non-string column casts like rlike") {
    val df = Seq(Some(10), Some(12), Some(21), Some(1), None).toDF("n")
    val rows = df.select(RegexGuard.rlike(col("n"), "^1[0-9]$"),
      col("n").rlike("^1[0-9]$")).collect()
    assert(rows.forall(r => r.get(0) == r.get(1)), rows.toSeq)
    assert(rows.map(_.get(0)).toSeq == Seq(true, true, false, false, null))
  }
}

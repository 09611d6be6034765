package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

class DataDocsSpec extends AnyFunSuite with TempDirs {

  private def sr = SuiteResult.of("docs_suite <x>", Seq(
    Evr("expect_column_values_to_not_be_null", Map("column" -> "a"),
      success = true, Map("observed_value" -> 0)),
    Evr("expect_column_values_to_be_in_set",
      Map("column" -> "b", "value_set" -> Seq("x", "y")),
      success = false, Map("observed_value" -> 3,
        "partial_unexpected_list" -> Seq("z", "w"))),
    Evr("expect_column_mean_to_be_between", Map("column" -> "c"),
      success = false, Map.empty,
      exception = Some("IllegalArgumentException: <bad & broken>"))))

  test("site renders index + result page with escaped content") {
    val dir = tempDir("docs")
    val idx = DataDocs.writeSite(dir, Seq(sr), "run-1")
    val index = Files.readString(idx)
    assert(index.contains("FAILED") && index.contains("docs_suite &lt;x&gt;"))
    assert(index.contains("1/3"))
    val pageFile = new java.io.File(dir).listFiles()
      .map(_.getName).find(_ != "index.html").get
    val page = Files.readString(java.nio.file.Paths.get(dir, pageFile))
    assert(index.contains(s"""href="$pageFile""""))
    assert(page.contains("PASSED") && page.contains("FAILED") &&
      page.contains("ERROR"))
    assert(page.contains("&lt;bad &amp; broken&gt;")) // exception escaped
    assert(page.contains("z, w")) // unexpected sample
    assert(page.contains("value_set=x, y"))
    assert(!page.contains("<bad")) // nothing unescaped
  }

  test("checkpoint action drops a site per checkpoint") {
    val dir = tempDir("docs_cp")
    DataDocsAction(dir).run("nightly", sr)
    assert(Files.exists(java.nio.file.Paths.get(dir, "nightly", "index.html")))
  }
}

package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.core._
import graft.sources.BatchReader

class SourcesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val base: String = {
    val dir = tempDir("src")
    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)).toDF("id", "s", "v")
    df.coalesce(1).write.option("header", "true").csv(s"$dir/t_csv")
    df.coalesce(1).write.option("header", "true").option("sep", "\t").csv(s"$dir/t_tsv")
    df.coalesce(1).write.json(s"$dir/t_json")
    df.coalesce(1).write.orc(s"$dir/t_orc")
    df.coalesce(1).write.parquet(s"$dir/t_parquet")
    df.select($"s").coalesce(1).write.text(s"$dir/t_text")
    dir
  }

  test("format inference from suffix") {
    assert(BatchReader.inferFormat("/x/a.csv") == "csv")
    assert(BatchReader.inferFormat("/x/a.PARQUET") == "parquet")
    assert(BatchReader.inferFormat("/x/a.pqt") == "parquet")
    assert(BatchReader.inferFormat("/x/a.jsonl") == "json")
    intercept[IllegalArgumentException](BatchReader.inferFormat("/x/a.xyz"))
  }

  test("csv/tsv/json/orc/parquet/text readers round-trip") {
    def n(fmt: String) = BatchReader.read(spark, s"$base/t_$fmt",
      format = Some(fmt), persist = false).count()
    assert(n("csv") == 3 && n("tsv") == 3 && n("json") == 3 &&
      n("orc") == 3 && n("parquet") == 3 && n("text") == 3)
  }

  test("explicit schema is honored for csv") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val df = BatchReader.read(spark, s"$base/t_csv", format = Some("csv"),
      schema = Some(schema), persist = false)
    assert(df.schema("id").dataType == LongType)
    assert(df.agg(org.apache.spark.sql.functions.sum($"v")).head().getDouble(0) == 7.5)
  }

  test("suite result JSON sink has the GE result shape") {
    val df = (1 to 10).toDF("x")
    val sr = Graft.validate(df, Suite("sink_test", Seq(
      ExpectColumnValuesToBeBetween("x", Some(1), Some(5)),
      ExpectColumnMeanToBeBetween("x", Some(5.0), Some(6.0)))))
    val out = tempDir("sink") + "/result.json"
    BatchReader.writeSuiteResultJson(sr, out)
    val txt = Files.readString(java.nio.file.Paths.get(out))
    assert(txt.contains(""""suite_name":"sink_test""""))
    assert(txt.contains(""""evaluated_expectations":2"""))
    assert(txt.contains(""""unexpected_count":5"""))
    assert(txt.contains(""""partial_unexpected_list""""))
    // parses as JSON (driver-side python would read this)
    assert(txt.trim.startsWith("{") && txt.trim.endsWith("}"))
  }
}

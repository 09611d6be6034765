package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lshTopK at the default cap leaves no RDD pinned") {
    val e = (0L until 200L).map(i =>
      (i, Array.tabulate(32)(j => math.sin(i * 31.0 + j * 7).toFloat)))
      .toDF("vec_id", "embedding")
    var top: DataFrame = null
    val pinned = Pinned(spark.sparkContext) {
      top = Similarity.lshTopK(e, e.filter(col("vec_id") % 10 === 0), 3)
    }
    assert(pinned.isEmpty, pinned)
    assert(top.count() > 0)
  }
}

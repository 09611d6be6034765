package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.operators.Multimodal

/** Multimodal plumbing queries. The engine computes over the BINARY payload
  * column (real byte-level plumbing); the oracle reproduces the numbers
  * from the source text, which is valid because payload = utf-8(text) and
  * the documents are ASCII. */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFromDocuments(
      ScanSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the feature vector is emitted as a comma-joined string: the driver's
    // pandas-based compare cannot sort/hash an ARRAY column
    "q25_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(media(s, dir))
        .select(col("media_id"), col("n_bytes"),
          array_join(transform(col("feature"), _.cast(StringType)), ",")
            .as("feature"))
        .orderBy("media_id")),
    "q26_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(media(s, dir), 100).orderBy("media_id")),
    // resize composes with feature extraction: resized payload re-enters
    // the same pipeline (the production contract of a decode→resize→
    // featurize chain)
    "q56_media_resize" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.resizePayload(media(s, dir), 7))
        .select(col("media_id"), col("n_bytes"),
          array_join(transform(col("feature"), _.cast(StringType)), ",")
            .as("feature"))
        .orderBy("media_id")),
    // REAL decoder oracle: solid-color PNGs are synthesized from doc_id
    // arithmetic, round-tripped through the JDK ImageIO encode→decode→
    // pixel-sum path, and checked against DuckDB computing the SAME sums
    // analytically (w·h·channel) — pixel-exact proof the real image path
    // decodes what was encoded
    "q66_media_image_decode" -> ((s, dir) => {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).filter(col("doc_id") % 20 === 0)
      val mediaSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = false)))
      val imgs = docs.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val w = (4 + id % 13).toInt
          val h = (3 + id % 7).toInt
          val rgb = (((id % 200) << 16) | (((id * 7) % 200) << 8) |
            ((id * 13) % 200)).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray)
        }
      }(Encoders.row(mediaSchema))
      Multimodal.extractImageFeatures(imgs).orderBy("media_id")
    }))

  val oracles: Map[String, String] = Map(
    "q25_media_features" ->
      """SELECT doc_id AS media_id, CAST(length(text) AS INT) AS n_bytes,
        | array_to_string(list_transform(generate_series(1, 16), b ->
        |   CAST(len(list_filter(generate_series(1, length(text)),
        |        i -> ord(substr(text, i, 1)) % 16 = b - 1)) AS BIGINT)), ',') AS feature
        |FROM documents ORDER BY media_id""".stripMargin,
    "q26_media_frames" ->
      """SELECT doc_id AS media_id,
        | CAST(len(generate_series(1, length(text), 100)) AS INT) AS n_frames,
        | md5(coalesce(list_aggregate(list_transform(generate_series(1, length(text), 100),
        |   i -> substr(text, i, 1)), 'string_agg', ''), '')) AS sample_digest
        |FROM documents ORDER BY media_id""".stripMargin,
    "q56_media_resize" ->
      """WITH resized AS (SELECT doc_id AS media_id,
        |  coalesce(list_aggregate(list_transform(generate_series(1, length(text), 7),
        |    i -> substr(text, i, 1)), 'string_agg', ''), '') AS rt
        |  FROM documents)
        |SELECT media_id, CAST(length(rt) AS INT) AS n_bytes,
        | array_to_string(list_transform(generate_series(1, 16), b ->
        |   CAST(len(list_filter(generate_series(1, length(rt)),
        |        i -> ord(substr(rt, i, 1)) % 16 = b - 1)) AS BIGINT)), ',') AS feature
        |FROM resized ORDER BY media_id""".stripMargin,
    "q66_media_image_decode" ->
      """SELECT doc_id AS media_id,
        | CAST(4 + doc_id % 13 AS INT) AS width,
        | CAST(3 + doc_id % 7 AS INT) AS height,
        | CAST((4 + doc_id % 13) * (3 + doc_id % 7) * (doc_id % 200) AS BIGINT) AS sum_r,
        | CAST((4 + doc_id % 13) * (3 + doc_id % 7) * ((doc_id * 7) % 200) AS BIGINT) AS sum_g,
        | CAST((4 + doc_id % 13) * (3 + doc_id % 7) * ((doc_id * 13) % 200) AS BIGINT) AS sum_b
        |FROM documents WHERE doc_id % 20 = 0 ORDER BY media_id""".stripMargin)
}

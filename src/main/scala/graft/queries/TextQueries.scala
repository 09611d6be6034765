package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Text-analysis queries over the documents table (token counting, quality
  * scoring, language ID, fingerprinting), DuckDB-oracled. */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    ScanSpread(s.read.parquet(s"$dir/documents.parquet"), col("doc_id"))

  private val normSql = graft.functions.TextFunctions.normTextSql("text")
  private val nTokSql =
    s"CASE WHEN $normSql = '' THEN 0 ELSE CAST(len(string_split($normSql, ' ')) AS INT) END"
  private def hitsSql(ws: Seq[String]): String = {
    val lst = ws.map(w => s"'$w'").mkString("[", ",", "]")
    s"CASE WHEN $normSql = '' THEN 0 ELSE CAST(len(list_filter(string_split($normSql, ' '), x -> list_contains($lst, x))) AS INT) END"
  }
  private val avgLenSql =
    s"""CASE WHEN $nTokSql = 0 THEN 0.0
       | ELSE CAST(length(regexp_replace($normSql, ' ', '', 'g')) AS DOUBLE) / $nTokSql END""".stripMargin
  private val punctSql =
    s"""CASE WHEN length(text) = 0 THEN 0.0
       | ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_text_stats" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast(IntegerType).as("n_chars_text"),
        nTokens(col("text")).as("n_tokens"),
        nBpeTokens(col("text")).as("n_bpe_tokens"),
        avgTokenLen(col("text")).as("avg_token_len")).orderBy("doc_id")),
    "q22_text_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        nTokens(col("text")).as("n_tokens"),
        punctRatio(col("text")).as("punct_ratio"),
        avgTokenLen(col("text")).as("avg_token_len"),
        qualityOk(col("text")).as("quality_ok")).orderBy("doc_id")),
    "q23_text_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
        stopwordHits(col("text"), EnStop).as("en_hits"),
        stopwordHits(col("text"), EsStop).as("es_hits"),
        stopwordHits(col("text"), DeStop).as("de_hits"),
        langId(col("text")).as("predicted_lang")).orderBy("doc_id")),
    "q24_text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        fingerprint(col("text")).as("fp")).orderBy("doc_id")))

  val oracles: Map[String, String] = Map(
    "q21_text_stats" ->
      s"""SELECT doc_id, CAST(length(text) AS INT) AS n_chars_text,
         | $nTokSql AS n_tokens,
         | CAST(len(regexp_extract_all(coalesce(text, ''), '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+')) AS INT) AS n_bpe_tokens,
         | $avgLenSql AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_text_quality" ->
      s"""SELECT doc_id, $nTokSql AS n_tokens, $punctSql AS punct_ratio,
         | $avgLenSql AS avg_token_len,
         | ($nTokSql BETWEEN 5 AND 5000) AND $punctSql <= 0.2
         |   AND ($avgLenSql BETWEEN 2.0 AND 12.0) AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_text_langid" -> {
      val (en, es, de) = (hitsSql(EnStop), hitsSql(EsStop), hitsSql(DeStop))
      s"""SELECT doc_id, lang, $en AS en_hits, $es AS es_hits, $de AS de_hits,
         | CASE WHEN $en = 0 AND $es = 0 AND $de = 0 THEN 'unknown'
         |      WHEN $en >= $es AND $en >= $de THEN 'en'
         |      WHEN $es >= $de THEN 'es'
         |      ELSE 'de' END AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q24_text_fingerprint" ->
      s"""SELECT doc_id,
         | CASE WHEN $nTokSql = 0 THEN 0 ELSE CAST(list_sum(list_transform(
         |   generate_series(1, $nTokSql),
         |   i -> (CAST(('0x' || substr(md5(string_split($normSql, ' ')[i]), 1, 7)) AS BIGINT)
         |         * ((i * 2654435761) % 1000000007)) % 1000000007)) % 1000000007 AS BIGINT) END AS fp
         |FROM documents ORDER BY doc_id""".stripMargin)
}

package graft.transcripts

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed row of the north-rule input table (BASELINE.json input_hint). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp)

/** Deterministic multi-turn transcript synthesis.
  *
  * The sandbox test data has no transcript table, so we derive one from
  * `events.parquet` with a SQL template written in the dialect subset shared
  * by Spark SQL and DuckDB — the SAME string drives both the engine input
  * and the DuckDB oracle, making every downstream pipeline query
  * hash-comparable. Planted content (seeded by `event_id` residues):
  * empty/short turns (%23), symbol noise (%19), n-gram repetition (%17),
  * non-English spans (%13), profanity (%29), PII e-mails (%37), phone
  * numbers (%41), SSN-likes (%43), invalid roles (%97).
  *
  * `conv_id` is the conversation key: it is computed from `user_id` BEFORE
  * the turn-numbering window, and that window partitions by `conv_id`. So
  * `(conv_id, turn_idx)` is unique even where two `user_id`s render the same
  * `conv_id` (`lpad` truncates ids of 10^12 and up to 12 characters; they
  * form one conversation), and the output is hash-partitioned by `conv_id`:
  * QualityFilter's role-seq window reuses this one exchange and adds only a
  * local sort.
  */
object Transcripts {

  /** References a relation named `events`; valid Spark SQL *and* DuckDB. */
  val transcriptSql: String = """
SELECT
  conv_id,
  CAST(rn AS INT) AS turn_idx,
  CASE WHEN event_id % 97 = 0 THEN 'operator'
       WHEN rn = 0 THEN 'system'
       WHEN event_type = 'purchase' THEN 'tool'
       WHEN rn % 2 = 1 THEN 'user'
       ELSE 'assistant' END AS role,
  CASE WHEN event_id % 23 = 0 THEN ''
       WHEN event_id % 19 = 0 THEN '!!! ### $$$ %%% @@@ ^^^ &&& ***'
       WHEN event_id % 17 = 0 THEN 'again again again again again again again again again again'
       WHEN event_id % 13 = 0 THEN 'der die das und nicht ich sie wir haben sein werden koennen'
       ELSE
         CASE CAST(event_id % 7 AS INT)
           WHEN 0 THEN 'the quick brown fox jumps'
           WHEN 1 THEN 'a lazy dog sleeps quietly'
           WHEN 2 THEN 'we discussed the project plan'
           WHEN 3 THEN 'the model answers hard questions'
           WHEN 4 THEN 'spark jobs run very fast'
           WHEN 5 THEN 'data quality matters a lot'
           ELSE 'please check the latest results'
         END
         || CASE CAST(event_id % 5 AS INT)
           WHEN 0 THEN ' and then we continued working'
           WHEN 1 THEN ' with many more details today'
           WHEN 2 THEN ' over the large input table'
           WHEN 3 THEN ' during the long review session'
           ELSE ' before the next planned step'
         END
         || CASE CAST(event_id % 11 AS INT)
           WHEN 0 THEN ' because the answer was clear'
           WHEN 1 THEN ' although some parts were slow'
           WHEN 2 THEN ' since the cluster was busy'
           WHEN 3 THEN ' while the tests kept passing'
           WHEN 4 THEN ' after the results were saved'
           WHEN 5 THEN ' and the team agreed quickly'
           WHEN 6 THEN ' so the pipeline stayed green'
           WHEN 7 THEN ' but the costs stayed low'
           WHEN 8 THEN ' when the data was ready'
           WHEN 9 THEN ' if the schema stays stable'
           ELSE ' until the job was done'
         END
  END
  || CASE WHEN event_id % 29 = 0 THEN ' damn noise' ELSE '' END
  || CASE WHEN event_id % 37 = 0 THEN ' contact me at user' || CAST(user_id AS VARCHAR(12)) || '@example.com' ELSE '' END
  || CASE WHEN event_id % 41 = 0 THEN ' call 555-' || lpad(CAST(event_id % 900 + 100 AS VARCHAR(8)), 3, '0') || '-' || lpad(CAST(event_id % 9000 + 1000 AS VARCHAR(8)), 4, '0') ELSE '' END
  || CASE WHEN event_id % 43 = 0 THEN ' my ssn is 219-09-' || lpad(CAST(event_id % 9000 + 1000 AS VARCHAR(8)), 4, '0') ELSE '' END
  AS text,
  CASE WHEN event_id % 97 <> 0 AND rn > 0 AND event_type = 'purchase' THEN 'checkout' ELSE NULL END AS tool,
  ts
FROM (
  SELECT conv_id, event_id, user_id, ts, event_type,
         row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1 AS rn
  FROM (
    SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR(12)), 12, '0') AS conv_id,
           event_id, user_id, ts, event_type
    FROM events
  ) keyed
) numbered
"""

  /** DuckDB CTE prefix exposing `transcripts` over `events` for oracles. */
  val oracleCtePrefix: String =
    s"WITH transcripts AS (${transcriptSql.trim})"

  /** Build the transcript DataFrame from `$sfDir/events.parquet`. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("events")
    spark.sql(transcriptSql)
  }
}

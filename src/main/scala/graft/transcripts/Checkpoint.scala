package graft.transcripts

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Encoder, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.Json

/** Resumable, lineage-tracked pipeline runs with Iceberg-style snapshot
  * semantics (SURVEY.md §7.4: no Iceberg jar ships with this Spark build,
  * so the snapshot layer is parquet + JSON manifests with an atomic HEAD
  * swap mirroring Iceberg's commit protocol).
  *
  * Layout under `outDir`:
  *   data/bucket=<b>/…parquet     one directory per hash bucket of conv_id
  *   _manifests/manifest-<n>.json  immutable snapshot: bucket count +
  *                                 committed buckets + per-bucket lineage
  *   _manifests/HEAD               current snapshot number (atomic rename)
  *
  * A FRESH run is ONE Spark job: the pipeline output is hash-bucketed by
  * conv_id and written with `partitionBy("bucket")`, per-bucket lineage
  * riding the same job as ONE tally aggregate in one `Observation` — a
  * single input scan, then one snapshot committing every bucket. A RESUME
  * (some buckets already committed) processes only the missing buckets,
  * one job per bucket, committing one snapshot each — so a crash
  * mid-resume loses at most the in-flight bucket and a re-run is
  * idempotent. The manifest records the bucket count; resuming with a
  * different `buckets` value fails fast instead of silently mixing two
  * partitionings.
  */
object Checkpoint {

  final case class BucketLineage(
      bucket: Int, rowsIn: Long, rowsKept: Long, piiRows: Long,
      wallSecs: Double, inputPath: String, committedAtMs: Long)

  final case class RunReport(
      processed: Seq[Int], skipped: Seq[Int], lineage: Seq[BucketLineage])

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifests")

  private def headSnapshot(outDir: String): Option[Int] = {
    val head = manifestDir(outDir).resolve("HEAD")
    if (Files.exists(head)) Try(Files.readString(head).trim.toInt).toOption
    else None
  }

  /** Buckets committed as of the current HEAD snapshot. */
  def committedBuckets(outDir: String): Map[Int, BucketLineage] =
    readManifest(outDir)._2

  /** Bucket count recorded in the current HEAD snapshot (None pre-first-commit). */
  def committedBucketCount(outDir: String): Option[Int] = readManifest(outDir)._1

  private def readManifest(outDir: String): (Option[Int], Map[Int, BucketLineage]) =
    headSnapshot(outDir).map { n =>
      val f = manifestDir(outDir).resolve(s"manifest-$n.json")
      parseManifest(Files.readString(f))
    }.getOrElse((None, Map.empty))

  /** Minimal manifest parser (flat, engine-written JSON only). The
    * input_path capture tolerates Json.esc escapes (\" and \\) — a path
    * containing either would otherwise fail the match and silently drop
    * that bucket from the committed set. */
  private def parseManifest(s: String): (Option[Int], Map[Int, BucketLineage]) = {
    val entry = """\{"bucket":(\d+),"rows_in":(\d+),"rows_kept":(\d+),"pii_rows":(\d+),"wall_secs":([0-9.Ee+-]+),"input_path":"((?:[^"\\]|\\.)*)","committed_at_ms":(\d+)\}""".r
    def unesc(v: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '\\' && i + 1 < v.length) {
          v.charAt(i + 1) match {
            case 'n' => b.append('\n')
            case 'r' => b.append('\r')
            case 't' => b.append('\t')
            case 'u' =>
              b.append(Integer.parseInt(v.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case other => b.append(other)
          }
          i += 2
        } else { b.append(c); i += 1 }
      }
      b.toString
    }
    val lineage = entry.findAllMatchIn(s).map { m =>
      m.group(1).toInt -> BucketLineage(m.group(1).toInt, m.group(2).toLong,
        m.group(3).toLong, m.group(4).toLong, m.group(5).toDouble,
        unesc(m.group(6)), m.group(7).toLong)
    }.toMap
    val count = """"bucket_count":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    (count, lineage)
  }

  private def lineageJson(l: BucketLineage): String =
    s"""{"bucket":${l.bucket},"rows_in":${l.rowsIn},"rows_kept":${l.rowsKept},"pii_rows":${l.piiRows},"wall_secs":${l.wallSecs},"input_path":${Json.esc(l.inputPath)},"committed_at_ms":${l.committedAtMs}}"""

  /** Atomically commit a new snapshot = full lineage as of now. */
  private def commitSnapshot(outDir: String, bucketCount: Int,
      all: Map[Int, BucketLineage]): Int = {
    val dir = manifestDir(outDir)
    Files.createDirectories(dir)
    val next = headSnapshot(outDir).getOrElse(-1) + 1
    val body = all.values.toSeq.sortBy(_.bucket).map(lineageJson)
      .mkString(s"""{"snapshot":$next,"bucket_count":$bucketCount,"buckets":[""",
        ",", "]}")
    Files.writeString(dir.resolve(s"manifest-$next.json"), body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val tmp = dir.resolve(s"HEAD.tmp-$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, dir.resolve("HEAD"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  private def bucketCol(buckets: Int) = pmod(hash(col("conv_id")), lit(buckets))

  /** Run the quality-filter pipeline over `transcripts`, checkpointed by
    * conv_id hash bucket. `failAfterBuckets` injects a crash for tests
    * (forces the per-bucket path, since the one-pass path has no
    * per-bucket boundary to crash on). */
  def runResumable(transcripts: DataFrame, outDir: String, buckets: Int = 8,
      inputPath: String = "", failAfterBuckets: Int = Int.MaxValue): RunReport = {
    val (countOpt, committed) = readManifest(outDir)
    countOpt.foreach { c =>
      require(c == buckets,
        s"resume with buckets=$buckets but checkpoint was written with " +
          s"bucket_count=$c — rerun with buckets=$c or start a fresh outDir")
    }
    if (committed.isEmpty && failAfterBuckets == Int.MaxValue)
      runFresh(transcripts, outDir, buckets, inputPath)
    else
      runBucketLoop(transcripts, outDir, buckets, inputPath, failAfterBuckets,
        committed)
  }

  /** Per-bucket lineage counts as ONE aggregate over (bucket, keep,
    * pii_found): the buffer is [in_0..in_{B-1}, kept_0.., pii_0..], one
    * array update per row. (B×3 conditional sums cost 3B buffer updates per
    * row in the CollectMetrics operator, outside whole-stage codegen.) */
  private final class BucketTally(buckets: Int)
      extends Aggregator[(Int, Boolean, Boolean), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](3 * buckets)
    def reduce(t: Array[Long], r: (Int, Boolean, Boolean)): Array[Long] = {
      t(r._1) += 1
      if (r._2) t(buckets + r._1) += 1
      if (r._3) t(2 * buckets + r._1) += 1
      t
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(t: Array[Long]): Array[Long] = t
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Fresh run: ONE job — bucket, write partitionBy(bucket), per-bucket
    * lineage from one tally aggregate in a single Observation (no second
    * pass, no per-bucket re-scan of the input). A null keep or pii_found
    * (null text or role) counts as false. */
  private def runFresh(transcripts: DataFrame, outDir: String, buckets: Int,
      inputPath: String): RunReport = {
    val t0 = System.nanoTime()
    val out = QualityFilter(transcripts)
      .withColumn("bucket", bucketCol(buckets))
    val obs = new Observation("fresh_run")
    val tally = udaf(new BucketTally(buckets)).apply(col("bucket"),
      coalesce(col("keep"), lit(false)), coalesce(col("pii_found"), lit(false)))
    out.observe(obs, tally.as("tally"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$outDir/data")
    val t = obs.get("tally").asInstanceOf[collection.Seq[Long]]
    val wall = (System.nanoTime() - t0) / 1e9
    val now = System.currentTimeMillis()
    val lineage = (0 until buckets).map(b => b -> BucketLineage(b,
      t(b), t(buckets + b), t(2 * buckets + b), wall, inputPath, now)).toMap
    commitSnapshot(outDir, buckets, lineage)
    RunReport((0 until buckets), Nil, lineage.values.toSeq.sortBy(_.bucket))
  }

  /** Resume path: one job per missing bucket, one snapshot per commit. */
  private def runBucketLoop(transcripts: DataFrame, outDir: String,
      buckets: Int, inputPath: String, failAfterBuckets: Int,
      committed: Map[Int, BucketLineage]): RunReport = {
    val todo = (0 until buckets).filterNot(committed.contains)
    val done = scala.collection.mutable.ArrayBuffer.empty[BucketLineage]
    var lineage = committed
    var processedCount = 0
    todo.foreach { b =>
      if (processedCount >= failAfterBuckets)
        throw new RuntimeException(s"injected failure before bucket $b")
      val t0 = System.nanoTime()
      val slice = transcripts.filter(bucketCol(buckets) === b)
      val obs = new Observation(s"bucket_$b")
      val out = QualityFilter(slice).observe(obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("rows_kept"),
        sum(when(col("pii_found"), 1L).otherwise(0L)).as("pii_rows"))
      out.write.mode("overwrite").parquet(s"$outDir/data/bucket=$b")
      val m = obs.get
      val l = BucketLineage(b,
        m.getOrElse("rows_in", 0L).asInstanceOf[Long],
        m.getOrElse("rows_kept", 0L).asInstanceOf[Long],
        m.getOrElse("pii_rows", 0L).asInstanceOf[Long],
        (System.nanoTime() - t0) / 1e9, inputPath, System.currentTimeMillis())
      lineage = lineage + (b -> l)
      commitSnapshot(outDir, buckets, lineage)
      done += l
      processedCount += 1
    }
    RunReport(done.map(_.bucket).toSeq, committed.keys.toSeq.sorted, done.toSeq)
  }

  /** Read back the committed output as one DataFrame. Partition discovery
    * over the data root + an isin filter on the bucket partition column:
    * only committed bucket directories are scanned (partition pruning), an
    * orphan directory from a crash between write and commit is excluded,
    * and empty committed buckets (which produce no directory) don't error. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val committed = committedBuckets(outDir).keys.toSeq.sorted
    spark.read.parquet(s"$outDir/data")
      .filter(col("bucket").isin(committed: _*))
      .drop("bucket")
  }
}

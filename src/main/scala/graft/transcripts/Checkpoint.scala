package graft.transcripts

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoder, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.Json
import graft.metrics.JobLabel

/** Resumable, lineage-tracked pipeline runs with Iceberg-style snapshot
  * semantics (SURVEY.md §7.4: no Iceberg jar ships with this Spark build,
  * so the snapshot layer is parquet + JSON manifests with an atomic HEAD
  * swap mirroring Iceberg's commit protocol).
  *
  * Layout under `outDir`:
  *   data/snapshot=<n>/…parquet    the files written for snapshot n;
  *                                 every file carries the `bucket`
  *                                 column (a hash bucket of conv_id)
  *   _manifests/manifest-<n>.json  immutable snapshot, version 2: bucket
  *                                 count, the data files of each write
  *                                 (`file_sets`), committed buckets with
  *                                 per-bucket lineage and the file set
  *                                 each one lives in
  *   _manifests/HEAD               current snapshot number (atomic rename)
  *
  * The bucket is the unit of commit and resume but not of files: like
  * Iceberg's data-file entries, the manifest names the files that hold
  * each bucket. Every run takes ONE write path: the pipeline runs over the
  * buckets HEAD has not committed (the whole input when none is; else a
  * filter on the bucket, which keeps whole conversations), keeps its
  * `bucket` column, is sorted by it within each partition and written as
  * one plain parquet write (a file per write task that has rows; Spark's
  * task 0 always opens one), with per-bucket lineage riding the same job
  * as ONE tally aggregate in one `Observation`; then the written files are
  * listed and one snapshot commits every processed bucket with them. The
  * unit of loss is one run's write, fresh or resume: a crash before its
  * commit loses that write and nothing committed before it, and a re-run
  * redoes exactly the missing buckets. `readCommitted` reads only the files HEAD lists for
  * committed buckets, so a write that crashed before its commit is never
  * read and a re-run bucket never counts twice; a run deletes such
  * orphan directories before it writes. The manifest records the bucket
  * count; resuming with a different `buckets` value fails fast instead of
  * silently mixing two partitionings.
  *
  * Version-1 checkpoints (a `partitionBy("bucket")` write into
  * `data/bucket=<b>/`, manifests without a `version` field) still read
  * back and resume: a committed bucket without a file set is read from
  * its `bucket=<b>` directory, and the missing buckets go into one
  * `data/snapshot=<n>/`. Every run's jobs carry the Spark job description
  * `qf:write`.
  */
object Checkpoint {

  final case class BucketLineage(
      bucket: Int, rowsIn: Long, rowsKept: Long, piiRows: Long,
      wallSecs: Double, inputPath: String, committedAtMs: Long)

  final case class RunReport(
      processed: Seq[Int], skipped: Seq[Int], lineage: Seq[BucketLineage])

  /** One snapshot: bucket count, committed lineage and the data files of
    * each committed bucket (paths relative to outDir). A committed bucket
    * without files is a version-1 entry stored in `data/bucket=<b>/`. */
  private final case class Manifest(bucketCount: Option[Int],
      lineage: Map[Int, BucketLineage], files: Map[Int, Seq[String]])

  private val mapper = new ObjectMapper()

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifests")

  private def headSnapshot(outDir: String): Option[Int] = {
    val head = manifestDir(outDir).resolve("HEAD")
    if (Files.exists(head)) Try(Files.readString(head).trim.toInt).toOption
    else None
  }

  /** Buckets committed as of the current HEAD snapshot. */
  def committedBuckets(outDir: String): Map[Int, BucketLineage] =
    readManifest(outDir).lineage

  /** Bucket count recorded in the current HEAD snapshot (None pre-first-commit). */
  def committedBucketCount(outDir: String): Option[Int] = readManifest(outDir).bucketCount

  private def readManifest(outDir: String): Manifest =
    headSnapshot(outDir).map { n =>
      parseManifest(Files.readString(manifestDir(outDir).resolve(s"manifest-$n.json")))
    }.getOrElse(Manifest(None, Map.empty, Map.empty))

  /** Version 2 adds `version`, `file_sets` (lists of data files) and a
    * `file_set` index per bucket; a manifest without `version` is
    * version 1, whose buckets have no files. */
  private def parseManifest(s: String): Manifest = {
    val root = mapper.readTree(s)
    val version = Option(root.get("version")).fold(1)(_.asInt)
    require(version <= 2, s"unsupported checkpoint manifest version $version")
    val fileSets = Option(root.get("file_sets")).toSeq.flatMap(_.elements().asScala)
      .map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq
    val entries = Option(root.get("buckets")).toSeq.flatMap(_.elements().asScala)
    val lineage = entries.map { e =>
      val b = e.get("bucket").asInt
      b -> BucketLineage(b, e.get("rows_in").asLong, e.get("rows_kept").asLong,
        e.get("pii_rows").asLong, e.get("wall_secs").asDouble,
        e.get("input_path").asText, e.get("committed_at_ms").asLong)
    }.toMap
    val files = entries.flatMap(e => Option(e.get("file_set"))
      .map(i => e.get("bucket").asInt -> fileSets(i.asInt))).toMap
    Manifest(Option(root.get("bucket_count")).map(_.asInt), lineage, files)
  }

  /** Atomically commit a new snapshot = full lineage and files as of now. */
  private def commitSnapshot(outDir: String, m: Manifest): Unit = {
    val dir = manifestDir(outDir)
    Files.createDirectories(dir)
    val next = nextSnapshot(outDir)
    val sets = m.files.toSeq.sortBy(_._1).map(_._2).distinct
    val setOf = sets.zipWithIndex.toMap
    val buckets = m.lineage.values.toSeq.sortBy(_.bucket).map { l =>
      ListMap[String, Any]("bucket" -> l.bucket, "rows_in" -> l.rowsIn,
        "rows_kept" -> l.rowsKept, "pii_rows" -> l.piiRows,
        "wall_secs" -> l.wallSecs, "input_path" -> l.inputPath,
        "committed_at_ms" -> l.committedAtMs) ++
        m.files.get(l.bucket).map(f => "file_set" -> setOf(f))
    }
    val body = Json.write(ListMap("version" -> 2, "snapshot" -> next,
      "bucket_count" -> m.bucketCount, "file_sets" -> sets, "buckets" -> buckets))
    Files.writeString(dir.resolve(s"manifest-$next.json"), body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val tmp = dir.resolve(s"HEAD.tmp-$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, dir.resolve("HEAD"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def listDir(p: Path): List[Path] =
    Using.resource(Files.list(p))(_.iterator().asScala.toList)

  /** Deletes what HEAD does not reference under data/: the directories of
    * writes that crashed before their commit (for a version-1 checkpoint,
    * the `bucket=<b>` directories of uncommitted buckets). */
  private def dropOrphans(outDir: String, head: Manifest): Unit = {
    val data = Paths.get(outDir, "data")
    if (Files.isDirectory(data)) {
      val keep = head.files.values.flatten
        .map(f => Paths.get(f).getParent.getFileName.toString).toSet ++
        (head.lineage.keySet -- head.files.keySet).map(b => s"bucket=$b")
      listDir(data).filterNot(p => keep(p.getFileName.toString)).foreach { p =>
        Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse
          .foreach(Files.delete)
      }
    }
  }

  private def nextSnapshot(outDir: String): Int = headSnapshot(outDir).getOrElse(-1) + 1

  /** Writes `df` as one plain parquet write into the directory of the
    * next snapshot and returns its data files, relative to outDir. The
    * `snapshot=<n>` name keeps a raw `spark.read.parquet` of data/ working
    * (it reads as a partition column). */
  private def writeFiles(df: DataFrame, outDir: String): Seq[String] = {
    val rel = s"data/snapshot=${nextSnapshot(outDir)}"
    df.write.parquet(s"$outDir/$rel")
    listDir(Paths.get(outDir, rel)).map(_.getFileName.toString)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("."))
      .sorted.map(f => s"$rel/$f")
  }

  private def bucketCol(buckets: Int) = pmod(hash(col("conv_id")), lit(buckets))

  /** Run the quality-filter pipeline over `transcripts`, checkpointed by
    * conv_id hash bucket: the buckets HEAD has not committed are written
    * by one parquet write, whose jobs carry the label `qf:write`, and
    * committed in one snapshot; with every bucket committed the run is a
    * no-op that starts no job.
    * `failBeforeCommit` injects a crash for tests: the run writes, then
    * fails before its commit, leaving an orphan write. */
  def runResumable(transcripts: DataFrame, outDir: String, buckets: Int = 8,
      inputPath: String = "", failBeforeCommit: Boolean = false): RunReport = {
    require(buckets > 0, s"buckets must be positive, got buckets=$buckets")
    val head = readManifest(outDir)
    head.bucketCount.foreach { c =>
      require(c == buckets,
        s"resume with buckets=$buckets but checkpoint was written with " +
          s"bucket_count=$c — rerun with buckets=$c or start a fresh outDir")
    }
    dropOrphans(outDir, head)
    val missing = (0 until buckets).filterNot(head.lineage.contains)
    val skipped = head.lineage.keys.toSeq.sorted
    if (missing.isEmpty) RunReport(Nil, skipped, Nil)
    else {
      val t0 = System.nanoTime()
      val in = if (head.lineage.isEmpty) transcripts
        else transcripts.filter(bucketCol(buckets).isin(missing: _*))
      val out = QualityFilter(in).withColumn("bucket", bucketCol(buckets))
      val obs = new Observation("qf_write")
      val files = JobLabel(transcripts.sparkSession, "qf:write") {
        writeFiles(out.observe(obs, tally(buckets)).sortWithinPartitions("bucket"), outDir)
      }
      if (failBeforeCommit)
        throw new RuntimeException("injected failure after the write, before its commit")
      val wall = (System.nanoTime() - t0) / 1e9
      val now = System.currentTimeMillis()
      val written = missing.map(b => bucketLineage(obs, buckets, b, wall, inputPath, now))
      commitSnapshot(outDir, Manifest(Some(buckets),
        head.lineage ++ written.map(l => l.bucket -> l),
        head.files ++ missing.map(_ -> files)))
      RunReport(missing, skipped, written)
    }
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

  /** Per-bucket lineage of a qf output with a `bucket` column as ONE
    * [[BucketTally]] aggregate (a null keep or pii_found — null text or
    * role — counts as false); `bucketLineage` decodes its Observation. */
  private def tally(buckets: Int) = udaf(new BucketTally(buckets)).apply(col("bucket"),
    coalesce(col("keep"), lit(false)), coalesce(col("pii_found"), lit(false))).as("tally")

  private def bucketLineage(obs: Observation, buckets: Int, b: Int, wallSecs: Double,
      inputPath: String, at: Long): BucketLineage = {
    val t = obs.get("tally").asInstanceOf[collection.Seq[Long]]
    BucketLineage(b, t(b), t(buckets + b), t(2 * buckets + b), wallSecs, inputPath, at)
  }

  /** Read back the committed output as one DataFrame: only the files HEAD
    * lists for committed buckets, filtered on `bucket`, plus the
    * `bucket=<b>` directories of committed version-1 buckets (an empty
    * version-1 bucket has no directory). An orphan write from a crash
    * between write and commit is never listed, so never read. */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val head = readManifest(outDir)
    val files = head.files.values.flatten.toSeq.distinct.sorted
    val tracked = Option.when(files.nonEmpty)(
      spark.read.parquet(files.map(f => s"$outDir/$f"): _*)
        .filter(col("bucket").isin(head.files.keys.toSeq.sorted: _*)))
    val v1Dirs = (head.lineage.keySet -- head.files.keySet).toSeq.sorted
      .map(b => s"$outDir/data/bucket=$b").filter(d => Files.isDirectory(Paths.get(d)))
    val v1 = Option.when(v1Dirs.nonEmpty)(
      spark.read.option("basePath", s"$outDir/data").parquet(v1Dirs: _*))
    (tracked ++ v1).reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalStateException(s"no committed data files under $outDir"))
      .drop("bucket")
  }
}

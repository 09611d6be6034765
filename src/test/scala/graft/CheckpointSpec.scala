package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.Meter
import graft.transcripts.{Checkpoint, QualityFilter, Transcripts, Turn}

class CheckpointSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  def freshDir(): String = tempDir("run")

  lazy val transcripts = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")

  def bucketOf(buckets: Int) = pmod(hash(col("conv_id")), lit(buckets))

  /** A version-2 checkpoint in `dir` in which exactly the buckets `< k` are
    * committed: a fresh run over their rows, then HEAD's manifest rewritten
    * to list only them (the state a run that committed those buckets and
    * crashed before committing the rest leaves behind). */
  def partialCheckpoint(input: DataFrame, dir: String, buckets: Int, k: Int): Unit = {
    Checkpoint.runResumable(input.filter(bucketOf(buckets) < k), dir,
      buckets = buckets, inputPath = "sf0.001")
    val manifests = Paths.get(dir, "_manifests")
    val manifest = manifests.resolve(
      s"manifest-${Files.readString(manifests.resolve("HEAD")).trim}.json")
    val mapper = new ObjectMapper()
    val json = mapper.readTree(Files.readString(manifest)).asInstanceOf[ObjectNode]
    val committed = json.get("buckets").elements().asScala
      .filter(_.get("bucket").asInt < k).toSeq
    json.putArray("buckets").addAll(committed.asJava)
    Files.writeString(manifest, mapper.writeValueAsString(json))
    assert(Checkpoint.committedBuckets(dir).keySet == (0 until k).toSet)
  }

  test("crash mid-run, resume completes, result equals single-shot") {
    val dir = freshDir()
    // 3 of 8 buckets committed, then a run that crashes before its commit
    partialCheckpoint(transcripts, dir, 8, 3)
    intercept[RuntimeException] {
      Checkpoint.runResumable(transcripts, dir, buckets = 8,
        inputPath = "sf0.001", failBeforeCommit = true)
    }
    val afterCrash = Checkpoint.committedBuckets(dir)
    assert(afterCrash.size == 3)
    // resume
    val report = Checkpoint.runResumable(transcripts, dir, buckets = 8,
      inputPath = "sf0.001")
    assert(report.skipped.size == 3)
    assert(report.processed.size == 5)
    val resumed = Checkpoint.readCommitted(spark, dir)
    val oneShot = QualityFilter(transcripts)
    assert(resumed.count() == oneShot.count())
    assert(resumed.select("conv_id", "turn_idx", "keep", "scrubbed_text")
      .exceptAll(oneShot.select("conv_id", "turn_idx", "keep", "scrubbed_text"))
      .isEmpty)
  }

  test("fresh run is one pass: a single Spark job, full per-bucket lineage") {
    val dir = freshDir()
    transcripts.count() // materialize any lazy setup outside the window
    val m = Meter.measure(spark)(Checkpoint.runResumable(transcripts, dir,
      buckets = 8, inputPath = "sf0.001"))
    val (r, jobs) = (m.result, m.counters.jobs)
    assert(r.processed == (0 until 8))
    assert(jobs <= 3, s"fresh run must not scan per bucket (saw $jobs jobs)")
    val lineage = Checkpoint.committedBuckets(dir)
    assert(lineage.size == 8)
    assert(lineage.values.map(_.rowsIn).sum == transcripts.count())
    assert(Checkpoint.readCommitted(spark, dir).count() ==
      QualityFilter(transcripts).count())
  }

  test("per-bucket lineage: each bucket equals a groupBy of its written rows; " +
      "fresh run ≡ crash + resume") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    import spark.implicits._
    val t0 = new java.sql.Timestamp(1700000000000L)
    val good = "we discussed the project plan with many more details today"
    // null text and null role: read in, never kept
    val input = transcripts.unionByName(Seq(
      Turn("conv-null-text", 0, "system", null, null, t0),
      Turn("conv-null-role", 0, null, good, null, t0)).toDF())
    val buckets = 64
    def counts(l: Checkpoint.BucketLineage) = (l.rowsIn, l.rowsKept, l.piiRows)

    val dir = freshDir()
    Checkpoint.runResumable(input, dir, buckets = buckets, inputPath = "sf0.001")
    val fresh = Checkpoint.committedBuckets(dir)
    assert(fresh.keySet == (0 until buckets).toSet)
    val written = spark.read.parquet(s"$dir/data")
    val byBucket = written.groupBy("bucket").agg(count(lit(1)),
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(col("pii_found"), 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    (0 until buckets).foreach { b =>
      assert(counts(fresh(b)) == byBucket.getOrElse(b, (0L, 0L, 0L)), s"bucket $b")
    }
    // 17 conversations over 64 buckets: some bucket is empty and reads 0
    assert(fresh.values.exists(l => counts(l) == ((0L, 0L, 0L))))
    assert(fresh.values.map(_.rowsIn).sum == input.count())
    assert(fresh.values.exists(_.piiRows > 0))
    val nullRows = written.filter(col("conv_id").startsWith("conv-null"))
      .select("bucket", "keep").collect()
    assert(nullRows.length == 2)
    nullRows.foreach { r =>
      assert(r.isNullAt(1) || !r.getBoolean(1), s"null text/role kept: $r")
    }

    val resumedDir = freshDir()
    partialCheckpoint(input, resumedDir, buckets, 5)
    intercept[RuntimeException] {
      Checkpoint.runResumable(input, resumedDir, buckets = buckets,
        inputPath = "sf0.001", failBeforeCommit = true)
    }
    Checkpoint.runResumable(input, resumedDir, buckets = buckets, inputPath = "sf0.001")
    val resumed = Checkpoint.committedBuckets(resumedDir)
    (0 until buckets).foreach { b =>
      assert(counts(resumed(b)) == counts(fresh(b)), s"bucket $b")
    }
  }

  test("resume with mismatched bucket count fails fast") {
    val dir = freshDir()
    Checkpoint.runResumable(transcripts, dir, buckets = 4, inputPath = "x")
    val ex = intercept[IllegalArgumentException] {
      Checkpoint.runResumable(transcripts, dir, buckets = 8, inputPath = "x")
    }
    assert(ex.getMessage.contains("bucket_count=4"))
    // a non-positive bucket count is rejected before any job runs
    val jobs = JobCapture(spark.sparkContext) {
      intercept[IllegalArgumentException] {
        Checkpoint.runResumable(transcripts, freshDir(), buckets = 0, inputPath = "x")
      }
    }
    assert(jobs.isEmpty, jobs)
  }

  test("completed run re-runs as a no-op; lineage metrics are consistent") {
    val dir = freshDir()
    val r1 = Checkpoint.runResumable(transcripts, dir, buckets = 4, inputPath = "sf0.001")
    assert(r1.processed == Seq(0, 1, 2, 3))
    val head = Files.readString(Paths.get(dir, "_manifests", "HEAD"))
    val jobs = JobCapture(spark.sparkContext) {
      val r2 = Checkpoint.runResumable(transcripts, dir, buckets = 4, inputPath = "sf0.001")
      assert(r2.processed.isEmpty)
      assert(r2.skipped == Seq(0, 1, 2, 3))
    }
    assert(jobs.isEmpty, s"a no-op re-run started jobs: $jobs")
    assert(Files.readString(Paths.get(dir, "_manifests", "HEAD")) == head,
      "a no-op re-run committed a snapshot")
    val lineage = Checkpoint.committedBuckets(dir)
    assert(lineage.values.map(_.rowsIn).sum == transcripts.count())
    val kept = QualityFilter(transcripts).filter("keep").count()
    assert(lineage.values.map(_.rowsKept).sum == kept)
    assert(lineage.values.forall(_.inputPath == "sf0.001"))
  }

  def parquetFiles(dir: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  def dataDirs(dir: String): Set[String] =
    Files.list(Paths.get(dir, "data")).iterator().asScala.map(_.getFileName.toString).toSet

  /** Same rows, as multisets, over the columns the pipeline writes. */
  def assertSameRows(a: DataFrame, b: DataFrame, clue: String): Unit = {
    val cols = Seq("conv_id", "turn_idx", "keep", "pii_found", "scrubbed_text")
    assert(a.count() == b.count(), clue)
    assert(a.select(cols.map(col): _*).exceptAll(b.select(cols.map(col): _*)).isEmpty, clue)
    assert(b.select(cols.map(col): _*).exceptAll(a.select(cols.map(col): _*)).isEmpty, clue)
  }

  test("fresh run at 64 buckets writes fewer parquet files than buckets; " +
      "the manifest is version 2") {
    val dir = freshDir()
    Checkpoint.runResumable(transcripts, dir, buckets = 64, inputPath = "sf0.001")
    val files = parquetFiles(dir)
    assert(files.nonEmpty && files.size < 64, s"${files.size} files for 64 buckets")
    val head = Files.readString(Paths.get(dir, "_manifests", "HEAD")).trim
    assert(Files.readString(Paths.get(dir, "_manifests", s"manifest-$head.json"))
      .startsWith("""{"version":2,"""))
    assert(Checkpoint.committedBuckets(dir).keySet == (0 until 64).toSet)
    assertSameRows(Checkpoint.readCommitted(spark, dir), QualityFilter(transcripts),
      "fresh run")
  }

  test("a write that crashed before its commit is never read; resume equals " +
      "an uncrashed run, rows and per-bucket lineage") {
    import spark.implicits._
    val buckets = 8
    val clean = freshDir()
    Checkpoint.runResumable(transcripts, clean, buckets = buckets, inputPath = "sf0.001")
    // buckets < b committed, b the first non-empty bucket > 0; then a run
    // writes the rest and crashes before its commit
    val b = transcripts.select(bucketOf(buckets)).distinct().as[Int].collect()
      .filter(_ > 0).min
    val dir = freshDir()
    partialCheckpoint(transcripts, dir, buckets, b)
    intercept[RuntimeException] {
      Checkpoint.runResumable(transcripts, dir, buckets = buckets,
        inputPath = "sf0.001", failBeforeCommit = true)
    }
    assert(Checkpoint.committedBuckets(dir).keySet == (0 until b).toSet)
    val written = spark.read.parquet(s"$dir/data")
    assert(written.filter(col("bucket") === b).count() > 0, "no orphan rows on disk")
    val committed = QualityFilter(transcripts).filter(bucketOf(buckets) < b)
    assertSameRows(Checkpoint.readCommitted(spark, dir), committed, "after crash")

    val report = Checkpoint.runResumable(transcripts, dir, buckets = buckets,
      inputPath = "sf0.001")
    assert(report.processed == (b until buckets))
    assertSameRows(Checkpoint.readCommitted(spark, dir),
      Checkpoint.readCommitted(spark, clean), "resumed")
    // the orphan directory is gone: the raw data root holds each row once
    assert(spark.read.parquet(s"$dir/data").count() == transcripts.count())
    val (resumed, fresh) = (Checkpoint.committedBuckets(dir), Checkpoint.committedBuckets(clean))
    (0 until buckets).foreach { k =>
      assert((resumed(k).rowsIn, resumed(k).rowsKept, resumed(k).piiRows) ==
        ((fresh(k).rowsIn, fresh(k).rowsKept, fresh(k).piiRows)), s"bucket $k")
    }
  }

  test("a version-1 checkpoint (partitionBy directories, unversioned manifest) " +
      "reads back identically and resumes") {
    val buckets = 8
    val dir = freshDir()
    val out = QualityFilter(transcripts).withColumn("bucket", bucketOf(buckets))
    out.write.partitionBy("bucket").parquet(s"$dir/data")
    val counts = out.groupBy("bucket").agg(count(lit(1)),
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(col("pii_found"), 1L).otherwise(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // buckets 0-3 committed, 4-7 written but not: the v1 writer's format
    val path = "in\"put\\v1"
    val entries = (0 until 4).map { b =>
      val (in, kept, pii) = counts.getOrElse(b, (0L, 0L, 0L))
      s"""{"bucket":$b,"rows_in":$in,"rows_kept":$kept,"pii_rows":$pii,""" +
        s""""wall_secs":0.25,"input_path":${graft.core.Json.esc(path)},""" +
        s""""committed_at_ms":1700000000000}"""
    }
    Files.createDirectories(Paths.get(dir, "_manifests"))
    Files.writeString(Paths.get(dir, "_manifests", "manifest-0.json"),
      entries.mkString("""{"snapshot":0,"bucket_count":8,"buckets":[""", ",", "]}"))
    Files.writeString(Paths.get(dir, "_manifests", "HEAD"), "0")

    val v1 = Checkpoint.committedBuckets(dir)
    assert(v1.keySet == (0 until 4).toSet)
    assert(v1.values.forall(l => l.inputPath == path && l.wallSecs == 0.25))
    assert(Checkpoint.committedBucketCount(dir).contains(8))
    assertSameRows(Checkpoint.readCommitted(spark, dir),
      out.filter(col("bucket") < 4), "v1 read back")

    val report = Checkpoint.runResumable(transcripts, dir, buckets = buckets,
      inputPath = "sf0.001")
    assert(report.skipped == (0 until 4) && report.processed == (4 until 8))
    assertSameRows(Checkpoint.readCommitted(spark, dir), QualityFilter(transcripts),
      "v1 resumed")
    val lineage = Checkpoint.committedBuckets(dir)
    (0 until buckets).foreach { b =>
      assert((lineage(b).rowsIn, lineage(b).rowsKept, lineage(b).piiRows) ==
        counts.getOrElse(b, (0L, 0L, 0L)), s"bucket $b")
    }
    assert(lineage(0).inputPath == path && lineage(4).inputPath == "sf0.001")
  }

  test("resuming 59 of 64 buckets is one write: at most 3 jobs, all qf:write, " +
      "one snapshot directory, no empty file but write task 0's") {
    // a resume by one job per missing bucket (the loop this path replaced)
    // started 118 jobs here and wrote 59 snapshot directories holding 59
    // files, 46 of them with 0 rows
    val buckets = 64
    val dir = freshDir()
    partialCheckpoint(transcripts, dir, buckets, 5)
    val before = dataDirs(dir)
    transcripts.count() // lazy setup outside the window
    val jobs = JobCapture(spark.sparkContext) {
      val r = Checkpoint.runResumable(transcripts, dir, buckets = buckets,
        inputPath = "sf0.001")
      assert(r.processed == (5 until buckets) && r.skipped == (0 until 5))
    }
    assert(jobs.size <= 3, s"${jobs.size} jobs: $jobs")
    assert(jobs.forall(_.description == "qf:write"), jobs)
    val added = dataDirs(dir) -- before
    assert(added.size == 1 && added.head.startsWith("snapshot="), added)
    val files = parquetFiles(dir).filter(_.getParent.getFileName.toString == added.head)
    val writeTasks = jobs.last.tasks // the write is the last job to start
    assert(files.nonEmpty && files.size <= writeTasks,
      s"${files.size} files from $writeTasks write tasks")
    val empty = files.map(_.getFileName.toString)
      .filter(f => spark.read.parquet(s"$dir/data/${added.head}/$f").count() == 0)
    assert(empty.forall(_.startsWith("part-00000-")), s"empty files: $empty")
    assertSameRows(Checkpoint.readCommitted(spark, dir), QualityFilter(transcripts),
      "resumed")
  }

  test("every job a run starts carries a qf: description; the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    transcripts.count() // lazy setup outside the window
    sc.setJobDescription("caller")
    try {
      val descs = JobCapture(sc) {
        Checkpoint.runResumable(transcripts, freshDir(), buckets = 8, inputPath = "x")
        val dir = freshDir()
        partialCheckpoint(transcripts, dir, 8, 2)
        intercept[RuntimeException] {
          Checkpoint.runResumable(transcripts, dir, buckets = 8, inputPath = "x",
            failBeforeCommit = true)
        }
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        Checkpoint.runResumable(transcripts, dir, buckets = 8, inputPath = "x")
      }.map(_.description)
      assert(descs.contains("qf:write"), descs)
      assert(descs.forall(d => d != null && d.startsWith("qf:")), descs)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("results round-trip through the in-memory and JDBC store actions") {
    import graft.core._
    import graft.core.SuiteCheckpoint._
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    val mem = new InMemoryResultStore
    val dbDir = freshDir()
    val jdbc = JdbcResultStore(s"jdbc:derby:$dbDir/graftdb;create=true")
    val suites = Seq(
      df -> Suite("good", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(10)))),
      df -> Suite("bad", Seq(ExpectColumnValuesToBeBetween("x", Some(1), Some(5)))))
    val cr = SuiteCheckpoint.run("cp1", suites, Seq(mem, jdbc))
    assert(!cr.success)

    // in-memory: both results retrievable, verdicts preserved
    assert(mem.get("cp1", "good").exists(_.success))
    assert(mem.get("cp1", "bad").exists(!_.success))
    assert(mem.keys == Seq(("cp1", "bad"), ("cp1", "good")))

    // JDBC: queryable columns + the full GE-shaped JSON document;
    // re-running the checkpoint replaces rows (fixed-key set semantics)
    SuiteCheckpoint.run("cp1", suites, Seq(jdbc))
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:derby:$dbDir/graftdb")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT suite_name, run_success, evaluated, successful, document " +
          "FROM graft_validation_results ORDER BY suite_name")
      assert(rs.next())
      assert(rs.getString(1) == "bad" && !rs.getBoolean(2))
      assert(rs.getInt(3) == 1 && rs.getInt(4) == 0)
      assert(rs.getString(5).contains("\"unexpected_count\""))
      assert(rs.next())
      assert(rs.getString(1) == "good" && rs.getBoolean(2))
      assert(!rs.next()) // replaced, not appended
    } finally conn.close()
  }
}

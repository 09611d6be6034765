package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, sum, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.Meter
import graft.transcripts.{Checkpoint, QualityFilter, Transcripts, Turn}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def freshDir(): String =
    Files.createTempDirectory("graft_ckpt").toString

  lazy val transcripts = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")

  test("crash mid-run, resume completes, result equals single-shot") {
    val dir = freshDir()
    // crash after 3 of 8 buckets
    intercept[RuntimeException] {
      Checkpoint.runResumable(transcripts, dir, buckets = 8,
        inputPath = "sf0.001", failAfterBuckets = 3)
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
    intercept[RuntimeException] {
      Checkpoint.runResumable(input, resumedDir, buckets = buckets,
        inputPath = "sf0.001", failAfterBuckets = 5)
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
  }

  test("completed run re-runs as a no-op; lineage metrics are consistent") {
    val dir = freshDir()
    val r1 = Checkpoint.runResumable(transcripts, dir, buckets = 4, inputPath = "sf0.001")
    assert(r1.processed == Seq(0, 1, 2, 3))
    val r2 = Checkpoint.runResumable(transcripts, dir, buckets = 4, inputPath = "sf0.001")
    assert(r2.processed.isEmpty)
    assert(r2.skipped == Seq(0, 1, 2, 3))
    val lineage = Checkpoint.committedBuckets(dir)
    assert(lineage.values.map(_.rowsIn).sum == transcripts.count())
    val kept = QualityFilter(transcripts).filter("keep").count()
    assert(lineage.values.map(_.rowsKept).sum == kept)
    assert(lineage.values.forall(_.inputPath == "sf0.001"))
  }

  def parquetFiles(dir: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  /** Same rows, as multisets, over the columns the pipeline writes. */
  def assertSameRows(a: DataFrame, b: DataFrame, clue: String): Unit = {
    val cols = Seq("conv_id", "turn_idx", "keep", "pii_found", "scrubbed_text")
    assert(a.count() == b.count(), clue)
    assert(a.select(cols.map(col): _*).exceptAll(b.select(cols.map(col): _*)).isEmpty, clue)
    assert(b.select(cols.map(col): _*).exceptAll(a.select(cols.map(col): _*)).isEmpty, clue)
  }

  def bucketOf(buckets: Int) = pmod(hash(col("conv_id")), lit(buckets))

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
    // crash after writing the first non-empty bucket b > 0, before its commit
    val b = transcripts.select(bucketOf(buckets)).distinct().as[Int].collect()
      .filter(_ > 0).min
    val dir = freshDir()
    intercept[RuntimeException] {
      Checkpoint.runResumable(transcripts, dir, buckets = buckets,
        inputPath = "sf0.001", failAfterBuckets = b)
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

  test("every job a run starts carries a qf: description; the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    transcripts.count() // lazy setup outside the window
    sc.setJobDescription("caller")
    try {
      val descs = JobCapture(sc) {
        Checkpoint.runResumable(transcripts, freshDir(), buckets = 8, inputPath = "x")
        val dir = freshDir()
        intercept[RuntimeException] {
          Checkpoint.runResumable(transcripts, dir, buckets = 8, inputPath = "x",
            failAfterBuckets = 2)
        }
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        Checkpoint.runResumable(transcripts, dir, buckets = 8, inputPath = "x")
      }.map(_.description)
      assert(descs.contains("qf:fresh_write"), descs)
      assert((0 until 8).forall(b => descs.contains(s"qf:bucket_$b")), descs)
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

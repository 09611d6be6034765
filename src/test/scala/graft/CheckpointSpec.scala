package graft

import java.nio.file.Files

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

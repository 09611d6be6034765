package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.core._
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.transcripts.{Checkpoint, QualityFilter, Transcripts}

/** JVM side of the benchmark (see perfbench/README.md).
  *
  *   Main dump-sql <dir>       write the repo's oracle / sessionizing SQL
  *   Main run key=value ...    set up, run passes, write result.json
  *   Main train key=value ...  run every warm-up once (class-data-sharing
  *                             archive training, see run.py)
  *
  * `run` times calls into each module's public functions from outside and
  * writes raw per-pass outputs, per-span counters and spans; run.py checks
  * the outputs against DuckDB and turns the rest into named metrics. */
object Main {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("dump-sql") => dumpSql(Paths.get(args(1)))
    case Some(mode @ ("run" | "train")) =>
      val kv = args.drop(1).map { a =>
        val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      if (mode == "run") run(kv) else train(kv)
    case _ =>
      System.err.println("usage: perfbench.Main dump-sql <dir> | run key=value ...")
      sys.exit(2)
  }

  private def dumpSql(dir: Path): Unit = {
    Files.createDirectories(dir)
    val oracle = SparkEntry.oracleSql
    val files = Map(
      "q01_suite_lineitem.sql" -> oracle("q01_suite_lineitem"),
      "q03_qf_turns.sql" -> oracle("q03_qf_turns"),
      "q04_suite_transcripts.sql" -> oracle("q04_suite_transcripts"),
      "transcripts.sql" -> Transcripts.transcriptSql,
      "norm_text.sql" -> TextFunctions.normTextSql("text"))
    files.foreach { case (name, sql) =>
      Files.writeString(dir.resolve(name), sql) }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def workloads(kv: Map[String, String], runDir: Path): Map[String, Workload] = {
    val in = kv.collect { case (k, v) if k.startsWith("in.") => k.drop(3) -> v }
    Map("qf_job" -> (() => new QfJob(in, runDir)),
      "validate_dedup" -> (() =>
        new InSequence(new SuiteValidate(in), new DedupDocs(in, runDir))))
      .collect { case (name, mk) if kv("workload") == name || kv("workload") == "all" => name -> mk() }
  }

  private def train(kv: Map[String, String]): Unit = {
    val runDir = Paths.get(kv("run_dir"))
    val spark = session(kv("cores").toInt, runDir)
    val tracer = new Tracer(spark.sparkContext, new Meter, System.nanoTime())
    workloads(kv, runDir).values.foreach(_.warmUp(spark, tracer))
    spark.stop()
  }

  private def run(kv: Map[String, String]): Unit = {
    val workload = kv("workload")
    val seconds = kv("seconds").toDouble
    val traceMode = kv("trace") == "1"
    val cores = kv("cores").toInt
    val setupCycles = kv("setup_cycles").toInt
    val minPasses = kv("min_passes").toInt
    val settlePasses = kv("settle_passes").toInt
    val runDir = Paths.get(kv("run_dir"))
    val w: Workload = workloads(kv, runDir).getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val meter = new Meter
    // set-up: session start plus a warm-up pass over the warm-up inputs,
    // repeated; every cycle but the last stops its session again
    val setupS, sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    for (cycle <- 1 to setupCycles) {
      val t0 = System.nanoTime()
      spark = session(cores, runDir)
      spark.sparkContext.addSparkListener(meter)
      sessionS += (System.nanoTime() - t0) / 1e9
      tracer = new Tracer(spark.sparkContext, meter, t0)
      w.warmUp(spark, tracer)
      setupS += (System.nanoTime() - t0) / 1e9
      if (cycle < setupCycles) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val rows = w.rows(spark)
    // the stopped set-up sessions leave their garbage behind; collect it
    // here rather than inside the first measured pass
    System.gc()

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var p = 0
    // Settling passes come first and are checked but kept out of the
    // medians (see SETTLE_PASSES in run.py). A traced run then alternates
    // untraced and traced passes, so the tracing overhead comes from passes
    // interleaved in time.
    while (p < settlePasses + minPasses || elapsed < seconds) {
      p += 1
      val settle = p <= settlePasses
      val traced = traceMode && !settle && (p - settlePasses) % 2 == 0
      val before = storageUsed(spark)
      val rec = try {
        var out: Map[String, Any] = Map.empty
        tracer.span(p, s"p$p") { out = w.pass(spark, tracer, p, traced) }
        val wall = tracer.spans.last
        val retainedMb = (storageUsed(spark) - before) / 1048576.0
        val checked = w.outputs(spark, p, out)
        Map("pass" -> p, "traced" -> traced, "settle" -> settle,
          "wall_s" -> (wall.endNs - wall.startNs) / 1e9,
          "retained_mb" -> retainedMb, "outputs" -> checked)
      } catch {
        case e: Exception =>
          e.printStackTrace()
          Map("pass" -> p, "traced" -> traced, "settle" -> settle,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      passes += rec
      w.cleanUp(p)
      // let the context cleaner release what the pass left behind, outside
      // any timed interval
      System.gc()
      tracer.drain()
    }
    val measuredS = elapsed

    val counters = meter.counters.asScala.map { case (k, c) => k -> c.toMap }.toMap
    val spans = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "key" -> s.key, "start_s" -> (s.startNs - tracer.originNs) / 1e9,
        "end_s" -> (s.endNs - tracer.originNs) / 1e9, "end_ms" -> s.endMs)
    }
    val result = Map(
      "workload" -> workload, "cores" -> cores, "rows" -> rows.values.sum, "row_counts" -> rows,
      "setup_s" -> setupS.toSeq, "session_s" -> sessionS.toSeq, "measured_s" -> measuredS,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "passes" -> passes.toSeq, "counters" -> counters, "spans" -> spans.toSeq)
    spark.stop()
    Files.writeString(runDir.resolve("result.json"), Json.write(result))
  }

  /** Block-manager storage memory in use across executors (bytes). */
  private def storageUsed(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) =>
      max - free }.sum

  private[perfbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }
}

/** One workload: a warm-up pass over the small warm-up inputs, a timed pass
  * over the full inputs, and the untimed extraction of what the correctness
  * gate checks. */
trait Workload {
  /** Input rows of the full-size tables, by table. */
  def rows(spark: SparkSession): Map[String, Long]
  def warmUp(spark: SparkSession, tr: Tracer): Unit
  /** Runs inside the pass span; when `traced`, each layer is its own span
    * and is materialized at its boundary. */
  def pass(spark: SparkSession, tr: Tracer, p: Int, traced: Boolean): Map[String, Any]
  /** Untimed: outputs for the correctness gate, from the pass's results. */
  def outputs(spark: SparkSession, p: Int, out: Map[String, Any]): Map[String, Any] = out
  def cleanUp(p: Int): Unit = ()
}

/** Production quality-filter job: raw events → sessionized transcripts →
  * fused scorer → 64-bucket checkpointed write, fresh each pass. */
final class QfJob(in: Map[String, String], runDir: Path) extends Workload {
  private val buckets = 64
  private def outDir(p: Int) = runDir.resolve("qf-out").resolve(s"p$p")

  def rows(spark: SparkSession): Map[String, Long] =
    Map("turns" -> spark.read.parquet(s"${in("events")}/events.parquet").count())

  def warmUp(spark: SparkSession, tr: Tracer): Unit = {
    val out = runDir.resolve("qf-out").resolve("warm")
    Main.deleteTree(out)
    Checkpoint.runResumable(Transcripts.fromEvents(spark, in("events_warm")),
      out.toString, buckets, in("events_warm"))
    Main.deleteTree(out)
  }

  def pass(spark: SparkSession, tr: Tracer, p: Int, traced: Boolean): Map[String, Any] = {
    val dir = in("events")
    val out = outDir(p).toString
    val report =
      if (!traced) Checkpoint.runResumable(Transcripts.fromEvents(spark, dir), out, buckets, dir)
      else {
        val t = tr.span(p, "Transcripts") {
          val t = Transcripts.fromEvents(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
          t.count(); t
        }
        val r = tr.span(p, "QualityFilter.role_seq") {
          val r = QualityFilter.withRoleSeq(t).persist(StorageLevel.MEMORY_AND_DISK)
          r.count(); r
        }
        tr.span(p, "QualityFilter.score") {
          QualityFilter.withScoresFused(r).write.mode("overwrite").format("noop").save()
        }
        r.unpersist()
        val rep = tr.span(p, "Checkpoint") {
          Checkpoint.runResumable(t, out, buckets, dir)
        }
        t.unpersist()
        rep
      }
    Map("processed_buckets" -> report.processed.size,
      "rows_in" -> report.lineage.map(_.rowsIn).sum,
      "rows_kept" -> report.lineage.map(_.rowsKept).sum,
      "pii_rows" -> report.lineage.map(_.piiRows).sum)
  }

  override def outputs(spark: SparkSession, p: Int, out: Map[String, Any]): Map[String, Any] = {
    val dir = outDir(p)
    val committed = Checkpoint.readCommitted(spark, dir.toString)
      .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(col("pii_found"), 1L).otherwise(0L))).head()
    val files = Files.walk(dir.resolve("data")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    out ++ Map(
      "committed_rows" -> committed.getLong(0),
      "committed_kept" -> committed.getLong(1),
      "committed_pii" -> committed.getLong(2),
      "committed_buckets" -> Checkpoint.committedBuckets(dir.toString).size,
      "files_written" -> files.size,
      "bytes_written" -> files.map(Files.size).sum)
  }

  override def cleanUp(p: Int): Unit = Main.deleteTree(outDir(p))
}

/** Several workloads run one after another as one pass. */
final class InSequence(parts: Workload*) extends Workload {
  def rows(spark: SparkSession): Map[String, Long] = parts.map(_.rows(spark)).reduce(_ ++ _)
  def warmUp(spark: SparkSession, tr: Tracer): Unit = parts.foreach(_.warmUp(spark, tr))
  def pass(spark: SparkSession, tr: Tracer, p: Int, traced: Boolean): Map[String, Any] =
    parts.map(_.pass(spark, tr, p, traced)).reduce(_ ++ _)
  override def outputs(spark: SparkSession, p: Int, out: Map[String, Any]): Map[String, Any] =
    parts.foldLeft(out)((o, w) => w.outputs(spark, p, o))
  override def cleanUp(p: Int): Unit = parts.foreach(_.cleanUp(p))
}

/** GE suites over stored tables: q01's 14-expectation lineitem suite (the
  * query function itself, which spreads the scan before validating) and
  * q04's 7-expectation transcript suite over a stored transcript table. */
final class SuiteValidate(in: Map[String, String]) extends Workload {
  /** q04's suite (graft.queries.CoreQueries); the q04 oracle checks it. */
  val transcriptSuite: Suite = Suite("transcript_core", Seq(
    ExpectColumnValuesToNotBeNull("text"),
    ExpectColumnValuesToBeInSet("role", QualityFilter.AllowedRoles, mostly = 0.95),
    ExpectCompoundColumnsToBeUnique(Seq("conv_id", "turn_idx")),
    ExpectColumnValuesToBeIncreasing("ts",
      partitionBy = Seq("conv_id"), orderBy = Seq("turn_idx")),
    ExpectColumnValueLengthsToBeBetween("text", None, Some(500)),
    ExpectColumnValuesToNotMatchRegex("text", QualityFilter.EmailRe, mostly = 0.95),
    ExpectTableRowCountToBeBetween(Some(100), None)))

  def rows(spark: SparkSession): Map[String, Long] = Map(
    "lineitem" -> spark.read.parquet(s"${in("lineitem")}/lineitem.parquet").count(),
    "transcripts" -> spark.read.parquet(s"${in("transcripts")}/transcripts.parquet").count())

  private def lineitem(spark: SparkSession, dir: String): Seq[Row] =
    SparkEntry.queries("q01_suite_lineitem")(spark, dir).collect().toSeq

  private def transcripts(spark: SparkSession, dir: String): Seq[Row] = {
    val sr = Graft.validate(spark.read.parquet(s"$dir/transcripts.parquet"), transcriptSuite)
    Graft.resultsToDF(spark, sr).collect().toSeq
  }

  def warmUp(spark: SparkSession, tr: Tracer): Unit = {
    lineitem(spark, in("lineitem_warm"))
    transcripts(spark, in("transcripts_warm"))
  }

  def pass(spark: SparkSession, tr: Tracer, p: Int, traced: Boolean): Map[String, Any] = {
    def layer[A](name: String)(f: => A): A = if (traced) tr.span(p, name)(f) else f
    val li = layer("SuiteRunner.lineitem")(lineitem(spark, in("lineitem")))
    val ts = layer("SuiteRunner.transcripts")(transcripts(spark, in("transcripts")))
    def evrs(rows: Seq[Row]) = rows.map(r => Map(
      "expectation_type" -> r.getString(0), "domain" -> r.getString(1),
      "success" -> r.getBoolean(2),
      "element_count" -> r.get(3), "missing_count" -> r.get(4),
      "unexpected_count" -> r.get(5), "observed" -> r.get(6)))
    Map("lineitem" -> evrs(li), "transcripts" -> evrs(ts),
      "expectations" -> (li.size + ts.size))
  }
}

/** Near-dup dedup of the salted corpus: MinHash-LSH pairs at their
  * defaults → distributed connected components → canonical keep (the
  * minimum id of each cluster survives, unpaired documents pass). */
final class DedupDocs(in: Map[String, String], runDir: Path) extends Workload {
  def rows(spark: SparkSession): Map[String, Long] =
    Map("documents" -> docs(spark, in("documents")).count())

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def keep(docs: DataFrame, cc: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(cc.select(col("id").as("__cc_id"), col("cluster").as("__cc_cluster")),
        col("doc_id") === col("__cc_id"), "left")
      .filter(col("__cc_cluster").isNull || col("__cc_cluster") === col("doc_id"))

  private def once(spark: SparkSession, dir: String, tr: Tracer, p: Int,
      traced: Boolean): (DataFrame, Long, Long) = {
    def layer[A](name: String)(f: => A): A = if (traced) tr.span(p, name)(f) else f
    val d = docs(spark, dir)
    // minhashLshPairsWithStats is eager: it returns checkpointed pairs
    val (pairs, stats) = layer("Dedup.pairs") {
      val r = Dedup.minhashLshPairsWithStats(d, "doc_id", "text")
      if (traced) r._1.count()
      r
    }
    val cc = layer("Dedup.cc") {
      val c = Dedup.connectedComponents(pairs, "doc_a", "doc_b", driverEdgeLimit = 0)
      if (traced) { c.persist(StorageLevel.MEMORY_AND_DISK).count(); c } else c
    }
    val survivors = layer("Dedup.keep")(keep(d, cc).count())
    if (traced) cc.unpersist()
    (pairs, survivors, stats.droppedRows)
  }

  def warmUp(spark: SparkSession, tr: Tracer): Unit =
    once(spark, in("documents_warm"), tr, 0, traced = false)

  def pass(spark: SparkSession, tr: Tracer, p: Int, traced: Boolean): Map[String, Any] = {
    val (pairs, survivors, dropped) = once(spark, in("documents"), tr, p, traced)
    Map("pairs" -> pairs, "survivors" -> survivors, "lsh_dropped_rows" -> dropped)
  }

  override def outputs(spark: SparkSession, p: Int, out: Map[String, Any]): Map[String, Any] = {
    val pairs = out("pairs").asInstanceOf[DataFrame]
      .select("doc_a", "doc_b", "jaccard").collect()
    val file = runDir.resolve(s"pairs-p$p.tsv")
    Files.write(file, pairs.map(r =>
      s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getDouble(2)}").toSeq.asJava)
    out - "pairs" ++ Map("pairs_file" -> file.toString, "verified" -> pairs.length)
  }
}

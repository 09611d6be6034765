package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.Json
/** Correctness dump: each selected SparkEntry.queries result → parquet,
  * plus oracle_sql.json holding the oracles of those queries, for the
  * DuckDB compare in tools/check.py. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev convenience: SPARK_GRAFT_ONLY=q73,q74 dumps a subset (driver
    // leaves it unset → full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(f => f.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's parquet behind —
        // the checker would silently validate stale results as green
        FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      }
    }
    // oracles for the SELECTED queries only: the checker fails every oracle
    // without output, so a query that crashed above cannot pass by absence.
    // Json escapes every control char, so tools/check.py's json.load reads
    // any SQL text.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(
      SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
    spark.stop()
  }
}

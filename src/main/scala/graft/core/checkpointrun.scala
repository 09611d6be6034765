package graft.core

import org.apache.spark.sql.DataFrame

/** Checkpoint-style validation runs with an action fan-out
  * (checkpoint/checkpoint.py + checkpoint/actions.py:106-735, engine-scope
  * subset): a named list of (batch, suite) validations executed together,
  * each result pushed through every registered action. Rendering/alerting
  * actions (Slack, e-mail, data docs) are out of engine scope — the
  * extension point is the trait; the built-ins cover result storage and
  * log emission. */
object SuiteCheckpoint {

  trait ValidationAction {
    def run(checkpointName: String, sr: SuiteResult): Unit
  }

  /** StoreValidationResultAction analogue: one GE-shaped JSON document per
    * suite under `dir`. */
  final case class StoreResultJson(dir: String) extends ValidationAction {
    def run(checkpointName: String, sr: SuiteResult): Unit =
      graft.sources.BatchReader.writeSuiteResultJson(sr,
        s"$dir/$checkpointName/${sr.suiteName}.json")
  }

  /** InMemoryStoreBackend analogue (data_context/store/in_memory_store_
    * backend.py): a session-scoped, thread-safe results store keyed by
    * (checkpoint, suite). The store instance doubles as the action. */
  final class InMemoryResultStore extends ValidationAction {
    private val store = new java.util.concurrent.ConcurrentHashMap[
      (String, String), SuiteResult]()
    def run(checkpointName: String, sr: SuiteResult): Unit =
      store.put((checkpointName, sr.suiteName), sr): Unit
    def get(checkpointName: String, suiteName: String): Option[SuiteResult] =
      Option(store.get((checkpointName, suiteName)))
    def keys: Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      store.keySet().asScala.toSeq.sorted
    }
  }

  /** DatabaseStoreBackend analogue (data_context/store/database_store_
    * backend.py): one row per suite result over plain JDBC — any driver on
    * the classpath (tests round-trip through embedded Derby; a cluster
    * deployment points `url` at its warehouse DB). The document column
    * carries the same GE-shaped JSON the filesystem store writes, plus
    * queryable checkpoint/suite/success columns. Idempotent per
    * (checkpoint, suite): re-running a checkpoint replaces the row, like
    * the reference's fixed-key store set(). */
  final case class JdbcResultStore(url: String,
      table: String = "graft_validation_results") extends ValidationAction {
    def run(checkpointName: String, sr: SuiteResult): Unit = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        // existence check scoped to the CONNECTION's current schema (a
        // same-named table in another schema must not suppress the
        // create), case-insensitive because identifier folding differs
        // per backend (Derby stores upper, Postgres lower)
        val schema = try conn.getSchema catch { case _: Throwable => null }
        val meta = conn.getMetaData.getTables(conn.getCatalog, schema, "%", null)
        val exists =
          try {
            var found = false
            while (!found && meta.next())
              found = meta.getString("TABLE_NAME")
                .equalsIgnoreCase(table)
            found
          } finally meta.close()
        if (!exists) {
          val st = conn.createStatement()
          try st.executeUpdate(
            s"""CREATE TABLE $table (
               |  checkpoint_name VARCHAR(256) NOT NULL,
               |  suite_name VARCHAR(256) NOT NULL,
               |  run_success BOOLEAN NOT NULL,
               |  evaluated INT NOT NULL,
               |  successful INT NOT NULL,
               |  document CLOB NOT NULL,
               |  PRIMARY KEY (checkpoint_name, suite_name))""".stripMargin)
          finally st.close()
        }
        // atomic replace: delete + insert in ONE transaction so a reader
        // never observes the key missing and concurrent writers serialize
        // on the primary key instead of interleaving
        conn.setAutoCommit(false)
        try {
          val del = conn.prepareStatement(
            s"DELETE FROM $table WHERE checkpoint_name = ? AND suite_name = ?")
          try {
            del.setString(1, checkpointName); del.setString(2, sr.suiteName)
            del.executeUpdate()
          } finally del.close()
          val ins = conn.prepareStatement(
            s"INSERT INTO $table VALUES (?, ?, ?, ?, ?, ?)")
          try {
            ins.setString(1, checkpointName)
            ins.setString(2, sr.suiteName)
            ins.setBoolean(3, sr.success)
            ins.setInt(4, sr.statistics.evaluatedExpectations)
            ins.setInt(5, sr.statistics.successfulExpectations)
            ins.setString(6, graft.sources.BatchReader.suiteResultJson(sr))
            ins.executeUpdate(): Unit
          } finally ins.close()
          conn.commit()
        } catch {
          case t: Throwable =>
            try conn.rollback() catch { case _: Throwable => }
            throw t
        }
      } finally conn.close()
    }
  }

  /** Log-emission action (the notification analogue with no egress). */
  final case class LogResult(
      log: String => Unit = m => org.slf4j.LoggerFactory
        .getLogger("graft.core.SuiteCheckpoint").info(m)) extends ValidationAction {
    def run(checkpointName: String, sr: SuiteResult): Unit =
      log(s"checkpoint=$checkpointName suite=${sr.suiteName} " +
        s"success=${sr.success} " +
        s"ok=${sr.statistics.successfulExpectations}/" +
        s"${sr.statistics.evaluatedExpectations}")
  }

  final case class CheckpointResult(
      name: String, success: Boolean, results: Seq[SuiteResult])

  /** Run every (batchName, df, suite) validation, fan each result out to
    * every action, and aggregate overall success — checkpoint.run().
    *
    * Cross-suite metric cache: validations over the SAME batch (reference
    * identity — one Dataset per loaded batch, like the reference's batch
    * id) plan together through SuiteRunner.runAll, so suites sharing a
    * fused compute domain share ONE aggregate, all domains cost ONE Spark
    * action, and identical value/query metrics resolve once
    * (execution_engine.py:152-159,557-559). */
  def run(name: String, validations: Seq[(DataFrame, Suite)],
      actions: Seq[ValidationAction] = Nil,
      resultFormat: ResultFormatSpec = ResultFormatSpec.default,
      suiteParameters: Map[String, Any] = Map.empty): CheckpointResult = {
    // group validation indexes by batch (Dataset equality IS reference
    // equality), preserving first-seen batch order and suite order within
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[DataFrame, scala.collection.mutable.ArrayBuffer[Int]]
    validations.zipWithIndex.foreach { case ((df, _), i) =>
      groups.getOrElseUpdate(df,
        scala.collection.mutable.ArrayBuffer.empty[Int]) += i
    }
    val out = new Array[SuiteResult](validations.size)
    val runner = new SuiteRunner(resultFormat)
    groups.foreach { case (df, idxs) =>
      val resolved = idxs.toSeq.map(i =>
        SuiteParams.resolve(validations(i)._2, suiteParameters))
      runner.runAll(df, resolved).zip(idxs).foreach { case (sr, i) =>
        out(i) = sr
      }
    }
    val results = out.toSeq
    results.foreach(sr => actions.foreach(_.run(name, sr)))
    CheckpointResult(name, results.forall(_.success), results)
  }
}

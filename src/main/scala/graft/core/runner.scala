package graft.core

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CollectLimited.collect_limited
import graft.metrics.JobLabel

final case class Suite(name: String, expectations: Seq[Expectation])

/** Plans and executes an expectation suite against a DataFrame.
  *
  * Physical strategy (SURVEY.md §4): where the reference resolves each metric
  * with its own backend round-trip (sparkdf_execution_engine.py:843-915 fuses
  * only AGGREGATE_FN partials), we fuse the ENTIRE suite per compute domain
  * into single-row branches, resolved in WAVES like the reference's
  * iterative resolve (validation_graph.py:214-322): ONE action collects the
  * union of a wave's branches (AQE submits their shuffle stages together,
  * so the DAG scheduler overlaps them), and each branch's decoder records
  * EVRs and returns its branches of the next wave:
  *
  *   1. `zscore`: per domain with z-score expectations, ONE aggregate of
  *      their mean/stddev dependencies; its decoder returns (2) for it;
  *   2. `domains`: per domain, ONE projection evaluating every window-free
  *      map expectation's unexpected/missing boolean followed by ONE `df.agg`
  *      that bundles row_count, per-expectation unexpected/missing counts
  *      and all aggregate expectations' aggregates (identical aggregates
  *      deduped); plus one branch per WINDOW-shaped map expectation (unique
  *      / compound-unique / monotonic), whose window would otherwise drag
  *      the fused projection through its shuffle (the reference's
  *      per-metric jobs, map_condition_auxilliary_methods.py:600-625);
  *   3. `samples`: capped unexpected-value samples (graft.functions.
  *      CollectLimited), only for expectations whose counts came back
  *      non-zero;
  *   4. one job each, one after another, for VALUE-type expectations
  *      (median, quantiles, distinct sets, KL) and SQL passthroughs.
  *
  * So a suite's map/agg work costs at most three actions, however many
  * domains it has. Transient job failures are retried up to MaxAttempts
  * times (validation_graph.py:48, 263-271). Every job carries the
  * description `suite:<names>/<parts>`, a wave's distinct parts joined by
  * `+` (`domains`, `samples`, `zscore+domains`), or `.../value:<type>`. */
final class SuiteRunner(
    resultFormat: ResultFormatSpec = ResultFormatSpec.default,
    idColumns: Seq[String] = Nil,
    batchViewName: String = "batch") {

  import ResultFormat.{MaxResultRecords, BooleanOnly, Basic, Summary, Complete}
  import SuiteRunner.{Branch, branch, failing, withRetry}

  /** Index columns: the result_format parameter wins over the constructor. */
  private val indexColumns: Seq[String] =
    if (resultFormat.unexpectedIndexColumnNames.nonEmpty)
      resultFormat.unexpectedIndexColumnNames
    else idColumns
  /** What the unexpected-row samples collect, and how many of each. */
  private val collectValues =
    resultFormat.rank >= Basic.rank && !resultFormat.excludeUnexpectedValues
  private val collectIndexes = indexColumns.nonEmpty && resultFormat.rank >= Summary.rank
  private val sampleCap =
    if (resultFormat.rank >= Complete.rank) MaxResultRecords
    else resultFormat.partialUnexpectedCount

  def run(df: DataFrame, suite: Suite): SuiteResult =
    runAll(df, Seq(suite)).head

  /** Validate SEVERAL suites against one batch in a single planning unit —
    * the cross-suite metric cache (reference: execution_engine.py:152-159
    * keys resolved metrics by (metric, domainId, valueId) for a whole
    * session). Map+agg expectations from every suite fuse into ONE
    * aggregate per compute domain (identical aggregates dedup via the
    * canonical-expression key), every domain is collected by ONE action,
    * and identical VALUE/query expectations (same case class, same
    * row_condition) resolve once and share their Evr. */
  def runAll(df: DataFrame, suitesIn: Seq[Suite]): Seq[SuiteResult] = {
    // resolve any still-unresolved $PARAMETER refs (built-ins like now();
    // undefined refs → isolated exception EVRs). Graft.validate resolves
    // user params first; this pass makes direct SuiteRunner use safe too.
    val suites = suitesIn.map(s => SuiteParams.resolve(s, Map.empty))
    val evrs = mutable.HashMap.empty[Int, Evr]
    val exps = suites.flatMap(_.expectations).toIndexedSeq
    val bounds = suites.map(_.expectations.size).scanLeft(0)(_ + _)
    val tag = s"suite:${suites.map(_.name).mkString(",")}"

    // suite order is restored from the index at the end
    def record(i: Int, t: Try[Evr]): Unit = evrs(i) = t match {
      case Success(e) => e
      case Failure(ex) =>
        val e = exps(i)
        Evr(e.expectationType, e.kwargs, success = false, Map.empty,
          exception = Some(s"${ex.getClass.getSimpleName}: ${ex.getMessage}"))
    }

    // -- schema expectations: pure driver-side --------------------------------
    exps.zipWithIndex.foreach {
      case (e: SchemaExpectation, i) => record(i, Try(e.run(df.schema)))
      case (e: InvalidExpectation, i) =>
        record(i, Failure(new IllegalArgumentException(e.error)))
      case _ =>
    }

    // -- map+agg expectations: every compute domain (row_condition) compiles
    // into branches; ONE union action collects each wave of branches, and
    // each decoder returns its branches of the next wave -----------------------
    val fuseable = exps.zipWithIndex.collect {
      case (e: MapExpectation, i) => (e: Expectation, i)
      case (e: AggExpectation, i) => (e: Expectation, i)
    }
    var wave = fuseable.groupBy(_._1.rowCondition).toSeq.flatMap {
      case (cond, group) =>
        // an unparseable row_condition (bad SQL, unresolved $param) fails
        // only ITS domain group: filter(String) is analysed eagerly
        Try(cond.map(df.filter).getOrElse(df)) match {
          case Success(domainDf) => domainBranches(domainDf, group, record)
          case Failure(ex) =>
            group.foreach { case (_, i) => record(i, Failure(ex)) }
            Nil
        }
    }
    while (wave.nonEmpty) wave = runBranches(wave, tag)

    // -- VALUE and query expectations: arbitrary multi-action code, one after
    // another; identical expectations (case-class equality covers type,
    // kwargs AND row_condition) resolve once across the planning unit and
    // share the Evr
    val memo = mutable.Map.empty[Expectation, Try[Evr]]
    exps.zipWithIndex.foreach {
      case (e: ValueExpectation, i) =>
        record(i, memo.getOrElseUpdate(e, Try(JobLabel(df.sparkSession,
          s"$tag/value:${e.expectationType}")(withRetry(
            e.run(e.rowCondition.map(df.filter).getOrElse(df)))))))
      case (e: UnexpectedRowsExpectation, i) =>
        record(i, memo.getOrElseUpdate(e, Try(JobLabel(df.sparkSession,
          s"$tag/query")(withRetry(unexpectedRows(df, e))))))
      case _ =>
    }

    val all = exps.indices.map(i =>
      evrs.getOrElse(i, Evr(exps(i).expectationType, exps(i).kwargs,
        success = false, Map.empty, Some("not evaluated"))))
    suites.zipWithIndex.map { case (s, k) =>
      SuiteResult.of(s.name, all.slice(bounds(k), bounds(k + 1)))
    }
  }

  /** Runs an unexpected-rows query against `df` (exposed as a unique
    * per-evaluation view named after `batchViewName`). */
  private def unexpectedRows(df: DataFrame, e: UnexpectedRowsExpectation): Evr = {
    // unique per-evaluation view: a fixed name would clobber a user's
    // session view and race across concurrent validations
    val view = s"${batchViewName}_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    df.createOrReplaceTempView(view)
    try {
      val sql = e.unexpectedRowsQuery.replace("{batch}", view)
      val resDf0 = df.sparkSession.sql(sql)
      // positional rename: a query may emit duplicate or dotted
      // output names (SELECT a.x, b.x ...), which col(name) cannot
      // address unambiguously
      val resDf = resDf0.toDF(
        resDf0.columns.indices.map(i => s"__c$i"): _*)
      // ONE job: the TRUE unexpected-row count and the capped row
      // sample come from a single fused aggregate (the old shape
      // re-ran the whole query for the count when the sample cap
      // was hit). observed_value stays the true count
      // (unexpected_rows_expectation.py:96). The sample is an
      // arbitrary capped subset (a query-level ORDER BY does not
      // survive the aggregate) — the count is exact.
      val rowStr = concat(lit("["), concat_ws(",",
        resDf.columns.map(c =>
          coalesce(col(c).cast(StringType), lit("null"))): _*), lit("]"))
      val r = resDf.agg(count(lit(1)).as("__n"),
        collect_limited(rowStr, MaxResultRecords).as("__rows")).head()
      val total = r.getLong(0)
      val rows = r.getAs[scala.collection.Seq[String]](1)
      // reference shape (unexpected_rows_expectation.py:142-152):
      // observed_value is the human-formatted count string, rows live
      // under details.unexpected_rows; the raw count rides
      // unexpected_count for programmatic/oracle use
      Evr(e.expectationType, e.kwargs, total == 0L, Map(
        "observed_value" ->
          s"$total unexpected ${if (total == 1L) "row" else "rows"}",
        "unexpected_count" -> total,
        "details" -> Map("unexpected_rows" ->
          rows.take(resultFormat.partialUnexpectedCount).toSeq)))
    } finally df.sparkSession.catalog.dropTempView(view)
  }

  /** Compiles one compute domain into its first-wave branches: the z-score
    * moments aggregate, whose decoder returns the count branches, or else
    * those: the fused projection+aggregate, one per window-shaped condition. */
  private def domainBranches(domainDf: DataFrame, group: Seq[(Expectation, Int)],
      record: (Int, Try[Evr]) => Unit): Seq[Branch] = {

    // Per-expectation failure isolation (validation_graph.py:48,263-271 /
    // validator.py:782-805): an expectation referencing a missing column —
    // or whose Column CONSTRUCTION throws (empty regex_list, <2 compound
    // columns, …) — gets its own exception EVR and is excluded, so it
    // cannot poison the fused plan for its siblings. Column lookup honors
    // spark.sql.caseSensitive like the plan itself would.
    val caseSensitive = Try(domainDf.sparkSession.conf
      .get("spark.sql.caseSensitive").toBoolean).getOrElse(false)
    def norm(c: String): String =
      if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)
    val fields = domainDf.schema.fieldNames.map(norm).toSet
    def missingCols(e: Expectation): Seq[String] = (e match {
      case m: MapExpectation => m.domainColumns
      case a: ColumnAggBetween => Seq(a.column)
      case p: ExpectColumnProportionOfUniqueValuesToBeBetween => Seq(p.column)
      case _ => Nil
    }).filterNot(c => fields.contains(norm(c)))
    def buildError(e: Expectation): Option[Throwable] = Try(e match {
      case m: MapExpectation
          if !m.isInstanceOf[ExpectColumnValueZScoresToBeLessThan] =>
        m.unexpectedCondition; m.missingCondition; ()
      case a: AggExpectation => a.aggs; ()
      case _ => ()
    }).failed.toOption
    // one probe per expectation (the Columns are rebuilt for the real plan
    // anyway, but rebuilding twice more just to classify was pure waste on
    // 100-expectation suites)
    val probed = group.map { case (e, i) =>
      val miss = missingCols(e)
      val err: Option[Throwable] =
        if (miss.nonEmpty) Some(new IllegalArgumentException(
          s"column(s) not found: ${miss.mkString(", ")}"))
        // kwarg/construction errors (malformed bounds, empty regex lists)
        // fire BEFORE the schema gate — the reference validates kwargs at
        // configuration time, before any metric resolution
        else buildError(e).orElse(e match {
          case m: MapExpectation => m.schemaError(domainDf.schema)
            .map(msg => new IllegalArgumentException(msg): Throwable)
          case a: AggExpectation => a.schemaError(domainDf.schema)
            .map(msg => new IllegalArgumentException(msg): Throwable)
          case _ => None
        })
      (e, i, err)
    }
    probed.foreach { case (_, i, err) =>
      err.foreach(ex => record(i, Failure(ex)))
    }
    val ok = probed.collect { case (e, i, None) => (e, i) }
    val mapExps = ok.collect { case (e: MapExpectation, i) => (e, i) }
    val aggExps = ok.collect { case (e: AggExpectation, i) => (e, i) }
    if (mapExps.isEmpty && aggExps.isEmpty) return Nil

    // phase 0: z-score mean/std (one fused pre-agg if any are present).
    // Extraction is per-column Try: an all-null / single-row / zero-stddev
    // column fails only ITS z-score expectations with an exception EVR
    // instead of aborting the whole run.
    val zExps = mapExps.collect {
      case (z: ExpectColumnValueZScoresToBeLessThan, i) => (z, i)
    }
    // keyed by (column, exactMoments): the same column may be probed with
    // both the Welford and the bit-reproducible sum-of-squares form
    val zKeys = zExps.map(z => (z._1.column, z._1.exactMoments)).distinct
    def zKey(z: ExpectColumnValueZScoresToBeLessThan) = (z.column, z.exactMoments)

    // the domain's count branches, once its z-score stats are known
    def countBranches(zStats: Map[(String, Boolean), Try[(Double, Double)]]): Seq[Branch] = {
      val zFailed = zExps.collect { case (z, i) if zStats(zKey(z)).isFailure =>
        record(i, Failure(zStats(zKey(z)).failed.get)); i
      }.toSet

      def unexpectedCond(e: MapExpectation): Column = e match {
        case z: ExpectColumnValueZScoresToBeLessThan =>
          val (m, s) = zStats(zKey(z)).get
          col(z.column).isNotNull && !z.expectedWith(col(z.column), m, s)
        case other => other.unexpectedCondition
      }

      // Window-shaped conditions get branches of their own; everything else
      // fuses.
      val live = mapExps.filterNot { case (_, i) => zFailed(i) }
      val (windowExps, plainExps) = live.partition(_._1.usesWindow)
      val fused =
        if (plainExps.isEmpty && aggExps.isEmpty) Nil
        else branch("domains", failing(record, (plainExps ++ aggExps).map(_._2)))(
          mapAggBranch(domainDf, plainExps, aggExps, unexpectedCond, record))
      fused ++ windowExps.flatMap { case (e, i) =>
        branch("domains", failing(record, Seq(i)))(e match {
          // uniqueness = a group count, not a window: groupBy gets map-side
          // combine and shuffles only (distinct key, count) — the full-row
          // window shuffle is needed only when per-row INDEXES are requested
          case (_: ExpectColumnValuesToBeUnique |
                _: ExpectCompoundColumnsToBeUnique) if !collectIndexes =>
            uniqueBranch(domainDf, e, i, record)
          case _ =>
            if (e.usesGlobalWindow)
              SuiteRunner.log.warn(s"${e.expectationType}: unpartitioned " +
                "window — evaluating on a single partition (reference " +
                "semantics; pass partitionBy for a shuffle-parallel check)")
            mapAggBranch(domainDf, Seq((e, i)), Nil, unexpectedCond, record)
        })
      }
    }

    // a failed moments action fails every z-score key; the count branches
    // still follow, so the domain's other expectations are unaffected
    if (zKeys.isEmpty) countBranches(Map.empty)
    else branch("zscore", ex => countBranches(zKeys.map(_ -> Failure(ex)).toMap)) {
      val aggsZ = zKeys.zipWithIndex.flatMap { case ((c, exact), k) =>
        if (exact) Seq(Moments.meanExact(col(c)).as(s"__zm_$k"),
          Moments.stddevExact(col(c)).as(s"__zs_$k"))
        else Seq(avg(col(c)).as(s"__zm_$k"),
          stddev_samp(col(c)).as(s"__zs_$k"))
      }
      (domainDf.agg(aggsZ.head, aggsZ.tail: _*), r => countBranches(
        zKeys.zipWithIndex.map { case (kk @ (c, _), k) =>
          kk -> Try {
            val m = r.getAs[Any](s"__zm_$k")
            val s = r.getAs[Any](s"__zs_$k")
            require(m != null && s != null,
              s"mean/stddev of '$c' undefined (empty or single-row domain)")
            val sd = s.asInstanceOf[Number].doubleValue()
            require(sd != 0.0 && !sd.isNaN, s"stddev of '$c' is zero or NaN")
            (m.asInstanceOf[Number].doubleValue(), sd)
          }
        }.toMap))
    }
  }

  /** Collects one wave of branches with ONE action: branch k's columns are
    * renamed `__b<k>_<name>` and its rows tagged `__branch` = k, the branches
    * are combined by `unionByName` (each row leaves the others' columns
    * null), and the tag routes each row back to its branch's decoder, which
    * returns its branches of the next wave. AQE submits the branches'
    * shuffle stages together, so the DAG scheduler overlaps them. When the
    * combined action fails, the branches re-run one at a time, so a runtime
    * error (a pattern that throws at evaluation) fails only its own branch's
    * expectations. The action is labelled `<tag>/<parts>`, the distinct
    * parts of its branches joined by `+`. */
  private def runBranches(branches: Seq[Branch], tag: String): Seq[Branch] = {
    // a fresh Dataset per attempt: a failed adaptive plan is not re-run
    def collect(bs: Seq[Branch], df: DataFrame): Array[Row] =
      JobLabel(df.sparkSession, s"$tag/${bs.map(_.part).distinct.mkString("+")}")(
        withRetry(df.select("*").collect()))
    Try {
      val union = branches.zipWithIndex.map { case (b, k) =>
        b.frame.select(lit(k).as("__branch") +:
          b.frame.columns.map(c => col(c).as(s"__b${k}_$c")).toSeq: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      collect(branches, union).map { r =>
        val k = r.getInt(0)
        val frame = branches(k).frame
        k -> (new GenericRowWithSchema(
          frame.columns.map(c => r.get(r.fieldIndex(s"__b${k}_$c"))), frame.schema): Row)
      }.toMap
    } match {
      case Success(rows) =>
        branches.zipWithIndex.flatMap { case (b, k) => b.decode(Success(rows(k))) }
      case Failure(ex) if branches.size == 1 => branches.head.decode(Failure(ex))
      case Failure(_) => branches.flatMap(b => b.decode(Try(collect(Seq(b), b.frame).head)))
    }
  }

  /** Uniqueness via groupBy(keys).count: semantically identical to the
    * count-over-window condition (the window partitions by the same keys),
    * but partial-aggregated map-side — at scale this shuffles distinct
    * keys + counts instead of every row. The unexpected-value sample is
    * rebuilt with row multiplicity (value repeated count times) to match
    * the reference's per-row partial_unexpected_list. */
  private def uniqueBranch(domainDf: DataFrame, e: MapExpectation,
      idx: Int, record: (Int, Try[Evr]) => Unit): (DataFrame, Row => Seq[Branch]) = {
    val keyCols = e.domainColumns.map(col)
    val g = domainDf.groupBy(keyCols: _*).agg(count(lit(1)).as("__cnt"))
    val missing = e.missingCondition
    val dup = !missing && col("__cnt") > 1
    val aggCols = mutable.ArrayBuffer[Column](
      sum(col("__cnt")).as("__n"),
      sum(when(missing, col("__cnt")).otherwise(0L)).as("__mc"),
      sum(when(dup, col("__cnt")).otherwise(0L)).as("__uc"))
    if (collectValues) {
      // value + its count collected in lockstep (same row order within
      // one aggregation buffer), expanded to row multiplicity below
      aggCols += collect_limited(when(dup, e.unexpectedValue), sampleCap).as("__uv")
      aggCols += collect_limited(when(dup, col("__cnt").cast(StringType)), sampleCap)
        .as("__un")
    }
    (g.agg(aggCols.head, aggCols.tail.toSeq: _*), row => { record(idx, Try {
      val n = Option(row.getAs[Any]("__n")).fold(0L)(_.asInstanceOf[Long])
      val mc = Option(row.getAs[Any]("__mc")).fold(0L)(_.asInstanceOf[Long])
      val uc = Option(row.getAs[Any]("__uc")).fold(0L)(_.asInstanceOf[Long])
      val vals: Seq[String] =
        if (!collectValues) Nil
        else {
          val vs = row.getAs[scala.collection.Seq[String]]("__uv")
          val cs = row.getAs[scala.collection.Seq[String]]("__un")
          vs.zip(cs).iterator
            // cap BEFORE toInt: a >2^31-row duplicate group must not NFE
            .flatMap { case (v, c) =>
              Iterator.fill(math.min(c.toLong, sampleCap.toLong).toInt)(v)
            }
            .take(sampleCap).toSeq
        }
      buildMapEvr(e, n, mc, uc, vals, Nil)
    }); Nil })
  }

  /** One projection + one SUMS-ONLY aggregate over `domainDf` for the given
    * map and aggregate expectations — plain count/sum-when columns, so the
    * whole fused pass is a codegen'd HashAggregate (no ObjectHashAggregate
    * anywhere in the steady state). Unexpected-value/index SAMPLES are
    * deferred to [[sampleFrame]], which runs only for the expectations whose
    * unexpected count came back non-zero — an all-green suite costs exactly
    * one whole-stage-codegen scan. Exposed package-private so plan tests
    * can assert the fused frame's physical plan. */
  private[graft] def fusedFrame(domainDf: DataFrame,
      mapExps: Seq[(MapExpectation, Int)],
      aggExps: Seq[(AggExpectation, Int)],
      unexpectedCond: MapExpectation => Column)
      : (DataFrame, Map[(Int, String), String]) = {
    // phase 1: projection — all fused conditions in one pass
    val projCols = mutable.ArrayBuffer[Column](col("*"))
    mapExps.zipWithIndex.foreach { case ((e, _), k) =>
      projCols += unexpectedCond(e).as(s"__u$k")
      projCols += e.missingCondition.as(s"__m$k")
    }
    val proj = domainDf.select(projCols.toSeq: _*)

    // phase 2: single fused aggregate
    val aggCols = mutable.ArrayBuffer[Column](count(lit(1)).as("__n"))
    mapExps.zipWithIndex.foreach { case (_, k) =>
      aggCols += sum(when(col(s"__u$k"), 1L).otherwise(0L)).as(s"__uc$k")
      aggCols += sum(when(col(s"__m$k"), 1L).otherwise(0L)).as(s"__mc$k")
    }
    // Aggregate expectations: identical aggregate expressions requested by
    // two expectations are computed ONCE, keyed by the canonical expression
    // string ((name, domainId, value) dedup per SURVEY.md §4 / the
    // reference's metric-value cache, execution_engine.py:152-159).
    val aggAlias = mutable.LinkedHashMap.empty[String, String]
    val resolveAlias = mutable.Map.empty[(Int, String), String]
    aggExps.foreach { case (e, i) =>
      e.aggs.foreach { case (name, c) =>
        // Spark 4 Column.toString elides aggregate modifiers (count(x) and
        // count(DISTINCT x) print identically) — key on the normalized
        // ColumnNode (Column.equals semantics: keeps isDistinct, strips
        // per-instance origins)
        val key = org.apache.spark.sql.graftshim.Shims.columnKey(c)
        val alias = aggAlias.getOrElseUpdate(key, {
          val a = s"__agg${aggAlias.size}"
          aggCols += c.as(a)
          a
        })
        resolveAlias((i, name)) = alias
      }
    }
    (proj.agg(aggCols.head, aggCols.tail.toSeq: _*), resolveAlias.toMap)
  }

  /** Deferred sample pass: collect_limited value/index samples for ONLY the
    * expectations whose fused counts showed unexpected rows. The projection
    * selects just the referenced columns (parquet-pruned) and keeps only
    * rows that fail at least one sampled condition — a narrow filter, so
    * partitions and the row order within them, hence the samples, are
    * those of the unfiltered pass. The ObjectHashAggregate this forces
    * exists only on the failure path.
    *
    * Consistency note: counts come from the fused scan, samples from this
    * second scan — on a nondeterministic source (unstable sampling, a view
    * over mutating data) the two can disagree; the counts are
    * authoritative. */
  private def sampleFrame(domainDf: DataFrame,
      toSample: Seq[MapExpectation],
      unexpectedCond: MapExpectation => Column): DataFrame = {
    val projCols = mutable.ArrayBuffer.empty[Column]
    toSample.zipWithIndex.foreach { case (e, j) =>
      projCols += unexpectedCond(e).as(s"__u$j")
      // coalesce to the NUL-framed sentinel: a NULL unexpected VALUE (e.g.
      // to_not_be_null's unexpected rows) must still occupy its list slot;
      // the sentinel maps back to a real null at EVR build, so it cannot
      // collide with a column whose actual value is the string "null"
      // (NUL bytes never survive the engine's string sources)
      if (collectValues)
        projCols += coalesce(e.unexpectedValue,
          lit(SuiteRunner.NullSentinel)).as(s"__v$j")
      if (collectIndexes)
        projCols += to_json(struct(indexColumns.map(col): _*)).as(s"__ix$j")
    }
    val proj = domainDf.select(projCols.toSeq: _*)
      .filter(toSample.indices.map(j => col(s"__u$j")).reduce(_ || _))
    val aggCols = mutable.ArrayBuffer.empty[Column]
    toSample.indices.foreach { j =>
      if (collectValues)
        aggCols += collect_limited(when(col(s"__u$j"), col(s"__v$j")), sampleCap).as(s"__uv$j")
      if (collectIndexes)
        aggCols += collect_limited(when(col(s"__u$j"), col(s"__ix$j")), sampleCap).as(s"__uix$j")
    }
    proj.agg(aggCols.head, aggCols.tail.toSeq: _*)
  }

  /** The fused aggregate as a branch. Its decoder records every EVR that
    * needs no sample and returns one `samples` branch for the expectations
    * whose count came back non-zero; a failed sample fails only those. */
  private def mapAggBranch(domainDf: DataFrame,
      mapExps: Seq[(MapExpectation, Int)],
      aggExps: Seq[(AggExpectation, Int)],
      unexpectedCond: MapExpectation => Column,
      record: (Int, Try[Evr]) => Unit): (DataFrame, Row => Seq[Branch]) = {
    val (fused, resolveAlias) = fusedFrame(domainDf, mapExps, aggExps, unexpectedCond)
    (fused, row => {
      val n = row.getAs[Long]("__n")
      def evr(k: Int, vals: Seq[String], ixs: Seq[String]): Try[Evr] = Try(
        buildMapEvr(mapExps(k)._1, n, row.getAs[Long](s"__mc$k"),
          row.getAs[Long](s"__uc$k"), vals, ixs))
      // deferred samples: only for expectations with unexpected rows
      val (toSample, done) = mapExps.indices.partition(k =>
        (collectValues || collectIndexes) && row.getAs[Long](s"__uc$k") > 0L)
      done.foreach(k => record(mapExps(k)._2, evr(k, Nil, Nil)))
      aggExps.foreach { case (e, i) =>
        record(i, Try {
          val resolved = e.aggs.map { case (name, _) =>
            name -> row.getAs[Any](resolveAlias((i, name)))
          }.toMap
          val (ok, obs) = e.validate(resolved)
          // column-aggregate EVRs carry element/missing counts like the
          // reference's (expectation.py aggregate result shape); the counts
          // ride the fused pass via the dedup'd __ec/__nn aggregates
          val extra = (resolved.get("__ec"), resolved.get("__nn")) match {
            case (Some(ec: Long), Some(nn: Long))
                if resultFormat.rank >= Basic.rank =>
              Map[String, Any]("element_count" -> ec,
                "missing_count" -> (ec - nn),
                "missing_percent" ->
                  (if (ec == 0L) null else (ec - nn).toDouble / ec * 100.0))
            case _ => Map.empty[String, Any]
          }
          Evr(e.expectationType, e.kwargs, ok,
            Map("observed_value" -> obs) ++ extra)
        })
      }
      if (toSample.isEmpty) Nil
      else branch("samples", failing(record, toSample.map(mapExps(_)._2)))(
        (sampleFrame(domainDf, toSample.map(mapExps(_)._1), unexpectedCond), s => {
          def list(on: Boolean, c: String): Seq[String] =
            if (on) s.getAs[scala.collection.Seq[String]](c).toSeq else Nil
          toSample.zipWithIndex.foreach { case (k, j) =>
            record(mapExps(k)._2, evr(k, list(collectValues, s"__uv$j")
              .map(v => if (v == SuiteRunner.NullSentinel) null else v),
              list(collectIndexes, s"__uix$j")))
          }
          Nil
        }))
    })
  }

  /** _format_map_output port (expectations/expectation.py:2605-2752). */
  private def buildMapEvr(e: MapExpectation, elementCount: Long,
      missingCount: Long, unexpectedCount: Long,
      values: Seq[String], indexes: Seq[String]): Evr = {
    val nonnull = elementCount - missingCount
    val success = MostlyMath.success(nonnull, unexpectedCount, e.mostly)
    if (resultFormat.level == BooleanOnly)
      return Evr(e.expectationType, e.kwargs, success, Map.empty)

    val partialCap = resultFormat.partialUnexpectedCount
    def pct(num: Long, den: Long): Any =
      if (den == 0) null else num.toDouble / den * 100.0
    val partial = values.take(partialCap)
    val base = Map[String, Any](
      "element_count" -> elementCount,
      "unexpected_count" -> unexpectedCount,
      "unexpected_percent" -> pct(unexpectedCount, nonnull),
      "missing_count" -> missingCount,
      "missing_percent" -> pct(missingCount, elementCount),
      "unexpected_percent_total" -> pct(unexpectedCount, elementCount),
      "unexpected_percent_nonmissing" -> pct(unexpectedCount, nonnull)) ++
      (if (resultFormat.excludeUnexpectedValues) Map.empty[String, Any]
       else Map[String, Any]("partial_unexpected_list" -> partial))

    val summary =
      if (resultFormat.rank < Summary.rank) Map.empty[String, Any]
      else {
        // Counter(...).most_common with (-count, value) tie-break
        // (expectation.py:2714-2721); null entries (restored from the
        // sample sentinel) sort as the empty string
        val counts = values.groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy { case (v, c) => (-c, if (v == null) "" else v) }
          .take(partialCap)
          .map { case (v, c) => Map("value" -> v, "count" -> c) }
        (if (resultFormat.excludeUnexpectedValues) Map.empty[String, Any]
         else Map[String, Any]("partial_unexpected_counts" -> counts)) ++
          (if (indexes.nonEmpty)
            Map[String, Any]("partial_unexpected_index_list" ->
              indexes.take(partialCap))
           else Map.empty[String, Any])
      }

    val complete =
      if (resultFormat.rank < Complete.rank) Map.empty[String, Any]
      else {
        (if (resultFormat.excludeUnexpectedValues) Map.empty[String, Any]
         else Map[String, Any](
           "unexpected_list" -> values.take(ResultFormat.MaxResultRecords))) ++
        Map[String, Any](
          "unexpected_index_list" -> indexes.take(ResultFormat.MaxResultRecords)) ++
        (if (resultFormat.returnUnexpectedIndexQuery)
          Map[String, Any]("unexpected_index_query" ->
            Try(s"df.filter(${e.unexpectedCondition.toString})").getOrElse(
              "<condition requires runtime-resolved metric dependencies>"))
         else Map.empty[String, Any])
      }

    Evr(e.expectationType, e.kwargs, success, base ++ summary ++ complete)
  }
}

object SuiteRunner {
  /** validation_graph.py:48 MAX_METRIC_COMPUTATION_RETRIES = 3. */
  val MaxAttempts = 3

  /** ≤3 attempts per Spark job, mirroring the reference's per-metric retry
    * (validation_graph.py MAX_METRIC_COMPUTATION_RETRIES). Only transient
    * failures are retried: an AnalysisException (bad column, bad suite
    * parameter) is deterministic and surfaces on the first attempt, and a
    * fatal error (OOM, interrupt, linkage) is never caught. */
  private[graft] def withRetry[T](f: => T, attempt: Int = 1): T =
    try f
    catch {
      case e: AnalysisException => throw e
      case NonFatal(_) if attempt < MaxAttempts => withRetry(f, attempt + 1)
    }

  /** NUL-framed marker for a null unexpected value riding collect_limited
    * (which drops real nulls); mapped back to null at EVR build. */
  private[core] val NullSentinel = "\u0000\u0000graft:null\u0000\u0000"
  private[core] val log = org.slf4j.LoggerFactory.getLogger(classOf[SuiteRunner])

  /** One single-row frame of a suite's combined plan, the part of the run
    * it belongs to (`zscore`, `domains`, `samples`), and the decoder that
    * records EVRs from its row, or from its action's failure, and returns
    * the branches of the next wave. */
  private final case class Branch(part: String, frame: DataFrame,
      decode: Try[Row] => Seq[Branch])

  /** A branch whose construction error and failed action both go to
    * `fail`, which returns the branches that still follow. */
  private def branch(part: String, fail: Throwable => Seq[Branch])(
      build: => (DataFrame, Row => Seq[Branch])): Seq[Branch] =
    Try(build).fold(fail, { case (frame, decode) =>
      Seq(Branch(part, frame, _.fold(fail, decode))) })

  /** The failure function of a branch whose members all fail with it. */
  private def failing(record: (Int, Try[Evr]) => Unit, members: Seq[Int])(
      ex: Throwable): Seq[Branch] = { members.foreach(record(_, Failure(ex))); Nil }
}

object Graft {
  /** Convenience entry point: validate `df` against `suite`.
    * `suiteParameters` resolves `$name` placeholders at run time
    * (SuiteParams; core/suite_parameters.py). */
  def validate(df: DataFrame, suite: Suite,
      resultFormat: ResultFormatSpec = ResultFormatSpec.default,
      idColumns: Seq[String] = Nil,
      suiteParameters: Map[String, Any] = Map.empty): SuiteResult = {
    // ALWAYS resolve: a "$name" ref left in a suite with no parameters must
    // surface as that expectation's isolated exception EVR, not evaluate as
    // the literal string "$name" (silently wrong on string columns, a
    // whole-domain ANSI cast failure on numeric ones)
    val resolved = SuiteParams.resolve(suite, suiteParameters)
    new SuiteRunner(resultFormat, idColumns).run(df, resolved)
  }

  /** FULL (uncapped) unexpected_value_counts metric: counts over ALL
    * unexpected values as a distributed DataFrame — the COMPLETE-format
    * companion to the partial counts the EVR carries (reference computes it
    * in column_map_condition_auxilliary_methods.py:312-353). Sorted by
    * (-count, value), the Counter.most_common tie-break. */
  def unexpectedValueCounts(df: DataFrame, e: MapExpectation): DataFrame =
    df.filter(e.unexpectedCondition)
      .groupBy(e.unexpectedValue.as("value"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("value"))

  /** EVR list as a DataFrame with a stable, oracle-friendly schema. */
  def resultsToDF(spark: SparkSession, sr: SuiteResult): DataFrame = {
    val schema = StructType(Seq(
      StructField("expectation_type", StringType, nullable = false),
      StructField("domain", StringType, nullable = true),
      StructField("success", BooleanType, nullable = false),
      StructField("element_count", LongType, nullable = true),
      StructField("missing_count", LongType, nullable = true),
      StructField("unexpected_count", LongType, nullable = true),
      StructField("observed", DoubleType, nullable = true)))
    val rows = sr.results.map { e =>
      val domain = e.kwargs.get("column")
        .orElse(e.kwargs.get("column_list").map {
          case s: Seq[_] => s.mkString(",")
          case other => other
        })
        .orElse(e.kwargs.get("column_A").map(a =>
          s"${a},${e.kwargs.getOrElse("column_B", "")}"))
        .map(String.valueOf).orNull
      def longOf(k: String): Any = e.result.get(k) match {
        case Some(v: Number) => v.longValue()
        case _ => null
      }
      // count columns describe the MAP-expectation row shape; aggregate EVRs
      // also carry element/missing counts (reference parity) but this compact
      // projection keeps them NULL there for a stable oracle-friendly schema
      val isMap = e.result.contains("unexpected_count")
      val obs: Any = e.result.get("observed_value") match {
        case Some(v: Number) => v.doubleValue()
        // dict-shaped observed (row_count_to_equal_other_table) → self count
        case Some(m: Map[_, _]) =>
          m.asInstanceOf[Map[String, Any]].get("self") match {
            case Some(v: Number) => v.doubleValue()
            case _ => null
          }
        case _ => null
      }
      Row(e.expectationType, domain, e.success,
        if (isMap) longOf("element_count") else null,
        if (isMap) longOf("missing_count") else null,
        longOf("unexpected_count"), obs)
    }
    // a local relation: collecting it starts no Spark job
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}

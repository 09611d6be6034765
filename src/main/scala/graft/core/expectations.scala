package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.RegexGuard

/** Declarative expectation model.
  *
  * Mirrors the reference hierarchy (expectations/expectation.py:259,1511,
  * 1740,1790,2056,2312) as a sealed Scala ADT. Each map expectation compiles
  * to a Catalyst boolean `Column` (the *unexpected* condition); each
  * aggregate expectation contributes named aggregate `Column`s fused into
  * ONE `df.agg` per compute domain; VALUE-type expectations run their own
  * (small) Spark jobs. Null semantics follow SURVEY.md §1.3 exactly:
  * unexpected = col.isNotNull && !expected  (map_metric_provider/
  * column_condition_partial.py:275-285); success =
  * (nonnull - unexpected)/nonnull >= mostly, vacuously true when empty
  * (expectations/expectation.py:2027-2034,2775-2785).
  */
sealed trait Expectation {
  def expectationType: String
  def kwargs: Map[String, Any]
  /** Spark-SQL row condition defining the compute domain
    * (sparkdf_execution_engine.py:665-676). */
  def rowCondition: Option[String] = None
}

object MostlyMath {
  def success(denominator: Long, unexpected: Long, mostly: Double): Boolean =
    if (denominator == 0) true
    else (denominator - unexpected).toDouble / denominator >= mostly
}

// ---------------------------------------------------------------------------
// Map expectations (row-wise boolean conditions)
// ---------------------------------------------------------------------------

sealed trait MapExpectation extends Expectation {
  def mostly: Double
  /** Columns forming the domain (1 for column-map, 2 for pair, N multi). */
  def domainColumns: Seq[String]
  /** The *unexpected* condition, evaluated over non-excluded rows.
    * Must already embed null-guarding per the expectation's own semantics. */
  def unexpectedCondition: Column
  /** Rows excluded from the denominator (missing / ignore_row_if). */
  def missingCondition: Column
  /** Value collected into partial_unexpected_list for one unexpected row.
    * ignoreNullFields=false: a null member of a pair/multicolumn domain
    * must appear in the sample (the reference's list carries None). */
  def unexpectedValue: Column =
    if (domainColumns.size == 1) col(domainColumns.head).cast(StringType)
    else to_json(struct(domainColumns.map(col): _*),
      Map("ignoreNullFields" -> "false"))
  /** True when the unexpected condition contains a window function. Such
    * expectations run in their own job (as the reference does,
    * map_condition_auxilliary_methods.py:600-625) so that one window can't
    * drag the whole suite's fused projection through its shuffle — or, for
    * a global window, through a single-partition sort. */
  def usesWindow: Boolean = false
  /** True when the window has no partition spec: evaluation is a
    * single-partition sort, correct but non-scalable by construction. */
  def usesGlobalWindow: Boolean = false
  /** Pre-compute schema gate: metric providers that demand a specific input
    * type (strftime/dateutil require strings, column_values_match_strftime_
    * format.py:40) raise before evaluation; the runner turns the message
    * into this expectation's isolated exception EVR. */
  def schemaError(schema: StructType): Option[String] = None
}

/** Column-map expectation: expected(col) over non-null values.
  * filterColumnIsNull=false for the null/nonnull expectations themselves
  * (map_metric_provider.py:103). */
sealed trait ColumnMapExpectation extends MapExpectation {
  def column: String
  def expected(c: Column): Column
  def filterColumnIsNull: Boolean = true
  final def domainColumns: Seq[String] = Seq(column)
  def unexpectedCondition: Column =
    if (filterColumnIsNull) col(column).isNotNull && !expected(col(column))
    else !expected(col(column))
  def missingCondition: Column =
    if (filterColumnIsNull) col(column).isNull else lit(false)
}

final case class ExpectColumnValuesToBeNull(column: String, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_null"
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  override def filterColumnIsNull = false
  def expected(c: Column): Column = c.isNull
}

final case class ExpectColumnValuesToNotBeNull(column: String, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_not_be_null"
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  override def filterColumnIsNull = false
  def expected(c: Column): Column = c.isNotNull
}

/** column_values.in_set — an EMPTY value_set marks every non-null value
  * unexpected (golden corpus expect_column_values_to_be_in_set.json:54-60);
  * value_set=None is vacuously true in the reference
  * (column_values_in_set.py:78-88) — `universalSet` carries that form so
  * a loaded document round-trips through SuiteWriter. */
final case class ExpectColumnValuesToBeInSet(column: String, valueSet: Seq[Any],
    mostly: Double = 1.0, override val rowCondition: Option[String] = None,
    universalSet: Boolean = false)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_in_set"
  def kwargs = Map("column" -> column, "value_set" -> valueSet, "mostly" -> mostly)
  def expected(c: Column): Column =
    if (universalSet) lit(true)
    else if (valueSet.isEmpty) lit(false) else c.isin(valueSet: _*)
}

final case class ExpectColumnValuesToNotBeInSet(column: String, valueSet: Seq[Any],
    mostly: Double = 1.0, override val rowCondition: Option[String] = None,
    universalSet: Boolean = false)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_not_be_in_set"
  def kwargs = Map("column" -> column, "value_set" -> valueSet, "mostly" -> mostly)
  def expected(c: Column): Column =
    if (universalSet || valueSet.isEmpty) lit(true) else !c.isin(valueSet: _*)
}

/** column_values.between (column_values_between.py:208-246). */
final case class ExpectColumnValuesToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    strictMin: Boolean = false, strictMax: Boolean = false,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  require(minValue.isDefined || maxValue.isDefined,
    "min_value and max_value cannot both be None")
  (minValue, maxValue) match {
    case (Some(a: Number), Some(b: Number)) =>
      require(a.doubleValue() <= b.doubleValue(), "min_value cannot be greater than max_value")
    case _ =>
  }
  val expectationType = "expect_column_values_to_be_between"
  def kwargs = Map("column" -> column, "min_value" -> minValue.orNull,
    "max_value" -> maxValue.orNull, "mostly" -> mostly)
  def expected(c: Column): Column = {
    val lo = minValue.map(v => if (strictMin) c > lit(v) else c >= lit(v))
    val hi = maxValue.map(v => if (strictMax) c < lit(v) else c <= lit(v))
    (lo.toSeq ++ hi.toSeq).reduce(_ && _)
  }
}

final case class ExpectColumnValuesToMatchRegex(column: String, regex: String,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_match_regex"
  def kwargs = Map("column" -> column, "regex" -> regex, "mostly" -> mostly)
  def expected(c: Column): Column = RegexGuard.rlike(c, regex)
}

final case class ExpectColumnValuesToNotMatchRegex(column: String, regex: String,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_not_match_regex"
  def kwargs = Map("column" -> column, "regex" -> regex, "mostly" -> mostly)
  def expected(c: Column): Column = !RegexGuard.rlike(c, regex)
}

final case class ExpectColumnValuesToMatchRegexList(column: String,
    regexList: Seq[String], matchOn: String = "any", mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_match_regex_list"
  def kwargs = Map("column" -> column, "regex_list" -> regexList,
    "match_on" -> matchOn, "mostly" -> mostly)
  def expected(c: Column): Column = {
    val conds = regexList.map(RegexGuard.rlike(c, _))
    if (matchOn == "all") conds.reduce(_ && _) else conds.reduce(_ || _)
  }
}

final case class ExpectColumnValuesToNotMatchRegexList(column: String,
    regexList: Seq[String], mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_not_match_regex_list"
  def kwargs = Map("column" -> column, "regex_list" -> regexList, "mostly" -> mostly)
  def expected(c: Column): Column = regexList.map(r => !RegexGuard.rlike(c, r)).reduce(_ && _)
}

final case class ExpectColumnValuesToMatchLikePattern(column: String,
    likePattern: String, negate: Boolean = false, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType =
    if (negate) "expect_column_values_to_not_match_like_pattern"
    else "expect_column_values_to_match_like_pattern"
  def kwargs = Map("column" -> column, "like_pattern" -> likePattern, "mostly" -> mostly)
  def expected(c: Column): Column = if (negate) !c.like(likePattern) else c.like(likePattern)
}

final case class ExpectColumnValuesToMatchLikePatternList(column: String,
    likePatternList: Seq[String], matchOn: String = "any", negate: Boolean = false,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType =
    if (negate) "expect_column_values_to_not_match_like_pattern_list"
    else "expect_column_values_to_match_like_pattern_list"
  def kwargs = Map("column" -> column, "like_pattern_list" -> likePatternList, "mostly" -> mostly)
  def expected(c: Column): Column = {
    val conds =
      if (negate) likePatternList.map(p => !c.like(p))
      else likePatternList.map(c.like)
    if (negate || matchOn == "all") conds.reduce(_ && _) else conds.reduce(_ || _)
  }
}

final case class ExpectColumnValueLengthsToBeBetween(column: String,
    minValue: Option[Int] = None, maxValue: Option[Int] = None,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_value_lengths_to_be_between"
  def kwargs = Map("column" -> column, "min_value" -> minValue.orNull,
    "max_value" -> maxValue.orNull, "mostly" -> mostly)
  def expected(c: Column): Column = {
    val l = length(c)
    val lo = minValue.map(v => l >= lit(v))
    val hi = maxValue.map(v => l <= lit(v))
    (lo.toSeq ++ hi.toSeq).reduce(_ && _)
  }
}

final case class ExpectColumnValueLengthsToEqual(column: String, value: Int,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_value_lengths_to_equal"
  def kwargs = Map("column" -> column, "value" -> value, "mostly" -> mostly)
  def expected(c: Column): Column = length(c) === lit(value)
}

/** Window-shaped: uniqueness via partitioned count
  * (column_values_unique.py:80-86). Null rows form their own partition but
  * are masked by the isNotNull guard, so no pre-filter is needed. */
final case class ExpectColumnValuesToBeUnique(column: String, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_unique"
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  override def usesWindow = true
  def expected(c: Column): Column =
    count(lit(1)).over(Window.partitionBy(c)) <= 1
}

/** Window-shaped monotonicity (column_values_increasing.py:44-120).
  * The reference orders globally (Window.orderBy(lit) — single partition);
  * we additionally accept partition/order columns so transcript-style data
  * checks monotonicity *within* a conversation, which is both the correct
  * semantics and shuffle-parallel. `last(_, ignoreNulls)` over the preceding
  * frame replicates the reference's null-prefiltered `lag`. */
final case class ExpectColumnValuesToBeIncreasing(column: String,
    strictly: Boolean = false, partitionBy: Seq[String] = Nil,
    orderBy: Seq[String] = Nil, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_increasing"
  def kwargs = Map("column" -> column, "strictly" -> strictly, "mostly" -> mostly)
  override def usesWindow = true
  override def usesGlobalWindow: Boolean = partitionBy.isEmpty
  def expected(c: Column): Column = MonotonicCond(c, partitionBy, orderBy, up = true, strictly)
}

final case class ExpectColumnValuesToBeDecreasing(column: String,
    strictly: Boolean = false, partitionBy: Seq[String] = Nil,
    orderBy: Seq[String] = Nil, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_decreasing"
  def kwargs = Map("column" -> column, "strictly" -> strictly, "mostly" -> mostly)
  override def usesWindow = true
  override def usesGlobalWindow: Boolean = partitionBy.isEmpty
  def expected(c: Column): Column = MonotonicCond(c, partitionBy, orderBy, up = false, strictly)
}

private[core] object MonotonicCond {
  def apply(c: Column, partitionBy: Seq[String], orderBy: Seq[String],
      up: Boolean, strictly: Boolean): Column = {
    val ord = if (orderBy.nonEmpty) orderBy.map(col) else Seq(lit(1))
    val base =
      if (partitionBy.isEmpty) Window.orderBy(ord: _*) // reference's global shape
      else Window.partitionBy(partitionBy.map(col): _*).orderBy(ord: _*)
    val w = base.rowsBetween(Window.unboundedPreceding, -1)
    val prev = last(c, ignoreNulls = true).over(w)
    val cmp =
      (up, strictly) match {
        case (true, true) => c > prev
        case (true, false) => c >= prev
        case (false, true) => c < prev
        case (false, false) => c <= prev
      }
    prev.isNull || cmp // first non-null value in each sequence is vacuously OK
  }
}

final case class ExpectColumnValuesToMatchStrftimeFormat(column: String,
    strftimeFormat: String, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_match_strftime_format"
  def kwargs = Map("column" -> column, "strftime_format" -> strftimeFormat, "mostly" -> mostly)
  def expected(c: Column): Column =
    try_to_timestamp(c, lit(Strftime.toJavaPattern(strftimeFormat))).isNotNull
  override def schemaError(schema: StructType): Option[String] =
    schema.find(_.name == column).collect {
      case f if f.dataType != StringType =>
        // reference raises for non-string inputs (already-parsed timestamps
        // included) rather than silently formatting them
        s"Values passed to $expectationType must be of type string.\n" +
          s"If your data is stored in another type, please first convert it to string, e.g. with CAST($column AS STRING)."
    }
}

/** strftime → java.time.DateTimeFormatter pattern translation (the reference
  * applies Python strptime in a UDF, column_values_match_strftime_format.py:36-55;
  * we stay in codegen'd `try_to_timestamp`). */
object Strftime {
  private val table = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd", 'H' -> "HH",
    'I' -> "hh", 'M' -> "mm", 'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a",
    'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM",
    'Z' -> "zz", 'z' -> "xx", '%' -> "%")
  /** Quote a literal char for DateTimeFormatter: '' for a quote, 'c' for
    * ANY letter (every ASCII letter is reserved in DateTimeFormatter
    * patterns — a bare literal 'T' from "%Y-%m-%dT…" would throw "Unknown
    * pattern letter" at evaluation time), bare otherwise. */
  private def quoteLiteral(out: StringBuilder, ch: Char): Unit =
    if (ch == '\'') out.append("''")
    else if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))
      out.append('\'').append(ch).append('\'')
    else out.append(ch)
  def toJavaPattern(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        val d = fmt.charAt(i + 1)
        // untranslatable %-directives fail LOUDLY, like Python strptime's
        // "'D' is a bad directive" that the reference wraps — a silent
        // literal fallback would mark every row unexpected instead
        table.get(d) match {
          case Some(p) => out.append(p)
          case None => throw new IllegalArgumentException(
            s"Unable to use provided strftime_format. ('%$d' is not a supported directive)")
        }
        i += 2
      } else { quoteLiteral(out, ch); i += 1 }
    }
    out.toString
  }
}

final case class ExpectColumnValuesToBeJsonParseable(column: String,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_json_parseable"
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  // NOT try_parse_json: Spark's variant parser accepts trailing tokens
  // ('{"k":1}}' parses), unlike Python json.loads / DuckDB json_valid.
  // Native expression (no UDF conversion layer), same Jackson validator.
  def expected(c: Column): Column = graft.functions.JsonExprs.json_parseable(c)
}

/** JSON-Schema validation via a native expression over the pure-JVM
  * validator (graft.functions.JsonSchema) — the reference uses a Python
  * jsonschema UDF (column_values_match_json_schema.py:42-60). */
final case class ExpectColumnValuesToMatchJsonSchema(column: String,
    jsonSchema: String, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None) extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_match_json_schema"
  def kwargs = Map("column" -> column, "json_schema" -> jsonSchema, "mostly" -> mostly)
  def expected(c: Column): Column =
    graft.functions.JsonExprs.json_matches_schema(c, jsonSchema)
}

final case class ExpectColumnValuesToBeDateutilParseable(column: String,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  val expectationType = "expect_column_values_to_be_dateutil_parseable"
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  /** dateutil is a permissive multi-format parser; this covers its common
    * accept set as a codegen'd coalesce battery (ISO via Spark's default
    * parse, then US month-first slash/dash forms as dateutil defaults to,
    * then verbose month-name forms) — a documented subset of dateutil's
    * full heuristic (the reference runs dateutil.parser.parse in a Python
    * UDF, column_values_dateutil_parseable.py:32-44). */
  def expected(c: Column): Column = {
    val formats = Seq("MM/dd/yyyy", "MM-dd-yyyy", "yyyy/MM/dd",
      "MMM dd yyyy", "MMM dd, yyyy", "MMMM dd, yyyy", "dd MMM yyyy",
      "MM/dd/yyyy HH:mm:ss", "MM/dd/yy")
    coalesce((try_to_timestamp(c) +:
      formats.map(f => try_to_timestamp(c, lit(f)))): _*).isNotNull
  }
  override def schemaError(schema: StructType): Option[String] =
    schema.find(_.name == column).collect {
      case f if f.dataType != StringType =>
        s"Values passed to $expectationType must be of type string.\n" +
          s"If your data is stored in another type, please first convert it to string, e.g. with CAST($column AS STRING)."
    }
}

/** Extension point mirroring the reference's custom-expectation surface
  * (@column_condition_partial, map_metric_provider/column_condition_partial
  * .py:41, and the RegexBasedColumnMapExpectation /
  * SetBasedColumnMapExpectation template classes,
  * regex_based_column_map_expectation.py:50-120): a user-defined column-map
  * expectation from a Column=>Column predicate, fused into the suite's
  * single pass like every built-in. */
final case class CustomColumnMapExpectation(
    expectationType: String, column: String, predicate: Column => Column,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnMapExpectation {
  def kwargs = Map("column" -> column, "mostly" -> mostly)
  def expected(c: Column): Column = predicate(c)
}

object CustomColumnMapExpectation {
  /** RegexBasedColumnMapExpectation.register_metric analogue. */
  def regexBased(expectationType: String, column: String, regex: String,
      mostly: Double = 1.0): CustomColumnMapExpectation =
    CustomColumnMapExpectation(expectationType, column, RegexGuard.rlike(_, regex), mostly)
  /** SetBasedColumnMapExpectation analogue
    * (set_based_column_map_expectation.py:48-139). */
  def setBased(expectationType: String, column: String, set: Seq[Any],
      mostly: Double = 1.0): CustomColumnMapExpectation =
    CustomColumnMapExpectation(expectationType, column,
      c => if (set.isEmpty) lit(false) else c.isin(set: _*), mostly)
}

/** Custom multicolumn predicate (@multicolumn_condition_partial). */
final case class CustomMulticolumnMapExpectation(
    expectationType: String, columns: Seq[String],
    predicate: Seq[Column] => Column,
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.AllValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends MulticolumnMapExpectation {
  def kwargs = Map("column_list" -> columns, "mostly" -> mostly)
  def expectedMulti(cs: Seq[Column]): Column = predicate(cs)
}

/** z-score threshold. Mean/stddev are resolved by the runner in the shared
  * fused aggregate pass and injected as literals before the condition pass
  * (two jobs total for the whole suite, not per expectation) —
  * column_values_z_score.py:60-105. */
final case class ExpectColumnValueZScoresToBeLessThan(column: String,
    threshold: Double, doubleSided: Boolean = true, mostly: Double = 1.0,
    override val rowCondition: Option[String] = None,
    exactMoments: Boolean = false) extends ColumnMapExpectation {
  val expectationType = "expect_column_value_z_scores_to_be_less_than"
  // exact_moments rides kwargs only when set (mirrors SuiteWriter's
  // conditional emission) so the EVR records which resolution mode
  // produced its mean/stddev
  def kwargs = Map("column" -> column, "threshold" -> threshold,
    "double_sided" -> doubleSided, "mostly" -> mostly) ++
    (if (exactMoments) Map("exact_moments" -> true) else Map.empty)
  // The bare condition is undefined until the runner injects mean/stddev
  // (expectedWith): fail loudly rather than let a lit(true) placeholder
  // leak into Graft.unexpectedValueCounts or an index query as a
  // silently-empty filter.
  def expected(c: Column): Column = throw new IllegalStateException(
    "z-score condition requires resolved mean/stddev — evaluate via SuiteRunner")
  def expectedWith(c: Column, mean: Double, std: Double): Column = {
    val z = (c - lit(mean)) / lit(std)
    if (doubleSided) abs(z) < lit(threshold) else z < lit(threshold)
  }
}

// --- column pair ------------------------------------------------------------

sealed trait ColumnPairMapExpectation extends MapExpectation {
  def columnA: String
  def columnB: String
  def ignoreRowIf: IgnoreRowIf
  def expectedPair(a: Column, b: Column): Column
  final def domainColumns: Seq[String] = Seq(columnA, columnB)
  final def missingCondition: Column = {
    val (a, b) = (col(columnA), col(columnB))
    ignoreRowIf match {
      case IgnoreRowIf.BothValuesAreMissing | IgnoreRowIf.AllValuesAreMissing =>
        a.isNull && b.isNull
      case IgnoreRowIf.EitherValueIsMissing | IgnoreRowIf.AnyValueIsMissing =>
        a.isNull || b.isNull
      case IgnoreRowIf.Neither => lit(false)
    }
  }
  final def unexpectedCondition: Column =
    !missingCondition && !expectedPair(col(columnA), col(columnB))
}

final case class ExpectColumnPairValuesToBeEqual(columnA: String, columnB: String,
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.BothValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnPairMapExpectation {
  val expectationType = "expect_column_pair_values_to_be_equal"
  def kwargs = Map("column_A" -> columnA, "column_B" -> columnB, "mostly" -> mostly)
  def expectedPair(a: Column, b: Column): Column = a <=> b
}

final case class ExpectColumnPairValuesAToBeGreaterThanB(columnA: String,
    columnB: String, orEqual: Boolean = false,
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.BothValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnPairMapExpectation {
  val expectationType = "expect_column_pair_values_a_to_be_greater_than_b"
  def kwargs = Map("column_A" -> columnA, "column_B" -> columnB,
    "or_equal" -> orEqual, "mostly" -> mostly)
  def expectedPair(a: Column, b: Column): Column = if (orEqual) a >= b else a > b
}

final case class ExpectColumnPairValuesToBeInSet(columnA: String, columnB: String,
    valuePairs: Seq[(Any, Any)],
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.BothValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends ColumnPairMapExpectation {
  val expectationType = "expect_column_pair_values_to_be_in_set"
  def kwargs = Map("column_A" -> columnA, "column_B" -> columnB, "mostly" -> mostly)
  def expectedPair(a: Column, b: Column): Column =
    valuePairs.map { case (x, y) => (a <=> lit(x)) && (b <=> lit(y)) }
      .reduceOption(_ || _).getOrElse(lit(false))
}

// --- multicolumn -------------------------------------------------------------

sealed trait MulticolumnMapExpectation extends MapExpectation {
  def columns: Seq[String]
  def ignoreRowIf: IgnoreRowIf
  def expectedMulti(cs: Seq[Column]): Column
  final def domainColumns: Seq[String] = columns
  final def missingCondition: Column = {
    val cs = columns.map(col)
    ignoreRowIf match {
      case IgnoreRowIf.AllValuesAreMissing | IgnoreRowIf.BothValuesAreMissing =>
        cs.map(_.isNull).reduce(_ && _)
      case IgnoreRowIf.AnyValueIsMissing | IgnoreRowIf.EitherValueIsMissing =>
        cs.map(_.isNull).reduce(_ || _)
      case IgnoreRowIf.Neither => lit(false)
    }
  }
  final def unexpectedCondition: Column =
    !missingCondition && !expectedMulti(columns.map(col))
}

/** compound_columns.unique (compound_columns_unique.py:187-193). */
final case class ExpectCompoundColumnsToBeUnique(columns: Seq[String],
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.AllValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends MulticolumnMapExpectation {
  val expectationType = "expect_compound_columns_to_be_unique"
  def kwargs = Map("column_list" -> columns, "mostly" -> mostly)
  override def usesWindow = true
  def expectedMulti(cs: Seq[Column]): Column =
    count(lit(1)).over(Window.partitionBy(cs: _*)) <= 1
}

/** multicolumn_sum.equal (multicolumn_sum_equal.py:41-48). */
final case class ExpectMulticolumnSumToEqual(columns: Seq[String], sumTotal: Double,
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.AllValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends MulticolumnMapExpectation {
  val expectationType = "expect_multicolumn_sum_to_equal"
  def kwargs = Map("column_list" -> columns, "sum_total" -> sumTotal, "mostly" -> mostly)
  def expectedMulti(cs: Seq[Column]): Column =
    cs.map(c => coalesce(c, lit(0))).reduce(_ + _) === lit(sumTotal)
}

/** select_column_values.unique.within_record
  * (select_column_values_unique_within_record.py:74-86). */
final case class ExpectSelectColumnValuesToBeUniqueWithinRecord(columns: Seq[String],
    ignoreRowIf: IgnoreRowIf = IgnoreRowIf.AllValuesAreMissing,
    mostly: Double = 1.0, override val rowCondition: Option[String] = None)
    extends MulticolumnMapExpectation {
  val expectationType = "expect_select_column_values_to_be_unique_within_record"
  def kwargs = Map("column_list" -> columns, "mostly" -> mostly)
  def expectedMulti(cs: Seq[Column]): Column = {
    val eqAny = (for { i <- cs.indices; j <- (i + 1) until cs.size }
      yield cs(i) <=> cs(j)).reduce(_ || _)
    !eqAny
  }
}

// ---------------------------------------------------------------------------
// Aggregate expectations (fused into one df.agg per domain)
// ---------------------------------------------------------------------------

sealed trait AggExpectation extends Expectation {
  /** Pre-compute schema gate (see MapExpectation.schemaError). */
  def schemaError(schema: StructType): Option[String] = None
  /** Named aggregate columns; names must be unique per expectation and are
    * namespaced by the runner. */
  def aggs: Seq[(String, Column)]
  /** success + observed_value from resolved aggregate results. */
  def validate(resolved: Map[String, Any]): (Boolean, Any)
}

/** min/max-between template (expectation.py:1587-1657): null bound = open. */
object BetweenCheck {
  /** Temporal observed values (date/timestamp min/max aggregates) compare
    * on ONE scale — epoch millis. Instant-typed values (java.sql.Timestamp,
    * java.time.Instant — both carry a true epoch) rank by that epoch
    * directly; only genuinely zone-LESS types (LocalDate/LocalDateTime,
    * Spark's DATE/TIMESTAMP_NTZ externals) anchor their wall clock at a
    * fixed UTC offset. Routing Timestamp through toLocalDateTime would
    * re-interpret its epoch in the JVM default zone: a non-UTC host would
    * shift comparisons by its offset and DST fall-back would make the rank
    * non-monotonic. */
  private def rank(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay * 86400000.0)
    case t: java.sql.Timestamp => Some(t.getTime.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay * 86400000.0)
    case i: java.time.Instant => Some(i.toEpochMilli.toDouble)
    case dt: java.time.LocalDateTime =>
      Some(dt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble)
    case _ => None
  }
  /** ISO-8601 / SQL-style datetime strings as bounds (common in GE JSON
    * suites for min/max expectations on date columns) parse through
    * java.time (host-TZ-independent) anchored at UTC. Contract: zone-LESS
    * operands (string bounds, DATE, TIMESTAMP_NTZ) are interpreted as UTC
    * wall clock, so they compare correctly against instant-typed values
    * exactly when the data was written under a UTC session timezone —
    * which this engine's session builders set. On a non-UTC session, pass
    * instant-typed bounds (or offsets in the strings) instead. */
  private def temporalString(s: String): Option[Double] = {
    def opt(f: => Double): Option[Double] =
      try Some(f) catch { case _: Exception => None }
    opt(java.time.LocalDate.parse(s).toEpochDay * 86400000.0)
      .orElse(opt(java.time.LocalDateTime.parse(s)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble))
      .orElse(opt(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble))
      .orElse(opt(java.time.Instant.parse(s).toEpochMilli.toDouble))
  }

  /** Bounds are Any so they can carry an unresolved ParamRef until
    * SuiteParams.resolve runs; a ref reaching evaluation is an error. */
  def bound(o: Option[Any]): Option[Double] = o.map { v =>
    rank(v).getOrElse(v match {
      case ParamRef(name) => throw new IllegalArgumentException(
        s"unresolved suite parameter: $$$name (call SuiteParams.resolve first)")
      case s: String => temporalString(s).getOrElse(
        throw new IllegalArgumentException(
          s"bound '$s' is neither numeric nor a parseable datetime " +
            "(invalid datetime format)"))
      case other => throw new IllegalArgumentException(
        s"bound '$other' is neither numeric nor a parseable datetime " +
          "(invalid datetime format)")
    })
  }
  def check(v: Any, minV: Option[Double], maxV: Option[Double],
      strictMin: Boolean = false, strictMax: Boolean = false): Boolean =
    (if (v == null) None else rank(v)) match {
      case None => false
      case Some(d) =>
        val lo = minV.forall(m => if (strictMin) d > m else d >= m)
        val hi = maxV.forall(m => if (strictMax) d < m else d <= m)
        lo && hi
    }
}

/** Exact-moment mean/stddev forms: over integer-valued inputs the double
  * sums are order-independent (every partial sum stays an exact integer
  * below 2^53), so these are bit-reproducible across engines AND across
  * partitionings — where Welford-merged stddev_samp is neither. They are
  * also cheaper at scale: plain codegen'd sums with map-side combine
  * instead of a merge-state object aggregate. Caveat: the textbook
  * cancellation risk applies to large-mean/small-variance NON-integer
  * data — keep stddev_samp (the default) there. */
object Moments {
  def meanExact(c0: Column): Column = {
    val c = c0.cast(DoubleType)
    sum(c) / count(c).cast(DoubleType)
  }
  def stddevExact(c0: Column): Column = {
    val c = c0.cast(DoubleType)
    val n = count(c).cast(DoubleType)
    // n <= 1 → NULL, matching Spark 4's default stddev_samp (NULL for
    // n <= 1 with legacy.statisticalAggregate off) and DuckDB; an
    // unguarded /(n-1) would throw DIVIDE_BY_ZERO under ANSI and poison
    // every sibling in the fused job. The variance is clamped at 0: on
    // integer-valued data (the documented precondition) the sums are
    // exact and the clamp is a no-op, but a user who opts into
    // exact_moments on non-integer data via suite JSON can see a tiny
    // negative from cancellation — clamping yields stddev 0.0 (a visible
    // near-constant-column answer) instead of a silent NaN.
    // ORACLE NOTE (round-5 advice): a straight SQL transcription of this
    // form (sqrt of the raw exact-sum expression, as q77's oracle does)
    // yields NaN where the clamp yields 0.0 — any NEW oracle over
    // exactMoments stddev must either mirror greatest(0, var) or hold the
    // integer-valued precondition, under which the two are identical
    when(n > lit(1.0),
      sqrt(greatest(lit(0.0),
        (sum(c * c) - sum(c) * sum(c) / n) / (n - lit(1.0)))))
      .otherwise(lit(null).cast(DoubleType))
  }
}

sealed abstract class ColumnAggBetween(metric: String, aggFn: Column => Column)
    extends AggExpectation {
  def column: String
  def minValue: Option[Any]
  def maxValue: Option[Any]
  def strictMin: Boolean = false
  def strictMax: Boolean = false
  val expectationType = s"expect_column_${metric}_to_be_between"
  /** mean/sum/stdev demand a numeric input column; the reference's Spark
    * engine raises a "numeric"-typed metric error rather than coercing
    * strings or booleans (avg/sum over BooleanType is an ANALYSIS error in
    * Spark, which would otherwise poison every sibling in the fused
    * domain; min/max stay permissive — they order strings and
    * timestamps). */
  override def schemaError(schema: StructType): Option[String] =
    if (metric != "mean" && metric != "sum" && metric != "stdev") None
    else schema.find(_.name == column).collect {
      case f if !f.dataType.isInstanceOf[NumericType] &&
          f.dataType != NullType =>
        s"column '$column' must be numeric for $expectationType " +
          s"(found ${f.dataType.simpleString})"
    }
  def kwargs = Map("column" -> column, "min_value" -> minValue.orNull,
    "max_value" -> maxValue.orNull)
  /** `__ec`/`__nn` feed the element_count/missing_count fields the reference
    * reports on column-aggregate EVRs; identical aggregates dedup across the
    * fused pass so they cost nothing extra. Bounds are validated HERE (the
    * probe step calls aggs before planning) so a malformed bound fails this
    * expectation with its own parse error before any Spark job — matching
    * the reference, whose kwarg validation precedes metric compute. */
  def aggs: Seq[(String, Column)] = {
    BetweenCheck.bound(minValue)
    BetweenCheck.bound(maxValue)
    Seq("observed" -> aggFn(col(column)),
      "__ec" -> count(lit(1)), "__nn" -> count(col(column)))
  }
  def validate(resolved: Map[String, Any]): (Boolean, Any) = {
    val v = resolved("observed")
    (BetweenCheck.check(v, BetweenCheck.bound(minValue),
      BetweenCheck.bound(maxValue), strictMin, strictMax), v)
  }
}

final case class ExpectColumnMinToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val strictMin: Boolean = false, override val strictMax: Boolean = false,
    override val rowCondition: Option[String] = None)
    extends ColumnAggBetween("min", min)
final case class ExpectColumnMaxToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val strictMin: Boolean = false, override val strictMax: Boolean = false,
    override val rowCondition: Option[String] = None)
    extends ColumnAggBetween("max", max)
final case class ExpectColumnSumToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val strictMin: Boolean = false, override val strictMax: Boolean = false,
    override val rowCondition: Option[String] = None)
    extends ColumnAggBetween("sum", sum)
final case class ExpectColumnMeanToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val strictMin: Boolean = false, override val strictMax: Boolean = false,
    override val rowCondition: Option[String] = None)
    extends ColumnAggBetween("mean", avg)
/** `exactMoments = true` swaps Welford stddev_samp for the bit-reproducible
  * sum-of-squares form (see Moments) — the right choice for integer-valued
  * columns, where it is both deterministic under repartitioning and
  * oracle-checkable. */
final case class ExpectColumnStdevToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val strictMin: Boolean = false, override val strictMax: Boolean = false,
    override val rowCondition: Option[String] = None,
    exactMoments: Boolean = false)
    extends ColumnAggBetween("stdev",
      c => if (exactMoments) Moments.stddevExact(c) else stddev_samp(c)) {
  override def kwargs = super.kwargs ++
    (if (exactMoments) Map("exact_moments" -> true) else Map.empty)
}
final case class ExpectColumnUniqueValueCountToBeBetween(column: String,
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val rowCondition: Option[String] = None)
    extends ColumnAggBetween("unique_value_count", c => count_distinct(c))

final case class ExpectColumnProportionOfUniqueValuesToBeBetween(column: String,
    minValue: Option[Double] = None, maxValue: Option[Double] = None,
    override val rowCondition: Option[String] = None) extends AggExpectation {
  val expectationType = "expect_column_proportion_of_unique_values_to_be_between"
  def kwargs = Map("column" -> column, "min_value" -> minValue.orNull,
    "max_value" -> maxValue.orNull)
  def aggs = Seq(
    "distinct" -> count_distinct(col(column)),
    "nonnull" -> count(col(column)))
  def validate(resolved: Map[String, Any]): (Boolean, Any) = {
    val d = resolved("distinct").asInstanceOf[Number].doubleValue()
    val n = resolved("nonnull").asInstanceOf[Number].doubleValue()
    val p = if (n == 0) 0.0 else d / n
    (BetweenCheck.check(p, minValue, maxValue), p)
  }
}

final case class ExpectTableRowCountToBeBetween(
    minValue: Option[Any] = None, maxValue: Option[Any] = None,
    override val rowCondition: Option[String] = None) extends AggExpectation {
  val expectationType = "expect_table_row_count_to_be_between"
  def kwargs = Map("min_value" -> minValue.orNull, "max_value" -> maxValue.orNull)
  def aggs = Seq("n" -> count(lit(1)))
  def validate(resolved: Map[String, Any]): (Boolean, Any) = {
    val v = resolved("n")
    (BetweenCheck.check(v, BetweenCheck.bound(minValue),
      BetweenCheck.bound(maxValue)), v)
  }
}

final case class ExpectTableRowCountToEqual(value: Long,
    override val rowCondition: Option[String] = None) extends AggExpectation {
  val expectationType = "expect_table_row_count_to_equal"
  def kwargs = Map("value" -> value)
  def aggs = Seq("n" -> count(lit(1)))
  def validate(resolved: Map[String, Any]): (Boolean, Any) = {
    val v = resolved("n").asInstanceOf[Number].longValue()
    (v == value, v)
  }
}

// ---------------------------------------------------------------------------
// VALUE expectations (each runs its own small job)
// ---------------------------------------------------------------------------

sealed trait ValueExpectation extends Expectation {
  def run(df: DataFrame): Evr
}

final case class ExpectColumnMedianToBeBetween(column: String,
    minValue: Option[Double] = None, maxValue: Option[Double] = None,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_median_to_be_between"
  def kwargs = Map("column" -> column, "min_value" -> minValue.orNull,
    "max_value" -> maxValue.orNull)
  def run(df: DataFrame): Evr = {
    // Exact median, GE semantics (column_median.py:95-140): avg of the two
    // middle values for even counts — Spark's exact `percentile(_, 0.5)`
    // interpolates identically and stays distributed (no driver collect).
    // element/missing counts ride the same aggregate (reference-shaped
    // aggregate EVR fields).
    val row = df.agg(
      percentile(col(column).cast(DoubleType), lit(0.5)).as("m"),
      count(lit(1)).as("__ec"), count(col(column)).as("__nn")).head()
    val obs: Any = if (row.isNullAt(0)) null else row.getDouble(0)
    val ec = row.getAs[Long]("__ec")
    val mc = ec - row.getAs[Long]("__nn")
    Evr(expectationType, kwargs, BetweenCheck.check(obs, minValue, maxValue),
      Map[String, Any]("observed_value" -> obs, "element_count" -> ec,
        "missing_count" -> mc,
        "missing_percent" ->
          (if (ec == 0L) null else mc.toDouble / ec * 100.0)))
  }
}

/** `exact = true` swaps approxQuantile (Greenwald-Khanna sketch — the
  * right default at scale) for Spark's exact `percentile` aggregate:
  * linear interpolation identical to DuckDB quantile_cont, so observed
  * quantile values become oracle-checkable (exact whenever neighbors and
  * the quantile's fraction are binary-exact, e.g. integer data at
  * quartiles). Exact percentile materializes per-group value buffers —
  * prefer the sketch for very high-cardinality columns. */
final case class ExpectColumnQuantileValuesToBeBetween(column: String,
    quantiles: Seq[Double], ranges: Seq[(Option[Double], Option[Double])],
    relativeError: Double = 1e-4,
    override val rowCondition: Option[String] = None,
    exact: Boolean = false) extends ValueExpectation {
  require(quantiles.size == ranges.size,
    s"quantile_ranges: ${quantiles.size} quantiles but ${ranges.size} " +
      "value_ranges (the reference rejects mismatched lengths)")
  val expectationType = "expect_column_quantile_values_to_be_between"
  def kwargs = Map("column" -> column, "quantiles" -> quantiles) ++
    (if (exact) Map("exact" -> true) else Map.empty)
  def run(df: DataFrame): Evr = {
    val vals: Array[Double] =
      if (exact) {
        val row = df.agg(percentile(col(column).cast(DoubleType),
          typedLit(quantiles)).as("q")).head()
        if (row.isNullAt(0)) Array.empty[Double]
        else row.getAs[scala.collection.Seq[Double]](0).toArray
      } else df.stat.approxQuantile(column, quantiles.toArray, relativeError)
    // empty column → no observed quantiles → failure, not a vacuous forall
    val ok = vals.length == quantiles.size &&
      vals.zip(ranges).forall { case (v, (lo, hi)) =>
        BetweenCheck.check(v, lo, hi)
      }
    Evr(expectationType, kwargs, ok,
      Map("observed_value" -> Map("quantiles" -> quantiles, "values" -> vals.toSeq)))
  }
}

final case class ExpectColumnMostCommonValueToBeInSet(column: String,
    valueSet: Seq[Any], tiesOkay: Boolean = false,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_most_common_value_to_be_in_set"
  def kwargs = Map("column" -> column, "value_set" -> valueSet)
  def run(df: DataFrame): Evr = {
    // mode(s): ALL values sharing the max count (column_most_common_value.py:
    // 33-55). Fast path: one job collecting the top MaxResultRecords+1
    // (count desc) — exact whenever the tie set fits (every realistic case).
    // Only a tie wider than the cap pays two more small jobs for the exact
    // verdict instead of silently truncating the mode set.
    val cap = ResultFormat.MaxResultRecords
    val cdf = df.filter(col(column).isNotNull).groupBy(col(column))
      .agg(count(lit(1)).as("n"))
    val top = cdf.orderBy(col("n").desc).limit(cap + 1).collect()
    val set = valueSet.toSet
    // fixture-pinned semantics (expect_column_most_common_value_to_be_in_
    // set.json): ties_okay → ANY mode in the set passes; without it a tie
    // is an outright failure even when every mode is in the set
    val (ok, modes) =
      if (top.isEmpty) (false, Seq.empty[Any])
      else {
        val m = top.head.getLong(1)
        val tied = top.filter(_.getLong(1) == m)
        if (tied.length <= cap) {
          val ms = tied.map(_.get(0)).toSeq
          val success =
            if (tiesOkay) ms.exists(set.contains)
            else ms.size == 1 && set.contains(ms.head)
          (success, ms)
        } else {
          // tie wider than the driver cap: exact verdict from a distributed
          // membership aggregate (never collects the full mode set); the
          // observed list is the capped sample
          val wantNN = valueSet.filterNot(_ == null).distinct
          val inSet =
            if (wantNN.isEmpty) lit(false) else col(column).isin(wantNN: _*)
          val r = cdf.filter(col("n") === lit(m)).agg(
            count(lit(1)).as("cnt"),
            sum(when(inSet, 1L).otherwise(0L)).as("ins")).head()
          val anyIn = r.getLong(1) > 0L
          // cnt > cap ⟹ >1 mode, so !tiesOkay is always a failure here
          (tiesOkay && anyIn, tied.take(cap).map(_.get(0)).toSeq)
        }
      }
    // element/missing counts: reference-shaped aggregate EVR fields
    val cRow = df.agg(count(lit(1)).as("__ec"),
      count(col(column)).as("__nn")).head()
    val ec = cRow.getAs[Long]("__ec")
    val mc = ec - cRow.getAs[Long]("__nn")
    Evr(expectationType, kwargs, ok,
      Map[String, Any]("observed_value" -> modes, "element_count" -> ec,
        "missing_count" -> mc,
        "missing_percent" ->
          (if (ec == 0L) null else mc.toDouble / ec * 100.0)))
  }
}

sealed abstract class DistinctSetExpectation(op: String) extends ValueExpectation {
  def column: String
  def valueSet: Seq[Any]
  /** value_set = None in the reference is the UNIVERSAL set for be_in
    * (vacuous pass, observed list still reported) — not the empty set. */
  protected def universal: Boolean = false
  val expectationType = s"expect_column_distinct_values_to_${op}_set"
  def kwargs = Map("column" -> column, "value_set" -> valueSet)
  /** DISTRIBUTED set compare: success comes from membership COUNTS over the
    * distinct values (subset ⟺ zero values outside the set; superset ⟺
    * every wanted value present) — never from collecting the distinct
    * values to the driver, so a 10⁹-distinct column can't OOM it. The
    * observed_value sample is a distributed ordered top-k capped at
    * MaxResultRecords (the reference returns the full list — fine in
    * pandas, a driver bomb at scale). */
  def run(df: DataFrame): Evr = {
    // a null in value_set can never be observed (distinct is over non-null
    // values) and must not poison isin's three-valued logic
    val wantNN = valueSet.filterNot(_ == null).distinct
    val wantHasNull = valueSet.contains(null)
    val dist = df.filter(col(column).isNotNull)
      .select(col(column).as("__v")).distinct()
    val inWant =
      if (wantNN.isEmpty) lit(false) else col("__v").isin(wantNN: _*)
    val r = dist.agg(
      sum(when(inWant, 1L).otherwise(0L)).as("present"),
      sum(when(!inWant, 1L).otherwise(0L)).as("extra")).head()
    def cnt(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val extra = cnt(1)
    val missingWanted =
      (wantNN.size - cnt(0)) + (if (wantHasNull) 1L else 0L)
    val ok =
      if (universal) true
      else op match {
        case "be_in" => extra == 0L
        case "contain" => missingWanted == 0L
        case "equal" => extra == 0L && missingWanted == 0L
      }
    val obs = dist.select(col("__v").cast(StringType).as("__s"))
      .orderBy("__s").limit(ResultFormat.MaxResultRecords)
      .collect().map(_.getString(0)).toSeq
    Evr(expectationType, kwargs, ok, Map("observed_value" -> obs))
  }
}
final case class ExpectColumnDistinctValuesToBeInSet(column: String, valueSet: Seq[Any],
    override val rowCondition: Option[String] = None,
    universalSet: Boolean = false) extends DistinctSetExpectation("be_in") {
  override protected def universal: Boolean = universalSet
}
final case class ExpectColumnDistinctValuesToContainSet(column: String, valueSet: Seq[Any],
    override val rowCondition: Option[String] = None) extends DistinctSetExpectation("contain")
final case class ExpectColumnDistinctValuesToEqualSet(column: String, valueSet: Seq[Any],
    override val rowCondition: Option[String] = None) extends DistinctSetExpectation("equal")

/** Shared KL arithmetic (expect_column_kl_divergence_to_be_less_than.py:
  * 557-860). `entropy` replicates scipy.stats.entropy(pk, qk): both vectors
  * are normalized to sum 1, then Σ p·ln(p/q); any p>0 with q=0 → +∞.
  *
  * Also the one definition of each aggregate the distribution checks
  * share, batch and stream alike: [[cappedCounts]] (categorical KL,
  * chi-square, bootstrapped KS, Cramér's φ), [[binCounts]] (continuous and
  * auto KL, `StreamingValidate.continuousDriftStream`) and
  * [[expectedWeights]] (continuous KL and its stream twin). */
object KlMath {
  /** Driver-side cap for the categorical value histogram (fail-loud above;
    * the reference's pandas path has the same implicit driver-memory
    * limit, just without the guard). */
  val MaxCategories = 10000

  /** Canonical category key: numerically-equal values must collide (a
    * Double 1.0 observed in the data matches a partition's integer 1, as
    * the reference's pandas index alignment does). */
  def keyOf(v: Any): String = v match {
    case n: Number =>
      val d = n.doubleValue()
      if (d.isWhole && math.abs(d) < 9.007199254740992e15) d.toLong.toString
      else d.toString
    case other => String.valueOf(other)
  }

  def entropy(pk: Seq[Double], qk: Seq[Double]): Double = {
    val ps = pk.sum
    val qs = qk.sum
    // ps NaN = an empty/all-null domain's 0/0 weights — the divergence is
    // undefined (observed null, success false), NOT vacuously zero
    if (ps == 0.0 || ps.isNaN) return Double.NaN
    var kl = 0.0
    var i = 0
    while (i < pk.length) {
      val p = pk(i) / ps
      val q = if (qs == 0.0) 0.0 else qk(i) / qs
      if (p > 0.0) {
        if (q == 0.0) return Double.PositiveInfinity
        kl += p * math.log(p / q)
      }
      i += 1
    }
    kl
  }

  /** success/observed shaping: inf/NaN → observed None (reference
    * serializes None for non-finite divergences), success = kl ≤ threshold.
    * threshold = +∞ encodes the reference's `threshold: null` — success is
    * unconditionally true (profiling mode), even for NaN/∞ divergences. */
  def evr(expectationType: String, kwargs: Map[String, Any], kl: Double,
      threshold: Double, details: Map[String, Any] = Map.empty): Evr = {
    val ok = threshold.isPosInfinity || (!kl.isNaN && kl <= threshold)
    val obs: Any = if (kl.isNaN || kl.isInfinite) null else kl
    Evr(expectationType, kwargs, ok,
      Map[String, Any]("observed_value" -> obs) ++
        (if (details.isEmpty) Map.empty[String, Any]
         else Map[String, Any]("details" -> details)))
  }

  /** Holdout range gate with the reference's pydantic-era message text
    * (its kwargs schema constrains holdouts with ge=0/le=1; the fixture
    * corpus pins the "less than or equal to 1" phrasing). */
  def checkHoldout(name: String, v: Double): Unit = {
    if (v > 1) throw new IllegalArgumentException(
      s"$name: input should be less than or equal to 1")
    if (v < 0) throw new IllegalArgumentException(
      s"$name: input should be greater than or equal to 0")
  }

  /** Threshold gate (reference _validate: None allowed = profiling mode;
    * +∞ is this engine's encoding of None). */
  def checkThreshold(t: Double): Unit =
    if (t.isNaN || t < 0) throw new IllegalArgumentException(
      "Threshold must be specified, greater than or equal to zero.")

  /** Values ordered like the reference's value-sorted value_counts
    * (numbers numerically, everything else lexicographically). */
  val valueOrdering: Ordering[Any] = Ordering.fromLessThan { (a, b) =>
    (a, b) match {
      case (x: Number, y: Number) => x.doubleValue() < y.doubleValue()
      case (x, y) => String.valueOf(x) < String.valueOf(y)
    }
  }

  /** The capped value_counts behind every categorical check: `frame`
    * grouped by `keys` with the group size as `n`, in no particular order.
    * More than `MaxCategories` groups fail loudly with the caller's
    * `tooMany` message instead of OOMing the driver with an uncapped
    * collect. */
  def cappedCounts(frame: DataFrame, keys: Column*)(tooMany: => String)
      : Array[Row] = {
    val rows = frame.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .limit(MaxCategories + 1).collect()
    require(rows.length <= MaxCategories, tooMany)
    rows
  }

  /** np.histogram counts of `c` over `binEdges` as aggregate Columns:
    * `<prefix>b<i>` per bin (half-open, the last one right-closed; ±∞
    * edges compare like any IEEE double), then `<prefix>below`,
    * `<prefix>above` and the non-null count `<prefix>nn`. */
  def binCounts(c: Column, binEdges: Seq[Double], prefix: String)
      : Seq[Column] = {
    val last = binEdges.size - 2
    (0 to last).map { i =>
      val inBin =
        if (i == last) c >= binEdges(i) && c <= binEdges(i + 1)
        else c >= binEdges(i) && c < binEdges(i + 1)
      sum(when(c.isNotNull && inBin, 1L).otherwise(0L)).as(s"${prefix}b$i")
    } ++ Seq(
      sum(when(c.isNotNull && c < binEdges.head, 1L).otherwise(0L))
        .as(s"${prefix}below"),
      sum(when(c.isNotNull && c > binEdges.last, 1L).otherwise(0L))
        .as(s"${prefix}above"),
      count(c).as(s"${prefix}nn"))
  }

  /** One aggregate of [[binCounts]] over `df`, each count as a fraction of
    * the non-null count: (per-bin weights, below, above). */
  def binFractions(df: DataFrame, column: String, binEdges: Seq[Double])
      : (Seq[Double], Double, Double) = {
    val aggs = binCounts(col(column), binEdges, "")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val nn = row.getAs[Long]("nn").toDouble
    ((0 until binEdges.size - 1).map(i => row.getAs[Long](s"b$i") / nn),
      row.getAs[Long]("below") / nn, row.getAs[Long]("above") / nn)
  }

  /** Expected bin weights scaled for both holdouts, the internal holdout
    * spread over the zero-weight bins (kl_divergence.py:706-723). */
  def expectedWeights(binWeights: Seq[Double], tailWeightHoldout: Double,
      internalWeightHoldout: Double): Seq[Double] = {
    val scaled = binWeights.map(_ *
      (1 - tailWeightHoldout - internalWeightHoldout))
    val zeroCount = scaled.count(_ == 0.0)
    if (internalWeightHoldout > 0 && zeroCount > 0)
      scaled.map(w => if (w == 0.0) internalWeightHoldout / zeroCount else w)
    else scaled
  }

  /** The reference's four endpoint cases (kl_divergence.py:724-860):
    * infinite endpoints donate their edge bins to the tails; finite
    * partitions take tails from tail_weights or the split holdout. Returns
    * (divergence, details) with the observed/expected partition objects. */
  def continuousCombine(binEdges: Seq[Double], binWeights: Seq[Double],
      tailWeights: Option[(Double, Double)], tailWeightHoldout: Double,
      internalWeightHoldout: Double, obsW: Seq[Double],
      below: Double, above: Double): (Double, Map[String, Any]) = {
    val expW = expectedWeights(binWeights, tailWeightHoldout,
      internalWeightHoldout)
    val leftInf = binEdges.head.isNegInfinity
    val rightInf = binEdges.last.isPosInfinity
    val (expBins, combExp, expTail, expMain, combObs, obsTail, obsMain) =
      if (leftInf && rightInf)
        (binEdges.slice(1, binEdges.size - 1),
          expW, Seq(expW.head, expW.last), expW.slice(1, expW.size - 1),
          obsW, Seq(obsW.head, obsW.last), obsW.slice(1, obsW.size - 1))
      else if (leftInf)
        (binEdges.drop(1),
          expW :+ tailWeightHoldout, Seq(expW.head, tailWeightHoldout),
          expW.drop(1),
          obsW :+ above, Seq(obsW.head, above), obsW.drop(1))
      else if (rightInf)
        (binEdges.dropRight(1),
          tailWeightHoldout +: expW, Seq(tailWeightHoldout, expW.last),
          expW.dropRight(1),
          below +: obsW, Seq(below, obsW.last), obsW.dropRight(1))
      else {
        val (ce, et) = tailWeights match {
          case Some((t0, t1)) => (t0 +: expW :+ t1, Seq(t0, t1))
          case None => ((tailWeightHoldout / 2) +: expW :+ (tailWeightHoldout / 2),
            Seq(tailWeightHoldout / 2, tailWeightHoldout / 2))
        }
        (binEdges, ce, et, expW, below +: obsW :+ above, Seq(below, above), obsW)
      }
    val kl = entropy(combObs, combExp)
    val details = Map[String, Any](
      "observed_partition" -> Map[String, Any]("bins" -> expBins,
        "weights" -> obsMain, "tail_weights" -> obsTail),
      "expected_partition" -> Map[String, Any]("bins" -> expBins,
        "weights" -> expMain, "tail_weights" -> expTail))
    (kl, details)
  }

}

/** KL divergence (expect_column_kl_divergence_to_be_less_than.py:110):
  * categorical path — observed value_counts vs a given partition_object of
  * (values, weights). Observed values outside the partition drive the
  * divergence to +∞ unless `tailWeightHoldout` > 0, in which case the
  * expected weights are scaled by (1 - holdout) and the holdout is split
  * equally among the unexpected values (reference :648-656). */
final case class ExpectColumnKlDivergenceToBeLessThan(column: String,
    partitionValues: Seq[Any], partitionWeights: Seq[Double], threshold: Double,
    tailWeightHoldout: Double = 0.0, internalWeightHoldout: Double = 0.0,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_kl_divergence_to_be_less_than"
  def kwargs = Map("column" -> column, "threshold" -> threshold)
  /** Canonical match key — see KlMath.keyOf: String.valueOf would keep
    * "1.0" and "1" apart and drive the divergence to a spurious +∞. */
  private def keyOf(v: Any): String = KlMath.keyOf(v)
  def run(df: DataFrame): Evr = {
    // validation mirrors the reference's _validate order (kl_divergence.py:
    // 601-628); failures surface as this expectation's exception EVR
    KlMath.checkHoldout("tail_weight_holdout", tailWeightHoldout)
    KlMath.checkHoldout("internal_weight_holdout", internalWeightHoldout)
    if (partitionValues.size != partitionWeights.size ||
        math.abs(partitionWeights.sum - 1.0) > 1e-8)
      throw new IllegalArgumentException("Invalid partition object.")
    KlMath.checkThreshold(threshold)
    if (internalWeightHoldout > 0) throw new IllegalArgumentException(
      "Internal weight holdout cannot be used for discrete data.")
    // categorical KL is driver-side arithmetic over the value histogram by
    // nature (as in the reference) — but a high-cardinality column must
    // fail LOUDLY instead of OOMing the driver with an uncapped collect
    val rows = KlMath.cappedCounts(df.filter(col(column).isNotNull),
      col(column))(s"categorical KL: column '$column' has more than " +
        s"${KlMath.MaxCategories} distinct values — use the continuous " +
        "(binned) form for high-cardinality columns")
    val counts = rows.map(r => keyOf(r.get(0)) -> r.getLong(1)).toMap
    val nonnull = rows.map(_.getLong(1)).sum.toDouble
    val expectedW = partitionValues.map(keyOf).zip(partitionWeights).toMap
    // observed values outside the partition, in value order (the
    // reference's value-sorted value_counts index)
    val origOf = rows.map(r => keyOf(r.get(0)) -> r.get(0)).toMap
    val unexpected = counts.keySet.diff(expectedW.keySet).toSeq
      .sortBy(origOf)(KlMath.valueOrdering)
    // union index, expected-first like the reference's concat
    val index = partitionValues.map(keyOf) ++ unexpected
    val indexValues = partitionValues ++ unexpected.map(origOf)
    val pk = index.map(v =>
      if (nonnull == 0) 0.0 else counts.getOrElse(v, 0L) / nonnull)
    val qk =
      if (unexpected.isEmpty) index.map(expectedW)
      else {
        val fill = tailWeightHoldout / unexpected.size
        index.map(v => expectedW.get(v).map(_ * (1 - tailWeightHoldout))
          .getOrElse(fill))
      }
    val details = Map[String, Any](
      "observed_partition" -> Map[String, Any](
        "values" -> indexValues, "weights" -> pk),
      "expected_partition" -> Map[String, Any](
        "values" -> indexValues, "weights" -> qk))
    KlMath.evr(expectationType, kwargs, KlMath.entropy(pk, qk), threshold,
      details)
  }
}

/** Cross-table row-count comparison — the reference's only multi-table
  * operator (expect_table_row_count_to_equal_other_table.py:48,166): two
  * independent counts compared on the driver, no join. */
final case class ExpectTableRowCountToEqualOtherTable(
    other: DataFrame, otherName: String) extends ValueExpectation {
  val expectationType = "expect_table_row_count_to_equal_other_table"
  def kwargs = Map("other_table_name" -> otherName)
  def run(df: DataFrame): Evr = {
    val n = df.count()
    val m = other.count()
    // observed_value is the {self, other} dict, as the reference reports it
    // (expect_table_row_count_to_equal_other_table.json fixtures)
    Evr(expectationType, kwargs, n == m,
      Map("observed_value" -> Map("self" -> n, "other" -> m)))
  }
}

/** Continuous-path KL divergence (expect_column_kl_divergence_to_be_less_
  * than.py:689-860, finite-endpoint case): bucketize by the given bin
  * edges (one fused CASE aggregation, no Bucketizer dependency) and
  * compare against the expected per-bin weights.
  *
  * Holdouts (the strictness relaxations the reference exposes):
  *  - `tailWeightHoldout` is split equally between (-∞, min(edges)) and
  *    (max(edges), +∞); without it any observed value outside the bins
  *    drives the divergence to +∞;
  *  - `internalWeightHoldout` is split equally among zero-weight bins;
  *    without it any value observed in such a bin → +∞. */
final case class ExpectColumnKlDivergenceContinuousToBeLessThan(column: String,
    binEdges: Seq[Double], binWeights: Seq[Double], threshold: Double,
    tailWeightHoldout: Double = 0.0, internalWeightHoldout: Double = 0.0,
    tailWeights: Option[(Double, Double)] = None,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_kl_divergence_to_be_less_than"
  def kwargs = Map("column" -> column, "threshold" -> threshold,
    "partition" -> "continuous")

  private def invalidPartition(): Boolean =
    binEdges.size < 2 || binEdges.size != binWeights.size + 1 ||
      binEdges.sliding(2).exists(p => !(p(1) > p.head)) ||
      math.abs(binWeights.sum +
        tailWeights.map(t => t._1 + t._2).getOrElse(0.0) - 1.0) > 1e-8

  def run(df: DataFrame): Evr = {
    // validation mirrors the reference's _validate order (kl_divergence.py:
    // 601-795); messages are pinned by the fixture corpus
    KlMath.checkHoldout("tail_weight_holdout", tailWeightHoldout)
    KlMath.checkHoldout("internal_weight_holdout", internalWeightHoldout)
    if (invalidPartition())
      throw new IllegalArgumentException("Invalid partition object.")
    KlMath.checkThreshold(threshold)
    if (tailWeightHoldout != 0 && tailWeights.isDefined)
      throw new IllegalArgumentException(
        "tail_weight_holdout must be 0 when using tail_weights in partition object")
    val leftInf = binEdges.head.isNegInfinity
    val rightInf = binEdges.last.isPosInfinity
    if (leftInf && rightInf && tailWeightHoldout > 0)
      throw new IllegalArgumentException(
        "tail_weight_holdout cannot be used for partitions with infinite endpoints.")
    if ((leftInf || rightInf) && tailWeights.isDefined)
      throw new IllegalArgumentException(
        "There can be no tail weights for partitions with one or both endpoints at infinity")

    val (obsW, below, above) = KlMath.binFractions(df, column, binEdges)
    val (kl, details) = KlMath.continuousCombine(binEdges, binWeights,
      tailWeights, tailWeightHoldout, internalWeightHoldout, obsW, below, above)
    KlMath.evr(expectationType, kwargs, kl, threshold, details)
  }
}

/** column.partition bin strategies (column_partition.py:64-215, the
  * reference's Spark implementation): `uniform` (equal-width between
  * min/max), `ntile`/`quantile`/`percentile` (edges at i/n quantiles), and
  * `auto` (max of Sturges and Freedman-Diaconis bin counts, then uniform).
  * Quantiles use Spark's EXACT `percentile` (linear interpolation —
  * identical to DuckDB quantile_cont), not a Greenwald-Khanna sketch, so
  * edges are deterministic and oracle-checkable. */
object ColumnPartition {
  def compute(df: DataFrame, column: String, bins: String = "uniform",
      nBins: Int = 10): Seq[Double] =
    bins match {
      case "uniform" => uniform(df, column, nBins)
      case "ntile" | "quantile" | "percentile" => quantile(df, column, nBins)
      case "auto" => auto(df, column)
      case other => throw new IllegalArgumentException(
        s"Invalid parameter for bins argument: $other")
    }

  /** np.linspace(min, max, n+1) analogue: edge_i = min + (max-min)·i/n. */
  def uniform(df: DataFrame, column: String, nBins: Int = 10): Seq[Double] = {
    val r = df.agg(min(col(column)).cast(DoubleType).as("lo"),
      max(col(column)).cast(DoubleType).as("hi")).head()
    require(!r.isNullAt(0), s"column.partition: no non-null values in $column")
    edges(r.getDouble(0), r.getDouble(1), nBins)
  }

  private def edges(lo: Double, hi: Double, n: Int): Seq[Double] =
    (0 to n).map(i => lo + (hi - lo) * i / n)

  /** Edges at the exact quantiles 0, 1/n, …, 1. */
  def quantile(df: DataFrame, column: String, nBins: Int = 10): Seq[Double] = {
    val qs = (0 to nBins).map(_.toDouble / nBins)
    df.filter(col(column).isNotNull)
      .agg(percentile(col(column).cast(DoubleType), typedLit(qs)).as("q"))
      .head().getAs[scala.collection.Seq[Double]]("q").toSeq
  }

  /** numpy histogram_bin_edges("auto") port (column_partition.py:169-215):
    * n_bins = max(⌈sturges⌉, ⌈(max-min)/fd⌉) with fd = 2·iqr/n^(1/3);
    * IQR < 1e-10 falls back to Sturges alone.
    *
    * ⌈log2(n+1)⌉ is computed as bitLength(n) — EXACT integer arithmetic
    * (identical to DuckDB's length(bin(n))), where ceil over a libm log
    * could flip by one when n+1 sits within an ulp of a power of two.
    * Quantiles and count come from ONE aggregate. */
  def auto(df: DataFrame, column: String): Seq[Double] = {
    val r = df.filter(col(column).isNotNull)
      .agg(count(lit(1)).as("n"),
        percentile(col(column).cast(DoubleType),
          typedLit(Seq(0.0, 0.25, 0.75, 1.0))).as("q")).head()
    val nonnull = r.getAs[Long]("n")
    require(nonnull > 0, s"column.partition: no non-null values in $column")
    val Seq(lo, q25, q75, hi) = r.getAs[scala.collection.Seq[Double]]("q").toSeq
    val sturgesBins = 64 - java.lang.Long.numberOfLeadingZeros(nonnull) // bitLength
    val iqr = q75 - q25
    val nBins =
      if (iqr < 1.0e-10) sturgesBins
      else {
        // FD bin count ⌈(hi-lo)/fd⌉ with fd = 2·iqr·n^(-1/3), defined
        // EXACTLY as the smallest b with b³ ≥ r³·n for r = (hi-lo)/(2·iqr):
        // only IEEE *,/ and comparisons (bit-identical across engines) —
        // a libm pow/cbrt in the DEFINITION could flip the ceil by an ulp.
        // cbrt below is merely a start hint; the loop decides.
        val r = (hi - lo) / (2.0 * iqr)
        val cube = r * r * r * nonnull.toDouble
        var b = math.max(1L, math.cbrt(cube).toLong - 2L)
        while (b.toDouble * b * b < cube) b += 1
        math.max(sturgesBins.toLong, b).toInt
      }
    edges(lo, hi, nBins)
  }
}

/** Auto-partition KL (expect_column_kl_divergence_to_be_less_than.py:110):
  * when no partition_object is given, the reference builds one FROM THE
  * BATCH (bins="auto") and compares the batch against it — the common
  * profiling default. Kept as its own expectation type since the
  * partition is data-dependent. */
final case class ExpectColumnKlDivergenceAutoToBeLessThan(column: String,
    threshold: Double, bins: String = "auto", nBins: Int = 10,
    tailWeightHoldout: Double = 0.0, internalWeightHoldout: Double = 0.0,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_kl_divergence_to_be_less_than"
  def kwargs = Map("column" -> column, "threshold" -> threshold,
    "partition" -> s"auto:$bins")
  def run(df: DataFrame): Evr = {
    KlMath.checkHoldout("tail_weight_holdout", tailWeightHoldout)
    KlMath.checkHoldout("internal_weight_holdout", internalWeightHoldout)
    KlMath.checkThreshold(threshold)
    // the reference's auto-built partition carries tail_weights =
    // (1-Σweights)/2, so a non-zero tail holdout is rejected exactly as a
    // user-supplied tail_weights partition would be (kl_divergence.py:621)
    if (tailWeightHoldout != 0) throw new IllegalArgumentException(
      "tail_weight_holdout must be 0 when using tail_weights in partition object")
    val edges = ColumnPartition.compute(df, column, bins, nBins)
    // ONE histogram aggregate serves as both the partition weights and the
    // observed counts (the reference's auto path compares the batch against
    // a partition built from itself — no second bucketize pass needed)
    val (weights, below, above) = KlMath.binFractions(df, column, edges)
    val tw = (1 - weights.sum) / 2
    val (kl, details) = KlMath.continuousCombine(edges, weights,
      Some((tw, tw)), 0.0, internalWeightHoldout, obsW = weights, below, above)
    KlMath.evr(expectationType, kwargs, kl, threshold, details)
  }
}

// ---------------------------------------------------------------------------
// Distributional hypothesis tests (chi-square, KS, Cramér's φ)
//
// The reference ships these pandas-only (they sit on the not-implemented
// list for every other engine, self_check/util.py:1284-1297) — the Spark
// paths here are therefore new engine capability, matched against the
// reference's legacy semantics and its tests/test_definitions fixtures.
// ---------------------------------------------------------------------------

/** Chi-square goodness-of-fit p-value vs a categorical partition object
  * (expect_column_chisquare_test_p_value_to_be_greater_than.py:31 and the
  * legacy aligned-index algorithm its fixtures encode): observed
  * value-counts are aligned with expected = weight·n by category; expected
  * categories missing from the data keep their expectation (observed 0);
  * observed categories missing from the partition get
  * n·holdout/#unexpected each while the given weights scale by
  * (1 − holdout). p = chi2Sf(Σ (o−e)²/e, k−1). */
final case class ExpectColumnChisquareTestPValueToBeGreaterThan(
    column: String, partitionValues: Seq[Any], partitionWeights: Seq[Double],
    p: Double = 0.05, tailWeightHoldout: Double = 0.0,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  require(partitionValues.size == partitionWeights.size,
    "partition values and weights must align")
  require(tailWeightHoldout >= 0 && tailWeightHoldout <= 1,
    "tail_weight_holdout must be between zero and one")
  val expectationType = "expect_column_chisquare_test_p_value_to_be_greater_than"
  def kwargs = Map("column" -> column, "p" -> p)
  def run(df: DataFrame): Evr = {
    val rows = KlMath.cappedCounts(df.filter(col(column).isNotNull),
      col(column))(s"chi-square test: column '$column' has more than " +
        s"${KlMath.MaxCategories} distinct values")
    val counts = rows.map(r => KlMath.keyOf(r.get(0)) -> r.getLong(1)).toMap
    val n = counts.valuesIterator.sum
    val expectedW = partitionValues.map(KlMath.keyOf).zip(partitionWeights).toMap
    val unexpected = counts.keySet.diff(expectedW.keySet).toSeq.sorted
    val index = partitionValues.map(KlMath.keyOf) ++ unexpected
    val observed = index.map(v => counts.getOrElse(v, 0L).toDouble).toArray
    val expected =
      if (unexpected.isEmpty) index.map(v => expectedW(v) * n).toArray
      else {
        val fill = n * (tailWeightHoldout / unexpected.size)
        index.map(v => expectedW.get(v)
          .map(_ * (1 - tailWeightHoldout) * n).getOrElse(fill)).toArray
      }
    val (stat, pValue) = graft.functions.StatsMath.chisquare(observed, expected)
    Evr(expectationType, kwargs, pValue > p,
      Map("observed_value" -> pValue,
        "details" -> Map("chi_squared" -> stat, "element_count" -> n)))
  }
}

/** One-sample two-sided KS test of a numeric column against a named
  * parameterized distribution (column_parameterized_distribution_ks_test_
  * p_value.py:27-44). The sup-distance runs as a distributed prefix-sum
  * ECDF (KsDistance); the p-value is exact (Marsaglia–Tsang–Wang) near the
  * decision boundary and asymptotic in the far tail. `params` follows the
  * reference's scipy positional-args contract — including the uniform/expon
  * (loc, scale) quirk (metrics/util.py:1143-1148). */
final case class ExpectColumnParameterizedDistributionKsTestPValueToBeGreaterThan(
    column: String, distribution: String, params: IndexedSeq[Double],
    pValue: Double = 0.05,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  require(pValue > 0 && pValue < 1, "p_value must be between 0 and 1 exclusive")
  // fail at construction for unknown distributions / bad arity
  graft.functions.StatsMath.cdf(distribution, params)(0.0)
  val expectationType =
    "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than"
  def kwargs = Map("column" -> column, "distribution" -> distribution,
    "p_value" -> pValue)
  def run(df: DataFrame): Evr = {
    val cdf = graft.functions.StatsMath.cdf(distribution, params) _
    val (d, n) = KsDistance.supDistance(df, column, cdf)
    if (n == 0L)
      return Evr(expectationType, kwargs, success = false,
        Map("observed_value" -> null))
    val pv = graft.functions.StatsMath.ksSf(d, n)
    Evr(expectationType, kwargs, pv > pValue,
      Map("observed_value" -> pv,
        "details" -> Map("ks_statistic" -> d, "element_count" -> n)))
  }
}

object ExpectColumnParameterizedDistributionKsTestPValueToBeGreaterThan {
  /** Named-parameter constructor (the `params` dict form). */
  def named(column: String, distribution: String,
      params: Map[String, Double], pValue: Double = 0.05)
      : ExpectColumnParameterizedDistributionKsTestPValueToBeGreaterThan =
    ExpectColumnParameterizedDistributionKsTestPValueToBeGreaterThan(
      column, distribution,
      graft.functions.StatsMath.positionalArgs(distribution, params), pValue)
}

/** Bootstrapped KS test against a continuous partition object
  * (column_bootstrapped_ks_test_p_value.py:31-123): draw
  * `bootstrapSamples` samples of `bootstrapSampleSize` with replacement,
  * KS-test each against the partition's interpolated CDF, and report
  * (1 + #{pᵢ ≥ p}) / (samples + 1).
  *
  * Deviation from the reference (documented): the reference uses an
  * unseeded numpy generator; this implementation is deterministic under
  * `seed` so results are reproducible. The column is reduced to a
  * value-counts histogram first (one distributed pass, capped at
  * MaxCategories distinct values — the partition CDF is piecewise linear
  * over ≤ a few hundred bins, so sampling from the histogram is exactly
  * sampling from the data). */
final case class ExpectColumnBootstrappedKsTestPValueToBeGreaterThan(
    column: String, binEdges: Seq[Double], binWeights: Seq[Double],
    p: Double = 0.05, bootstrapSamples: Int = 1000,
    bootstrapSampleSize: Int = 0, seed: Long = 42L,
    exact: Boolean = false,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  require(binEdges.size == binWeights.size + 1, "need |edges| = |weights| + 1")
  require(binEdges.forall(e => !e.isInfinite),
    "Partition endpoints must be finite")
  val expectationType =
    "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than"
  def kwargs = Map("column" -> column, "p" -> p) ++
    (if (exact) Map("exact" -> true) else Map.empty)
  private def sampleSize: Int =
    if (bootstrapSampleSize > 0) bootstrapSampleSize else binWeights.size * 2

  /** Cross-engine-exact resolution mode (`exact = true`): the resample is
    * drawn with md5-derived uniforms (not SplittableRandom), the
    * interpolated partition CDF is evaluated with precomputed IEEE-double
    * coefficients, and the per-sample KS decision compares the sample's
    * sup-distance to ONE precomputed critical value
    * (StatsMath.ksCritical) instead of calling the libm-dependent
    * survival function per sample — so the observed p-value
    * (1 + #pass)/(samples + 1) is an exact rational reproduced
    * bit-for-bit by a DuckDB oracle built from the same literals. The
    * whole computation is distributed DataFrame ops: draws are generated
    * with range+sequence, mapped to values through a broadcast join on
    * the cumulative histogram, and reduced per sample — no driver loop.
    * Default mode keeps the seeded SplittableRandom bootstrap
    * (fixture-parity with the documented reference deviation). */
  private def runExact(df: DataFrame): Evr = {
    val spark = df.sparkSession
    val size = sampleSize
    require(size > 0, "bootstrap sample size must be positive")
    require(binEdges.sliding(2).forall(w => w(0) < w(1)),
      "exact bootstrapped KS requires strictly increasing bin edges")
    val dCrit = graft.functions.StatsMath.ksCritical(size.toLong, p)
    val vals = df.select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val hist = vals.groupBy("v").agg(count(lit(1)).as("cnt")).persist()
    try {
      val nDistinct = hist.count()
      require(nDistinct <= KlMath.MaxCategories,
        s"bootstrapped KS: column '$column' has more than " +
          s"${KlMath.MaxCategories} distinct values — bucketize first")
      if (nDistinct == 0)
        return Evr(expectationType, kwargs, success = false,
          Map("observed_value" -> null))
      val n = hist.agg(sum("cnt")).head().getLong(0)
      val w = Window.orderBy("v")
      val ranges = hist.select(col("v"),
        (sum("cnt").over(w) - col("cnt")).as("lo"),
        sum("cnt").over(w).as("hi"))
      val tot = hist.agg(sum("cnt").as("n"))
      val draws = spark.range(0, bootstrapSamples.toLong)
        .select(col("id").as("s"),
          explode(sequence(lit(0), lit(size - 1))).as("i"))
        .withColumn("u",
          conv(substring(md5(concat(lit(s"$seed:"), col("s").cast("string"),
            lit(":"), col("i").cast("string"))), 1, 15), 16, 10).cast("long"))
      val drawn = draws.crossJoin(broadcast(tot))
        .withColumn("t", col("u") % col("n"))
        .join(broadcast(ranges), col("t") >= col("lo") && col("t") < col("hi"))
        .select(col("s"), col("i"), col("v"))
      val rn = row_number().over(Window.partitionBy("s").orderBy("v", "i"))
      val scored = drawn
        .select(col("s"), col("v"), rn.as("rn"), interpCdf(col("v")).as("f"))
      val perSample = scored.groupBy("s").agg(
        max(greatest(
          col("rn").cast("double") / lit(size.toDouble) - col("f"),
          col("f") - (col("rn") - 1).cast("double") / lit(size.toDouble)))
          .as("d"))
      val above = perSample.agg(
        sum(when(col("d") <= lit(dCrit), 1L).otherwise(0L))).head().getLong(0)
      val testResult = (1.0 + above) / (bootstrapSamples + 1).toDouble
      Evr(expectationType, kwargs, testResult > p,
        Map("observed_value" -> testResult,
          "details" -> Map(
            "bootstrap_samples" -> bootstrapSamples,
            "bootstrap_sample_size" -> size,
            "element_count" -> n,
            "n_above" -> above,
            "ks_d_critical" -> dCrit)))
    } finally hist.unpersist()
  }

  /** np.interp-semantics partition CDF as ONE when-chain with coefficients
    * precomputed in IEEE double (the oracle emits the identical literals;
    * evaluation order a + b*(v-e)/d matches the SQL * / left-assoc). */
  private def interpCdf(v: Column): Column = {
    val edges = binEdges.toArray
    val cdf = ExpectColumnBootstrappedKsTestPValueToBeGreaterThan
      .cdfOf(binWeights)
    var c = when(v <= lit(edges(0)), lit(cdf(0)))
    for (i <- 1 until edges.length) {
      val dc = cdf(i) - cdf(i - 1)
      val de = edges(i) - edges(i - 1)
      c = c.when(v < lit(edges(i)),
        lit(cdf(i - 1)) + lit(dc) * (v - lit(edges(i - 1))) / lit(de))
    }
    c.otherwise(lit(cdf.last))
  }

  def run(df: DataFrame): Evr = {
    if (exact) return runExact(df)
    val v = col(column).cast("double")
    val rows = KlMath.cappedCounts(df.filter(v.isNotNull && !isnan(v)), v)(
      s"bootstrapped KS: column '$column' has more than " +
        s"${KlMath.MaxCategories} distinct values — bucketize first")
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1)(Ordering.Double.TotalOrdering)
    if (rows.isEmpty)
      return Evr(expectationType, kwargs, success = false,
        Map("observed_value" -> null))
    val n = rows.map(_._2).sum
    val cum = rows.scanLeft(0L) { case (acc, (_, c)) => acc + c }.tail
    val edges = binEdges.toArray
    val cdfY = ExpectColumnBootstrappedKsTestPValueToBeGreaterThan
      .cdfOf(binWeights)
    def testCdf(x: Double): Double = {
      // np.interp semantics: clamp outside the bin range
      if (x <= edges.head) cdfY.head
      else if (x >= edges.last) cdfY.last
      else {
        var i = java.util.Arrays.binarySearch(edges, x)
        if (i >= 0) cdfY(i)
        else {
          i = -i - 1
          val x0 = edges(i - 1); val x1 = edges(i)
          cdfY(i - 1) + (cdfY(i) - cdfY(i - 1)) * (x - x0) / (x1 - x0)
        }
      }
    }
    val size =
      if (bootstrapSampleSize > 0) bootstrapSampleSize
      else binWeights.size * 2
    val rng = new java.util.SplittableRandom(seed)
    var above = 0
    val sample = new Array[Double](size)
    var s = 0
    while (s < bootstrapSamples) {
      var i = 0
      while (i < size) {
        // histogram inverse-CDF draw == choice() over the raw column
        val t = rng.nextLong(n)
        var lo = 0; var hi = cum.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cum(mid) <= t) lo = mid + 1 else hi = mid
        }
        sample(i) = rows(lo)._1
        i += 1
      }
      java.util.Arrays.sort(sample)
      var d = 0.0
      var j = 0
      while (j < size) {
        val f = testCdf(sample(j))
        val dp = (j + 1).toDouble / size - f
        val dm = f - j.toDouble / size
        if (dp > d) d = dp
        if (dm > d) d = dm
        j += 1
      }
      if (graft.functions.StatsMath.ksSf(d, size) >= p) above += 1
      s += 1
    }
    val testResult = (1.0 + above) / (bootstrapSamples + 1)
    Evr(expectationType, kwargs, testResult > p,
      Map("observed_value" -> testResult,
        "details" -> Map(
          "bootstrap_samples" -> bootstrapSamples,
          "bootstrap_sample_size" -> size,
          "element_count" -> n)))
  }
}

object ExpectColumnBootstrappedKsTestPValueToBeGreaterThan {
  /** Partition CDF ordinates (0, w₀, w₀+w₁, …) — the ONE place the
    * cumulative weights are folded, shared by the engine's interpolation
    * chain and the oracle generator so both hold the identical doubles. */
  def cdfOf(binWeights: Seq[Double]): Array[Double] =
    (0.0 +: binWeights.scanLeft(0.0)(_ + _).tail).toArray
}

/** Cramér's φ (bias-uncorrected φc) between two columns
  * (expect_column_pair_cramers_phi_value_to_be_less_than fixtures; the
  * modern class is unexported/NotImplemented, so semantics follow the
  * legacy fixtures): φ = √(χ² / N / (min(r,c) − 1)) over the contingency
  * table of the two (optionally binned) columns, N = table row count.
  * Nulls form their own category (fixture
  * test_float_and_string_with_missings encodes exactly this). Binning:
  * explicit `bins` are value-lists for categoricals / edge-lists for
  * numerics (values outside any bin are dropped); `nBins` splits sorted
  * distinct categoricals contiguously and numerics into equal-width bins —
  * the legacy n-bins rule for categoricals is not recoverable from the
  * dormant reference, so this documented deterministic rule stands in.
  * Scale shape: ONE groupBy over the binned pair — the shuffle carries at
  * most r·c cells; the capped collect fails loudly beyond MaxCategories. */
final case class ExpectColumnPairCramersPhiValueToBeLessThan(
    columnA: String, columnB: String,
    binsA: Option[Seq[Any]] = None, binsB: Option[Seq[Any]] = None,
    nBinsA: Option[Int] = None, nBinsB: Option[Int] = None,
    threshold: Double = 0.1,
    override val rowCondition: Option[String] = None) extends ValueExpectation {
  val expectationType = "expect_column_pair_cramers_phi_value_to_be_less_than"
  def kwargs = Map("column_A" -> columnA, "column_B" -> columnB,
    "threshold" -> threshold)

  private val NullKey = "\u0000__null__"

  /** Binned category key for one column, null-safe. */
  private def binned(df: DataFrame, c: String, bins: Option[Seq[Any]],
      nBins: Option[Int]): Column = {
    val isNum = df.schema(c).dataType match {
      case _: NumericType => true
      case _ => false
    }
    val base = col(c)
    bins match {
      case Some(edgesOrLists) if isNum =>
        val edges = edgesOrLists.map {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"numeric bins for '$c' must be numbers, got $other")
        }.sorted
        val d = base.cast("double")
        // ONE when-chain (Column.when), not nested otherwise(when(...)) —
        // Spark rejects otherwise() on an already-completed CaseWhen, so
        // the nested form throws for any 3+-bin edge list
        val branches = edges.sliding(2).zipWithIndex.map {
          case (Seq(lo, hi), i) =>
            val inBin = if (i == edges.size - 2) d >= lo && d <= hi
                        else d >= lo && d < hi
            (inBin, lit(s"bin_$i"))
        }.toSeq
        val binCase = branches.tail.foldLeft(
          when(branches.head._1, branches.head._2)) {
          case (acc, (cond, v)) => acc.when(cond, v)
        } // no otherwise: out-of-range values stay null (dropped)
        when(base.isNull, lit(NullKey)).otherwise(binCase)
      case Some(valueLists) =>
        // categorical bins: each element is a list of member values
        val mapping = valueLists.zipWithIndex.flatMap {
          case (s: Seq[_], i) => s.map(v => String.valueOf(v) -> s"bin_$i")
          case (v, i) => Seq(String.valueOf(v) -> s"bin_$i")
        }
        val m = typedlit(mapping.toMap)
        when(base.isNull, lit(NullKey))
          .otherwise(element_at(m, base.cast(StringType)))
      case None =>
        nBins match {
          case Some(k) if isNum =>
            val d = base.cast("double")
            val Row2 = df.agg(min(d), max(d)).head()
            if (Row2.isNullAt(0)) when(base.isNull, lit(NullKey))
            else {
              val lo = Row2.getDouble(0); val hi = Row2.getDouble(1)
              if (lo == hi) when(base.isNull, lit(NullKey)).otherwise(lit("bin_0"))
              else {
                val w = (hi - lo) / k
                val idx = least(floor((d - lo) / w), lit(k - 1)).cast("int")
                when(base.isNull, lit(NullKey))
                  .otherwise(concat(lit("bin_"), idx.cast(StringType)))
              }
            }
          case Some(k) =>
            val u = base.cast(StringType)
            // sorted like Spark's orderBy: UTF-8 bytes, not UTF-16 units
            val uniq = KlMath.cappedCounts(df.filter(u.isNotNull), u)(
              s"cramers phi: column '$c' has too many distinct values to bin")
              .map(r => UTF8String.fromString(r.getString(0))).sorted
              .map(_.toString)
            // contiguous split of the sorted uniques into k groups
            // (np.array_split sizing: first (len % k) groups get one extra)
            val base_ = uniq.length / k; val extra = uniq.length % k
            val mapping = scala.collection.mutable.Map[String, String]()
            var pos = 0
            var g = 0
            while (g < k && pos < uniq.length) {
              val sz = base_ + (if (g < extra) 1 else 0)
              var i = 0
              while (i < sz && pos < uniq.length) {
                mapping(uniq(pos)) = s"bin_$g"; pos += 1; i += 1
              }
              g += 1
            }
            val m = typedlit(mapping.toMap)
            when(base.isNull, lit(NullKey))
              .otherwise(element_at(m, base.cast(StringType)))
          case None =>
            when(base.isNull, lit(NullKey)).otherwise(base.cast(StringType))
        }
    }
  }

  def run(df: DataFrame): Evr = {
    val ka = binned(df, columnA, binsA, nBinsA)
    val kb = binned(df, columnB, binsB, nBinsB)
    val cells = KlMath.cappedCounts(df.select(ka.as("a"), kb.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull), // out-of-bin drops
      col("a"), col("b"))(
      "cramers phi: contingency table exceeds the category cap — bin first")
    if (cells.isEmpty)
      return Evr(expectationType, kwargs, success = false,
        Map("observed_value" -> null))
    val aKeys = cells.map(_.getString(0)).distinct.sorted
    val bKeys = cells.map(_.getString(1)).distinct.sorted
    val ai = aKeys.zipWithIndex.toMap
    val bi = bKeys.zipWithIndex.toMap
    val o = Array.ofDim[Double](aKeys.length, bKeys.length)
    cells.foreach(r => o(ai(r.getString(0)))(bi(r.getString(1))) = r.getLong(2).toDouble)
    val n = cells.map(_.getLong(2)).sum.toDouble
    val rowS = o.map(_.sum)
    val colS = bKeys.indices.map(j => o.map(_(j)).sum).toArray
    val yates = aKeys.length == 2 && bKeys.length == 2 // scipy chi2_contingency
    var chi2 = 0.0
    var i = 0
    while (i < aKeys.length) {
      var j = 0
      while (j < bKeys.length) {
        val e = rowS(i) * colS(j) / n
        if (e > 0) {
          val adj = if (yates) math.max(0.0, math.abs(o(i)(j) - e) - 0.5)
                    else o(i)(j) - e
          chi2 += adj * adj / e
        }
        j += 1
      }
      i += 1
    }
    val k = math.min(aKeys.length, bKeys.length) - 1
    val phi = if (k <= 0) 0.0 else math.sqrt(chi2 / n / k)
    Evr(expectationType, kwargs, phi < threshold,
      Map("observed_value" -> phi,
        "details" -> Map("chi_squared" -> chi2,
          "crosstab_shape" -> Seq(aKeys.length, bKeys.length))))
  }
}

// ---------------------------------------------------------------------------
// Schema / table-shape expectations (driver-side over df.schema)
// ---------------------------------------------------------------------------

sealed trait SchemaExpectation extends Expectation {
  def run(schema: StructType): Evr
}

final case class ExpectColumnToExist(column: String, columnIndex: Option[Int] = None)
    extends SchemaExpectation {
  val expectationType = "expect_column_to_exist"
  def kwargs = Map("column" -> column)
  def run(schema: StructType): Evr = {
    val idx = schema.fieldNames.indexOf(column)
    val ok = idx >= 0 && columnIndex.forall(_ == idx)
    Evr(expectationType, kwargs, ok, Map.empty)
  }
}

final case class ExpectColumnValuesToBeOfType(column: String, typeName: String)
    extends SchemaExpectation {
  val expectationType = "expect_column_values_to_be_of_type"
  def kwargs = Map("column" -> column, "type_" -> typeName)
  def run(schema: StructType): Evr = {
    val actual = schema.find(_.name == column).map(_.dataType.getClass.getSimpleName)
    val ok = actual.exists(a => a.equalsIgnoreCase(typeName) ||
      a.equalsIgnoreCase(typeName + "$"))
    Evr(expectationType, kwargs, ok, Map("observed_value" -> actual.orNull))
  }
}

final case class ExpectColumnValuesToBeInTypeList(column: String, typeList: Seq[String],
    universalList: Boolean = false) extends SchemaExpectation {
  val expectationType = "expect_column_values_to_be_in_type_list"
  def kwargs = Map("column" -> column, "type_list" -> typeList)
  def run(schema: StructType): Evr = {
    val actual = schema.find(_.name == column).map(_.dataType.getClass.getSimpleName)
    // type_list = None in the reference is the UNIVERSAL list: vacuous
    // success with the observed type still reported
    val ok = universalList || actual.exists(a => typeList.exists(t =>
      a.equalsIgnoreCase(t) || a.equalsIgnoreCase(t + "$")))
    Evr(expectationType, kwargs, ok, Map("observed_value" -> actual.orNull))
  }
}

final case class ExpectTableColumnCountToBeBetween(minValue: Option[Int] = None,
    maxValue: Option[Int] = None) extends SchemaExpectation {
  val expectationType = "expect_table_column_count_to_be_between"
  def kwargs = Map("min_value" -> minValue.orNull, "max_value" -> maxValue.orNull)
  def run(schema: StructType): Evr = {
    val n = schema.length
    Evr(expectationType, kwargs,
      BetweenCheck.check(n, minValue.map(_.toDouble), maxValue.map(_.toDouble)),
      Map("observed_value" -> n))
  }
}

final case class ExpectTableColumnCountToEqual(value: Int) extends SchemaExpectation {
  val expectationType = "expect_table_column_count_to_equal"
  def kwargs = Map("value" -> value)
  def run(schema: StructType): Evr =
    Evr(expectationType, kwargs, schema.length == value,
      Map("observed_value" -> schema.length))
}

final case class ExpectTableColumnsToMatchOrderedList(columnList: Seq[String],
    vacuous: Boolean = false) extends SchemaExpectation {
  val expectationType = "expect_table_columns_to_match_ordered_list"
  def kwargs = Map("column_list" -> columnList)
  def run(schema: StructType): Evr =
    // column_list = None is vacuously true in the reference (fixture
    // null_list_provides_vacuously_true_expectation)
    Evr(expectationType, kwargs,
      vacuous || schema.fieldNames.toSeq == columnList,
      Map("observed_value" -> schema.fieldNames.toSeq))
}

final case class ExpectTableColumnsToMatchSet(columnSet: Seq[String],
    exactMatch: Boolean = true) extends SchemaExpectation {
  val expectationType = "expect_table_columns_to_match_set"
  def kwargs = Map("column_set" -> columnSet, "exact_match" -> exactMatch)
  def run(schema: StructType): Evr = {
    val actual = schema.fieldNames.toSet
    val want = columnSet.toSet
    val ok = if (exactMatch) actual == want else want.subsetOf(actual)
    Evr(expectationType, kwargs, ok, Map("observed_value" -> actual.toSeq.sorted))
  }
}

// ---------------------------------------------------------------------------
// Query expectations (SQL passthrough, §2.9)
// ---------------------------------------------------------------------------

/** success ⟺ the query returns zero rows
  * (core/unexpected_rows_expectation.py:37-110). `{batch}` is substituted
  * with the registered batch view name. */
final case class UnexpectedRowsExpectation(unexpectedRowsQuery: String)
    extends Expectation {
  val expectationType = "unexpected_rows_expectation"
  def kwargs = Map("unexpected_rows_query" -> unexpectedRowsQuery)
}

/** Placeholder for an expectation invalidated before evaluation (e.g. an
  * undefined suite parameter): the runner records it as an exception EVR
  * without touching the data. */
final case class InvalidExpectation(expectationType: String,
    kwargs: Map[String, Any], error: String) extends Expectation

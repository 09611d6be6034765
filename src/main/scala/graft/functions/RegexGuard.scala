package graft.functions

import java.util.regex.Pattern

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And, Contains, Expression,
  ImplicitCastInputTypes, Literal, RLike, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}

/** `rlike` that skips rows which cannot match: when every match of the
  * pattern must contain some literal string, the regex runs only on rows
  * that contain it. A row without the literal gets `false`, which is what
  * `rlike` returns for it; null stays null. `contains` is a byte search,
  * far cheaper than `java.util.regex` on text that rarely matches (an
  * e-mail pattern over free text, say). */
object RegexGuard {

  /** `c RLIKE regex`, guarded by the pattern's [[requiredLiteral]] when it
    * has one. */
  def rlike(c: Column, regex: String): Column = requiredLiteral(regex) match {
    case Some(lit) =>
      import org.apache.spark.sql.graftshim.Shims
      Shims.toColumn(GuardedRLike(Shims.toExpression(c), regex, lit))
    case None => c.rlike(regex)
  }

  /** A string that every match of `regex` contains, or None. Conservative:
    * it reads only a plain subset of the syntax and gives up (None) on a
    * top-level `|`, on any `(?`, on `\Q`/`\E`, on the escapes `\x \u \0 \c
    * \N \p \P \k`, on back-references and on a pattern that does not
    * compile. Classes `[...]` and groups `(...)` are non-literal atoms;
    * escaped punctuation and plain non-meta ASCII characters are literal.
    * An atom followed by `?`, `*` or `{0,…}` is optional; one followed by
    * `+` or `{n≥1,…}` is required but ends the current run of literals, as
    * does an anchor or a non-literal atom. The longest run wins, the first
    * one on ties. */
  def requiredLiteral(regex: String): Option[String] =
    if (Try(Pattern.compile(regex)).isFailure ||
        OutsideSubset.findFirstIn(regex).isDefined) None
    else longestRun(regex)

  // read without escape context, so `\\Q` or `\(?` match too: that only
  // gives up on more patterns
  private val OutsideSubset = raw"\\[QExu0-9cNpPk]|\(\?".r

  private def longestRun(re: String): Option[String] = {
    val n = re.length
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new StringBuilder
    def endRun(): Unit = { if (run.nonEmpty) runs += run.toString; run.clear() }
    /** Reads the quantifier (if any) after an atom ending at `j`, adds the
      * atom to the runs and returns the index after it, or -1. */
    def quantified(j: Int, atom: Option[Char]): Int = {
      // 0: none, 1: optional, 2: required and ends the run
      val (kind, next) =
        if (j >= n) (0, j)
        else re(j) match {
          case '?' | '*' => (1, j + 1)
          case '+' => (2, j + 1)
          case '{' =>
            val close = re.indexOf('}', j)
            val body = if (close < 0) "" else re.substring(j + 1, close)
            val lo = body.takeWhile(_.isDigit)
            if (lo.isEmpty || !body.drop(lo.length).matches("(,[0-9]*)?")) (-1, -1)
            else (if (lo.toInt == 0) 1 else 2, close + 1)
          case _ => (0, j)
        }
      if (kind < 0) return -1
      (atom, kind) match {
        case (Some(c), 0) => run += c
        case (Some(c), 2) => run += c; endRun()
        case _ => endRun()
      }
      // a lazy or possessive modifier after the quantifier
      if (kind > 0 && next < n && (re(next) == '?' || re(next) == '+')) next + 1
      else next
    }
    var i = 0
    while (i < n) {
      // one atom, Some(char) when literal; anchors end a run
      re(i) match {
        case '|' => return None
        case '^' | '$' => endRun(); i += 1
        case '\\' =>
          val e = re(i + 1)
          if ("bBAzZG".indexOf(e) >= 0) { endRun(); i += 2 }
          else i = quantified(i + 2, Some(e).filter(c => c < 128 && !c.isLetterOrDigit))
        case '[' =>
          val j = classEnd(re, i)
          if (j < 0) return None
          i = quantified(j, None)
        case '(' =>
          val j = groupEnd(re, i)
          if (j < 0) return None
          i = quantified(j, None)
        case c if c < 128 && "\\^$.|?*+()[]{}".indexOf(c) < 0 =>
          i = quantified(i + 1, Some(c))
        case '.' => i = quantified(i + 1, None)
        case c if c >= 128 => i = quantified(i + 1, None)
        case _ => return None
      }
      if (i < 0) return None
    }
    endRun()
    if (runs.isEmpty) None
    else Some(runs.reduceLeft((a, b) => if (b.length > a.length) b else a))
  }

  /** Index after the class opened at `i`, or -1. A `]` first in the class
    * is rejected rather than read. */
  private def classEnd(re: String, i: Int): Int = {
    var j = i + 1
    if (j < re.length && re(j) == '^') j += 1
    if (j < re.length && re(j) == ']') return -1
    var depth = 1
    while (j < re.length) {
      re(j) match {
        case '\\' => j += 1
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) return j + 1
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Index after the group opened at `i`, or -1. */
  private def groupEnd(re: String, i: Int): Int = {
    var j = i + 1
    var depth = 1
    while (j < re.length) {
      re(j) match {
        case '\\' => j += 2
        case '[' => j = classEnd(re, j); if (j < 0) return -1
        case '(' => depth += 1; j += 1
        case ')' => depth -= 1; j += 1; if (depth == 0) return j
        case _ => j += 1
      }
    }
    -1
  }
}

/** `child RLIKE regex`, guarded by `contains(child, required)` when the
  * child is a UTF8_BINARY string (after the implicit cast `rlike` itself
  * applies). Other collations compare `contains` differently, so they get
  * the plain `rlike`. Replaced by its plan before execution. */
case class GuardedRLike(child: Expression, regex: String, required: String)
    extends Expression with RuntimeReplaceable with ImplicitCastInputTypes
    with UnaryLike[Expression] {
  private def plain: RLike = RLike(child, Literal(regex))
  override def inputTypes = plain.inputTypes.take(1)
  override lazy val replacement: Expression = child.dataType match {
    case st: StringType if st == StringType => And(Contains(child, Literal(required)), plain)
    case _ => plain
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override protected def withNewChildInternal(newChild: Expression): GuardedRLike =
    copy(child = newChild)
  override def prettyName: String = "rlike"
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Gopher-style repetition statistics over normalized text:
  * (n_words, n_distinct, top_count, n_2grams, n_distinct_2grams).
  * `top_count` is the occurrence count of the most frequent word;
  * dividing by n_words gives the published "fraction of text in the most
  * common word" repetition signal, and 1 - n_distinct_2grams/n_2grams the
  * "duplicate n-gram fraction" (Gopher §A2, Rae et al. 2021 — both are
  * standard public quality-filter heuristics). Expects whitespace-
  * collapsed input (TextFunctions.normText): words are runs of non-space
  * chars, 2-gram identity is the exact char range spanning two adjacent
  * words, so multi-space gaps would make otherwise-equal 2-grams distinct.
  *
  * Scale shape: pure map-side, zero shuffle, zero steady-state allocation
  * (two ThreadLocal open-addressing token tables reused across rows);
  * codegen emits a direct static call like QfScore. */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false),
    StructField("n_2grams", IntegerType, nullable = false),
    StructField("n_distinct_2grams", IntegerType, nullable = false)))

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    RepetitionStats.evalUtf8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        graft.functions.RepetitionStats.evalUtf8(${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

object RepetitionStats {
  /** Static per-row kernel (called from generated code). */
  def evalUtf8(v: UTF8String): InternalRow = {
    val out = new Array[Any](5)
    if (v == null) {
      var i = 0
      while (i < 5) { out(i) = 0; i += 1 }
      return new GenericInternalRow(out)
    }
    val text = v.toString
    val len = text.length
    val words = wordsLocal.get()
    val grams = gramsLocal.get()
    words.reset()
    grams.reset()
    var nWords = 0
    var n2 = 0
    var tokenStart = -1
    var prevStart = -1
    var i = 0
    while (i <= len) {
      val c = if (i < len) text.charAt(i) else ' '
      if (c != ' ' && i < len) {
        if (tokenStart < 0) tokenStart = i
      } else if (tokenStart >= 0) {
        nWords += 1
        words.add(text, tokenStart, i)
        if (prevStart >= 0) {
          n2 += 1
          grams.add(text, prevStart, i) // "prevWord<gap>word" char range
        }
        prevStart = tokenStart
        tokenStart = -1
      }
      i += 1
    }
    out(0) = nWords
    out(1) = words.size
    out(2) = words.maxCount
    out(3) = n2
    out(4) = grams.size
    new GenericInternalRow(out)
  }

  private val wordsLocal = new ThreadLocal[TextKernels.TokenSet] {
    override def initialValue(): TextKernels.TokenSet = new TextKernels.TokenSet
  }
  private val gramsLocal = new ThreadLocal[TextKernels.TokenSet] {
    override def initialValue(): TextKernels.TokenSet = new TextKernels.TokenSet
  }

  def repetition_stats(c: Column): Column = {
    import org.apache.spark.sql.graftshim.Shims
    Shims.toColumn(RepetitionStats(Shims.toExpression(c)))
  }
}

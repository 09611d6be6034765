package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole per-turn scoring pass as ONE expression: language-ID +
  * unigram log-prob, token statistics, and the PII/toxicity scrub over a
  * single UTF8String→String decode and a single character loop for the two
  * tokenizations. It is the only scoring kernel: the batch
  * `QualityFilter(t)` plan and the streaming filter-agreement monitor both
  * derive every per-turn column from it.
  *
  * Semantics (QualityFilterSpec pins them against a reference built from
  * Spark built-ins, and the DuckDB oracle against `TranscriptOracles`):
  *  - words: maximal ASCII letter runs, lowercased — `lower(text)` split
  *    on `[^a-z]+`; `en_hits` counts stopwords, `avg_logprob` averages the
  *    unigram table (an OOV word scores `OovLogProb`, as does a text with
  *    no words);
  *  - tokens: maximal runs of non-space characters (`split(trim(text),
  *    " +")`), `n_distinct` exact; `n_symbols` counts codepoints outside
  *    `[a-zA-Z0-9 ]`;
  *  - scrub: the chained `regexp_replace` order email → ssn → phone →
  *    tox, with the four `*_found` flags taken on the ORIGINAL text.
  *
  * One expression rather than three because the pass is
  * DRAM-bandwidth-bound at 32 threads: separate expressions decode every
  * text once each and allocate one output row each.
  *
  * Codegen: emits a direct static call to [[QfScore.evalUtf8]] on the
  * child's UTF8String — the expression stays inside WholeStageCodegen with
  * no CodegenFallback row materialization and no per-row boxing. */
case class QfScore(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("en_hits", IntegerType, nullable = false),
    StructField("avg_logprob", DoubleType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_symbols", IntegerType, nullable = false),
    StructField("email_found", BooleanType, nullable = false),
    StructField("phone_found", BooleanType, nullable = false),
    StructField("ssn_found", BooleanType, nullable = false),
    StructField("tox_found", BooleanType, nullable = false),
    StructField("scrubbed_text", StringType, nullable = true)))

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    QfScore.evalUtf8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        graft.functions.QfScore.evalUtf8(${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): QfScore =
    copy(child = newChild)
  override def prettyName: String = "qf_score"
}

object QfScore {
  import graft.transcripts.QualityFilter

  private val Oov: Double = QualityFilter.OovLogProb
  /** Model as a zero-allocation char-range table: (log-prob, is-stopword)
    * per vocab word; every stopword is a vocab entry by construction. */
  private val Words: TextKernels.WordTable =
    new TextKernels.WordTable(QualityFilter.unigramLogProb.map { case (k, v) =>
      k -> (v, QualityFilter.enStopwords.contains(k))
    })

  /** Reusable exact distinct-token scratch (zero steady-state allocation). */
  private val seenLocal = new ThreadLocal[TextKernels.TokenSet] {
    override def initialValue(): TextKernels.TokenSet = new TextKernels.TokenSet
  }

  /** Scrub matchers in replacement order; ThreadLocal and reset per row,
    * so no Matcher allocation. */
  private val patterns: Array[Pattern] = Array(QualityFilter.EmailRe,
    QualityFilter.SsnRe, QualityFilter.PhoneRe, QualityFilter.ToxRe)
    .map(Pattern.compile)
  private val matchers = new ThreadLocal[Array[Matcher]] {
    override def initialValue(): Array[Matcher] = patterns.map(_.matcher(""))
  }

  /** Static per-row kernel (called from generated code). */
  def evalUtf8(v: UTF8String): InternalRow = {
    val out = new Array[Any](10)
    if (v == null) {
      out(0) = 0; out(1) = Oov; out(2) = 0; out(3) = 0; out(4) = 0
      out(5) = false; out(6) = false; out(7) = false; out(8) = false
      out(9) = null
      return new GenericInternalRow(out)
    }
    val text = v.toString
    val len = text.length

    // one loop, two tokenizations (both zero-allocation char-range kernels):
    //  - letter runs (lowercased) for langid/log-prob
    //  - space-delimited tokens + symbol chars for the token statistics
    var hits = 0
    var lp = 0.0
    var nWords = 0
    var nTokens = 0
    var nSymbols = 0
    var tokenStart = -1
    var wordStart = -1
    var hasAt = false
    var hasDigit = false
    val seen = seenLocal.get()
    seen.reset()
    var i = 0
    while (i <= len) {
      val c = if (i < len) text.charAt(i) else ' '
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      // langid word state
      val isLetter = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      if (isLetter) { if (wordStart < 0) wordStart = i }
      else if (wordStart >= 0) {
        nWords += 1
        val idx = Words.find(text, wordStart, i)
        if (idx >= 0) {
          if (Words.isStop(idx)) hits += 1
          lp += Words.logProb(idx)
        } else lp += Oov
        wordStart = -1
      }
      // token-stats state
      if (c != ' ' && i < len) {
        if (tokenStart < 0) tokenStart = i
        val alnum = isLetter || (c >= '0' && c <= '9')
        // codepoint-counted, like Spark length(): a supplementary-plane
        // char is one symbol, not two UTF-16 code units
        if (!alnum && !Character.isLowSurrogate(c)) nSymbols += 1
      } else if (tokenStart >= 0) {
        nTokens += 1
        seen.add(text, tokenStart, i)
        tokenStart = -1
      }
      i += 1
    }

    // scrub. Each matcher runs only when its NECESSARY character class was
    // seen in the main loop — exact gates derived from the fixed patterns
    // (EmailRe requires '@', SsnRe/PhoneRe require a digit, ToxRe the
    // literal "damn"), so the no-PII majority of rows pays zero regex passes.
    val ms = matchers.get()
    val email = hasAt && ms(0).reset(text).find()
    val ssn = hasDigit && ms(1).reset(text).find()
    val phone = hasDigit && ms(2).reset(text).find()
    val tox = text.contains("damn") && ms(3).reset(text).find()
    var s = text
    // replacement order mirrors the chained regexp_replace formulation:
    // email → ssn → phone → tox. Once the text has MUTATED, later patterns
    // must re-run unconditionally — an earlier substitution can create a
    // word boundary that enables a later match (e.g. "[EMAIL]555-…" where
    // "…com555-…" had none), exactly as the chained form would scrub.
    if (email) s = ms(0).reset(s).replaceAll("[EMAIL]")
    if (ssn || (s ne text)) s = ms(1).reset(s).replaceAll("[SSN]")
    if (phone || (s ne text)) s = ms(2).reset(s).replaceAll("[PHONE]")
    if (tox || (s ne text)) s = ms(3).reset(s).replaceAll("[REDACTED]")

    out(0) = hits
    out(1) = if (nWords == 0) Oov else lp / nWords
    out(2) = nTokens
    out(3) = seen.size
    out(4) = nSymbols
    out(5) = email; out(6) = phone; out(7) = ssn; out(8) = tox
    out(9) = if (s eq text) v else UTF8String.fromString(s)
    new GenericInternalRow(out)
  }

  def qf_score(c: Column): Column = {
    import org.apache.spark.sql.graftshim.Shims
    Shims.toColumn(QfScore(Shims.toExpression(c)))
  }
}

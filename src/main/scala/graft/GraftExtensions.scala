package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CollectLimited, QfScore}

/** Session extensions registering graft's native expressions for SQL use:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   SELECT qf_score(text).avg_logprob, qf_score(text).scrubbed_text,
  *          qf_score(text).n_tokens, collect_limited(x, 20) FROM t
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("qf_score"),
      info("qf_score", "quality-filter scores: langid hits, avg unigram " +
        "log-prob, token/distinct/symbol counts, PII/toxicity flags + " +
        "scrubbed text in one pass"),
      (args: Seq[Expression]) => QfScore(args.head)))
    e.injectFunction((FunctionIdentifier("collect_limited"),
      info("collect_limited", "collect_list with a hard cap"),
      (args: Seq[Expression]) => {
        val limit = args(1).eval(null).asInstanceOf[Number].intValue()
        CollectLimited(args.head, limit).toAggregateExpression()
      }))
  }
}

package graft

import graft.functions.{LongArrayDot, RegExpReplaceFirst}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's custom Catalyst expressions as SQL functions,
  * so `spark.sql(...)` users get them too. Two installation paths:
  *
  * {{{
  * // at session build (preferred — GraftSession.build does this;
  * // works via config too):
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * //   or .config("spark.sql.extensions", "graft.GraftExtensions")
  * // into an already-running session:
  * GraftExtensions.register(spark)
  *
  * spark.sql("SELECT regexp_replace_first(name, '\\.', '_1.') FROM files")
  * spark.sql("SELECT long_array_dot(qa, qb) FROM pairs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.RegexPrefixPushdown)
  }
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("regexp_replace_first"),
      info("regexp_replace_first",
        "regexp_replace_first(str, regexp, rep) - replaces the FIRST regexp match in str with rep (Python re.sub count=1 semantics)."),
      (args: Seq[Expression]) => {
        require(args.length == 3, "regexp_replace_first(str, regexp, rep)")
        RegExpReplaceFirst(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("long_array_dot"),
      info("long_array_dot",
        "long_array_dot(a, b) - exact integer dot product of two array<bigint> columns."),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_array_dot(a, b)")
        LongArrayDot(args(0), args(1))
      }),
    (FunctionIdentifier("long_array_popcnt_and"),
      info("long_array_popcnt_and",
        "long_array_popcnt_and(a, b) - bitset intersection cardinality of two array<bigint> bitmask columns."),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_array_popcnt_and(a, b)")
        graft.functions.LongArrayPopcntAnd(args(0), args(1))
      }),
    (FunctionIdentifier("long_array_hamming"),
      info("long_array_hamming",
        "long_array_hamming(a, b) - Hamming distance (popcount of xor) between two array<bigint> bit signatures."),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_array_hamming(a, b)")
        graft.functions.LongArrayHamming(args(0), args(1))
      }),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(text, n) - distinct ordered word n-grams of a space-separated token stream (first-occurrence order; [] for docs shorter than n)."),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_shingles(text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles: n must be an integer literal, got $other")
        }
        graft.functions.WordShingles(args(0), n)
      }),
    (FunctionIdentifier("word_grams"),
      info("word_grams",
        "word_grams(text, n) - ALL ordered word n-grams of a space-separated token stream, repeats kept ([] for docs shorter than n)."),
      (args: Seq[Expression]) => {
        require(args.length == 2, "word_grams(text, n)")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_grams: n must be an integer literal, got $other")
        }
        graft.functions.WordGrams(args(0), n)
      }))

  /** Install into an existing session (builder extensions only apply at
    * first session creation). Idempotent: the optimizer rule is added
    * only where neither the builder nor an earlier call installed it. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    val extra = spark.sessionState.experimentalMethods
    val installed = extra.extraOptimizations ++
      spark.sessionState.optimizer.extendedOperatorOptimizationRules
    if (!installed.contains(graft.plans.RegexPrefixPushdown))
      extra.extraOptimizations =
        extra.extraOptimizations :+ graft.plans.RegexPrefixPushdown
  }
}

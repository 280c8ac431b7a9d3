package graft.ext

import org.apache.spark.sql.{GraftShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CosineSim, CountMatches, Deligature, DotConst, FullToHalf, MatchedChars}

/** Optimizer rule: `cosine_sim(x, x)` is 1.0 for any non-null vector —
  * fold the self-similarity away instead of running the O(d) loop per row
  * (a self-join near-dup query hits this on its diagonal). Semantics-
  * preserving: CosineSim itself defines two zero-norm vectors as 1.0, so
  * the folded and unfolded paths agree on every input, whether the
  * expression arrives via SQL or the Column API. */
object FoldSelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSim(a, b) if a.deterministic && a.semanticEquals(b) =>
      org.apache.spark.sql.catalyst.expressions.If(
        IsNotNull(a), Literal(1.0, DoubleType), Literal(null, DoubleType))
  }
}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions for SQL use. Enable with
  * `.config("spark.sql.extensions", "graft.ext.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.functions

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    e.injectOptimizerRule(_ => FoldSelfCosine)
  }
}

object GraftExtensions {

  /** The regex argument must be a literal: the Pattern compiles once into
    * the expression (a codegen reference object), not per row. */
  private def litPattern(e: Expression, fn: String): String = e match {
    case Literal(p: UTF8String, StringType) => p.toString
    case other =>
      throw new IllegalArgumentException(s"$fn: pattern must be a string literal, got $other")
  }

  /** (name, usage, builder) for every SQL-registered native expression —
    * one table feeding both the SparkSessionExtensions path and
    * [[install]]. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two numeric arrays",
      args => CosineSim(args(0), args(1))),
    ("full_to_half", "full_to_half(s) - fullwidth chars to halfwidth",
      args => FullToHalf(args.head)),
    ("deligature", "deligature(s) - typographic ligatures to ASCII",
      args => Deligature(args.head)),
    ("count_matches", "count_matches(s, pattern) - number of regex matches in s",
      args => CountMatches(args(0), litPattern(args(1), "count_matches"))),
    ("matched_chars", "matched_chars(s, pattern) - total chars covered by regex matches",
      args => MatchedChars(args(0), litPattern(args(1), "matched_chars"))))

  /** Register the engine's SQL functions into an EXISTING session (a name
    * it already has is left as it is). Queries that emit SQL text with these
    * functions call this first, so Verify/Bench sessions built without
    * `spark.sql.extensions` still resolve them. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      if (!spark.catalog.functionExists(name)) GraftShim.registerFn(spark, name, builder)
    }
}

package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.textnorm.TextNorm

/** `full_to_half` as a native codegen'd Catalyst expression — the reference
  * applies this normalization to every emitted text span
  * (pipeline_middle_json_mkcontent.py:113-130), so at corpus scale it must
  * live inside whole-stage codegen rather than a Scala UDF. */
case class FullToHalf(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextNorm.fullToHalf(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.textnorm.TextNorm.fullToHalf($c.toString()));""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Ligature replacement as a codegen'd expression (span_pre_proc.py:128). */
case class Deligature(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextNorm.replaceLigatures(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.textnorm.TextNorm.replaceLigatures($c.toString()));""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of regex matches in a string as a native codegen expression: the
  * classify/lang signal tallies only need the COUNT, while
  * `size(regexp_extract_all(...))` materializes an ArrayData of every
  * matched substring per row — fleet-wide allocation churn for signals
  * evaluated over every page of every document. The compiled Pattern lives
  * in the expression (a codegen reference object, like DotConst's plane);
  * match semantics are identical to regexp_extract_all(idx=0), so the
  * DuckDB oracles are unchanged. */
case class CountMatches(child: Expression, pattern: String)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(v: Any): Any =
    CountMatches.count(compiled, v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", compiled, "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CountMatches.count($patRef, $c.toString());")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CountMatches {
  def count(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }
}

/** Total characters covered by regex matches — the count-of-chars sibling of
  * [[CountMatches]] for the punctuation-run signals, replacing
  * `aggregate(transform(regexp_extract_all(...), length), ...)` (array + N
  * substrings + two lambda closures per row) with one matcher sweep.
  * Lengths are UTF-16 units (m.end - m.start); identical to `length()` for
  * BMP text — callers' patterns are ASCII classes, so this never differs. */
case class MatchedChars(child: Expression, pattern: String)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(v: Any): Any =
    MatchedChars.chars(compiled, v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pattern", compiled, "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MatchedChars.chars($patRef, $c.toString());")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MatchedChars {
  def chars(p: java.util.regex.Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += m.end() - m.start()
    n
  }
}

object TextFns {
  def fullToHalf(c: Column): Column = GraftShim.column(FullToHalf(GraftShim.expr(c)))
  def deligature(c: Column): Column = GraftShim.column(Deligature(GraftShim.expr(c)))
  def countMatches(c: Column, pattern: String): Column =
    GraftShim.column(CountMatches(GraftShim.expr(c), pattern))
}

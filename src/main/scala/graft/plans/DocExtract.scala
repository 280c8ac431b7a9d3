package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode, SparkStrategy}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.corpus.DocGen
import graft.pipeline.Extract

/** The whole-operator form of the extraction pipeline — the builder
  * preference tier (c): a custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan` registered through `SparkSessionExtensions`
  * (SURVEY §7's optional "fused DocExtractExec"). The physical operator
  * consumes the child's doc_id column and emits the ordered span rows
  * DIRECTLY as UnsafeRows — no case-class Encoder round trip, no
  * explode: one fused mapPartitions from id to span tuples, with the
  * per-partition kernel scope exactly where a real ONNX session would
  * live. Catalyst sees a normal unary node, so projections/sorts above
  * it plan as usual.
  *
  * The logical node carries its output attributes as a constructor
  * parameter so tree copies (withNewChildInternal) preserve expression
  * ids — parents referencing the outputs stay resolved. */
case class DocExtractPlan(output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  // the node GENERATES its output (it does not forward child attributes),
  // so analysis must not flag them as missing inputs...
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // ...but it CONSUMES the child's doc_id column — declared, or the
  // column pruner empties the child under a projection and the exec
  // reads nulls
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): DocExtractPlan =
    copy(child = newChild)
}

object DocExtractPlan {
  def outputAttrs(): Seq[Attribute] = Seq(
    AttributeReference("doc_id", StringType, nullable = false)(),
    AttributeReference("ord", IntegerType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("media_ref", StringType, nullable = false)(),
    AttributeReference("text", StringType, nullable = false)())
}

/** Plans [[DocExtractPlan]] to [[DocExtractExec]]; injected via
  * `GraftExtensions` (injectPlannerStrategy). */
object DocExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DocExtractPlan =>
      DocExtractExec(p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class DocExtractExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def doExecute(): RDD[InternalRow] = {
    val types = output.map(_.dataType).toArray
    child.execute().mapPartitions { it =>
      // the projection is per-partition — UnsafeProjection is not
      // thread-safe across tasks; the model scope lives in extractPartition
      val proj = UnsafeProjection.create(types)
      val scratch = new GenericInternalRow(5)
      val docs = it.map(row => DocGen.docRow(row.getUTF8String(0).toString))
      Extract.extractPartition(docs).flatMap { res =>
        res.spans.iterator.map { s =>
          scratch.update(0, UTF8String.fromString(res.doc_id))
          scratch.update(1, s.order)
          scratch.update(2, UTF8String.fromString(s.kind))
          scratch.update(3, UTF8String.fromString(s.media_ref))
          scratch.update(4, UTF8String.fromString(s.text))
          proj(scratch)
        }
      }
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): DocExtractExec =
    copy(child = newChild)
}

object DocExtract {
  /** Wrap a single-column doc_id DataFrame in the extraction operator.
    * The strategy rides [[graft.ext.GraftExtensions]] at session build;
    * for sessions built without extensions it self-installs through
    * `experimental.extraStrategies` (idempotent). */
  def apply(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    if (!spark.experimental.extraStrategies.contains(DocExtractStrategy) &&
        !spark.sessionState.planner.strategies.contains(DocExtractStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DocExtractStrategy
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      DocExtractPlan(DocExtractPlan.outputAttrs(), ids.queryExecution.analyzed))
  }
}

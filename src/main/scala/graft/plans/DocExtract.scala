package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{CatalystSerde, LogicalPlan, ObjectConsumer, ObjectProducer}
import org.apache.spark.sql.execution.{ObjectConsumerExec, ObjectOperator, ObjectProducerExec, SparkPlan, SparkStrategy}
import graft.kernel.{DocModel, LayoutTelemetry}
import graft.pipeline.Extract
import graft.schema.{DocResult, DocRow}

/** The extraction operator: both Spark extraction paths plan through it
  * (`Extract.runFromIds`, which the queries reach through `extractDocs`,
  * and the committed `ExtractJob.run`). A typed object operator like Spark's own
  * `MapPartitions`: it consumes `DocRow` objects and produces `DocResult`
  * objects, so Catalyst's `EliminateSerialization` drops the serde hop
  * between it and a typed neighbour (`runFromIds`' id-to-row map below,
  * the chunkers' `mapPartitions` above). Each partition runs kernel
  * `analyze` → `PageOps` → `Assemble` over whole documents, with the
  * per-partition model scope exactly where a real ONNX session would live.
  *
  * The logical node is planned by [[DocExtractStrategy]], which
  * [[DocExtract]] installs on first use in each session. */
case class DocExtractPlan(model: DocModel, telemetry: Option[LayoutTelemetry.Sink],
    outputObjAttr: Attribute, child: LogicalPlan) extends ObjectConsumer with ObjectProducer {
  override protected def withNewChildInternal(newChild: LogicalPlan): DocExtractPlan =
    copy(child = newChild)
}

object DocExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DocExtractPlan =>
      DocExtractExec(p.model, p.telemetry, p.outputObjAttr, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

case class DocExtractExec(model: DocModel, telemetry: Option[LayoutTelemetry.Sink],
    outputObjAttr: Attribute, child: SparkPlan) extends ObjectConsumerExec with ObjectProducerExec {
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // locals, so the task closure ships these and not the plan tree
    val (m, sink) = (model, telemetry)
    val (inType, outType) = (inputObjectType, outputObjectType)
    child.execute().mapPartitions { rows =>
      val getDoc = ObjectOperator.unwrapObjectFromRow(inType)
      val wrap = ObjectOperator.wrapObjectToRow(outType)
      // a Spark task runs its whole iterator on one thread: installing at
      // partition start also clears a sink a previous task left behind
      LayoutTelemetry.install(sink)
      rows.map(r => wrap(Extract.extractDoc(getDoc(r).asInstanceOf[DocRow], m)))
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): DocExtractExec =
    copy(child = newChild)
}

object DocExtract {
  /** `docs` extracted by [[DocExtractExec]] in the partitions they arrive
    * in. `telemetry`: driver-registered layout accumulators, installed per
    * partition (see [[graft.kernel.LayoutTelemetry]]). */
  def apply(docs: Dataset[DocRow], model: DocModel,
      telemetry: Option[LayoutTelemetry.Sink]): Dataset[DocResult] = {
    val spark = docs.sparkSession
    if (!spark.experimental.extraStrategies.contains(DocExtractStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DocExtractStrategy
    val out = Encoders.product[DocResult]
    val plan = DocExtractPlan(model, telemetry, CatalystSerde.generateObjAttr(out),
      CatalystSerde.deserialize(docs.queryExecution.analyzed)(Encoders.product[DocRow]))
    org.apache.spark.sql.GraftBridge.ofRows(spark, CatalystSerde.serialize(plan)(out)).as(out)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue

/** The whole-operator Catalyst form (builder preference tier c): custom
  * LogicalPlan -> injected SparkStrategy -> fused physical DocExtractExec
  * emitting UnsafeRows directly. The physical plan must actually contain
  * the custom operator, and its results must equal the Dataset path's. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.ext.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("DocExtractExec appears in the physical plan and matches the Dataset path") {
    import spark.implicits._
    val ids = spark.createDataset((0 until 48).map(i => f"doc-$i%012d")).toDF("doc_id")
    val df = graft.plans.DocExtract(ids)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("DocExtract"), s"operator missing:\n$physical")
    val got = df.orderBy("doc_id", "ord").collect().toVector
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
    val want = (0 until 48).flatMap { i =>
      val id = f"doc-$i%012d"
      graft.corpus.DocGen.golden(id).spans.map(s => (id, s.order, s.kind, s.media_ref, s.text))
    }.toVector.sortBy(t => (t._1, t._2))
    assert(got == want, "exec path diverged from golden")
  }

  test("projection and filter compose above the custom node") {
    import spark.implicits._
    val ids = spark.createDataset(Seq("doc-000000000003")).toDF("doc_id")
    val df = graft.plans.DocExtract(ids)
      .where("kind = 'title'").select("kind", "text")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0) == "title"))
  }

  test("a commit unit is one write job that counts its rows in the result stage") {
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val labels = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val docs = graft.pipeline.Extract.corpus(graft.pipeline.Extract.idRange(spark, 40L))
    val out = java.nio.file.Files.createTempDirectory("graft_plan").toString
    spark.listenerManager.register(plans)
    spark.sparkContext.addSparkListener(labels)
    try {
      graft.io.ExtractJob.run(spark, docs, out, buckets = 4, groups = 2, runId = "plan",
        partitions = 2)
      // both listeners sit on the same bus queue: once the second write's
      // plan arrived, every job start before it has too
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(labels)
    }
    assert(writes.size == 2, "the two units' write plans never arrived")
    // routed by bucket range: a 2-bucket unit over 2 tasks puts one whole
    // bucket in each task, so each bucket is one part file
    val parts = (0 until 4).map(b => new java.io.File(s"$out/data/bucket=$b")
      .list().count(f => f.startsWith("part-") && f.endsWith(".parquet")))
    assert(parts == Seq(1, 1, 1, 1), s"part files per bucket: $parts")
    // no bookkeeping job: no stats, checkpoint, metrics or side-table read
    assert(jobs.toArray.toSet == Set("plan:write"), s"jobs: $jobs")

    val write = writes.peek()
    // the result stage: the plan above the first stage boundary
    def resultStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => resultStage(a.executedPlan)
      case r: ResultQueryStageExec => resultStage(r.plan)
      case _: QueryStageExec | _: Exchange => Nil
      case other => other +: other.children.flatMap(resultStage)
    }
    assert(resultStage(write).exists(_.isInstanceOf[CollectMetricsExec]),
      s"the row counts are not in the write's result stage:\n$write")
    // the writer's local sort by bucket adds no Exchange
    def shuffles(p: SparkPlan) = collect(p) { case s: ShuffleExchangeExec => s }.size
    val alone = graft.pipeline.Extract.run(docs, 2).queryExecution.executedPlan
    assert(shuffles(alone) == 1 && shuffles(write) == shuffles(alone), s"write plan:\n$write")
  }
}

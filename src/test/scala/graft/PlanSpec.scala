package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, MapPartitionsExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import graft.pipeline.Extract
import graft.plans.DocExtractExec

/** The one extraction operator: a custom LogicalPlan -> SparkStrategy ->
  * physical DocExtractExec that every Spark extraction path plans
  * through. The physical plan must actually contain the custom operator,
  * where the paths need it, and its results must equal the golden. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = TestSpark.session

  private def shuffles(p: SparkPlan) = collect(p) { case s: ShuffleExchangeExec => s }.size

  test("DocExtractExec appears in the physical plan and matches the Dataset path") {
    import spark.implicits._
    val ids = spark.createDataset((0 until 48).map(i => f"doc-$i%012d")).toDF("doc_id")
    val df = Extract.spanView(Extract.runFromIds(ids.as[String]))
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
    val df = Extract.spanView(Extract.runFromIds(ids.as[String]))
      .where("kind = 'title'").select("kind", "text")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0) == "title"))
  }

  test("a commit run is one map job, then one write job per unit that skips it") {
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Int])]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          writes.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val events = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties.getProperty("spark.job.description")) -> e.stageIds)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    val docs = TestSpark.corpus(spark, 40L)
    val out = java.nio.file.Files.createTempDirectory("graft_plan").toString
    spark.listenerManager.register(plans)
    spark.sparkContext.addSparkListener(events)
    try {
      graft.io.ExtractJob.run(spark, docs, out, buckets = 4, groups = 2, runId = "plan",
        partitions = 2)
      // both listeners sit on the same bus queue: once the second write's
      // plan arrived, every job and stage event before it has too
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(events)
    }
    assert(writes.size == 2, "the two units' write plans never arrived")
    // routed by bucket range: unit k owns reducers [2k, 2k + 2), so each
    // of its two buckets is one task and one part file
    val parts = (0 until 4).map(b => new java.io.File(s"$out/data/bucket=$b")
      .list().count(f => f.startsWith("part-") && f.endsWith(".parquet")))
    assert(parts == Seq(1, 1, 1, 1), s"part files per bucket: $parts")
    // no bookkeeping job: no stats, checkpoint, metrics or side-table read
    val js = jobs.toArray(Array.empty[(String, Seq[Int])]).toSeq
    assert(js.size == 3 && js.forall(_._1 == "plan:write"), s"jobs: $js")

    // one shuffle map stage runs per run, in the first job; each unit's
    // job lists a map stage for the same shuffle, finds its output there
    // and skips it, running only its own result stage
    val ran = stages.toArray(Array.empty[StageInfo]).toSeq
    val (maps, results) = ran.partition(_.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
    assert(maps.size == 1 && results.size == 2, s"stages run: ${ran.map(_.name)}")
    assert(js.head._2 == Seq(maps.head.stageId), s"jobs: $js")
    assert(js.tail.map(_._2.filter(results.map(_.stageId).contains)) ==
      results.map(st => Seq(st.stageId)) && js.tail.forall(_._2.size == 2), s"jobs: $js")
    assert(results.forall(_.taskMetrics.shuffleReadMetrics.recordsRead > 0), "a unit read no shuffle")
    // extraction runs in the result stages, once per unit: the layout
    // counters and the bucket counts are exact
    def extracts(st: StageInfo) = st.rddInfos.exists(_.callSite.contains("DocExtract.scala"))
    assert(results.forall(extracts) && !extracts(maps.head),
      s"extraction stages: ${ran.map(st => st.stageId -> st.rddInfos.map(_.callSite))}")

    // a write reads its unit's range of the shuffle: no Exchange of its
    // own (the writer's local sort by bucket adds none) and no observe
    writes.forEach { write =>
      assert(collect(write) { case e: Exchange => e }.isEmpty, s"write plan:\n$write")
      assert(find(write)(_.isInstanceOf[CollectMetricsExec]).isEmpty, s"write plan:\n$write")
    }
  }

  test("ids cross one shuffle into the operator, and the chunker reads its objects directly") {
    import spark.implicits._
    val ids = spark.createDataset((0 until 8).map(i => f"doc-$i%012d"))
    val plan = Extract.runFromIds(ids, 2).queryExecution.executedPlan
    val ops = collect(plan) { case e: DocExtractExec => e }
    assert(shuffles(plan) == 1 && ops.size == 1 && shuffles(ops.head) == 1,
      s"runFromIds plan:\n$plan")

    val dir = java.nio.file.Files.createTempDirectory("graft_plan_docs").toString
    spark.range(8).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val chunks = graft.queries.Queries.all("chunk_blocks")(spark, dir).queryExecution.executedPlan
    // the chunker's MapPartitions sits right on the operator: no
    // SerializeFromObject/DeserializeToObject between them
    val fed = collect(chunks) {
      case m: MapPartitionsExec if m.child.isInstanceOf[DocExtractExec] => m }
    assert(fed.size == 1, s"chunk_blocks plan:\n$chunks")
  }
}

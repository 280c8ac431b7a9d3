package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.io.{Commit, ExtractJob}
import graft.kernel.{DocModel, LayoutTelemetry, StubModel}
import graft.pipeline.Extract
import graft.schema.{DocRow, PageModel}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The commit's counts are exact under task retries: a unit's write job
  * runs the extraction in its result stage, and Spark applies a result
  * task's accumulator updates (the `observe` counts and the layout
  * counters alike) once per partition. A failed attempt's updates are
  * dropped, so a run whose tasks fail once and are retried must count
  * exactly what a cold run counts. */
class CommitRetrySpec extends AnyFunSuite {

  test("a task that fails once and is retried leaves the counts of a cold run") {
    // a context of its own, with 2 task attempts: stop the shared one
    // first (specs run one after another in the forked JVM)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val docs = Extract.corpus(Extract.idRange(spark, 300L))
      val cold = Files.createTempDirectory("graft_retry_cold").toString
      val retried = Files.createTempDirectory("graft_retry").toString
      ExtractJob.run(spark, docs, cold, buckets = 16, groups = 2, runId = "cold",
        partitions = 4)

      // ExtractJob.run's wiring, with a model whose first attempt of
      // partition 0 fails
      val sc = spark.sparkContext
      val sink = LayoutTelemetry.Sink(
        sc.longAccumulator("graft.layout.authored_away"),
        sc.longAccumulator("graft.layout.unsolvable"),
        sc.longAccumulator("graft.layout.insert_pages"))
      FailsOnce.thrown.set(0)
      Commit.runWith[DocRow](spark, docs,
        (d, place) => Extract.run(d, 4, FailsOnce, Some(sink), place).toDF(),
        retried, buckets = 16, groups = 2, runId = "retried",
        metrics = Seq(
          ("layout", "authored_away_pages", sink.authoredAway.value.toDouble),
          ("layout", "unsolvable_pages", sink.unsolvable.value.toDouble),
          ("layout", "insert_pages", sink.insertPages.value.toDouble)))
      assert(FailsOnce.thrown.get == 2, "each unit's write must have retried one task")

      def ckpt(dir: String) = SideTable.read(spark, s"$dir/_checkpoint")
        .select("bucket", "docs", "spans").as[(Int, Long, Long)].collect().sorted.toSeq
      assert(ckpt(retried) == ckpt(cold))
      assert(ckpt(cold).map(_._2).sum == 300L)

      def counters(dir: String) = SideTable.read(spark, s"$dir/_metrics")
        .filter(col("stage") === "layout" || col("key").isin("docs", "spans"))
        .select("key", "value").as[(String, Double)].collect().toMap
      val want = counters(cold)
      assert(want("insert_pages") > 0, "no insert-layout page in the corpus")
      assert(counters(retried) == want)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}

/** The stub model, except that the first attempt of partition 0 throws. */
object FailsOnce extends DocModel {
  val thrown = new AtomicInteger()
  override def analyze(doc: DocRow): Seq[PageModel] = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId == 0 && tc.attemptNumber == 0) {
      thrown.incrementAndGet()
      // stackless: Spark logs the lost task's trace, which is noise here
      throw new IllegalStateException("injected first-attempt failure") {
        override def fillInStackTrace(): Throwable = this
      }
    }
    StubModel.analyze(doc)
  }
}

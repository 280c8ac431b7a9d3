package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import graft.pipeline.Extract
import graft.corpus.DocGen
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Observability surface: a QueryExecutionListener receives the
  * `observedMetrics` of a Dataset.observe on the extraction output — the
  * zero-extra-pass way to get counters off a query, and the channel
  * planned for per-reason failure counts of the raw-blob paths. */
class ObserveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("Dataset.observe emits metrics to a QueryExecutionListener") {
    import spark.implicits._
    @volatile var observed: Map[String, Any] = Map.empty
    val latch = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val m = qe.observedMetrics.get("graft_stats")
        if (m.isDefined) {
          observed = Map("docs" -> m.get.getLong(0), "spans" -> m.get.getLong(1))
          latch.countDown()
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Extract.runFromIds(Extract.idRange(spark, 40), partitions = 4)
        .observe("graft_stats", count(lit(1)).as("docs"),
          sum(size(col("spans"))).as("spans"))
        .write.mode("overwrite").format("noop").save()
      assert(latch.await(60, TimeUnit.SECONDS), "observe metrics never arrived")
      assert(observed("docs") == 40L)
      val expectedSpans = (0 until 40).map(i => DocGen.golden(f"doc-$i%012d").spans.length).sum
      assert(observed("spans") == expectedSpans.toLong)
    } finally spark.listenerManager.unregister(listener)
  }
}

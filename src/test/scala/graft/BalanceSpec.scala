package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.DocGen
import graft.io.Commit
import graft.pipeline.Extract

/** The commit protocol's routing balances page-count skew without a size
  * bucket, and gives each task a contiguous run of whole buckets. No
  * extraction runs: 30,000 ids are routed at 32 partitions as a commit
  * run over 64 buckets routes them, and each task's pages
  * (`DocGen.pageCount`) and buckets are counted. 5% of documents have
  * 13-64 pages, so a task's time follows its pages, not its documents. */
class BalanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** Pages per task (max/mean) and each task's buckets, for the ids of
    * `units`' buckets routed at 32 partitions. */
  private def routed(units: Seq[Seq[Int]]): (Double, Seq[Set[Int]]) = {
    import spark.implicits._
    val ids = Extract.idRange(spark, 30000L).toDF("doc_id")
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(64)).cast("int"))
    val (in, place) = Commit.slice(ids, units, 64)
    val tasks = Extract.route(in, 32, place).as[(String, Int)].mapPartitions { it =>
      val rows = it.toVector
      Iterator((rows.map(r => DocGen.pageCount(r._1).toLong).sum, rows.map(_._2).distinct))
    }.collect()
    val pages = tasks.map(_._1)
    (pages.max * pages.length / pages.sum.toDouble, tasks.map(_._2.toSet).toSeq)
  }

  test("an 8-of-64-bucket unit: one bucket per task, pages max/mean <= 1.45") {
    // the ExtractJob default unit; 1.317 here, where a salt that is the
    // bucket hash mod 64 (the size-bucket salted repartition) gives 1.785
    val (skew, buckets) = routed(Seq(0 until 8))
    info(f"pages per task max/mean $skew%.3f")
    assert(skew <= 1.45, f"pages per task max/mean $skew%.3f")
    assert(buckets.forall(_.size == 1) && buckets.flatten.toSet == (0 until 8).toSet,
      s"buckets per task: $buckets")
    assert(buckets.map(_.head) == (0 until 32).map(_ / 4), "tasks hold bucket ranks in order")
  }

  test("a whole-table unit: two adjacent buckets per task, pages max/mean <= 1.25") {
    val (skew, buckets) = routed(Seq(0 until 64))
    info(f"pages per task max/mean $skew%.3f")
    assert(skew <= 1.25, f"pages per task max/mean $skew%.3f")
    assert(buckets == (0 until 32).map(t => Set(2 * t, 2 * t + 1)), s"buckets per task: $buckets")
  }

  test("a 4-unit run at 8 reducers per unit: task t holds unit t / 8's buckets, pages max/mean <= 1.45") {
    val units = (0 until 64).grouped(16).toSeq
    val (skew, buckets) = routed(units)
    info(f"pages per task max/mean $skew%.3f")
    assert(skew <= 1.45, f"pages per task max/mean $skew%.3f")
    assert(buckets.zipWithIndex.forall { case (b, t) => b.subsetOf(units(t / 8).toSet) },
      s"buckets per task: $buckets")
    assert(buckets == (0 until 32).map(t => Set(2 * t, 2 * t + 1)), s"buckets per task: $buckets")
  }
}

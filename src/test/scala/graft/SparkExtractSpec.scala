package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.corpus.DocGen
import graft.pipeline.Extract

/** End-to-end Spark run of the extraction job (routing repartition + kernel
  * mapPartitions + assembly) against the golden oracle — the distributed
  * path must agree with the pure per-doc path regardless of partitioning. */
class SparkExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "7") // deliberately odd
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Spark extraction equals golden on a 96-doc corpus") {
    import spark.implicits._
    val ids = Extract.idRange(spark, 96)
    val got = Extract.run(Extract.corpus(ids), partitions = 7)
      .collect().map(r => r.doc_id -> r.spans).toMap
    assert(got.size == 96)
    // whole-doc extraction covers the monster-doc tail too (no page fan-out)
    assert((0 until 96).exists(i => DocGen.pageCount(f"doc-$i%012d") >= 13),
      "no monster doc in the corpus")
    (0 until 96).foreach { i =>
      val id = f"doc-$i%012d"
      val want = DocGen.golden(id).spans
      assert(got(id) == want, s"mismatch for $id")
    }
  }

  test("the two locator queries agree on chunk boundaries (shared rule)") {
    // chunk_locate (Catalyst window) and chunk_locate_fuzzy (per-doc walk)
    // must chunk identically — the r4 review's drift risk, now one rule
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val loc = graft.queries.Queries.chunkLocate(spark, dir)
      .select(col("doc_id"), col("chunk_id"), col("first_ord"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val fuzzy = graft.queries.Queries.chunkLocateFuzzy(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    // every fuzzy chunk id must exist in the locate chunking, and the
    // fuzzy-located block range must not precede the chunk's first span
    assert(fuzzy.nonEmpty)
    fuzzy.groupBy(t => (t._1, t._2)).foreach { case (key, rows2) =>
      assert(loc.contains(key), s"fuzzy chunk $key unknown to chunk_locate")
    }
  }

  test("flagship entry returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.DedupPipeline
import graft.queries.ScaleQueries
import java.nio.file.Files

/** The materialized dedup chain: stage tables equal the live
  * computations, and a chain killed mid-way resumes to the identical
  * result (stage + bucket grain, same protocol as extraction). */
class DedupPipelineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSpark.session

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private val stages = Vector("shingles", "candidates", "verified", "groups", "keep")

  /** Every stage table of `out` holds the rows of the cold build `cold`.
    * Read with the explicit schema: a cold stage may have zero rows. */
  private def assertSameStages(cold: String, out: String, what: String): Unit = {
    val schema = Map("shingles" -> DedupPipeline.shingleSchema,
      "candidates" -> DedupPipeline.candSchema, "verified" -> DedupPipeline.verifiedSchema,
      "groups" -> DedupPipeline.groupSchema, "keep" -> DedupPipeline.keepSchema)
    stages.foreach { st =>
      def read(d: String) = spark.read.schema(schema(st)).parquet(s"$d/$st/data").drop("bucket")
      val (a, b) = (read(cold), read(out))
      val cols = a.columns.toSeq.sorted.map(col)
      assert(rows(a.select(cols: _*).orderBy(cols: _*)) ==
        rows(b.select(cols: _*).orderBy(cols: _*)), s"stage $st differs $what")
    }
  }

  test("materialized stages equal the live chain computations") {
    val out = Files.createTempDirectory("dedup_chain").toString
    val reports = DedupPipeline.run(spark, dir, out, buckets = 4)
    assert(reports.map(_._1) == stages)

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val liveCand = ScaleQueries.minhashLshPairsFrom(docs.toDF())
    val matCand = spark.read.parquet(s"$out/candidates/data")
      .select(col("doc_id"), col("b_id"), col("nbands"))
    assert(rows(matCand.orderBy("doc_id", "b_id")) ==
      rows(liveCand.orderBy("doc_id", "b_id")))

    val liveVer = ScaleQueries.minhashVerifyFrom(liveCand, docs.toDF())
    val matVer = spark.read.parquet(s"$out/verified/data")
      .select(col("doc_id"), col("b_id"), col("inter"), col("uni"))
    assert(rows(matVer.orderBy("doc_id", "b_id")) ==
      rows(liveVer.orderBy("doc_id", "b_id")))

    val liveGrp = ScaleQueries.dedupGroupsFrom(liveCand, docs.select(col("doc_id")))
    val matGrp = spark.read.parquet(s"$out/groups/data")
      .select(col("doc_id"), col("group_id"))
    assert(rows(matGrp.orderBy("doc_id")) == rows(liveGrp.orderBy("doc_id")))

    val matKeep = spark.read.parquet(s"$out/keep/data")
      .select(col("doc_id"), col("group_id"), col("keep"))
    assert(rows(matKeep.orderBy("doc_id")) ==
      rows(ScaleQueries.dedupKeepFrom(liveGrp).orderBy("doc_id")))
    // every doc decided; keepers are the component minima
    assert(matKeep.count() == docs.count())
    assert(rows(matKeep.filter(col("keep") === 1)
      .filter(col("doc_id") =!= col("group_id"))).isEmpty)
  }

  test("a chain killed after two stages resumes to the identical tables") {
    val cold = Files.createTempDirectory("dedup_cold").toString
    val warm = Files.createTempDirectory("dedup_warm").toString
    DedupPipeline.run(spark, dir, cold, buckets = 4)

    val partial = DedupPipeline.run(spark, dir, warm, buckets = 4,
      failAfterStages = 3)
    assert(partial.map(_._1) == Vector("shingles", "candidates", "verified"))
    // resume: finished stages' buckets are SKIPPED, not redone
    val resumed = DedupPipeline.run(spark, dir, warm, buckets = 4)
    val skipped = resumed.toMap
    assert(skipped("shingles").skipped == 4 && skipped("shingles").processed == 0)
    assert(skipped("candidates").skipped == 1 && skipped("candidates").processed == 0)
    assert(skipped("verified").skipped == 4 && skipped("verified").processed == 0)
    assert(skipped("groups").processed == 1 && skipped("keep").processed == 4)

    assertSameStages(cold, warm, "after resume")
  }

  test("incremental append: a corpus delta re-opens only the delta buckets") {
    // corpus v1: docs outside bucket 2; corpus v2: v1 + the bucket-2 docs —
    // the delta lands in exactly ONE shingle bucket
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bucketed = docs.withColumn("bkt",
      pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
    val v1dir = Files.createTempDirectory("dedup_v1").toString
    val v2dir = Files.createTempDirectory("dedup_v2").toString
    bucketed.filter(col("bkt") =!= 2).drop("bkt")
      .write.mode("overwrite").parquet(s"$v1dir/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$v2dir/documents.parquet")

    val out = Files.createTempDirectory("dedup_incr").toString
    val first = DedupPipeline.run(spark, v1dir, out, buckets = 4).toMap
    assert(first("shingles").processed == 4)

    // append the delta: ONLY bucket 2's shingles re-tokenize; candidates
    // and groups recompute (honestly global); verified/keep re-open just
    // the buckets whose upstream pairs/groups actually changed
    val second = DedupPipeline.run(spark, v2dir, out, buckets = 4).toMap
    assert(second("shingles").processed == 1 && second("shingles").skipped == 3,
      s"shingle delta grain: ${second("shingles")}")
    assert(second("candidates").processed == 1)
    assert(second("verified").processed + second("verified").skipped == 4)
    assert(second("keep").processed + second("keep").skipped == 4)

    // the appended chain equals a cold build over the full corpus
    val cold = Files.createTempDirectory("dedup_cold2").toString
    DedupPipeline.run(spark, v2dir, cold, buckets = 4)
    assertSameStages(cold, out, "after incremental append")

    // and a no-op re-run over the SAME corpus touches nothing
    val third = DedupPipeline.run(spark, v2dir, out, buckets = 4).toMap
    assert(third.values.forall(_.processed == 0),
      s"no-op re-run reprocessed: $third")
  }

  test("a global stage that recomputes to zero rows drops its old rows") {
    // corpus v2 keeps one document per v1 duplicate group (the max
    // doc_id), so its candidate stage is empty: the incremental v1 -> v2
    // chain must not keep serving v1's pairs from the global stages
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("dedup_shrink").toString
    DedupPipeline.run(spark, dir, out, buckets = 4)
    val v2dir = Files.createTempDirectory("dedup_v2max").toString
    spark.read.schema(DedupPipeline.groupSchema).parquet(s"$out/groups/data")
      .groupBy("group_id").agg(max("doc_id").as("doc_id"))
      .select("doc_id").join(docs, "doc_id")
      .write.mode("overwrite").parquet(s"$v2dir/documents.parquet")

    val cold = Files.createTempDirectory("dedup_cold3").toString
    DedupPipeline.run(spark, v2dir, cold, buckets = 4)
    assert(spark.read.schema(DedupPipeline.candSchema)
      .parquet(s"$cold/candidates/data").count() == 0)
    DedupPipeline.run(spark, v2dir, out, buckets = 4)
    assertSameStages(cold, out, "after the corpus shrank")
    // the empty candidate input fingerprints as empty, not as "never built"
    val again = DedupPipeline.run(spark, v2dir, out, buckets = 4).toMap
    assert(again.values.forall(_.processed == 0), s"no-op re-run reprocessed: $again")
  }

  test("a zero-row stage round-trips through the explicit schema") {
    // a duplicate-free corpus: every doc unique -> LSH may emit no pairs;
    // force the shape by running the chain over a tiny distinct slice
    val solo = Files.createTempDirectory("dedup_solo").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").limit(3)
      .write.mode("overwrite").parquet(s"$solo/documents.parquet")
    val out = Files.createTempDirectory("dedup_empty").toString
    DedupPipeline.run(spark, solo, out, buckets = 4)
    // chain completes; downstream reads survive empty stage dirs
    val keep = spark.read.parquet(s"$out/keep/data")
    assert(keep.count() == 3)
  }

  test("ensure() memoizes: the second call skips every stage") {
    val base = DedupPipeline.ensure(spark, dir)
    val again = DedupPipeline.ensure(spark, dir)
    assert(base == again)
    // all stage checkpoints complete -> a re-run processes nothing
    val rerun = DedupPipeline.run(spark, dir, base, buckets = 8).toMap
    assert(rerun.values.forall(_.processed == 0))
    // ...also when the same dir is named by a `file:` URI
    val uri = DedupPipeline.run(spark, dir, s"file:$base", buckets = 8).toMap
    assert(uri.values.forall(_.processed == 0), s"file: URI re-run reprocessed: $uri")
  }

  test("pipelineQuery keeps at most one run dir of this JVM in tmp") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def runDirs = tmp.list().filter(_.startsWith("graft_dedup_run")).toSet
    val before = runDirs
    val first = DedupPipeline.pipelineQuery(spark, dir).count()
    val second = DedupPipeline.pipelineQuery(spark, dir).count()
    assert(first == second && first > 0)
    assert((runDirs -- before).size <= 1, s"run dirs left: ${runDirs -- before}")
  }
}

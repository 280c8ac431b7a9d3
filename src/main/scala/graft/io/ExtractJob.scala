package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.kernel.StubModel
import graft.plans.DocExtract

/** Resumable extraction jobs with per-partition lineage (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"):
  * [[run]] over a `DocRow` table and [[runRaw]] over raw blobs, both
  * committed bucket by bucket through [[Commit.runWith]]. The committed
  * `DocResult` rows carry each document's spans and markdown. */
object ExtractJob {

  def run(spark: SparkSession, docs: Dataset[DocRow], outDir: String,
      buckets: Int = 64, groups: Int = 8, runId: String = "run-1",
      partitions: Int = 32, failAfterGroups: Int = Int.MaxValue): Commit.JobReport = {
    // layout-validation counters as Spark accumulators: the only channel
    // that reaches the driver on a multi-executor cluster. Their merged
    // values land in `_metrics`, making "no silently-authored-away
    // layouts" a monitorable job invariant instead of a JVM-local probe.
    // Per-attempt, EXACT counters: the run routes the documents to
    // `partitions` reducers per unit, and each unit extracts its range in
    // its write's result stage; a resumed attempt counts only its buckets.
    val sc = spark.sparkContext
    val sink = graft.kernel.LayoutTelemetry.Sink(
      sc.longAccumulator("graft.layout.authored_away"),
      sc.longAccumulator("graft.layout.unsolvable"),
      sc.longAccumulator("graft.layout.insert_pages"))
    Commit.runWith[DocRow](spark, docs,
      (d, route) => DocExtract(route(d, partitions), StubModel, Some(sink)).toDF(),
      outDir, buckets, groups, runId, failAfterGroups,
      metrics = Seq(
        ("layout", "authored_away_pages", sink.authoredAway.value.toDouble),
        ("layout", "unsolvable_pages", sink.unsolvable.value.toDouble),
        ("layout", "insert_pages", sink.insertPages.value.toDouble)))
  }

  /** Raw-blob ingestion under the SAME commit protocol: a (doc_id,
    * content) table of PDF files, office packages and HTML pages
    * interleaved — the per-partition [[Sniff]] routes each blob by magic
    * bytes (`%PDF` → PDF parser, zip → OOXML converter, markup → soup
    * parse + boilerplate strip) and the bucket checkpoint / lineage /
    * resume semantics are shared with the flagship path. This is the
    * ingestion shape for a mixed crawl store: one resumable job over
    * every input tier. Only specs call it today; it stays as the one
    * committed, resumable raw-blob path that per-reason failure counters
    * are to be built on. */
  def runRaw(spark: SparkSession, blobs: org.apache.spark.sql.DataFrame,
      outDir: String, buckets: Int = 64, groups: Int = 8,
      runId: String = "run-1", failAfterGroups: Int = Int.MaxValue): Commit.JobReport = {
    import spark.implicits._
    // a corrupt crawl blob becomes an empty-span row and a counted
    // metric, the crawl-ingestion contract ([[Sniff.guarded]]); blobs are
    // routed as `run` routes documents, one reducer per core per unit
    val failed = spark.sparkContext.longAccumulator("graft.ingest.failed_docs")
    Commit.runWith[org.apache.spark.sql.Row](spark, blobs,
      (in, route) => route(in, spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("content")).as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            Sniff.guarded(id, bytes) match {
              case Some(res) => (id, res.spans)
              case None => failed.add(1L); (id, Seq.empty[OutSpan])
            }
          }
        }.toDF("doc_id", "spans"),
      outDir, buckets, groups, runId, failAfterGroups,
      metrics = Seq(("ingest", "failed_docs", failed.value.toDouble)))
  }
}

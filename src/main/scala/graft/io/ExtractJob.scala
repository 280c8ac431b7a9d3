package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.kernel.StubModel
import graft.plans.DocExtract

/** Resumable extraction jobs with per-partition lineage (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"):
  * [[run]] over a `DocRow` table and [[runRaw]] over raw blobs, both
  * committed bucket by bucket through [[Commit.runWith]], plus the
  * per-document output fan-out [[writeOutputs]]. */
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

  /** Per-document output fan-out (the reference's `_dump_output_if_needed`,
    * main.py:499-528): `{doc_id}.md` and `{doc_id}_content_list.json`
    * rendered executor-side and pushed through a [[DataWriter]] — one
    * writer per sink, composed with [[FanoutWriter]] exactly like the
    * reference composes FanoutDataWriter over file/S3/memory targets.
    * The writer ships inside the closure, so it must write to a location
    * every executor can reach (a shared filesystem for [[FileWriter]];
    * [[MemoryWriter]] is the single-JVM test sink, as in the reference).
    * Returns the number of documents written, exactly: `foreachPartition`
    * is a result stage, and Spark applies a result task's accumulator
    * updates once per partition. Retried writes are idempotent by path. */
  def writeOutputs(spark: SparkSession, docs: Dataset[DocRow],
      writer: DataWriter): Long = {
    val n = spark.sparkContext.longAccumulator("graft.outputs.docs")
    DocExtract(docs, StubModel, None).foreachPartition { (it: Iterator[DocResult]) =>
      it.foreach { res =>
        writer.writeString(s"${res.doc_id}.md", res.markdown)
        writer.writeString(s"${res.doc_id}_content_list.json",
          contentListJson(res))
        n.add(1)
      }
    }
    n.value
  }

  /** content_list rendering (make_blocks_to_content_list,
    * pipeline_middle_json_mkcontent.py:240-317 at the sandbox schema):
    * one JSON object per span, reference key names (`type`, `img_path`). */
  private[graft] def contentListJson(res: graft.schema.DocResult): String = {
    val sb = new java.lang.StringBuilder(res.spans.length * 64 + 2)
    sb.append('[')
    res.spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"type\":\"").append(jsonEsc(s.kind))
        .append("\",\"text\":\"").append(jsonEsc(s.text))
      if (s.media_ref.nonEmpty)
        sb.append("\",\"img_path\":\"").append(jsonEsc(s.media_ref))
      sb.append("\",\"order\":").append(s.order).append('}')
    }
    sb.append(']')
    sb.toString
  }

  private def jsonEsc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u$c%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Raw-blob ingestion under the SAME commit protocol: a (doc_id,
    * content) table of PDF files, office packages and HTML pages
    * interleaved — the per-partition [[Sniff]] routes each blob by magic
    * bytes (`%PDF` → PDF parser, zip → OOXML converter, markup → soup
    * parse + boilerplate strip) and the bucket checkpoint / lineage /
    * resume semantics are shared with the flagship path. This is the
    * ingestion shape for a mixed crawl store: one resumable job over
    * every input tier. */
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

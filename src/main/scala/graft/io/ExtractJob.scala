package graft.io

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.pipeline.Extract

/** Resumable extraction job with per-partition lineage (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Commit protocol (Iceberg-snapshot semantics over plain Parquet, since no
  * Iceberg jar ships in the sandbox — SURVEY.md §4.4):
  *   - docs hash into `buckets` stable buckets (xxhash64(doc_id));
  *   - buckets are processed in `groups` sequential commit units;
  *   - each unit writes `outDir/data/` with dynamic partition overwrite on
  *     `bucket` (re-running a unit atomically replaces its partitions), then
  *     appends status=done rows to `outDir/_checkpoint`;
  *   - resume = re-run the job: buckets already marked done are skipped via
  *     an anti-filter, half-written buckets from a crashed unit are
  *     overwritten. Output is byte-stable because extraction is
  *     deterministic per doc_id.
  *
  * A real cluster deployment swaps the directory commit for an Iceberg
  * table with the same bucket column; the checkpoint schema is unchanged. */
object ExtractJob {

  case class JobReport(run_id: String, buckets: Int, processed: Int,
      skipped: Int, docs: Long, spans: Long, wall_ms: Long)

  def run(spark: SparkSession, docs: Dataset[DocRow], outDir: String,
      buckets: Int = 64, groups: Int = 8, runId: String = "run-1",
      partitions: Int = 32, failAfterGroups: Int = Int.MaxValue): JobReport = {
    // layout-validation counters as Spark accumulators: the only channel
    // that reaches the driver on a multi-executor cluster. Their merged
    // values land in `_metrics` below, making "no silently-authored-away
    // layouts" a monitorable job invariant instead of a JVM-local probe.
    val sc = spark.sparkContext
    val sink = graft.kernel.LayoutTelemetry.Sink(
      sc.longAccumulator("graft.layout.authored_away"),
      sc.longAccumulator("graft.layout.unsolvable"),
      sc.longAccumulator("graft.layout.insert_pages"))
    val report = runWith[DocRow](spark, docs,
      d => Extract.run(d, partitions, telemetry = Some(sink)).toDF(),
      outDir, buckets, groups, runId, failAfterGroups)
    // per-attempt, AT-LEAST-ONCE counters (a resumed attempt only sees its
    // own buckets; task retries re-add); a no-op re-run appends nothing
    if (report.processed > 0) {
      import spark.implicits._
      val rows = Seq(
        ("layout", "authored_away_pages", sink.authoredAway.value.toDouble),
        ("layout", "unsolvable_pages", sink.unsolvable.value.toDouble),
        ("layout", "insert_pages", sink.insertPages.value.toDouble))
        .map { case (stage, key, value) => (runId, stage, key, value) }
      spark.createDataset(rows).coalesce(1).toDF("run_id", "stage", "key", "value")
        .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
    }
    report
  }

  /** Per-document output fan-out (the reference's `_dump_output_if_needed`,
    * main.py:499-528): `{doc_id}.md` and `{doc_id}_content_list.json`
    * rendered executor-side and pushed through a [[DataWriter]] — one
    * writer per sink, composed with [[FanoutWriter]] exactly like the
    * reference composes FanoutDataWriter over file/S3/memory targets.
    * The writer ships inside the closure, so it must write to a location
    * every executor can reach (a shared filesystem for [[FileWriter]];
    * [[MemoryWriter]] is the single-JVM test sink, as in the reference).
    * Returns the number of documents written — an AT-LEAST-ONCE counter
    * (r5 advice): task retries and speculative attempts re-add to
    * accumulators inside actions, so the value can exceed the distinct
    * document count; the writes themselves are idempotent by path. Use a
    * count() over the input when an exact figure is needed. */
  def writeOutputs(spark: SparkSession, docs: Dataset[DocRow],
      writer: DataWriter): Long = {
    val n = spark.sparkContext.longAccumulator("graft.outputs.docs")
    docs.foreachPartition { (it: Iterator[DocRow]) =>
      Extract.extractPartition(it).foreach { res =>
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
      runId: String = "run-1", failAfterGroups: Int = Int.MaxValue): JobReport = {
    import spark.implicits._
    // per-DOCUMENT error isolation: a corrupt crawl blob (truncated zip,
    // garbage xref, binary noise) must not kill the task — it becomes an
    // empty-span row and a counted metric, the crawl-ingestion contract
    val failed = spark.sparkContext.longAccumulator("graft.ingest.failed_docs")
    val report = runWith[org.apache.spark.sql.Row](spark, blobs,
      in => in.select(col("doc_id"), col("content")).as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            try (id, Sniff.convert(id, bytes).spans)
            catch { case scala.util.control.NonFatal(_) =>
              failed.add(1L)
              (id, Seq.empty[graft.schema.OutSpan])
            }
          }
        }.toDF("doc_id", "spans"),
      outDir, buckets, groups, runId, failAfterGroups)
    if (report.processed > 0) {
      val rows = Seq((runId, "ingest", "failed_docs", failed.value.toDouble))
      spark.createDataset(rows).coalesce(1).toDF("run_id", "stage", "key", "value")
        .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
    }
    report
  }

  /** The commit-protocol core, generic over the per-unit extraction:
    * `extract` maps a bucket-filtered slice of the input to a
    * (doc_id, spans) frame. The input dataset must carry a `doc_id`
    * column — bucketing hashes it without ever deserializing T. */
  def runWith[T](spark: SparkSession, input: Dataset[T],
      extract: Dataset[T] => org.apache.spark.sql.DataFrame, outDir: String,
      buckets: Int, groups: Int, runId: String,
      failAfterGroups: Int): JobReport = {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val ckptPath = s"$outDir/_checkpoint"
    val dataPath = s"$outDir/data"

    val done: Set[Int] =
      if (new java.io.File(ckptPath).exists())
        spark.read.parquet(ckptPath).filter(col("status") === "done")
          .select(col("bucket")).as[Int].collect().toSet
      else Set.empty
    val todo = (0 until buckets).filterNot(done).toVector
    val unitSize = math.max(1, math.ceil(todo.size.toDouble / groups).toInt)
    val units = todo.grouped(unitSize).toVector

    var processedBuckets = 0
    var totDocs = 0L
    var totSpans = 0L
    val t0 = System.nanoTime()

    // job labels (optimization guide §1): every job this protocol fires is
    // attributable in the UI / listener probes as "<runId>:<phase>"
    def labeled[A](phase: String)(body: => A): A = {
      spark.sparkContext.setJobDescription(s"$runId:$phase")
      try body finally spark.sparkContext.setJobDescription(null)
    }

    units.zipWithIndex.takeWhile(_._2 < failAfterGroups).foreach { case (unit, _) =>
      // a unit spanning every bucket (fresh single-unit run) needs no
      // bucket filter — skip the per-row hash predicate (r6)
      val in =
        if (unit.size == buckets) input
        else input.filter(
          pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int").isin(unit: _*))
      val res = extract(in)
        .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
        .persist()
      val tU = System.nanoTime()
      labeled("write") {
        res.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dataPath)
      }
      val wallMs = (System.nanoTime() - tU) / 1000000
      // per-bucket lineage from the persisted result (an Iceberg deployment
      // reads these from commit metrics instead); non-span stages (the
      // dedup chain's pair/label tables) record rows only
      val spanStat =
        if (res.columns.contains("spans")) sum(size(col("spans")))
        else sum(lit(0L))
      val stats = labeled("stats") {
        res.groupBy(col("bucket"))
          .agg(count(lit(1)).as("docs"), spanStat.as("spans"))
          .collect()
      }
      val rows = unit.map { b =>
        val st = stats.find(_.getInt(0) == b)
        CheckpointRow(runId, b, "done",
          st.map(_.getLong(1)).getOrElse(0L), st.map(_.getLong(2)).getOrElse(0L), wallMs)
      }
      // coalesce(1): a <=buckets-row bookkeeping write must not fan out
      // into default-parallelism empty tasks/files (r6)
      labeled("ckpt") {
        spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Append).parquet(ckptPath)
      }
      res.unpersist()
      processedBuckets += unit.size
      totDocs += rows.map(_.docs).sum
      totSpans += rows.map(_.spans).sum
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    // metrics table (FIXTURES.md §4): per-run throughput/lineage scalars.
    // Rows are per ATTEMPT (a resumed run's counters cover only the
    // buckets it processed — sum rows for job totals); a fully-skipped
    // re-run appends nothing, so repeated view reads over a finished
    // materialization don't grow the table (review finding r4)
    if (processedBuckets == 0 && done.nonEmpty)
      return JobReport(runId, buckets, 0, done.size, 0, 0, wallMs)
    val metrics = Seq(
      ("extract", "docs", totDocs.toDouble),
      ("extract", "spans", totSpans.toDouble),
      ("extract", "wall_ms", wallMs.toDouble),
      ("extract", "docs_per_sec",
        if (wallMs > 0) totDocs * 1000.0 / wallMs else 0.0),
      ("extract", "buckets_processed", processedBuckets.toDouble),
      ("extract", "buckets_skipped", done.size.toDouble))
      .map { case (stage, key, value) => (runId, stage, key, value) }
    labeled("metrics") {
      spark.createDataset(metrics).coalesce(1).toDF("run_id", "stage", "key", "value")
        .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
    }
    JobReport(runId, buckets, processedBuckets, done.size, totDocs, totSpans, wallMs)
  }
}

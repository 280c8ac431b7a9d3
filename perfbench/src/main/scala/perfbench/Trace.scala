package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.corpus.DocGen
import graft.kernel.StubModel
import graft.pipeline.{Assemble, Extract, PageOps}
import graft.schema.DocResult

/** The traced run. Its three sources all sit outside the program:
  *   - [[JobTrace]], a SparkListener that attributes jobs by the labels
  *     the program sets (`<runId>:<phase>` descriptions) and by the job
  *     group the benchmark sets around each query;
  *   - [[StreamTrace]], a StreamingQueryListener;
  *   - [[Trace.layerPass]], one single-thread pass over a seeded sample of
  *     the documents and blobs, with a span around each layer's call.
  * The listeners are attached only around the traced calls, so the
  * untraced calls of the same run give the tracing overhead. Spans are kept
  * in memory and written once, at exit. */
object Trace {

  /** Every per-layer metric with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "corpus.gen_us_per_doc" -> "us", "corpus.decode_us_per_doc" -> "us",
    "kernel.analyze_us_per_doc" -> "us", "kernel.analyze_p99_us" -> "us",
    "kernel.pages" -> "count", "kernel.dets" -> "count",
    "pipeline.pageops_us_per_page" -> "us", "pipeline.pageops_p99_us" -> "us",
    "pipeline.assemble_us_per_doc" -> "us", "pipeline.blocks" -> "count",
    "pipeline.spans" -> "count", "pipeline.single_thread_docs_per_s" -> "docs/s",
    "pipeline.layer_coverage" -> "ratio",
    "encode.us_per_doc" -> "us",
    "stage.extract_busy_s" -> "s", "stage.extract_gc_s" -> "s",
    "stage.task_skew" -> "ratio", "stage.shuffle_write_mb" -> "MB", "stage.tasks" -> "count",
    "commit.write_s" -> "s", "commit.stats_s" -> "s", "commit.ckpt_s" -> "s",
    "commit.metrics_s" -> "s", "commit.jobs" -> "count", "commit.driver_gap_s" -> "s",
    "commit.files" -> "count", "commit.bytes_per_input_byte" -> "ratio",
    "convert.pdf_us_per_doc" -> "us", "convert.ooxml_us_per_doc" -> "us",
    "convert.html_us_per_doc" -> "us", "convert.image_us_per_doc" -> "us",
    "convert.ole_us_per_doc" -> "us", "convert.p99_us" -> "us",
    "convert.mb_in_per_s" -> "MB/s", "convert.failed" -> "count",
    "dedup.shingles_s" -> "s", "dedup.candidates_s" -> "s", "dedup.verified_s" -> "s",
    "dedup.groups_s" -> "s", "dedup.keep_s" -> "s", "dedup.labelprop_s" -> "s",
    "dedup.jobs" -> "count", "dedup.driver_gap_s" -> "s") ++
    Workloads.SuiteQueries.map(q => s"query.${q}_s" -> "s") ++ Seq(
    "stream.batches" -> "count", "stream.docs_per_batch" -> "docs",
    "stream.planning_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.commit_ms" -> "ms",
    "stream.backlog_end" -> "files", "stream.gen_late_p99_ms" -> "ms",
    "heap.peak_live_mb" -> "MB", "trace.overhead_share" -> "ratio")

  private val units = PerLayer.toMap

  def metric(ctx: Ctx, name: String, value: Double): Unit =
    ctx.result.metric(name, value, units(name))

  // ---- spans --------------------------------------------------------------

  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, runId: String) {
    def dur: Long = end - start
  }

  private val spans = ArrayBuffer.empty[Span]

  /** Records `body` as a span; returns its result and its span. */
  def span[A](name: String, parent: Int, runId: String)(body: Int => A): (A, Span) = {
    val id = spans.size
    spans += null // reserve the id so children get later ones
    val t0 = System.nanoTime()
    val a = body(id)
    val s = Span(id, name, t0, System.nanoTime(), parent, runId)
    spans(id) = s
    (a, s)
  }

  /** Self time per span name: each span's duration minus the time its
    * children cover (children of one span never overlap here). */
  def selfTimes(runId: String): Map[String, Long] = {
    val mine = spans.filter(s => s != null && s.runId == runId)
    val childTime = mine.filter(_.parent >= 0).groupMapReduce(_.parent)(_.dur)(_ + _)
    mine.groupMapReduce(_.name)(s => s.dur - childTime.getOrElse(s.id, 0L))(_ + _)
  }

  def durations(runId: String, name: String): Seq[Double] =
    spans.filter(s => s != null && s.runId == runId && s.name == name).map(_.dur / 1e3).toSeq

  def writeSpans(path: String): Unit = if (path.nonEmpty) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.filter(_ != null).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"run":"${s.runId}"}""")
    } finally w.close()
  }

  // ---- metrics shared by the workloads -----------------------------------

  /** Noop scan of a workload's input, decoded into the rows the program
    * consumes: wall µs per document at local[nproc]. */
  def decode(ctx: Ctx, rows: Dataset[Int], n: Long): Unit = {
    val times = (1 to 3).map(_ => Stats.timed(rows.write.mode("overwrite").format("noop").save())._2)
    metric(ctx, "corpus.decode_us_per_doc", Stats.median(times) * 1e6 / n)
  }

  /** Traced vs untraced throughput of the same workload in the same run:
    * the share by which tracing slows it. */
  def overhead(ctx: Ctx, untraced: Double, traced: Double): Unit =
    metric(ctx, "trace.overhead_share", untraced / traced - 1.0)

  /** Layers a workload does not run: its listeners saw no work, so their
    * counts and times are zero. */
  def bypassed(ctx: Ctx, layers: String*): Unit = layers.foreach { layer =>
    PerLayer.filter(_._1.startsWith(layer + ".")).foreach { case (n, _) => metric(ctx, n, 0.0) }
  }

  // ---- the single-thread layer pass --------------------------------------

  /** Sample sizes of the layer pass; after `WarmS` seconds of warm-up the
    * pass runs `Rounds` times and reports medians. */
  val SampleDocs = 400
  val SampleBlobs = 200
  /** Blob indices the blob sample is drawn from (the `ingest_raw` mix). */
  val BlobRange = 1000
  val Rounds = 3
  val WarmS = 6.0

  def layerPass(ctx: Ctx): Unit = {
    val seed = ctx.args.seed
    val rng = new graft.util.SplitMix64(graft.util.Rng.fnv64(s"perfbench-sample|$seed"))
    val docIdx = Seq.fill(SampleDocs)(rng.nextInt(Workloads.Docs).toLong)
    val blobIdx = Seq.fill(SampleBlobs)(rng.nextInt(BlobRange).toLong)
    val ids = docIdx.map(Workloads.docId(seed, _))
    val rows = ids.map(DocGen.docRow)
    val blobs = blobIdx.map(i => (i, Workloads.docId(seed, i), Workloads.blob(seed, i)))
    val toRow = ExpressionEncoder[DocResult]().createSerializer()

    def plainExtract(): Double = Stats.timed(rows.foreach(d => Extract.extractDoc(d)))._2
    def convertAll(): Int = blobs.count { case (_, id, b) =>
      scala.util.Try(graft.io.Sniff.convert(id, b)).isFailure
    }
    /** One traced pass over the document sample; returns its counts. The
      * `doc` spans do the plain pass's work on the same row objects;
      * generation and encoding, which allocate, get passes of their own,
      * so their garbage is not collected inside the layers' spans. */
    def tracedDocs(run: String): (Long, Long, Long, Long) = {
      var pages, dets, blocks, outSpans = 0L
      val results = rows.map { row =>
        span("doc", -1, run) { root =>
          val (pms, _) = span("kernel.analyze", root, run)(_ => StubModel.analyze(row))
          val bs = pms.map(p => span("pipeline.pageops", root, run)(_ => PageOps.process(p))._1)
          val (res, _) = span("pipeline.assemble", root, run)(_ => Assemble.assemble(row.doc_id, bs))
          pages += pms.size
          dets += pms.map(_.dets.size).sum
          blocks += bs.map(_.size).sum
          outSpans += res.spans.size
          res
        }._1
      }
      ids.foreach(id => span("corpus.gen", -1, run)(_ => DocGen.docRow(id)))
      results.foreach(res => span("encode", -1, run)(_ => toRow(res)))
      (pages, dets, blocks, outSpans)
    }
    /** One traced pass over the blob sample; returns the failed count. */
    def tracedBlobs(run: String): Int = blobs.count { case (i, id, b) =>
      span(s"convert.${Workloads.tier(i)}", -1, run) { _ =>
        scala.util.Try(graft.io.Sniff.convert(id, b)).isFailure
      }._1
    }
    // warm-up: the plain and the traced paths both run until the JIT has
    // had WarmS seconds with them; a workload that never ran the kernel
    // (blobs_stream) would otherwise time it half-compiled
    val warmUntil = System.nanoTime() + (WarmS * 1e9).toLong
    while (System.nanoTime() < warmUntil) {
      plainExtract(); tracedDocs("warm"); convertAll(); tracedBlobs("warm")
    }
    spans.clear()

    // each traced pass sits between two plain ones, whose mean is its
    // wall time, so a drift in machine speed cancels; each pass follows a
    // collection
    val docsRounds = (1 to Rounds).map { r =>
      val run = s"docs$r"
      System.gc()
      val before = plainExtract()
      System.gc()
      val counts = tracedDocs(run)
      System.gc()
      val wall = (before + plainExtract()) / 2
      val self = selfTimes(run).withDefaultValue(0L)
      val layers = self("kernel.analyze") + self("pipeline.pageops") + self("pipeline.assemble")
      (self, wall, layers / 1e9 / wall, counts, run)
    }
    def med(f: Map[String, Long] => Double) = Stats.median(docsRounds.map(r => f(r._1)))
    val (pages, dets, blocks, outSpans) = docsRounds.head._4
    val n = SampleDocs.toDouble
    metric(ctx, "corpus.gen_us_per_doc", med(_("corpus.gen") / 1e3 / n))
    metric(ctx, "kernel.analyze_us_per_doc", med(_("kernel.analyze") / 1e3 / n))
    metric(ctx, "kernel.analyze_p99_us",
      Stats.quantile(docsRounds.flatMap(r => durations(r._5, "kernel.analyze")), 0.99))
    metric(ctx, "kernel.pages", pages.toDouble)
    metric(ctx, "kernel.dets", dets.toDouble)
    metric(ctx, "pipeline.pageops_us_per_page", med(_("pipeline.pageops") / 1e3 / pages))
    metric(ctx, "pipeline.pageops_p99_us",
      Stats.quantile(docsRounds.flatMap(r => durations(r._5, "pipeline.pageops")), 0.99))
    metric(ctx, "pipeline.assemble_us_per_doc", med(_("pipeline.assemble") / 1e3 / n))
    metric(ctx, "pipeline.blocks", blocks.toDouble)
    metric(ctx, "pipeline.spans", outSpans.toDouble)
    metric(ctx, "pipeline.single_thread_docs_per_s", n / Stats.median(docsRounds.map(_._2)))
    metric(ctx, "pipeline.layer_coverage", Stats.median(docsRounds.map(_._3)))
    metric(ctx, "encode.us_per_doc", med(_("encode") / 1e3 / n))

    val blobRounds = (1 to Rounds).map { r =>
      val run = s"blobs$r"
      System.gc()
      val failed = tracedBlobs(run)
      (selfTimes(run).withDefaultValue(0L), failed, run)
    }
    val perTier = blobIdx.groupBy(Workloads.tier).view.mapValues(_.size).toMap
    Seq("pdf", "ooxml", "html", "image", "ole").foreach { t =>
      metric(ctx, s"convert.${t}_us_per_doc",
        Stats.median(blobRounds.map(_._1(s"convert.$t") / 1e3 / perTier.getOrElse(t, 1))))
    }
    val convertAllNs = blobRounds.map(_._1.values.sum.toDouble)
    metric(ctx, "convert.p99_us", Stats.quantile(blobRounds.flatMap { r =>
      Seq("pdf", "ooxml", "html", "image", "ole").flatMap(t => durations(r._3, s"convert.$t"))
    }, 0.99))
    metric(ctx, "convert.mb_in_per_s",
      blobs.map(_._3.length.toLong).sum / 1e6 / (Stats.median(convertAllNs) / 1e9))
    metric(ctx, "convert.failed", blobRounds.head._2.toDouble)
    ctx.result.stamp("layer_sample", Map("docs" -> SampleDocs, "blobs" -> SampleBlobs, "rounds" -> Rounds))
  }
}

/** SparkListener of the traced run. Jobs are attributed by the labels
  * the program sets (`spark.job.description` = `<runId>:<phase>` for the
  * commit protocol and the dedup stages) and by the job group the
  * benchmark sets around each query. It records only while attached by
  * [[during]]; a call or window then selects its own jobs by submission
  * time. */
final class JobTrace(sc: org.apache.spark.SparkContext) extends SparkListener {
  import JobTrace._

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val sums = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
  private var calls = 0

  /** Runs `body` with this listener attached. Every event posted while
    * it ran is delivered before the listener comes off again. */
  def during[A](body: => A): A = {
    sc.addSparkListener(this)
    try body
    finally {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(this)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs += Job(e.jobId, prop("spark.job.description"), prop("spark.jobGroup.id"), e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten)
  }

  /** The jobs submitted in [t0Ms, t1Ms] and their tasks; older records
    * are dropped. */
  private def window(t0Ms: Long, t1Ms: Long): (Vector[Job], Vector[Task]) = synchronized {
    val mine = jobs.filter(j => j.start >= t0Ms && j.start <= t1Ms).toVector
    val stageIds = mine.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage)).toVector
    jobs.clear(); tasks.clear()
    (mine, ts)
  }

  /** Folds the jobs of one traced `ExtractJob.run` call into per-call
    * sums. `out` and `input` are the call's output and input dirs. */
  def call(runId: String, t0Ms: Long, t1Ms: Long, out: String, input: String): Unit = {
    val (mine, ts) = window(t0Ms, t1Ms)
    def phase(p: String) = mine.filter(_.desc == s"$runId:$p").map(_.dur).sum
    Seq("write", "stats", "ckpt", "metrics").foreach(p => sums(s"commit.${p}_s") += phase(p))
    sums("commit.jobs") += mine.size
    sums("commit.driver_gap_s") += math.max(0.0, (t1Ms - t0Ms) - covered(mine)) / 1e3
    val outDir = new java.io.File(out, "data")
    sums("commit.files") += Dirs.dataFiles(outDir).size
    sums("commit.bytes_per_input_byte") +=
      Dirs.bytes(outDir).toDouble / Dirs.bytes(new java.io.File(input))
    // the extraction runs inside the write phase (the unit is persisted
    // and written, then its stats read the cache)
    val writeStages = mine.filter(_.desc == s"$runId:write").flatMap(_.stages).toSet
    stageSums(ts.filter(t => writeStages.contains(t.stage)))
    calls += 1
  }

  /** Folds every job of a streaming window into the stage sums. */
  def streamWindow(t0Ms: Long, t1Ms: Long): Unit = {
    stageSums(window(t0Ms, t1Ms)._2)
    calls += 1
  }

  /** Folds one traced round of the query suite: every job into the stage
    * sums, and the jobs of the `dedup_pipeline` group into per-stage times
    * by their `<stage>:<phase>` and `labelprop:round<n>` labels.
    * `walls` holds each query's wall time in seconds. */
  def suiteRound(t0Ms: Long, t1Ms: Long, walls: Map[String, Double]): Unit = {
    val (mine, ts) = window(t0Ms, t1Ms)
    val dedup = mine.filter(_.group == "dedup_pipeline")
    Seq("shingles", "candidates", "verified", "groups", "keep").foreach { st =>
      sums(s"dedup.${st}_s") += dedup.filter(_.desc.startsWith(st + ":")).map(_.dur).sum
    }
    sums("dedup.labelprop_s") += dedup.filter(_.desc.startsWith("labelprop:")).map(_.dur).sum
    sums("dedup.jobs") += dedup.size
    sums("dedup.driver_gap_s") +=
      math.max(0.0, walls("dedup_pipeline") * 1e3 - covered(dedup)) / 1e3
    walls.foreach { case (q, s) => sums(s"query.${q}_s") += s }
    stageSums(ts)
    calls += 1
  }

  /** Milliseconds covered by at least one job. */
  private def covered(js: Seq[Job]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }

  private def stageSums(ts: Seq[Task]): Unit = {
    sums("stage.extract_busy_s") += ts.map(_.runMs).sum / 1e3
    sums("stage.extract_gc_s") += ts.map(_.gcMs).sum / 1e3
    sums("stage.shuffle_write_mb") += ts.map(_.shuffleBytes).sum / 1e6
    sums("stage.tasks") += ts.size
    // busy-weighted mean over stages of (slowest task / mean task)
    val byStage = ts.groupBy(_.stage).values.filter(_.size > 1).toVector
    val w = byStage.map(_.map(_.durMs).sum.toDouble)
    val skew = byStage.map { s =>
      val d = s.map(_.durMs.toDouble)
      if (d.sum > 0) d.max / (d.sum / d.size) else 1.0
    }
    sums("stage.task_skew") += (if (w.sum > 0) skew.zip(w).map(x => x._1 * x._2).sum / w.sum else 1.0)
  }

  /** Per-call means of everything folded so far. */
  def report(ctx: Ctx): Unit = {
    require(calls > 0, "no traced call")
    Trace.PerLayer.map(_._1).filter(sums.contains).foreach(n => Trace.metric(ctx, n, sums(n) / calls))
  }
}

object JobTrace {
  final case class Job(id: Int, desc: String, group: String, start: Long, var end: Long,
      stages: Seq[Int]) {
    def dur: Double = (end - start) / 1e3
  }
  final case class Task(stage: Int, durMs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long)
}

/** StreamingQueryListener of the traced run: the progress record of every
  * micro-batch, selected later by batch id. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = scala.collection.mutable.Map.empty[Long, (Long, Map[String, Long])]

  /** Runs `body` with this listener attached to the session's queries. */
  def during[A](spark: SparkSession)(body: => A): A = {
    spark.streams.addListener(this)
    try body
    finally {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.streams.removeListener(this)
    }
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    batches(p.batchId) = (p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def report(ctx: Ctx, batchIds: Seq[Long], backlogEnd: Double, lander: Lander): Unit = {
    val bs = synchronized(batchIds.flatMap(batches.get))
    require(bs.nonEmpty, "no traced micro-batch")
    def med(k: String*) = Stats.median(bs.map(b => k.map(b._2.getOrElse(_, 0L)).sum.toDouble))
    Trace.metric(ctx, "stream.batches", bs.size)
    Trace.metric(ctx, "stream.docs_per_batch", bs.map(_._1).sum.toDouble / bs.size)
    Trace.metric(ctx, "stream.planning_ms", med("queryPlanning"))
    Trace.metric(ctx, "stream.add_batch_ms", med("addBatch"))
    Trace.metric(ctx, "stream.commit_ms", med("walCommit", "commitOffsets"))
    Trace.metric(ctx, "stream.backlog_end", backlogEnd)
    Trace.metric(ctx, "stream.gen_late_p99_ms",
      Stats.quantile(lander.landedMs.indices.map(j => (lander.landedMs(j) - lander.scheduledMs(j)).toDouble), 0.99))
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.{DocGen, HtmlGen, ImgGen, OfficeGen, OleGen, PdfGen}
import graft.io.ExtractJob
import graft.schema.{DocRow, OutSpan}
import graft.util.{Rng, SplitMix64}
import scala.jdk.CollectionConverters._

/** The workloads. Each one builds its inputs from the seed, times calls
  * into the program's public entry points, and checks every output.
  *
  * Sizes keep one untraced run, JVM start included, near 45 s at
  * `local[4]`: each workload is run 22 times within a fixed time budget,
  * and JVM start, session and first Spark job alone take about 11 s. */
object Workloads {

  /** Documents per `ExtractJob.run` call, and in the warm-up call's own
    * input (the same plan on fewer documents). */
  val Docs = 2000
  val WarmDocs = 200
  /** Commit units per call: 2 units over the default 64 buckets, so each
    * unit commits about 1000 documents' heavy span rows. */
  val Units = 2
  /** Share of blobs truncated to half their bytes (seeded per blob). */
  val TruncatedShare = 0.02
  /** Open-loop landing rate of `blobs_stream`, files per second. */
  val StreamRate = 20.0
  /** Micro-batch trigger of `blobs_stream`. A fixed interval longer than a
    * batch keeps each batch's size set by the rate alone; with back-to-back
    * batches one slow batch makes the next one bigger, and the lag of a
    * whole window drifted by 15-25% between runs. */
  val StreamTriggerMs = 1000L
  /** Seconds of landing before the measured window starts. */
  val StreamWarmS = 1.0
  /** Files landed at once per capacity burst of `blobs_stream`, and the
    * number of measured bursts; one more burst goes first as a warm-up (the
    * first large batch ran 10-20% slower). */
  val BurstFiles = 300
  val Bursts = 2
  /** The queries of `query_suite`: the dedup chain built fresh through the
    * commit protocol (ROADMAP item 3), and the high-IoU detection dedup
    * self-join (a smaller ROADMAP item). */
  val SuiteQueries: Seq[String] = Seq("dedup_pipeline", "det_iou_dedup")
  /** Input builds per run; `setup_s` takes their median. */
  val SetupRepeats = 3
  /** Fewest timed calls (`docs_extract`) and rounds (`query_suite`) an
    * untraced run makes, however short `--seconds`. A traced run makes
    * four, untraced and traced in ABBA order, so a warm-up trend weighs on
    * both sides alike. */
  val MinCalls = 1
  val TracedMinCalls = 4

  /** Whether timed call `k` (from 0) of a traced run is traced. */
  def tracedCall(k: Int): Boolean = k % 4 == 1 || k % 4 == 2

  // ---- inputs -------------------------------------------------------------

  /** Id namespace of one seed: `doc-%012d` ids that no other seed's run
    * shares (the program keys every generator on the id string). */
  def base(seed: Long): Long = Math.floorMod(seed, 100000L) * 1000000L
  def docId(seed: Long, i: Long): String = f"doc-${base(seed) + i}%012d"
  def indexOf(seed: Long, id: String): Long = id.stripPrefix("doc-").toLong - base(seed)

  /** The `ingest_raw` mix: office, html, pdf, image and ole2 by index mod 5. */
  val Tiers: Vector[String] = Vector("ooxml", "html", "pdf", "image", "ole")
  def tier(i: Long): String = Tiers((i % 5).toInt)

  def truncated(seed: Long, i: Long): Boolean =
    new SplitMix64(Rng.fnv64(s"perfbench-trunc|$seed|$i")).nextDouble() < TruncatedShare

  def blob(seed: Long, i: Long): Array[Byte] = {
    val id = docId(seed, i)
    val full = tier(i) match {
      case "ooxml" => OfficeGen.bytes(id)
      case "html" => HtmlGen.bytes(id)
      case "pdf" => PdfGen.bytes(id)
      case "image" => ImgGen.bytes(id)
      case _ => OleGen.bytes(id)
    }
    if (truncated(seed, i)) java.util.Arrays.copyOf(full, full.length / 2) else full
  }

  def tierGolden(id: String, i: Long): Seq[OutSpan] = tier(i) match {
    case "ooxml" => OfficeGen.golden(id)
    case "html" => HtmlGen.golden(id)
    case "pdf" => PdfGen.golden(id)
    case "image" => ImgGen.golden(id)
    case _ => OleGen.golden(id)
  }

  // ---- checks -------------------------------------------------------------

  /** SHA-256 of a `(kind, text, media_ref, order)` span sequence. */
  def digest(spans: Seq[OutSpan]): String =
    DocGen.sha256Hex(spans.map(s => s"${s.kind}\u0000${s.text}\u0000${s.media_ref}\u0000${s.order}")
      .mkString("\u0001"))

  /** Golden digest of every document index; null where any output is
    * right (a truncated blob only has to be present). Computed once per
    * run, so each call's check only hashes its own output. */
  def goldens(spark: SparkSession, n: Long, golden: Long => Option[Seq[OutSpan]]): Array[String] = {
    import spark.implicits._
    spark.range(n).map(i => golden(i).map(digest).orNull).collect()
  }

  def docGolden(seed: Long)(i: Long): Option[Seq[OutSpan]] =
    Some(DocGen.golden(docId(seed, i)).spans)

  def blobGolden(seed: Long)(i: Long): Option[Seq[OutSpan]] =
    if (truncated(seed, i)) None else Some(tierGolden(docId(seed, i), i))

  /** Whether a committed document is one of the input's and matches its
    * golden digest. */
  def right(seed: Long, expected: Array[String], id: String, spans: Seq[OutSpan]): Boolean = {
    val i = indexOf(seed, id)
    i >= 0 && i < expected.length && (expected(i.toInt) == null || expected(i.toInt) == digest(spans))
  }

  /** Wrong + missing + duplicated documents in a committed output with
    * columns (doc_id, spans), against the golden digests; also the number
    * of distinct documents committed right. Ids outside the input count
    * as wrong. The first few wrong documents are logged with their first
    * span that differs from `golden`. */
  def failures(out: DataFrame, seed: Long, expected: Array[String],
      golden: Long => Option[Seq[OutSpan]]): (Long, Long) = {
    import out.sparkSession.implicits._
    val n = expected.length
    val docs = out.select(col("doc_id"), col("spans")).as[(String, Seq[OutSpan])]
    val perDoc = docs.map { case (id, spans) =>
      (indexOf(seed, id), if (right(seed, expected, id, spans)) 0 else 1)
    }.toDF("i", "bad")
    val row = perDoc.agg(count(lit(1)), countDistinct(col("i")), sum(col("bad")))
      .collect().head
    val rows = row.getLong(0)
    val distinct = row.getLong(1)
    val bad = if (row.isNullAt(2)) 0L else row.getLong(2)
    val wrong = if (bad == 0) Array.empty[(String, Seq[OutSpan])]
      else docs.filter(d => !right(seed, expected, d._1, d._2)).limit(5).collect()
    wrong.foreach { case (id, spans) =>
      val i = indexOf(seed, id)
      val want = (if (i >= 0 && i < n) golden(i) else None).getOrElse(Nil)
      val k = spans.indices.find(j => j >= want.size || spans(j) != want(j)).getOrElse(spans.size)
      def show(s: Option[OutSpan]): String =
        s.fold("none")(s => s"${s.kind} '${s.text.take(120)}' '${s.media_ref}' ${s.order}")
      System.err.println(s"perfbench: wrong output for $id (${spans.size} spans, golden " +
        s"${want.size}); span $k is ${show(spans.lift(k))}, golden ${show(want.lift(k))}")
    }
    // a duplicated id is one wrong row; an absent id is one missing doc
    (bad + (rows - distinct) + (n - distinct), distinct - math.min(distinct, bad))
  }

  // ---- input stamps -------------------------------------------------------

  /** (files, row groups, bytes, rows) of the parquet files under `dir`,
    * read from their footers. */
  def parquetLayout(spark: SparkSession, dir: String): (Int, Int, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Dirs.dataFiles(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    val blocks = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq finally r.close()
    }
    (files.size, blocks.size, files.map(_.length).sum, blocks.sum)
  }

  /** Builds the input `SetupRepeats` times into fresh dirs, keeps the
    * first, and returns it with the median build time. */
  def buildInput(ctx: Ctx, name: String)(write: String => Unit): (String, Double) = {
    val times = (0 until SetupRepeats).map { k =>
      val dir = ctx.dir(s"$name$k")
      val t = Stats.timed(write(dir))._2
      Main.log(f"input $name$k built in $t%.2f s")
      t
    }
    (1 until SetupRepeats).foreach(k => Dirs.delete(new java.io.File(ctx.dir(s"$name$k"))))
    (ctx.dir(s"${name}0"), Stats.median(times))
  }

  // ---- docs_extract --------------------------------------------------------

  def docsExtract(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val (input, buildS) = buildInput(ctx, "docs") { dir =>
      spark.range(Docs).map(i => DocGen.docRow(docId(seed, i))).write.parquet(dir)
    }
    val docs = spark.read.parquet(input).as[DocRow]
    val pages = (0L until Docs).map(i => DocGen.pageCount(docId(seed, i)).toLong).sum
    val (files, groups, bytes, _) = parquetLayout(spark, input)
    ctx.result.stamp("input", Map("docs" -> Docs, "pages" -> pages,
      "bytes" -> bytes, "files" -> files, "row_groups" -> groups))
    val expected = goldens(spark, Docs, docGolden(seed))
    // partitions = nproc, as graft.Bench sizes the salted repartition; the
    // default of 32 was sized for a 32-core box
    def call(in: Dataset[DocRow], out: String, runId: String): Unit =
      ExtractJob.run(spark, in, out, groups = Units, runId = runId, partitions = Main.cores)
    // the warm-up call compiles the same plans on WarmDocs other documents
    // of the seed's namespace
    val (_, warmS) = Stats.timed {
      val dir = ctx.dir("warm-in")
      spark.range(Docs, Docs + WarmDocs).map(i => DocGen.docRow(docId(seed, i))).write.parquet(dir)
      call(spark.read.parquet(dir).as[DocRow], ctx.dir("warm"), "warm")
    }
    Main.log(f"warm-up call $warmS%.2f s")
    Dirs.delete(new java.io.File(ctx.dir("warm")))
    ctx.result.metric("setup_s", ctx.sessionStartS + buildS + warmS, "s")

    val jobs = if (ctx.args.trace) Some(new JobTrace(spark.sparkContext)) else None
    val calls = Vector.newBuilder[Call]
    var timedS = 0.0
    var k = 0
    while (timedS < ctx.args.seconds || k < (if (jobs.isDefined) TracedMinCalls else MinCalls)) {
      val out = ctx.dir(s"out$k")
      val runId = s"run$k"
      // untraced and traced calls in ABBA order, so the warm-up trend
      // weighs on both sides alike; only traced calls have the listener
      val traced = jobs.isDefined && tracedCall(k)
      // every call starts from a collected heap, so garbage left by the
      // previous call and its check neither slows it nor counts as its peak
      System.gc()
      val t0 = System.currentTimeMillis()
      val ((ok, wallS), peakMb) = Heap.peakDuring {
        Stats.timed(scala.util.Try {
          if (traced) jobs.get.during(call(docs, out, runId)) else call(docs, out, runId)
        })
      }
      val t1 = System.currentTimeMillis()
      timedS += wallS
      ctx.result.attempted += Docs
      if (ok.isFailure) {
        System.err.println(s"perfbench: call $runId failed: ${ok.failed.get}")
        ctx.result.failed += Docs
      } else {
        val (bad, committed) = failures(spark.read.parquet(s"$out/data"), seed, expected, docGolden(seed))
        val curve = commitCurve(spark, out, t0)
        val c = Call(committed / wallS, wallS, lagQuantile(curve, 0.5), lagQuantile(curve, 0.9),
          peakMb, traced)
        Main.log(f"call $runId: $wallS%.3f s, $committed docs committed, $bad failed, " +
          f"peak heap $peakMb%.0f MB, latency p50 ${c.p50}%.0f ms p90 ${c.p90}%.0f ms")
        ctx.result.failed += bad
        calls += c
        if (traced) jobs.get.call(runId, t0, t1, out, input)
      }
      Dirs.delete(new java.io.File(out))
      k += 1
    }
    val all = calls.result()
    val plain = all.filterNot(_.traced)
    require(plain.nonEmpty, "no timed call succeeded")
    ctx.result.metric("docs_per_s", Stats.median(plain.map(_.docsPerS)), "docs/s")
    ctx.result.metric("round_s", Stats.median(plain.map(_.wallS)), "s")
    ctx.result.metric("latency_p50_ms", Stats.median(plain.map(_.p50)), "ms")
    ctx.result.metric("latency_p90_ms", Stats.median(plain.map(_.p90)), "ms")
    ctx.result.metric("heap.peak_live_mb", Stats.median(plain.map(_.peakMb)), "MB")
    jobs.foreach { j =>
      Trace.overhead(ctx, Stats.median(plain.map(_.docsPerS)),
        Stats.median(all.filter(_.traced).map(_.docsPerS)))
      j.report(ctx)
      Trace.decode(ctx, docs.map(_.spans.size), Docs)
      Trace.bypassed(ctx, "dedup", "query", "stream")
    }
  }

  private final case class Call(docsPerS: Double, wallS: Double, p50: Double, p90: Double,
      peakMb: Double, traced: Boolean)

  /** Commit progress of one batch call: (ms from the call's start, docs
    * committed by then) at each unit commit. A unit's documents are
    * committed when its `_checkpoint` append lands; each append is one
    * parquet file carrying the unit's per-bucket doc counts. */
  def commitCurve(spark: SparkSession, out: String, startMs: Long): Seq[(Double, Long)] = {
    val units = spark.read.parquet(s"$out/_checkpoint")
      .groupBy(input_file_name()).agg(sum(col("docs")))
      .collect().map(r => (new java.io.File(new java.net.URI(r.getString(0))).lastModified(), r.getLong(1)))
      .sortBy(_._1)
    units.scanLeft((0.0, 0L)) { case ((_, cum), (t, docs)) => ((t - startMs).toDouble, cum + docs) }.toSeq
  }

  /** Time at which a share `q` of the documents was committed, linear
    * between unit commits (a step at each commit would make the quantile
    * jump between units as the seed moves a few documents across them). */
  def lagQuantile(curve: Seq[(Double, Long)], q: Double): Double = {
    val target = q * curve.last._2
    val k = curve.indexWhere(_._2 >= target) max 1
    val ((t0, c0), (t1, c1)) = (curve(k - 1), curve(k))
    t0 + (t1 - t0) * (target - c0) / math.max(1L, c1 - c0)
  }

  // ---- query_suite ----------------------------------------------------------

  /** The table the suite's queries read: a copy of the sf0.01
    * `documents` table, in the benchmark's fixture directory (`--data`). */
  val SuiteTable = "documents"

  def querySuite(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val queries = SuiteQueries.map(q => q -> graft.SparkEntry.queries(q))
    // the run's own copy of the table, the dir the queries are given
    val dir = ctx.dir("sf")
    val (_, stageS) = Stats.timed {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.copy(java.nio.file.Paths.get(ctx.args.data, s"$SuiteTable.parquet"),
        java.nio.file.Paths.get(dir, s"$SuiteTable.parquet"))
    }
    val (files, groups, bytes, nDocs) = parquetLayout(spark, dir)
    ctx.result.stamp("input", Map("docs" -> nDocs, "bytes" -> bytes, "files" -> files,
      "row_groups" -> groups, "queries" -> SuiteQueries.mkString(" ")))
    writeOracles(ctx.dir("oracle_sql.json"), SuiteQueries)

    // Every round writes each result as parquet under results/<round>/,
    // and run.py compares each one with its oracle. A parquet write
    // computes every row, as a noop sink would, and lets the timed results
    // themselves be checked. Round 0 is the warm-up, part of the set-up.
    def runRound(k: Int): Map[String, Double] = {
      // the seed and the round permute the order
      val order = new scala.util.Random(Rng.fnv64(s"perfbench-order|$seed|$k")).shuffle(queries)
      val walls = order.map { case (q, f) =>
        spark.sparkContext.setJobGroup(q, q)
        try q -> Stats.timed(f(spark, dir).write.parquet(ctx.dir(s"results/$k/$q")))._2
        finally spark.sparkContext.clearJobGroup()
      }.toMap
      ctx.result.attempted += queries.size
      Main.log(f"round $k: ${walls.values.sum}%.3f s" +
        walls.toSeq.sortBy(-_._2).map { case (q, w) => f"; $q $w%.2f" }.mkString)
      walls
    }
    val warmS = runRound(0).values.sum
    ctx.result.metric("setup_s", ctx.sessionStartS + stageS + warmS, "s")

    val jobs = if (ctx.args.trace) Some(new JobTrace(spark.sparkContext)) else None
    val rounds = Vector.newBuilder[Round]
    var timedS = 0.0
    var k = 1
    while (timedS < ctx.args.seconds || k <= (if (jobs.isDefined) TracedMinCalls else MinCalls)) {
      val traced = jobs.isDefined && tracedCall(k - 1)
      System.gc()
      val t0 = System.currentTimeMillis()
      val (walls, peakMb) = Heap.peakDuring(if (traced) jobs.get.during(runRound(k)) else runRound(k))
      val t1 = System.currentTimeMillis()
      if (traced) jobs.get.suiteRound(t0, t1, walls)
      val r = Round(walls, peakMb, traced)
      rounds += r
      timedS += r.wallS
      k += 1
    }
    val all = rounds.result()
    val plain = all.filterNot(_.traced)
    // each query's median wall over the untraced rounds
    val perQuery = SuiteQueries.map(q => Stats.median(plain.map(_.walls(q))))
    ctx.result.metric("docs_per_s", nDocs / Stats.median(plain.map(_.walls("dedup_pipeline"))), "docs/s")
    ctx.result.metric("round_s", Stats.median(plain.map(_.wallS)), "s")
    ctx.result.metric("latency_p50_ms", Stats.median(perQuery) * 1e3, "ms")
    ctx.result.metric("latency_p90_ms", Stats.quantile(perQuery, 0.9) * 1e3, "ms")
    ctx.result.metric("heap.peak_live_mb", Stats.median(plain.map(_.peakMb)), "MB")
    jobs.foreach { j =>
      Trace.overhead(ctx, 1.0 / Stats.median(plain.map(_.wallS)),
        1.0 / Stats.median(all.filter(_.traced).map(_.wallS)))
      j.report(ctx)
      Trace.decode(ctx, spark.read.parquet(s"$dir/$SuiteTable.parquet")
        .select(length(col("text"))).as(org.apache.spark.sql.Encoders.scalaInt), nDocs)
      Trace.bypassed(ctx, "commit", "stream")
    }
  }

  private final case class Round(walls: Map[String, Double], peakMb: Double, traced: Boolean) {
    def wallS: Double = walls.values.sum
  }

  /** The DuckDB oracle SQL of each query, as JSON, for run.py's compare. */
  def writeOracles(path: String, names: Seq[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql
    val json = names.map(n => s"${q(n)}: ${q(sql(n))}").mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  // ---- blobs_stream ---------------------------------------------------------

  def blobsStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val warmN = math.round(StreamWarmS * StreamRate).toInt
    val measN = math.round(ctx.args.seconds * StreamRate).toInt
    val burst0 = warmN + measN
    // a traced run measures twice the bursts: untraced and traced in ABBA
    // order
    val nBursts = 1 + (if (ctx.args.trace) 2 * Bursts else Bursts)
    val total = burst0 + nBursts * BurstFiles
    // blobs are generated before the clock starts, so the generator thread
    // only writes and renames
    val gen = (0 until SetupRepeats).map { _ =>
      Stats.timed(spark.range(total).map(i => (docId(seed, i), blob(seed, i))).collect())
    }
    val blobs = gen.head._1
    val buildS = Stats.median(gen.map(_._2))
    ctx.result.stamp("input", Map("blobs" -> total, "window" -> measN, "burst" -> BurstFiles,
      "bursts" -> nBursts, "truncated" -> (0L until total).count(truncated(seed, _)),
      "bytes" -> blobs.map(_._2.length.toLong).sum, "rate_per_s" -> StreamRate))

    val landing = ctx.dir("landing")
    val out = ctx.dir("stream-out")
    val ckpt = ctx.dir("stream-ckpt")
    new java.io.File(landing).mkdirs()
    val jobs = if (ctx.args.trace) Some(new JobTrace(spark.sparkContext)) else None
    val progress = if (ctx.args.trace) Some(new StreamTrace) else None
    /** Runs `body` with both listeners attached when `traced`. */
    def maybeTraced[A](traced: Boolean)(body: => A): A =
      if (traced) jobs.get.during(progress.get.during(spark)(body)) else body

    val t0 = System.nanoTime()
    val query = graft.streaming.StreamJobs.rawStream(spark, landing)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(StreamTriggerMs))
      .start(out)
    // warm-up window: landed at the same rate, drained, not measured
    val warm = new Lander(landing, blobs, 0, warmN, StreamRate)
    warm.run()
    query.processAllAvailable()
    Main.log(f"blobs built in $buildS%.2f s (median), stream warm")
    ctx.result.metric("setup_s", ctx.sessionStartS + buildS + (System.nanoTime() - t0) / 1e9, "s")

    // the open-loop window, traced as a whole on a traced run
    val lander = new Lander(landing, blobs, warmN, measN, StreamRate)
    val measuredIds = (warmN until burst0).map(docId(seed, _)).toSet
    System.gc()
    val tWin = System.currentTimeMillis()
    val (backlogEnd, windowPeakMb) = Heap.peakDuring(maybeTraced(ctx.args.trace) {
      lander.start()
      lander.join()
      // files landed in the window that no batch has taken yet
      val backlog = measN - Checkpoint.sourceFiles(ckpt).count(f => measuredIds.contains(f._1))
      query.processAllAvailable()
      backlog
    })
    val tWinEnd = System.currentTimeMillis()

    // capacity bursts: BurstFiles files land at once in the middle of a
    // trigger interval (ticks fall on multiples of it), clear of the
    // listing that follows a tick, so the next tick's batch takes them all
    val bursts = (0 until nBursts).map { b =>
      val traced = ctx.args.trace && b >= 1 && tracedCall(b - 1)
      val from = burst0 + b * BurstFiles
      System.gc()
      val (_, peakMb) = Heap.peakDuring(maybeTraced(traced) {
        val phase = System.currentTimeMillis() % StreamTriggerMs
        Thread.sleep((StreamTriggerMs * 3 / 2 - phase) % StreamTriggerMs)
        val landMs = Stats.timed(Lander.landAll(landing, blobs, from, BurstFiles))._2 * 1e3
        Main.log(f"burst $b landed in $landMs%.0f ms")
        query.processAllAvailable()
      })
      (from, traced, peakMb)
    }
    query.stop()
    if (query.exception.isDefined) System.err.println(s"perfbench: stream failed: ${query.exception.get}")

    val log = Checkpoint.read(ckpt, StreamTriggerMs)
    // (landing index in the window, lag ms, batch) of every committed file
    val committed = lander.scheduledMs.indices.flatMap { j =>
      val id = docId(seed, warmN + j)
      for (b <- log.batchOf.get(id); c <- log.commitMs.get(b)) yield (j, c - lander.scheduledMs(j), b)
    }
    val windowBatches = committed.map(_._3).distinct.sorted
    Main.log("window batches (id: files, start-to-commit ms): " + committed.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (b, fs) => s"$b: ${fs.size}, ${log.busyMs(b)}" }.mkString("; "))
    /** wall ms of a burst: from its first batch's start to its last
      * batch's commit */
    def burstMs(from: Int): Double = {
      val bs = (from until from + BurstFiles).flatMap(i => log.batchOf.get(docId(seed, i))).distinct
      val ms = bs.flatMap(log.commitMs.get).max - bs.flatMap(log.startMs.get).min
      Main.log(f"burst at $from: batches ${bs.sorted.mkString(",")}, $ms ms")
      ms.toDouble
    }
    val burstWalls = bursts.drop(1).map { case (from, traced, _) => (burstMs(from), traced) }
    val rates = burstWalls.map { case (ms, traced) => (BurstFiles * 1e3 / ms, traced) }

    ctx.result.attempted += total
    val (bad, _) =
      if (!new java.io.File(out).exists()) (total.toLong, 0L)
      else failures(spark.read.parquet(out), seed, goldens(spark, total, blobGolden(seed)),
        blobGolden(seed))
    ctx.result.failed += bad
    require(committed.nonEmpty, "no measured file was committed")
    val lags = committed.map(_._2.toDouble)
    val plainRates = rates.filterNot(_._2).map(_._1)
    ctx.result.metric("docs_per_s", Stats.median(plainRates), "docs/s")
    ctx.result.metric("round_s", Stats.median(burstWalls.filterNot(_._2).map(_._1)) / 1e3, "s")
    ctx.result.metric("latency_p50_ms", Stats.median(lags), "ms")
    ctx.result.metric("latency_p90_ms", Stats.quantile(lags, 0.9), "ms")
    ctx.result.metric("heap.peak_live_mb", (windowPeakMb +: bursts.drop(1).filterNot(_._2).map(_._3)).max, "MB")
    ctx.result.stamp("stream_batches", windowBatches.size)

    if (ctx.args.trace) {
      jobs.get.streamWindow(tWin, tWinEnd)
      jobs.get.report(ctx)
      progress.get.report(ctx, windowBatches, backlogEnd.toDouble, lander)
      Trace.overhead(ctx, Stats.median(plainRates), Stats.median(rates.filter(_._2).map(_._1)))
      Trace.decode(ctx, spark.read.format("binaryFile").load(landing)
        .select(col("content")).as[Array[Byte]].map(_.length), total)
      Trace.bypassed(ctx, "commit", "dedup", "query")
    }
  }
}

/** The open-loop generator of `blobs_stream`: file j of the window is due
  * at `start + j / rate`, whether or not the stream keeps up. */
final class Lander(landing: String, blobs: Array[(String, Array[Byte])],
    from: Int, count: Int, rate: Double) extends Thread("perfbench-lander") {
  setDaemon(true)
  val scheduledMs = new Array[Long](count)
  val landedMs = new Array[Long](count)

  override def run(): Unit = {
    val start = System.currentTimeMillis()
    var j = 0
    while (j < count) {
      val due = start + math.round(j * 1000.0 / rate)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Lander.land(landing, blobs(from + j))
      scheduledMs(j) = due
      landedMs(j) = System.currentTimeMillis()
      j += 1
    }
  }
}

object Lander {
  /** Writes one blob under a hidden name and renames it into place, so the
    * file source never lists a partial file. */
  def land(landing: String, blob: (String, Array[Byte])): Unit = {
    val (id, bytes) = blob
    val tmp = java.nio.file.Paths.get(landing, s".$id.tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(landing, s"$id.blob"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Lands `count` blobs from `from` on at once. */
  def landAll(landing: String, blobs: Array[(String, Array[Byte])], from: Int, count: Int): Unit =
    (from until from + count).foreach(i => land(landing, blobs(i)))
}

/** Reads a file-source stream checkpoint: which micro-batch took each
  * landed file (the source log), when each batch was planned (its offsets
  * entry) and when it committed (its commits entry). */
object Checkpoint {
  /** `startMs` of a batch is the trigger tick it started on, or the
    * previous batch's commit when that came later: listing the source
    * counts as part of the batch. */
  final case class Log(batchOf: Map[String, Long], startMs: Map[Long, Long],
      commitMs: Map[Long, Long]) {
    def busyMs(b: Long): Long = commitMs(b) - startMs(b)
  }

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  private def entries(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("."))

  /** (file id, batch id) for every file the source has logged. */
  def sourceFiles(ckpt: String): Seq[(String, Long)] =
    entries(s"$ckpt/sources/0").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).toVector.flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line)) yield {
          val base = p.group(1).substring(p.group(1).lastIndexOf('/') + 1)
          (base.takeWhile(_ != '.'), b.group(1).toLong)
        }
      } finally src.close()
    }.distinct

  private def mtimes(dir: String): Map[Long, Long] =
    entries(dir).filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified()).toMap

  def read(ckpt: String, triggerMs: Long): Log = {
    val planned = mtimes(s"$ckpt/offsets")
    val commits = mtimes(s"$ckpt/commits")
    val starts = planned.map { case (b, t) =>
      b -> math.max(t - t % triggerMs, commits.getOrElse(b - 1, Long.MinValue))
    }
    Log(sourceFiles(ckpt).toMap, starts, commits)
  }
}

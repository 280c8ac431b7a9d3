package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.corpus.DocGen
import graft.pipeline.Extract
import graft.io.{Commit, ExtractJob}
import graft.kernel.LayoutTelemetry
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** Kill-at-50% resume idempotency (FIXTURES.md §4): a run that commits only
  * half its bucket groups, resumed, must produce exactly the output of a
  * cold full run — and already-done buckets must be skipped, not redone. */
class ResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def collectOut(dir: String): Map[String, Seq[(String, String, String, Int)]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/data")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.col("spans")).as("s"))
      .selectExpr("doc_id", "s.kind", "s.text", "s.media_ref", "s.order")
      .as[(String, String, String, String, Int)]
      .collect().toSeq
      .groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(_._5).map(t => (t._2, t._3, t._4, t._5))
      }
  }

  test("kill at 50% of commit units, resume, output equals cold run") {
    killAndResume("")
  }

  // the protocol resolves every path through its Hadoop FileSystem, so
  // output dirs named by `file:` URI resume like plain paths
  test("kill at 50% of commit units, resume, output equals cold run (file: URI output)") {
    killAndResume("file:")
  }

  /** Cold run vs a run killed after 2 of 4 units and resumed, both into
    * `scheme`-prefixed temp dirs. */
  private def killAndResume(scheme: String): Unit = {
    val n = 300L
    val docs = Extract.corpus(Extract.idRange(spark, n))
    val cold = scheme + Files.createTempDirectory("graft_cold").toString
    val warm = scheme + Files.createTempDirectory("graft_warm").toString

    val r0 = ExtractJob.run(spark, docs, cold, buckets = 16, groups = 4,
      runId = "cold", partitions = 4)
    assert(r0.processed == 16 && r0.docs == n)

    // crash after 2 of 4 commit units
    val r1 = ExtractJob.run(spark, docs, warm, buckets = 16, groups = 4,
      runId = "attempt-1", partitions = 4, failAfterGroups = 2)
    assert(r1.processed == 8 && r1.skipped == 0)

    // resume: skips the 8 done buckets, finishes the rest
    val r2 = ExtractJob.run(spark, docs, warm, buckets = 16, groups = 4,
      runId = "attempt-2", partitions = 4)
    assert(r2.skipped == 8 && r2.processed == 8)

    assert(collectOut(warm) == collectOut(cold))

    // lineage: every bucket has exactly one done row, doc counts add up
    import spark.implicits._
    val ckpt = SideTable.read(spark, s"$warm/_checkpoint")
    assert(ckpt.count() == 16)
    assert(ckpt.agg(org.apache.spark.sql.functions.sum("docs")).as[Long].head() == n)

    // layout-validation invariant rides the _metrics table (accumulator
    // channel): rows exist for every run and are ZERO on the clean corpus
    val m = SideTable.read(spark, s"$cold/_metrics")
      .filter(org.apache.spark.sql.functions.col("stage") === "layout")
      .select("key", "value").as[(String, Double)].collect().toMap
    assert(m.contains("authored_away_pages") && m.contains("unsolvable_pages"),
      s"layout metric rows missing: $m")
    assert(m("authored_away_pages") == 0.0 && m("unsolvable_pages") == 0.0,
      s"layout invariant violated: $m")
    // ...and the channel counts: the cold run's insert pages equal a
    // driver-side count over the same ids through a locally installed sink
    val sc = spark.sparkContext
    val local = LayoutTelemetry.Sink(sc.longAccumulator, sc.longAccumulator,
      sc.longAccumulator)
    LayoutTelemetry.install(Some(local))
    try (0L until n).foreach(i => Extract.extractDoc(DocGen.docRow(f"doc-$i%012d")))
    finally LayoutTelemetry.install(None)
    val inserts = local.insertPages.value.toDouble
    assert(inserts > 0, "no insert-layout page in the corpus")
    assert(m("insert_pages") == inserts, s"cold insert_pages ${m("insert_pages")} != $inserts")
    // the two warm attempts each count only their own buckets
    val warmInserts = SideTable.read(spark, s"$warm/_metrics")
      .filter("stage = 'layout' AND key = 'insert_pages'")
      .select("run_id", "value").as[(String, Double)].collect()
    assert(warmInserts.map(_._1).sorted.toSeq == Seq("attempt-1", "attempt-2"))
    assert(warmInserts.map(_._2).sum == inserts,
      s"warm insert_pages ${warmInserts.toSeq} do not sum to $inserts")
    // one `_metrics` append per attempt carries the layout rows too
    assert(SideTable.read(spark, s"$warm/_metrics")
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count() == 2)
  }

  test("a crash at each step of a unit's commit resumes to the cold output") {
    import spark.implicits._
    val n = 300L
    val docs = Extract.corpus(Extract.idRange(spark, n))
    val cold = Files.createTempDirectory("graft_step_cold").toString
    ExtractJob.run(spark, docs, cold, buckets = 16, groups = 4, runId = "cold", partitions = 4)
    val out = Files.createTempDirectory("graft_step").toString
    def run(runId: String) = ExtractJob.run(spark, docs, out, buckets = 16, groups = 4,
      runId = runId, partitions = 4)
    run("full")
    val ckptDir = new java.io.File(s"$out/_checkpoint")
    def listing(table: String) = new java.io.File(s"$out/$table").list().toSet
    // the checkpoint file of the last unit (buckets 12-15)
    def lastUnit = new java.io.File(new java.net.URI(SideTable.read(spark, ckptDir.getPath)
      .where("bucket = 15").select(org.apache.spark.sql.functions.input_file_name())
      .as[String].head()))

    // (c) the last unit's file renamed into place: nothing to do, nothing appended
    val files = (listing("_checkpoint"), listing("_metrics"))
    val rc = run("after-renamed")
    assert(rc.processed == 0 && rc.skipped == 16)
    assert((listing("_checkpoint"), listing("_metrics")) == files)
    assert(collectOut(out) == collectOut(cold))

    // (a) data written, checkpoint missing: only the last unit re-runs
    assert(lastUnit.delete())
    val ra = run("after-data")
    assert(ra.processed == 4 && ra.skipped == 12)
    assert(collectOut(out) == collectOut(cold))

    // (b) checkpoint written under its hidden temp name, not renamed: the
    // unit re-runs, and the leftover temp file is neither read nor counted
    val written = lastUnit
    val temp = new java.io.File(ckptDir, "." + written.getName)
    assert(written.renameTo(temp))
    // (the re-run of (a) committed its 4 buckets as 4 one-bucket units)
    val rb = run("after-temp")
    assert(rb.processed == 1 && rb.skipped == 15)
    assert(collectOut(out) == collectOut(cold))
    assert(temp.exists())
    val ckpt = SideTable.read(spark, ckptDir.getPath)
    assert(ckpt.count() == 16)
    assert(ckpt.agg(org.apache.spark.sql.functions.sum("docs")).as[Long].head() == n)
  }

  test("ExtractJob.run leaves the caller's job description and session conf as it found them") {
    val sc = spark.sparkContext
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val docs = Extract.corpus(Extract.idRange(spark, 20L))
    val out = Files.createTempDirectory("graft_label").toString
    val fsImpl = sc.hadoopConfiguration.get("fs.file.impl")
    spark.conf.set(mode, "static")
    sc.setJobDescription("outer")
    try {
      ExtractJob.run(spark, docs, out, buckets = 4, groups = 2, partitions = 2)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      assert(spark.conf.get(mode) == "static")
      assert(sc.hadoopConfiguration.get("fs.file.impl") == fsImpl)
      // under a static session mode, the second unit's write still
      // replaces only its own buckets
      assert(spark.read.parquet(s"$out/data").count() == 20)
    } finally sc.setJobDescription(null)
  }

  // without libhadoop, Hadoop's local filesystem forks `chmod` for every
  // dir, part file and `.crc` it makes; the protocol's writes must not
  test("a commit forks no chmod process for the files it writes") {
    val docs = Extract.corpus(Extract.idRange(spark, 40L))
    val out = Files.createTempDirectory("graft_nofork").toRealPath().toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try ExtractJob.run(spark, docs, out, buckets = 4, groups = 2, partitions = 2)
    finally rec.stop()
    val dump = Files.createTempFile("graft_nofork", ".jfr")
    try {
      rec.dump(dump)
      val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter(c => c.startsWith("chmod") && c.contains(out))
      assert(chmods.size == 0, s"chmod forks, the first: ${chmods.headOption}")
    } finally { rec.close(); Files.delete(dump) }
  }

  test("a commit leaves Hadoop's default modes: rwxr-xr-x dirs, rw-r--r-- files") {
    val docs = Extract.corpus(Extract.idRange(spark, 40L))
    val out = Files.createTempDirectory("graft_modes")
    ExtractJob.run(spark, docs, out.toString, buckets = 4, groups = 2, partitions = 2)
    Commit.storeFp(spark, out.toString, Map(0 -> 1L))
    val walk = Files.walk(out)
    val all = try walk.iterator.asScala.filter(_ != out).toVector finally walk.close()
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = all.partition(Files.isDirectory(_))
    val names = files.map(f => out.relativize(f).toString)
    Seq("data/bucket=0/part-", "data/bucket=0/.part-", "_checkpoint/part-",
      "_checkpoint/.part-", "_metrics/part-", "_input_fp/part-").foreach { prefix =>
      assert(names.exists(_.startsWith(prefix)), s"no $prefix* file in $names")
    }
    val wrong = dirs.filter(mode(_) != "rwxr-xr-x") ++ files.filter(mode(_) != "rw-r--r--")
    assert(wrong.isEmpty, wrong.map(p => s"${out.relativize(p)} ${mode(p)}").mkString("\n"))
  }

  test("raw-blob ingestion (office + html + pdf + image + ole interleaved) under the same protocol") {
    import spark.implicits._
    val n = 120
    // doc index mod 5 routes office / html / pdf / image / legacy-office
    val blobs = spark.range(n).map { i =>
      val id = f"doc-$i%012d"
      val bytes = (i % 5) match {
        case 0 => graft.corpus.OfficeGen.bytes(id)
        case 1 => graft.corpus.HtmlGen.bytes(id)
        case 2 => graft.corpus.PdfGen.bytes(id)
        case 3 => graft.corpus.ImgGen.bytes(id)
        case _ => graft.corpus.OleGen.bytes(id)
      }
      (id, bytes)
    }.toDF("doc_id", "content")

    val out = Files.createTempDirectory("graft_raw").toString
    val r1 = ExtractJob.runRaw(spark, blobs, out, buckets = 8, groups = 4,
      runId = "raw-1", failAfterGroups = 2)
    assert(r1.processed == 4 && r1.skipped == 0)
    val r2 = ExtractJob.runRaw(spark, blobs, out, buckets = 8, groups = 4,
      runId = "raw-2")
    assert(r2.skipped == 4 && r2.processed == 4)

    val got = collectOut(out)
    assert(got.size == n)
    (0 until n).foreach { i =>
      val id = f"doc-$i%012d"
      val spans = (i % 5) match {
        case 0 => graft.corpus.OfficeGen.golden(id)
        case 1 => graft.corpus.HtmlGen.golden(id)
        case 2 => graft.corpus.PdfGen.golden(id)
        case 3 => graft.corpus.ImgGen.golden(id)
        case _ => graft.corpus.OleGen.golden(id)
      }
      val want = spans.map(s => (s.kind, s.text, s.media_ref, s.order))
      assert(got(id) == want, s"raw ingest mismatch for $id")
    }
  }

  test("corrupt blobs isolate per document: empty spans + a counted metric") {
    import spark.implicits._
    val blobs = spark.createDataset(Seq(
      ("doc-000000000000", graft.corpus.OfficeGen.bytes("doc-000000000000")),
      // truncated zip: PK magic, garbage body
      ("doc-bad-zip", "PK\u0003\u0004garbage".getBytes("ISO-8859-1")),
      // pdf header with a garbage xref
      ("doc-bad-pdf", "%PDF-1.4\ngarbage without startxref".getBytes("ISO-8859-1")),
      ("doc-000000000001", graft.corpus.HtmlGen.bytes("doc-000000000001"))
    )).toDF("doc_id", "content")
    val out = Files.createTempDirectory("graft_corrupt").toString
    val r = ExtractJob.runRaw(spark, blobs, out, buckets = 2, groups = 1)
    assert(r.docs == 4, "every blob row lands, corrupt or not")
    val spans = spark.read.parquet(s"$out/data")
      .selectExpr("doc_id", "size(spans) AS n").as[(String, Int)].collect().toMap
    assert(spans("doc-bad-zip") == 0 && spans("doc-bad-pdf") == 0)
    assert(spans("doc-000000000000") > 0 && spans("doc-000000000001") > 0)
    val failed = SideTable.read(spark, s"$out/_metrics")
      .filter(org.apache.spark.sql.functions.col("key") === "failed_docs")
      .selectExpr("value").as[Double].collect().sum
    assert(failed == 2.0, s"failed_docs metric = $failed")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.corpus.DocGen
import graft.pipeline.Extract
import graft.streaming.StreamJobs
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("streaming extraction over a landing dir matches golden") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_landing").toString
    // two file drops, as if a crawler landed batches over time
    Extract.corpus(Extract.idRange(spark, 24)).write.mode("append").parquet(landing)
    Extract.corpus(spark.range(24, 48).map(i => f"doc-$i%012d")).write.mode("append").parquet(landing)

    val q = StreamJobs.extractStream(spark, landing)
      .writeStream.format("memory").queryName("stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("stream_out")
      .as[graft.schema.DocResult].collect().map(r => r.doc_id -> r.spans).toMap
    assert(got.size == 48)
    (0 until 48).foreach { i =>
      val id = f"doc-$i%012d"
      assert(got(id) == DocGen.golden(id).spans, s"stream mismatch for $id")
    }
  }

  test("streaming office ingestion converts landed packages to golden spans") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_office_landing").toString
    // land 30 mixed-format packages as two drops
    def drop(ids: Range): Unit = ids.foreach { i =>
      val id = f"doc-$i%012d"
      Files.write(java.nio.file.Paths.get(s"$landing/$id.ooxml"),
        graft.corpus.OfficeGen.bytes(id))
    }
    drop(0 until 15)
    drop(15 until 30)
    val q = StreamJobs.rawStream(spark, landing)
      .writeStream.format("memory").queryName("office_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("office_stream_out")
      .as[graft.schema.DocResult].collect().map(r => r.doc_id -> r.spans).toMap
    assert(got.size == 30)
    (0 until 30).foreach { i =>
      val id = f"doc-$i%012d"
      assert(got(id) == graft.corpus.OfficeGen.golden(id), s"office stream mismatch for $id")
    }
  }

  test("streaming html ingestion strips boilerplate to golden spans") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_html_landing").toString
    def drop(ids: Range): Unit = ids.foreach { i =>
      val id = f"doc-$i%012d"
      Files.write(java.nio.file.Paths.get(s"$landing/$id.html"),
        graft.corpus.HtmlGen.bytes(id))
    }
    drop(0 until 15)
    drop(15 until 30)
    val q = StreamJobs.rawStream(spark, landing)
      .writeStream.format("memory").queryName("html_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("html_stream_out")
      .as[graft.schema.DocResult].collect()
      .map(r => r.doc_id -> (r.spans, r.markdown)).toMap
    assert(got.size == 30)
    (0 until 30).foreach { i =>
      val id = f"doc-$i%012d"
      val (spans, md) = got(id)
      assert(spans == graft.corpus.HtmlGen.golden(id), s"html stream mismatch for $id")
      // the h1 renders as a level-1 heading; article h2s as level 2
      assert(md.startsWith("# "), s"markdown heading missing for $id")
    }
  }

  test("streaming mixed-blob ingestion routes pdf/office/html/image/ole via the shared sniffer") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_raw_landing").toString
    (0 until 30).foreach { i =>
      val id = f"doc-$i%012d"
      val (bytes, ext) = (i % 5) match {
        case 0 => (graft.corpus.OfficeGen.bytes(id), "ooxml")
        case 1 => (graft.corpus.HtmlGen.bytes(id), "html")
        case 2 => (graft.corpus.PdfGen.bytes(id), "pdf")
        case 3 => (graft.corpus.ImgGen.bytes(id), "img")
        case _ => (graft.corpus.OleGen.bytes(id), "doc")
      }
      Files.write(java.nio.file.Paths.get(s"$landing/$id.$ext"), bytes)
    }
    val q = StreamJobs.rawStream(spark, landing)
      .writeStream.format("memory").queryName("raw_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("raw_stream_out")
      .as[graft.schema.DocResult].collect()
      .map(r => r.doc_id -> r.spans).toMap
    assert(got.size == 30)
    (0 until 30).foreach { i =>
      val id = f"doc-$i%012d"
      val want = (i % 5) match {
        case 0 => graft.corpus.OfficeGen.golden(id)
        case 1 => graft.corpus.HtmlGen.golden(id)
        case 2 => graft.corpus.PdfGen.golden(id)
        case 3 => graft.corpus.ImgGen.golden(id)
        case _ => graft.corpus.OleGen.golden(id)
      }
      assert(got(id) == want, s"raw stream mismatch for $id")
    }
  }

  test("stateful sessionization stitches sessions across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_id"))
      .as[StreamJobs.Ev]
    // two time-ordered file drops so sessions span the micro-batch boundary
    val landing = Files.createTempDirectory("graft_sess").toString
    val cut = ev.select(org.apache.spark.sql.functions.expr("percentile(ms, 0.5)"))
      .as[Double].head().toLong
    ev.filter($"ms" <= cut).repartition(1).write.mode("append").parquet(landing)
    ev.filter($"ms" > cut).repartition(1).write.mode("append").parquet(landing)

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing).as[StreamJobs.Ev]
    val q = StreamJobs.sessionizeStateful(stream)
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("sess_out")
      .as[StreamJobs.SessionOut].collect()
      .map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events)).toSet
    // batch truth: all sessions except each user's LAST (still open in state)
    val batch = graft.queries.Queries.eventsSessionize(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getLong(4), r.getLong(2)))
    val lastIdx = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batch.filter(t => t._2 != lastIdx(t._1))
      .map(t => (t._1, t._3, t._4, t._5)).toSet
    assert(got == expected,
      s"stateful sessions disagree: extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
    assert(got.nonEmpty, "no closed sessions emitted")
  }

  test("watermarked windowed event counts equal the batch aggregation") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val landing = Files.createTempDirectory("graft_events").toString
    events.write.mode("overwrite").parquet(landing)

    val stream = spark.readStream.schema(events.schema).parquet(landing)
    val q = StreamJobs.eventsWindowed(stream)
      .writeStream.format("memory").queryName("ev_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // append mode withholds windows newer than the watermark; everything
    // emitted must exactly match the batch computation of the same window
    val gotCnt = spark.table("ev_out").count()
    val batch = StreamJobs.eventsWindowed(events) // same expr works in batch
    val joined = spark.table("ev_out").alias("s")
      .join(batch.alias("b"), Seq("win_start", "event_type"))
      .where("s.cnt = b.cnt")
    assert(gotCnt > 0, "no finalized windows emitted")
    assert(joined.count() == gotCnt, "stream windows disagree with batch")
  }
}

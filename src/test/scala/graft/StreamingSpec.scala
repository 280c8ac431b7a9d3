package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamJobs
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

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
}

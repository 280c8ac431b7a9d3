package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.io.{DataWriter, FileWriter, MemoryWriter, FanoutWriter, ExtractJob}

/** The reference's writer surface (data_reader_writer/base.py,
  * main.py:44-67): memory sink, file sink, fan-out composition with
  * null-filtering, and the per-document output dump through them. */
class WritersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("fanout mirrors every write to all non-null members") {
    val m1 = new MemoryWriter; val m2 = new MemoryWriter
    val fan = new FanoutWriter(m1, null, m2)
    fan.writeString("a/b.md", "hello")
    fan.write("img\\x.png", Array[Byte](1, 2, 3))
    Seq(m1, m2).foreach { m =>
      assert(new String(m.data("a/b.md"), "UTF-8") == "hello")
      assert(m.data("img/x.png").toSeq == Seq[Byte](1, 2, 3), "path normalized")
    }
  }

  test("writeOutputs dumps md + content_list per doc through the writer") {
    import spark.implicits._
    val ids = (0 until 24).map(i => f"doc-$i%012d")
    val docs = spark.createDataset(ids).map(graft.corpus.DocGen.docRow _)
    val mem = new MemoryWriter
    val tmp = java.nio.file.Files.createTempDirectory("graft_writers").toString
    val n = ExtractJob.writeOutputs(spark, docs,
      new FanoutWriter(mem, new FileWriter(tmp)))
    assert(n == 24)
    ids.foreach { id =>
      val expect = graft.corpus.DocGen.golden(id)
      assert(new String(mem.data(s"$id.md"), "UTF-8") == expect.markdown,
        s"markdown mismatch for $id")
      // the file sink carries byte-identical content
      val onDisk = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tmp, s"$id.md"))
      assert(onDisk.toSeq == mem.data(s"$id.md").toSeq)
      val cl = new String(mem.data(s"${id}_content_list.json"), "UTF-8")
      assert(cl.startsWith("[") && cl.endsWith("]"))
      // content_list carries exactly the golden span kinds in order
      val kinds = """"type":"([a-z_]+)"""".r
        .findAllMatchIn(cl).map(_.group(1)).toVector
      assert(kinds == expect.spans.map(_.kind).toVector, s"content_list kinds for $id")
    }
    // cleanup
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
      .toVector.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("content_list json escapes control and quote characters") {
    val res = graft.schema.DocResult("d",
      Vector(graft.schema.OutSpan("text", "a\"b\\c\nd", "", 0)), "")
    val js = ExtractJob.contentListJson(res)
    assert(js.contains("""a\"b\\c\nd"""))
  }
}

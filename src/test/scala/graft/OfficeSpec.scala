package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.DocxGen
import graft.office.OfficeConvert
import graft.schema.Kinds

/** Office path: the zip + OOXML round trip must recover the authored span
  * sequence exactly (office_analyze.py -> docx_converter.py surface). */
class OfficeSpec extends AnyFunSuite {

  test("500-doc golden equality through real packages of all three formats") {
    var formats = Set.empty[String]
    (0 until 500).foreach { i =>
      val id = f"doc-$i%012d"
      formats += graft.corpus.OfficeGen.formatOf(id)
      val got = graft.office.OfficeConvert
        .convert(id, graft.corpus.OfficeGen.bytes(id)).spans
      val want = graft.corpus.OfficeGen.golden(id)
      assert(got == want, s"office spans diverged for $id")
    }
    assert(formats == Set("docx", "xlsx", "pptx"))
  }

  test("corpus exercises every supported block kind") {
    val kinds = (0 until 500).flatMap { i =>
      graft.corpus.OfficeGen.golden(f"doc-$i%012d").map(_.kind)
    }.toSet
    assert(Set(Kinds.Title, Kinds.Text, Kinds.Table, Kinds.ListK,
      Kinds.Figure, Kinds.Caption, Kinds.Hyperlink).subsetOf(kinds))
  }

  test("xlsx: sharedStrings indirection, cell gaps and sheet order survive") {
    val id = (0 until 100).map(i => f"doc-$i%012d")
      .find(id => graft.corpus.OfficeGen.formatOf(id) == "xlsx").get
    val got = graft.office.OfficeConvert
      .convert(id, graft.corpus.OfficeGen.bytes(id)).spans
    assert(got.count(_.kind == Kinds.Table) >= 1)
    assert(got.head.kind == Kinds.Title, "sheet name leads")
  }

  test("pptx: slides follow presentation order, not part numbering") {
    val id = (0 until 100).map(i => f"doc-$i%012d")
      .find(id => graft.corpus.OfficeGen.formatOf(id) == "pptx").get
    val got = graft.office.OfficeConvert
      .convert(id, graft.corpus.OfficeGen.bytes(id)).spans
    val want = graft.corpus.OfficeGen.golden(id)
    assert(got == want, "reversed slide part numbering must not reorder")
  }

  test("XML entities and split runs survive the round trip") {
    // hand-built package: escaped chars, a 3-run paragraph with preserved
    // spaces, a heading level from the style name
    val doc =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body>
        |<w:p><w:pPr><w:pStyle w:val="Heading3"/></w:pPr><w:r><w:t>T &amp; U &lt;V&gt;</w:t></w:r></w:p>
        |<w:p><w:r><w:t xml:space="preserve">alpha </w:t></w:r><w:r><w:t xml:space="preserve">beta </w:t></w:r><w:r><w:t>gamma.</w:t></w:r></w:p>
        |</w:body></w:document>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(doc.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    val res = OfficeConvert.convert("t", bos.toByteArray)
    assert(res.spans.map(s => (s.kind, s.text)) == Vector(
      (Kinds.Title, "T & U <V>"),
      (Kinds.Text, "alpha beta gamma.")))
    assert(res.markdown.startsWith("### T & U <V>"), res.markdown)
  }

  test("consecutive numbered paragraphs fold into one list block") {
    val id = (0 until 200).map(i => f"doc-$i%012d")
      .find(id => DocxGen.golden(id).exists(_.kind == Kinds.ListK)).get
    val got = OfficeConvert.convert(id, DocxGen.docxBytes(id)).spans
    val lists = got.filter(_.kind == Kinds.ListK)
    assert(lists.nonEmpty)
    assert(lists.forall(_.text.contains("\n")), "items joined into one block")
  }

  test("OMML equations, textboxes and header parts (r4 docx depth)") {
    // non-vacuity over the corpus: both features occur and round-trip
    var eqDocs = 0; var tbxDocs = 0
    (0 until 200).foreach { i =>
      val id = f"doc-$i%012d"
      if (graft.corpus.OfficeGen.formatOf(id) == "docx") {
        val parts = graft.office.Ooxml.readZip(graft.corpus.DocxGen.docxBytes(id))
        val xml = parts("word/document.xml")
        if (xml.contains("<m:oMath>")) eqDocs += 1
        if (xml.contains("<w:txbxContent>")) tbxDocs += 1
        // headers authored in every package, never leaked
        assert(xml.contains("headerReference") && parts.contains("word/header1.xml"))
        val got = OfficeConvert.convert(id, graft.corpus.DocxGen.docxBytes(id)).spans
        assert(got == graft.corpus.DocxGen.golden(id), s"docx r4 round trip $id")
        assert(!got.exists(_.text.contains("RUNNING HEAD")), s"header leaked in $id")
      }
    }
    assert(eqDocs > 5, s"no OMML docs in corpus ($eqDocs)")
    assert(tbxDocs > 5, s"no textbox docs in corpus ($tbxDocs)")
  }

  test("hand case: oMath re-wraps as $..$; mc:Fallback duplicate is not doubled") {
    val doc =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body>
        |<w:p><w:r><w:t xml:space="preserve">energy </w:t></w:r><m:oMath><m:r><m:t>E=mc^2</m:t></m:r></m:oMath><w:r><w:t xml:space="preserve"> holds.</w:t></w:r></w:p>
        |<w:p><w:r><mc:AlternateContent><mc:Choice Requires="wps"><w:drawing><wps:txbx><w:txbxContent><w:p><w:r><w:t>boxed note</w:t></w:r></w:p></w:txbxContent></wps:txbx></w:drawing></mc:Choice><mc:Fallback><w:pict><v:textbox><w:txbxContent><w:p><w:r><w:t>boxed note</w:t></w:r></w:p></w:txbxContent></v:textbox></w:pict></mc:Fallback></mc:AlternateContent></w:r></w:p>
        |</w:body></w:document>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    zip.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zip.write(doc.getBytes("UTF-8")); zip.closeEntry(); zip.close()
    val res = OfficeConvert.convert("t", bos.toByteArray)
    assert(res.spans.map(_.text) == Vector("energy $E=mc^2$ holds.", "boxed note"))
  }
}

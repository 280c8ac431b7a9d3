package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.Kinds
import graft.html.HtmlConvert
import graft.office.OfficeConvert

/** Mutation-robustness fixtures for the HTML strip rules and the office
  * converters (VERDICT r3 task 2): every fixture is HAND-AUTHORED bytes
  * with a hand-written EXACT expected span sequence, asserted against the
  * converter directly — so a deliberate mutation of a rule constant
  * (link-density factor, caps length cap, short threshold, numbering
  * grouping, merge spans, slide-order source) fails a named spec here,
  * not just the frozen-parquet compare. Table-merge got this treatment
  * in r3; this spec extends it to the other converters. */
class ConverterFixtureSpec extends AnyFunSuite {

  private def page(body: String): Array[Byte] =
    s"<html><head><title>t</title></head><body><main>$body</main></body></html>"
      .getBytes("UTF-8")

  private def spans(body: String): Vector[(String, String)] =
    HtmlConvert.convert("t", page(body)).spans.toVector.map(s => (s.kind, s.text))

  // ---- rule 2: link density (2·anchorChars > chars) -----------------------

  test("link density: anchor exactly half the text survives, one char more dies") {
    // total text 50 chars, anchor 25: 2*25 = 50, NOT > 50 -> kept
    val borderKeep = "<p>" + "x" * 25 + "<a href=\"/k\">" + "y" * 25 + "</a></p>"
    // total text 51 chars, anchor 26: 2*26 = 52 > 51 -> dropped
    val borderDrop = "<p>" + "x" * 25 + "<a href=\"/d\">" + "y" * 26 + "</a></p>"
    val anchor = "<p>A real paragraph of plenty readable content words here.</p>"
    assert(spans(anchor + borderKeep) == Vector(
      (Kinds.Text, "A real paragraph of plenty readable content words here."),
      (Kinds.Text, "x" * 25 + "y" * 25)))
    assert(spans(anchor + borderDrop) == Vector(
      (Kinds.Text, "A real paragraph of plenty readable content words here.")))
  }

  test("link density: a link-farm ul is boilerplate, a plain ul is content") {
    val body =
      """<ul><li>Alpha beta gamma</li><li>Delta epsilon zeta</li></ul>""" +
        """<ul><li><a href="/1">alpha link one</a></li><li><a href="/2">beta link two</a></li></ul>"""
    assert(spans(body) == Vector((Kinds.ListK, "Alpha beta gamma\nDelta epsilon zeta")))
  }

  // ---- rule 3: unlikely class/id ------------------------------------------

  test("unlikely class/id: share/comments drop, a neutral class survives") {
    val body =
      """<div class="share-tools">Share this with all your readers today</div>""" +
        """<div id="comments"><h3>Comments</h3><p>A comment that reads like content.</p></div>""" +
        """<div class="body-copy">A paragraph in a neutrally-classed wrapper div.</div>"""
    assert(spans(body) == Vector(
      (Kinds.Text, "A paragraph in a neutrally-classed wrapper div.")))
  }

  // ---- rule 4: short-caps ad markers --------------------------------------

  test("short-caps: <=60-char all-caps drops; 61-char all-caps is kept") {
    val caps60 = "A" * 60
    val caps61 = "B" * 61
    assert(spans(s"<p>$caps60</p><p>$caps61</p>") == Vector((Kinds.Text, caps61)))
  }

  test("short-caps: lowercase anywhere disarms the caps rule") {
    val body = "<p>ADVERTISEMENT but with lowercase words around it.</p>"
    assert(spans(body) == Vector(
      (Kinds.Text, "ADVERTISEMENT but with lowercase words around it.")))
  }

  // ---- rule 5: context-sensitive revision ---------------------------------

  private val shortP = "<p>It simply holds.</p>" // 16 chars < 25: short
  private val good = "<p>A real paragraph with plenty of readable words in it.</p>"
  private val goodText = "A real paragraph with plenty of readable words in it."
  private val farm = """<p><a href="/f">all of this text is one link</a></p>"""

  test("context: short between good neighbors is kept") {
    assert(spans(good + shortP + good) == Vector(
      (Kinds.Text, goodText), (Kinds.Text, "It simply holds."), (Kinds.Text, goodText)))
  }

  test("context: short between two link farms is dropped") {
    assert(spans(farm + shortP + farm) == Vector.empty)
  }

  test("context: one good side rescues; page edges count as bad") {
    // good LEFT, farm right -> kept
    assert(spans(good + shortP + farm) == Vector(
      (Kinds.Text, goodText), (Kinds.Text, "It simply holds.")))
    // page edge left, good right -> kept (only BOTH-bad drops)
    assert(spans(shortP + good) == Vector(
      (Kinds.Text, "It simply holds."), (Kinds.Text, goodText)))
    // page edge left, farm right -> dropped
    assert(spans(shortP + farm) == Vector.empty)
    // a short ALONE on the page: both sides are edges -> dropped
    assert(spans(shortP) == Vector.empty)
  }

  test("context: a chain of shorts inherits across the whole run") {
    val s2 = "<p>Then it stays.</p>"
    assert(spans(good + shortP + s2 + farm) == Vector(
      (Kinds.Text, goodText), (Kinds.Text, "It simply holds."),
      (Kinds.Text, "Then it stays.")))
    assert(spans(farm + shortP + s2 + farm) == Vector.empty)
  }

  // ---- soup: the strip walk over crawl-grade markup -----------------------

  test("implied-</p> soup: unclosed p/li, uppercase tags, valueless attr") {
    val soup =
      ("<html><head><title>t</title></head><body><MAIN>" +
        "<h1>Doc Title</h1>" +
        "<p>First paragraph of plenty readable content words here." +
        "<p>Second paragraph also carrying plenty of readable words." +
        "<H2>Results Section</H2>" +
        "<ul compact><li>Alpha beta<li>Gamma delta</ul>" +
        "</MAIN></body></html>").getBytes("UTF-8")
    assert(HtmlConvert.convert("t", soup).spans.map(s => (s.kind, s.text)) == Vector(
      (Kinds.Title, "Doc Title"),
      (Kinds.Text, "First paragraph of plenty readable content words here."),
      (Kinds.Text, "Second paragraph also carrying plenty of readable words."),
      (Kinds.Title, "Results Section"),
      (Kinds.ListK, "Alpha beta\nGamma delta")))
  }

  // ---- office: hand-built packages ----------------------------------------

  private def zipOf(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(4096)
    val zip = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      zip.putNextEntry(e)
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    bos.toByteArray
  }

  test("docx numbering: same numId groups; a new numId or a plain p splits") {
    val doc =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body>
        |<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr></w:pPr><w:r><w:t>one a</w:t></w:r></w:p>
        |<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr></w:pPr><w:r><w:t>one b</w:t></w:r></w:p>
        |<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="2"/></w:numPr></w:pPr><w:r><w:t>two a</w:t></w:r></w:p>
        |<w:p><w:r><w:t>between paragraph.</w:t></w:r></w:p>
        |<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="3"/></w:numPr></w:pPr><w:r><w:t>three a</w:t></w:r></w:p>
        |<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="3"/></w:numPr></w:pPr><w:r><w:t>three b</w:t></w:r></w:p>
        |</w:body></w:document>""".stripMargin
    val res = OfficeConvert.convert("t", zipOf("word/document.xml" -> doc))
    assert(res.spans.map(s => (s.kind, s.text)) == Vector(
      (Kinds.ListK, "one a\none b"),
      (Kinds.ListK, "two a"),
      (Kinds.Text, "between paragraph."),
      (Kinds.ListK, "three a\nthree b")))
  }

  test("xlsx merged cells: anchor carries colspan+rowspan, covered cells vanish") {
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin
    val sst =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<si><t>Head</t></si><si><t>Wide</t></si><si><t>Tail</t></si>
        |</sst>""".stripMargin
    // 3x3 grid; B2:C3 merged (anchor B2 = "Wide"); A1 string via sst,
    // C1 and A3 numbers inline, gaps elsewhere pad to the 3-col extent
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1"><v>42</v></c></row>
        |<row r="2"><c r="B2" t="s"><v>1</v></c></row>
        |<row r="3"><c r="A3"><v>7</v></c></row>
        |</sheetData>
        |<mergeCells count="1"><mergeCell ref="B2:C3"/></mergeCells>
        |</worksheet>""".stripMargin
    val bytes = zipOf("xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> sheet)
    val got = OfficeConvert.convert("t", bytes).spans.map(s => (s.kind, s.text))
    assert(got == Vector(
      (Kinds.Title, "Data"),
      (Kinds.Table,
        "<table><tr><td>Head</td><td></td><td>42</td></tr>" +
          "<tr><td></td><td colspan=\"2\" rowspan=\"2\">Wide</td></tr>" +
          "<tr><td>7</td></tr></table>")))
  }

  test("pptx slide order: sldIdLst through rels wins over part numbering") {
    def slide(title: String): String =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
         |  xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">
         |<p:cSld><p:spTree><p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>
         |<p:txBody><a:p><a:r><a:t>$title</a:t></a:r></a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>""".stripMargin
    val presentation =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<p:sldIdLst><p:sldId id="256" r:id="rId1"/><p:sldId id="257" r:id="rId2"/></p:sldIdLst>
        |</p:presentation>""".stripMargin
    // rId1 (FIRST in presentation order) -> part slide2.xml; rId2 -> slide1.xml
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide2.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide1.xml"/>
        |</Relationships>""".stripMargin
    val bytes = zipOf(
      "ppt/presentation.xml" -> presentation,
      "ppt/_rels/presentation.xml.rels" -> rels,
      "ppt/slides/slide1.xml" -> slide("Second In Order"),
      "ppt/slides/slide2.xml" -> slide("First In Order"))
    assert(OfficeConvert.convert("t", bytes).spans.map(s => (s.kind, s.text)) ==
      Vector((Kinds.Title, "First In Order"), (Kinds.Title, "Second In Order")))
  }

  test("xlsx date-format styles render serials as datetimes; plain numbers stay") {
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |  xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Dates" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/><xf numFmtId="4"/></cellXfs>
        |</styleSheet>""".stripMargin
    // A1: serial 45366 with date style (xf 1 -> numFmtId 14) ->
    // 2024-03-15; B1: the SAME number with a non-date style (xf 2) stays
    // raw; C1: unstyled number stays raw
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" s="1"><v>45366</v></c><c r="B1" s="2"><v>45366</v></c><c r="C1"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bytes = zipOf("xl/workbook.xml" -> workbook,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" -> sheet)
    val got = OfficeConvert.convert("t", bytes).spans.map(_.text)
    assert(got == Vector("Dates",
      "<table><tr><td>2024-03-15 00:00:00</td><td>45366</td><td>7</td></tr></table>"))
  }

  test("lazy images: data-src is the fallback, a real src wins") {
    val body =
      """<figure><img loading="lazy" data-src="img://lazyhash"/><figcaption>Figure 1: Lazy</figcaption></figure>""" +
        """<img src="img://realhash" data-src="img://decoy"/>"""
    val got = HtmlConvert.convert("t", page(body)).spans.map(s => (s.kind, s.media_ref))
    assert(got == Vector(
      (Kinds.Figure, "img://lazyhash"), (Kinds.Caption, ""),
      (Kinds.Figure, "img://realhash")))
  }
}

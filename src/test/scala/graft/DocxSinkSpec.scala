package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.{DocxSink, DrawBoxes}
import graft.schema.{Det, Kinds, OrderedBlock, PageModel}

/** Post-form sinks: result -> .docx (round-tripped through the office
  * converter) and the SVG draw_bbox debug rendering. */
class DocxSinkSpec extends AnyFunSuite {

  test("result -> docx -> converter round trip recovers representable spans") {
    // real extraction output for a corpus doc
    val res = graft.pipeline.Extract.extractDoc(graft.corpus.DocGen.docRow("doc-000000000007"))
    val blocks = res.spans.map(s => OrderedBlock(s.kind, s.text, s.media_ref, 0, s.order,
      if (s.kind == Kinds.Title) 2 else 0))
    val bytes = DocxSink.render(blocks)
    val back = graft.office.OfficeConvert.convert("rt", bytes).spans
    // representable kinds survive exactly; the rest degrade to text with
    // the same content
    val want = res.spans.map { s =>
      s.kind match {
        case Kinds.Title | Kinds.Table | Kinds.ListK | Kinds.Figure |
             Kinds.Hyperlink => (s.kind, s.text, s.media_ref)
        case Kinds.Caption | Kinds.Footnote | Kinds.ImageFootnote =>
          (Kinds.Caption, s.text, "")
        case Kinds.Index => (Kinds.ListK, s.text, "")
        case _ => (Kinds.Text, s.text, "")
      }
    }.filterNot { case (k, t, _) => k == Kinds.Text && t.isEmpty }
    assert(back.map(s => (s.kind, s.text, s.media_ref)) == want)
  }

  test("svg draw_bbox renders every det with its category") {
    val pm = PageModel("d", 0, 612, 792, Vector(
      Det(Kinds.Title, 36, 50, 576, 82, 1.0, "T", ""),
      Det(Kinds.Table, 36, 100, 300, 200, 0.9, "<table/>", "")),
      regions = Vector(Det("region", 30, 40, 580, 210, 1.0, "", "")))
    val svg = DrawBoxes.renderSvg(pm)
    assert(svg.startsWith("<svg"))
    assert(svg.contains(">title</text>") && svg.contains(">table</text>") &&
      svg.contains(">region</text>"))
    assert(svg.split("<rect ").length == 5) // background + region + 2 dets
  }
}

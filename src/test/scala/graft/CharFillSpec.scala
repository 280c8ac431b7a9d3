package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.PageOps
import graft.schema.{CharDet, Det, Kinds}

/** char->span fill (span_pre_proc.py:365-436): grid bucketing, center
  * containment, the punctuation edge tolerances, and the OCR-fallback
  * drop of unfillable spans. */
class CharFillSpec extends AnyFunSuite {

  private val span = Det(Kinds.Text, 36, 100, 336, 112, 0.9, "", "")

  test("chars fill by center containment and rebuild in char_idx order") {
    val chars = Seq(
      CharDet("b", 46, 102, 56, 110, 1),
      CharDet("a", 36, 102, 46, 110, 0),
      CharDet("c", 56, 102, 66, 110, 2))
    val out = PageOps.fillChars(Vector(span), chars)
    assert(out == Vector(span.copy(text = "abc")))
  }

  test("line-end stop char overhanging the right edge is admitted by the edge rule") {
    val stop = CharDet(".", 334, 102, 344, 110, 1) // center x = 339 > x1
    val a = CharDet("a", 36, 102, 46, 110, 0)
    val out = PageOps.fillChars(Vector(span), Seq(a, stop))
    assert(out.head.text == "a.")
    // a non-stop char in the same overhang position is NOT admitted
    val plain = CharDet("z", 334, 102, 344, 110, 1)
    assert(PageOps.fillChars(Vector(span), Seq(a, plain)).head.text == "a")
  }

  test("line-start bracket overhanging the left edge is admitted") {
    val open = CharDet("(", 28, 102, 40, 110, 0) // center x = 34 < x0
    val a = CharDet("a", 40, 102, 50, 110, 1)
    assert(PageOps.fillChars(Vector(span), Seq(open, a)).head.text == "(a")
  }

  test("char whose center axis strays beyond a third of the span height is rejected") {
    val off = CharDet("a", 36, 106, 46, 120, 0) // center y 113 vs span center 106
    val out = PageOps.fillChars(Vector(span), Seq(off))
    assert(out.isEmpty, "span stays empty and is dropped (OCR fallback analogue)")
  }

  test("grid routes each char to the topmost matching span") {
    val s1 = span
    val s2 = span.copy(y0 = 114, y1 = 126)
    val c1 = CharDet("x", 36, 116, 46, 124, 0) // belongs to s2
    val out = PageOps.fillChars(Vector(s1, s2), Seq(c1))
    assert(out == Vector(s2.copy(text = "x")), "s1 unfillable-empty drops, s2 filled")
  }

  test("a span that already has text takes no chars from the empty line under it") {
    // the shadow sorts first (smaller y0) and covers the line's head chars
    val shadow = Det(Kinds.Text, 38, 98, 200, 112, 0.9, "dangling footer shadow", "")
    val chars = Seq(CharDet("a", 40, 102, 50, 110, 0), CharDet("b", 50, 102, 60, 110, 1),
      CharDet("c", 250, 102, 260, 110, 2))
    val out = PageOps.fillChars(Vector(shadow, span), chars)
    assert(out == Vector(shadow, span.copy(text = "abc")), s"got ${out.map(_.text)}")
  }

  test("extraction with char-layer blocks reproduces the golden (targeted docs)") {
    import graft.corpus.DocGen
    // find docs that actually exercise the char layer
    val ids = (0 until 300).map(i => f"doc-$i%012d").filter { id =>
      DocGen.docRow(id).spans.exists(s => graft.kernel.StubModel.usesCharLayer(id, s))
    }
    assert(ids.nonEmpty)
    ids.take(20).foreach { id =>
      val got = graft.pipeline.Extract.extractDoc(DocGen.docRow(id))
      assert(got.spans == DocGen.golden(id).spans, s"char-layer doc $id")
    }
  }

  test("contrast gate: sub-0.17 blank crops are removed, >= 0.17 goes to OCR") {
    val anchor = span // carries a char so the page's char layer is non-empty
    val a = CharDet("a", 36, 102, 46, 110, 0)
    val blank = Det(Kinds.Text, 400, 100, 460, 112, 0.9, "", "", contrast = 0.12)
    val ocr = Det(Kinds.Text, 36, 130, 336, 142, 0.9, "", "",
      contrast = 0.45, ocrStub = "recovered by ocr")
    val boundary = Det(Kinds.Text, 36, 160, 336, 172, 0.9, "", "",
      contrast = 0.17, ocrStub = "boundary kept") // == 0.17: gate is STRICT <
    val lowStub = Det(Kinds.Text, 36, 190, 336, 202, 0.9, "", "",
      contrast = 0.16, ocrStub = "never seen") // sub-threshold even WITH a stub
    val out = PageOps.fillChars(Vector(anchor, blank, ocr, boundary, lowStub), Seq(a))
    assert(out.map(_.text) == Vector("a", "recovered by ocr", "boundary kept"),
      s"contrast gate mis-routed: ${out.map(d => (d.text, d.contrast))}")
  }

  test("kernel authors the need-OCR and blank-crop paths non-vacuously") {
    var needOcr = 0; var boundary = 0; var blank = 0; var docs = 0
    (0 until 300).foreach { i =>
      val doc = graft.corpus.DocGen.docRow(f"doc-$i%012d")
      graft.kernel.StubModel.analyze(doc).foreach { page =>
        page.dets.foreach { d =>
          if (d.ocrStub.nonEmpty) {
            needOcr += 1
            if (d.contrast == 0.17) boundary += 1
          }
          if (d.contrast < 0.17) blank += 1
        }
      }
      docs += 1
    }
    assert(needOcr > 100, s"needOcr=$needOcr")
    assert(boundary > 5, s"boundary=$boundary")
    assert(blank > 30, s"blank=$blank")
  }
}

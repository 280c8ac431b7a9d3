package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{Det, Kinds, PageModel}
import graft.pipeline.PageOps

/** The reference's exact block-nesting rule ladder
  * (prepare_block_bboxes, block_pre_proc.py:65-105,125-261), each rule
  * pinned directionally — these four CANNOT be recovered from the
  * score-based IoU dedup or the 0.65 containment walk:
  *   1. text-over-title IoU>0.8 drops the TITLE even at higher score;
  *   2. any block >0.6-inside a discarded region drops;
  *   3. interline-eq-over-text IoU>0.8 drops the TEXT;
  *   4. a wide bottom discarded box is a footnote fence — blocks under it
  *      with >=0.8 x-projection cover drop;
  *   5. big-eats-small >0.8 UNIONS the smaller's bbox into the larger
  *      (observable through the title-height level ladder).
  */
class BlockNestingSpec extends AnyFunSuite {

  private def page(dets: Vector[Det]) =
    PageModel("d", 0, graft.kernel.StubModel.PageW,
      graft.kernel.StubModel.PageH, dets)

  private def kinds(dets: Vector[Det]) =
    PageOps.process(page(dets)).map(b => (b.kind, b.text))

  test("rule 1: overlapping TITLE drops even when its score beats the text") {
    // paragraph block 36..336 x 100..152 (4 lines); title 4% larger, IoU
    // ≈ 0.857 — outside the >0.9 IoU-dedup band, higher score
    val lines = (0 until 4).map(i =>
      Det(Kinds.Text, 36, 100 + 14.0 * i, 336, 112 + 14.0 * i, 0.7,
        s"line $i text", "", -1)).toVector
    val title = Det(Kinds.Title, 24, 97.9, 348, 154.1, 0.99, "BOGUS", "", -1)
    val out = kinds(lines :+ title)
    assert(!out.exists(_._1 == Kinds.Title), s"bogus title survived: $out")
    assert(out.exists(t => t._1 == Kinds.Text && t._2.contains("line 0")))
  }

  test("rule 3: junk TEXT over a display formula drops; the formula wins") {
    val eq = Det(Kinds.Formula, 100, 200, 400, 240, 0.6, "$$x$$", "", -1)
    val junk = Det(Kinds.Text, 88, 198.4, 412, 241.6, 0.97, "misread", "", -1)
    val out = kinds(Vector(eq, junk))
    assert(out == Vector((Kinds.Formula, "$$x$$")), s"got $out")
  }

  test("rule 2: a block mostly inside a discarded region drops with it") {
    val header = Det(Kinds.Abandon, 36, 12, 576, 30, 0.95, "RUNNING HEAD", "")
    val junk = Det(Kinds.Text, 66, 14, 186, 28, 0.88, "stray echo", "", -1)
    val real = Det(Kinds.Text, 36, 100, 336, 112, 0.7, "body text", "", -1)
    val out = kinds(Vector(header, junk, real))
    assert(out == Vector((Kinds.Text, "body text")), s"got $out")
  }

  test("rule 4: wide bottom discarded box fences everything under it") {
    val footer = Det(Kinds.Abandon, 36, 752, 400, 768, 0.93, "footer", "")
    // 140 wide — far past the 60px page-number fence, only the footnote
    // fence can remove it
    val junk = Det(Kinds.Text, 44, 770, 184, 784, 0.9, "shadow", "", -1)
    val real = Det(Kinds.Text, 36, 100, 336, 112, 0.7, "body text", "", -1)
    val out = kinds(Vector(footer, junk, real))
    assert(out == Vector((Kinds.Text, "body text")), s"got $out")
    // a NARROW discarded box (under a third of the page) is NOT a fence
    val narrow = Det(Kinds.Abandon, 36, 752, 200, 768, 0.93, "n", "")
    val out2 = kinds(Vector(narrow, junk.copy(x1 = 164), real))
    assert(out2.exists(_._2 == "shadow"), s"narrow box fenced: $out2")
  }

  test("rule 5: big-eats-small UNIONS the bbox — the title level ladder sees it") {
    // page-head level-3 title (h=18) + smaller overlapping title riding
    // 4px above: overlap/min = 14·0.4W/(22·0.4W) ≈ 0.82, union h=22 → the
    // ladder reads level 2 (>=20), not 3
    val t = Det(Kinds.Title, 36, 56, 576, 74, 0.78, "Section Head", "", -1)
    val shadow = Det(Kinds.Title, 36, 52, 252, 74, 0.9, "", "", -1)
    val out = PageOps.process(page(Vector(t, shadow)))
    assert(out.map(b => (b.kind, b.level)) == Vector((Kinds.Title, 2)),
      s"union level wrong: ${out.map(b => (b.kind, b.level))}")
    // without the shadow the same title reads level 3
    val solo = PageOps.process(page(Vector(t)))
    assert(solo.map(_.level) == Vector(3))
  }

  test("prefilter: degenerate slivers drop; 0.7 overlap drops smaller; exemptions hold") {
    import graft.geom.Geo
    val sliver = Det(Kinds.Text, 100, 100, 104, 112, 0.9, "|", "", -1)
    val a = Det(Kinds.Text, 36, 200, 336, 240, 0.5, "big", "", 1)
    val b = Det(Kinds.Text, 40, 204, 300, 236, 0.9, "small", "", 2)
    assert(Geo.overlapOverMin(a.x0, a.y0, a.x1, a.y1, b.x0, b.y0, b.x1, b.y1) > 0.7)
    // higher score does NOT save the smaller box — the drop is by area
    val out = PageOps.filterOverlapBoxes(Vector(sliver, a, b))
    assert(out.map(_.text) == Vector("big"), s"got ${out.map(_.text)}")
    // a det at or below the low-confidence cut takes no part in the pairing:
    // the larger junk box must not evict the real one it covers
    val junk = Det(Kinds.Text, 36, 200, 336, 240, 0.04, "junk", "", -1)
    assert(PageOps.filterOverlapBoxes(Vector(junk, b)).map(_.text) == Vector("junk", "small"))
    // so does a text det under the rec-confidence floor (step 1 drops it
    // too): the garbled line must not evict the formula number it covers
    val garbled = Det(Kinds.Text, 504, 221, 543, 238, 0.208, "???", "", 9)
    val num = Det(Kinds.FormulaNumber, 510, 222, 540, 242, 0.377, "(10)", "", 10)
    assert(Geo.overlapOverMin(garbled.x0, garbled.y0, garbled.x1, garbled.y1,
      num.x0, num.y0, num.x1, num.y1) > 0.7 && garbled.area > num.area)
    assert(PageOps.filterOverlapBoxes(Vector(garbled, num)).map(_.text) == Vector("???", "(10)"))
    // inline-formula pairs are skipped (the default no-custom-OCR path)
    val line = Det(Kinds.Text, 36, 300, 336, 312, 0.6, "x = y line", "", 3)
    val inl = Det(Kinds.InlineFormula, 100, 300, 200, 312, 0.6, "$x=y$", "", -1)
    assert(PageOps.filterOverlapBoxes(Vector(line, inl)).length == 2)
    // mixed-category pairs involving an image are exempt
    val fig = Det(Kinds.Figure, 36, 400, 336, 520, 0.6, "", "m", 4)
    val label = Det(Kinds.Text, 60, 420, 160, 434, 0.9, "axis", "", -1)
    assert(PageOps.filterOverlapBoxes(Vector(fig, label)).length == 2)
    // same-category media pairs are NOT exempt
    val fig2 = Det(Kinds.Figure, 40, 404, 300, 500, 0.9, "", "n", 5)
    assert(PageOps.filterOverlapBoxes(Vector(fig, fig2)).map(_.media_ref) == Vector("m"))
  }

  test("txt-mode substitution: pure image regions eat dets and inject; background images don't") {
    import graft.schema.CharDet
    val ori = Det(Kinds.Figure, 100, 100, 400, 300, 1.0, "", "img://pure")
    val ghost = Det(Kinds.Text, 120, 120, 220, 134, 0.8, "ghost", "", -1)
    val outside = Det(Kinds.Text, 36, 400, 336, 412, 0.7, "real", "", 1)
    val out = PageOps.removeLayoutInOriImages(
      Vector(ghost, outside), Vector(ori), Nil)
    assert(out.map(d => (d.cat, d.text, d.media_ref, d.score)) ==
      Vector((Kinds.Text, "real", "", 0.7), (Kinds.Figure, "", "img://pure", 1.0)))
    // a char under the image makes it background: dets stay, nothing injects
    val ch = CharDet("a", 150, 150, 160, 162, 0)
    val out2 = PageOps.removeLayoutInOriImages(
      Vector(ghost, outside), Vector(ori), Seq(ch))
    assert(out2.map(_.text) == Vector("ghost", "real"))
    // a pure image with NOTHING deleted injects nothing (:72-74 replaced set)
    val out3 = PageOps.removeLayoutInOriImages(Vector(outside), Vector(ori), Nil)
    assert(out3.map(_.text) == Vector("real"))
    // discarded boxes are preserved even inside a pure image (category 2)
    val aband = Det(Kinds.Abandon, 110, 110, 390, 290, 0.9, "wm", "")
    val out4 = PageOps.removeLayoutInOriImages(Vector(aband), Vector(ori), Nil)
    assert(out4.map(_.cat) == Vector(Kinds.Abandon))
  }

  test("original-image IoU match: a ref-less figure takes the embedded image's ref at IoU>=0.9") {
    import graft.schema.{CharDet, PageModel}
    val fig = Det(Kinds.Figure, 100, 100, 400, 220, 0.8, "", "", -1)
    val ori = Det(Kinds.Figure, 106, 102.4, 406, 222.4, 1.0, "", "img://orig")
    // the watermark char marks the region as a background image for the
    // substitution rule, so only the cut_image IoU path can supply the ref
    val wm = CharDet("©", 250, 160, 258, 170, 0)
    val pm = PageModel("d", 0, graft.kernel.StubModel.PageW,
      graft.kernel.StubModel.PageH, Vector(fig), chars = Vector(wm),
      oriImages = Vector(ori))
    val out = PageOps.process(pm)
    assert(out.map(b => (b.kind, b.media_ref)) ==
      Vector((Kinds.Figure, "img://orig")), s"got $out")
    // below the 0.9 threshold the ref is NOT reused
    val oriFar = ori.copy(x0 = 180, x1 = 480)
    val pm2 = PageModel("d", 0, graft.kernel.StubModel.PageW,
      graft.kernel.StubModel.PageH, Vector(fig), chars = Vector(wm),
      oriImages = Vector(oriFar))
    assert(PageOps.process(pm2).map(_.media_ref) == Vector(""))
  }

  test("sorted_boxes: (y0,x0) sort plus the <10px same-row bubble") {
    // jittered same-visual-row boxes: plain (y0,x0) puts B (y=100) before
    // A (y=103) — the bubble restores reading order because |Δy| < 10 and
    // A starts further left (ocr_utils.py:119-127)
    def box(x: Double, y: Double, t: String) =
      Det(Kinds.Text, x, y, x + 80, y + 12, 0.9, t, "", -1)
    val a = box(36, 103, "left"); val b = box(300, 100, "right")
    assert(PageOps.sortedBoxes(Vector(b, a)).map(_.text) ==
      Vector("left", "right"))
    // Δy >= 10: strictly top-down, no swap
    val c = box(36, 111, "below")
    assert(PageOps.sortedBoxes(Vector(c, b)).map(_.text) ==
      Vector("right", "below"))
    // three-row ladder with jitter: full reading order recovered
    val r2l = box(36, 117, "r2l"); val r2r = box(300, 114, "r2r")
    val r3 = box(36, 130, "r3")
    assert(PageOps.sortedBoxes(Vector(r3, r2r, b, r2l, a)).map(_.text) ==
      Vector("left", "right", "r2l", "r2r", "r3"))
  }

  test("reduct_overlap: contained tie-up candidates drop; identical twins BOTH die") {
    val body = Det(Kinds.Figure, 100, 100, 400, 300, 0.9, "", "m", -1)
    val cap = Det(Kinds.Caption, 100, 304, 400, 318, 0.8, "Figure 1", "", -1)
    val inner = Det(Kinds.Caption, 150, 306, 300, 316, 0.7, "inner dup", "", -1)
    // the contained caption never reaches the tie-up and never renders
    val out = PageOps.emitBlocks(Vector(body, cap, inner)).map {
      case (i, k) => (k, Vector(body, cap, inner)(i).text)
    }
    assert(out == Vector((Kinds.Figure, ""), (Kinds.Caption, "Figure 1")), s"got $out")
    // two IDENTICAL junk footnotes contain each other -> both removed
    // (reduct_overlap's loop marks keep[i]=false for both, :20-27)
    val twin1 = Det(Kinds.Footnote, 100, 330, 250, 344, 0.8, "ghost fn", "", -1)
    val twin2 = Det(Kinds.Footnote, 100, 330, 250, 344, 0.8, "ghost fn", "", -1)
    val out2 = PageOps.emitBlocks(Vector(body, twin1, twin2)).map(_._1)
    assert(out2 == Vector(0), s"twins survived: $out2")
  }

  test("threshold boundaries: each rule's comparator is exactly the reference's") {
    import graft.geom.Geo
    // rule 2 is STRICT > 0.6 of the block's own area: exactly 0.6 survives
    val header = Det(Kinds.Abandon, 0, 0, 400, 30, 0.95, "hdr", "")
    def jk(frac: Double) = { // overlap-in-own-area == frac by construction
      val w = 100.0; val inH = 20.0 * frac
      Det(Kinds.Text, 50, 30 - inH, 50 + w, 50 - inH, 0.9, "j", "", -1)
    }
    assert(kinds(Vector(header, jk(0.6))).exists(_._2 == "j"), "0.6 must survive (strict >)")
    assert(!kinds(Vector(header, jk(0.65))).exists(_._2 == "j"), "0.65 must drop")
    // fence vproj is >= 0.8: exactly 0.8 drops
    val footer = Det(Kinds.Abandon, 36, 752, 400, 768, 0.93, "f", "")
    def sh(cover: Double) = {
      val w = 140.0
      Det(Kinds.Text, 400 - cover * w, 770, 400 - cover * w + w, 784, 0.9, "s", "", -1)
    }
    assert(!kinds(Vector(footer, sh(0.8))).exists(_._2 == "s"), "0.8 cover must fence")
    assert(kinds(Vector(footer, sh(0.75))).exists(_._2 == "s"), "0.75 cover survives")
    // prefilter is STRICT > 0.7 over the smaller: exactly 0.7 keeps both
    def pair(frac: Double) = {
      val a = Det(Kinds.Text, 0, 0, 300, 40, 0.5, "big", "", 1)
      val w = 200.0 // smaller box shifted so overlap/min == frac exactly
      val bb = Det(Kinds.Text, 300 - frac * w, 0, 300 - frac * w + w, 40, 0.9, "small", "", 2)
      Vector(a, bb)
    }
    assert(PageOps.filterOverlapBoxes(pair(0.7)).length == 2, "0.7 exactly keeps both")
    assert(PageOps.filterOverlapBoxes(pair(0.75)).length == 1, "0.75 drops the smaller")
    // union rule is STRICT > 0.8 over the smaller
    val t8 = Det(Kinds.Title, 36, 56, 576, 74, 0.78, "Head", "", -1)
    // shadow with overlap/min exactly 0.8: 14.4/18 of its height inside
    val s8 = Det(Kinds.Title, 36, 56 - 3.6, 252, 74 - 3.6, 0.9, "", "", -1)
    val out8 = PageOps.process(page(Vector(t8, s8)))
    assert(out8.map(_.level).max == 3, s"0.8 exactly must NOT union: $out8")
    // verify the constructed ratio really is 0.8
    assert(math.abs(Geo.overlapOverMin(t8.x0, t8.y0, t8.x1, t8.y1,
      s8.x0, s8.y0, s8.x1, s8.y1) - 0.8) < 1e-9)
  }

  test("virtual-line ladder: every insert_lines_into_block branch") {
    import graft.order.VirtualLines._
    // short block: whole box
    assert(insertLines(0, 0, 300, 20, 12, 612, 792) == Vector((0.0, 0.0, 300.0, 20.0)))
    // probable double column: tall (>198) and 153 < w < 306 -> slice at lh
    assert(insertLines(0, 0, 200, 200, 12, 612, 792).length == 16) // floor(200/12)
    // wide figure (>244.8): exactly 3
    assert(insertLines(0, 0, 300, 100, 12, 612, 792).length == 3)
    // probable three-column (153 < w <= 244.8, not tall): slice at lh
    assert(insertLines(0, 0, 200, 100, 12, 612, 792).length == 8)
    // tall and narrow (aspect > 1.2): whole box
    assert(insertLines(0, 0, 100, 150, 12, 612, 792) == Vector((0.0, 0.0, 100.0, 150.0)))
    // default: 2 lines
    assert(insertLines(0, 0, 100, 110, 12, 612, 792).length == 2)
    // exact median with the even-count average; default 10 on empty
    assert(lineHeight(Seq(10, 14)) == 12.0 && lineHeight(Nil) == 10.0)
  }

  test("kernel authors all eight traps non-vacuously") {
    var tA = 0; var tB = 0; var tC = 0; var tD = 0; var tE = 0
    var tF = 0; var tG = 0; var tH = 0
    (0 until 400).foreach { i =>
      val id = f"doc-$i%012d"
      graft.kernel.StubModel.analyze(graft.corpus.DocGen.docRow(id)).foreach { pm =>
        pm.dets.foreach { d =>
          if (d.cat == Kinds.Title && d.text == "SPURIOUS HEADING") tA += 1
          if (d.text == "misread equation pixels") tB += 1
          if (d.text == "stray header echo") tC += 1
          if (d.text == "dangling footer shadow") tD += 1
          if (d.cat == Kinds.Title && d.text.isEmpty && d.h == 22.0) tE += 1
          if (d.text == "chart label ghost") tF += 1
          if (d.text == "|" && d.w == 4.0) tH += 1
        }
        if (pm.oriImages.exists(_.media_ref.startsWith("img://bg"))) tG += 1
      }
    }
    assert(tA > 30, s"title trap vacuous: $tA")
    assert(tB > 5, s"eq trap vacuous: $tB")
    assert(tC > 100, s"discarded trap vacuous: $tC")
    assert(tD > 60, s"fence trap vacuous: $tD")
    assert(tE > 5, s"union trap vacuous: $tE")
    assert(tF > 10, s"ori-substitution trap vacuous: $tF")
    assert(tG > 10, s"background-image negative vacuous: $tG")
    assert(tH > 10, s"sliver trap vacuous: $tH")
  }
}

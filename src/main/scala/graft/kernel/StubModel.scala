package graft.kernel

import graft.schema._
import graft.util.{Rng, SplitMix64}
import graft.order.XYCut
import scala.collection.mutable.ArrayBuffer

/** The kernel boundary (SURVEY.md §2.8): the only stage allowed to leave
  * Catalyst. In production this is a per-partition lazily-initialized ONNX
  * Runtime session running layout detection / OCR / table recognition; in
  * the sandbox it is a deterministic stub honoring the same interface
  * (pipeline_analyze.py:21-51 model singletons -> executor-local object).
  */
trait DocModel extends Serializable {
  /** doc -> per-page model output (the analogue of the reference's
    * `infer_results` model JSON, pipeline_analyze.py:221-228). */
  def analyze(doc: DocRow): Seq[PageModel]
}

/** Deterministic stub "layout model": renders the document's spans onto
  * 612x792 pages (title band, one or two columns, boilerplate margins),
  * then emulates model imperfections the pipeline must clean up —
  * low-confidence noise detections, duplicate boxes, mislabeled page
  * numbers, and a scrambled emission order. Everything derives from
  * Rng.stream("kernel", doc_id): reproducible on any executor. */
object StubModel extends DocModel {
  // the extraction operator's plan string names its model: keep it stable
  override def toString: String = "StubModel"
  val PageW = 612.0
  val PageH = 792.0
  private val MarginX = 36.0
  // Both the unit gap and the column gap must exceed the worst intra-unit
  // attachment distance (body->caption->footnote = 4+18+4 = 26), or the
  // greedy tie-up could prefer a neighbouring unit's body — including one
  // across the column gutter — over the attachment's own. The column gap
  // additionally must exceed 3x that distance (78): the tie-up's relative
  // rejection only discards a pair when pair_dis >= 3 * nearest_dis
  // (magic_model_utils.py:104-113), so a cross-gutter body within 78px of
  // a footnote whose own body sits a full caption away (26) would be
  // ACCEPTED by the reference's own sweep and flip the emission position.
  private val ColGap = 80.0
  private val UnitGap = 34.0   // between logical units
  private val AttachGap = 4.0  // body <-> caption/footnote (tie-up anchor)
  private val ContentTopTitle = 100.0
  private val ContentTop = 60.0
  private val ContentBottom = 744.0

  private val attachKinds =
    Set(Kinds.Caption, Kinds.Footnote, Kinds.ImageFootnote, Kinds.FormulaNumber)

  // interned single-char strings for the text layer: a char-layer page
  // emits ~130 CharDets, and a fresh String per char is fleet-wide
  // allocation churn at 32 threads
  private val charStrs: Array[String] = Array.tabulate(128)(c => c.toChar.toString)
  @inline private def charStr(c: Char): String =
    if (c < 128) charStrs(c) else c.toString

  /** Section-title level 2..4, derived from the title text alone — shared
    * by the corpus authoring and the rendered title box height, so the
    * pipeline can recover the level from geometry (get_title_level clamps
    * 1..4, pipeline_middle_json_mkcontent.py:355-361). Level 1 is the
    * first-page document title. */
  def titleLevelOf(text: String): Int =
    2 + Math.floorMod(Rng.fnv64("tl|" + text), 3L).toInt

  /** Rendered title box height per level (the model reads font size; the
    * pipeline's ladder is >=30 -> 1, >=20 -> 2, >=16 -> 3, else 4). */
  def titleHeight(level: Int): Double = level match {
    case 1 => 32.0
    case 2 => 22.0
    case 3 => 18.0
    case _ => 14.0
  }

  /** A logical unit: a leading block plus its trailing attachments. */
  private case class Unit(blocks: Vector[InSpan])

  /** Greedy word-boundary line fill at `cpl` chars/line — the text layer a
    * pdftext/OCR pass produces; the pipeline's line merge must reassemble
    * the paragraph exactly (space join restores the original). */
  def lineSplit(text: String, cpl: Int): Vector[String] = {
    val n = text.length
    if (n <= cpl) return Vector(text)
    // allocation-lean greedy fill: cut at the last space within cpl chars
    // (equivalent to word-by-word fill; a single over-long word gets its own
    // line, cut at the next space)
    val out = Vector.newBuilder[String]
    var s = 0
    while (s < n) {
      if (n - s <= cpl) { out += text.substring(s); s = n }
      else {
        var cut = text.lastIndexOf(' ', s + cpl)
        if (cut <= s) { // word longer than cpl: take it whole
          cut = text.indexOf(' ', s + cpl)
          if (cut < 0) cut = n
        }
        out += text.substring(s, cut)
        s = cut + 1
      }
    }
    out.result()
  }

  private def cplOf(colWidth: Double): Int = math.max(20, (colWidth / 6.0).toInt)

  /** Every chars-per-line width the stub renders text at (full page,
    * two-column, insert, wrap column). The corpus generator redraws any
    * paragraph whose wrapped lines could trip the geometric list ladder at
    * one of THESE widths — the set must cover every rendered geometry. */
  val TextCpls: Vector[Int] =
    Vector(540.0, (PageW - 2 * MarginX - ColGap) / 2, 184.0, 150.0)
      .map(w => cplOf(w)).distinct

  /** Vertical-text flag (CJK-style columns, span_block_fix.py:160-236):
    * a deterministic content-keyed decision shared by placement and
    * emission — short paragraphs only. */
  def isVertical(docId: String, s: InSpan): Boolean =
    s.kind == Kinds.Text && s.text.length < 60 && !usesOcrMatch(docId) &&
      Math.floorMod(graft.util.Rng.fnv64(docId + "|v|" + s.offset), 10L) == 0L

  private val VertColPitch = 14.0
  private val VertHeight = 150.0

  private def blockHeight(s: InSpan, colWidth: Double): Double =
    blockHeightKT(s.kind, s.text, colWidth)

  private[graft] def blockHeightKT(kind: String, text: String,
      colWidth: Double): Double = kind match {
    case Kinds.Figure => 120.0
    case Kinds.Table => 90.0
    case Kinds.Formula => 36.0
    case Kinds.Title => titleHeight(titleLevelOf(text))
    case Kinds.Caption => 18.0
    case Kinds.Footnote | Kinds.ImageFootnote => 16.0
    case Kinds.FormulaNumber => 0.0 // rendered beside the formula
    // box bottom == union of its line boxes (14px pitch, 12px glyphs), so
    // the placement simulation sees exactly the pipeline's post-merge box
    case Kinds.Text => lineSplit(text, cplOf(colWidth)).length * 14.0 - 2.0
    case _ => // list/index blocks keep their authored line structure
      val lines = math.max(1, text.count(_ == '\n') + 1)
      lines * 14.0 + 8.0
  }

  /** Golden-side mirror of the v3 single-title promotion
    * (xycut_plus_v3.py:126-139) for OCR-match docs: exactly one title on
    * the page, authored at a sub-doc level, whose box area exceeds 0.3 ×
    * the largest block's area ⇒ the pipeline promotes it to level 1. Match
    * docs are single-column by construction, so the det areas replay
    * exactly from the shared layout constants (same widths placeColumn
    * assigns, per-line boxes for list/index — the shape the kernel emits). */
  def ocrMatchPromotesTitle(blocks: Seq[(String, String)]): Boolean = {
    val width = PageW - 2 * MarginX
    val titles = blocks.filter(_._1 == Kinds.Title)
    if (titles.length != 1) return false
    val lvl = titleLevelOf(titles.head._2)
    if (lvl <= 1) return false
    def areaOf(kind: String, text: String): Double = kind match {
      case Kinds.ListK | Kinds.Index => width * 12.0 // per-line det boxes
      case Kinds.Formula => (width - 70.0) * 36.0
      case Kinds.Caption | Kinds.Footnote => (width - 40.0) * blockHeightKT(kind, text, width)
      case Kinds.FormulaNumber => 30.0 * 20.0
      case _ => width * blockHeightKT(kind, text, width)
    }
    val maxArea = blocks.map { case (k, t) => areaOf(k, t) }.max
    width * titleHeight(lvl) > TitlePromotionRatio * maxArea
  }

  private val TitlePromotionRatio = 0.3

  /** TITLE-UNION trap draw, shared with the golden: when it fires for a
    * page-head level-3 section title, the kernel emits a smaller
    * overlapping title det whose big-eats-small UNION
    * (remove_overlaps_min_blocks, block_pre_proc.py:222-261) grows the
    * box to 22 tall — the golden expects level 2 for that title. */
  def titleUnionTrap(docId: String, pageIdx: Int): Boolean =
    Math.floorMod(Rng.fnv64(docId + "|tunion|" + pageIdx), 5L) == 0L

  /** Column plan for authored paragraph continuations, SHARED by the
    * kernel's layout draw and the golden generator (so the para-merge
    * width-ratio bound — para_split.py:292, ported r4 — can be exercised
    * without the two sides drifting). A page boundary is "mergeable" when
    * its adjacent blocks satisfy the reference's text-side merge predicate
    * (only authored continuations do — normal paragraphs end with stop
    * flags). For each mergeable boundary, both pages get FORCED column
    * modes: usually single/single (widths equal ⇒ the merge proceeds);
    * ~20% of boundaries author the NEGATIVE case single/two-column (the
    * part-2 width halves ⇒ the pipeline must REFUSE the merge, and the
    * golden keeps the parts separate). Returns (per-page force:
    * 0 none / 1 single / 2 two-column, per-boundary merge verdict).
    * Match docs never force two-column (their mirror requires single). */
  def contColumnPlan(docId: String, pages: Vector[Vector[(String, String)]])
      : (Vector[Int], Vector[Boolean]) = {
    val n = pages.length
    val force = Array.fill(n)(0)
    val isM = usesOcrMatch(docId)
    def mergeable(p: Int): Boolean = {
      val a = pages(p); val b = pages(p + 1)
      a.nonEmpty && b.nonEmpty && {
        val (lk, lt) = a.last; val (fk, ft) = b.head
        lk == Kinds.Text && fk == Kinds.Text && lt.nonEmpty && ft.nonEmpty &&
          !graft.pipeline.Assemble.stops(lt.last) &&
          !ft.head.isDigit && !ft.head.isUpper
      }
    }
    var p = 0
    while (p < n - 1) {
      if (mergeable(p)) {
        val mism = !isM && force(p) == 0 && force(p + 1) == 0 &&
          Math.floorMod(Rng.fnv64(docId + "|cw|" + p), 5L) == 0L
        if (mism) { force(p) = 1; force(p + 1) = 2 }
        else {
          if (force(p) == 0) force(p) = 1
          if (force(p + 1) == 0) force(p + 1) = 1
        }
      }
      p += 1
    }
    // verdicts derive from the FINAL forced modes. Only the PART-2 side
    // can be narrow: force=2 narrows a page's FIRST main block (its
    // incoming continuation part), while a boundary's part-1 is its
    // page's LAST main block — never the narrowed one (a page whose only
    // block is a continuation part can't chain: part-2 text always ends
    // with a stop flag, so such a page is never a mergeable part-1 side).
    val allowed = Vector.tabulate(math.max(0, n - 1)) { b =>
      !mergeable(b) || force(b + 1) != 2
    }
    (force.toVector, allowed)
  }

  /** Stack units into one column starting at (x0, yStart); returns placed
    * (span, bbox) plus the running bottom y. */
  private def placeColumn(units: Vector[Unit], x0: Double, width: Double,
      yStart: Double, vert: InSpan => Boolean,
      narrow: InSpan => Boolean = _ => false): (Vector[(InSpan, (Double, Double, Double, Double))], Double) = {
    val out = Vector.newBuilder[(InSpan, (Double, Double, Double, Double))]
    var y = yStart
    units.foreach { u =>
      var first = true
      u.blocks.foreach { s =>
        if (s.kind == Kinds.FormulaNumber) {
          // placed beside the preceding formula; fixed up after the loop
          out += ((s, (0.0, 0.0, 0.0, 0.0)))
        } else {
          if (!first) y += AttachGap
          val vertical = vert(s)
          val effW = if (narrow(s)) MismatchW else width
          val h = if (vertical) VertHeight else blockHeight(s, effW)
          val w =
            if (vertical) lineSplit(s.text, 12).length * VertColPitch - 2.0
            else s.kind match {
              case Kinds.Formula => effW - 70.0 // leave room for the number
              case Kinds.Caption | Kinds.Footnote => effW - 40.0
              case _ => effW
            }
          out += ((s, (x0, y, x0 + w, y + h)))
          y += h
          first = false
        }
      }
      y += UnitGap
    }
    // fix up formula_number boxes: sit beside their preceding formula
    val placed = out.result()
    val fixed = placed.zipWithIndex.map { case ((s, box), i) =>
      if (s.kind == Kinds.FormulaNumber) {
        val (fx0, fy0, fx1, fy1) = placed(i - 1)._2
        (s, (fx1 + AttachGap, fy0 + 8.0, fx1 + AttachGap + 30.0, fy0 + 28.0))
      } else (s, box)
    }
    (fixed, y)
  }

  /** Group a page's main spans into units. Attachments trail their block;
    * a caption immediately FOLLOWED by a body leads that body's unit
    * (table captions are authored above the table, as the reference's
    * documents have them — mkcontent renders caption before body). */
  private def toUnits(spans: Vector[InSpan]): Vector[Unit] = {
    val units = Vector.newBuilder[Unit]
    var cur = Vector.empty[InSpan]
    var i = 0
    while (i < spans.length) {
      val s = spans(i)
      val leadsBody = s.kind == Kinds.Caption && i + 1 < spans.length &&
        Kinds.bodies(spans(i + 1).kind)
      if (leadsBody) {
        if (cur.nonEmpty) units += Unit(cur)
        cur = Vector(s)
      } else if (cur.nonEmpty &&
          (attachKinds(s.kind) || cur.forall(b => attachKinds(b.kind)))) {
        // trailing attachment, or the body following its leading caption
        cur = cur :+ s
      } else {
        if (cur.nonEmpty) units += Unit(cur)
        cur = Vector(s)
      }
      i += 1
    }
    if (cur.nonEmpty) units += Unit(cur)
    units.result()
  }

  /** Model-order emission flag: 30% of docs emulate a PP-DocLayoutV2/V3-
    * style layout model that supplies `original_order` per detection
    * (rapid_layout.py:99-106); the pipeline's model-order shortcut
    * (block_sort.py:154-170) must use it. Keyed off the doc id alone so no
    * kernel-stream draws are consumed. */
  def emitsOrder(docId: String): Boolean =
    Math.floorMod(Rng.fnv64(docId + "|mo"), 10L) < 3

  /** Char-layer flag: ~20% of horizontal text blocks on the txt route are
    * emitted as EMPTY line detections plus per-character text-layer boxes
    * (the reference's page_dict chars, pdf_text_tool.py:12-33) — the
    * pipeline's char->span fill must reconstruct the text exactly.
    * Content-keyed, draws nothing. */
  def usesCharLayer(docId: String, s: InSpan): Boolean =
    s.kind == Kinds.Text && !usesOcrMatch(docId) &&
      Math.floorMod(Rng.fnv64(docId + "|ch|" + s.offset), 5L) == 0L

  /** OCR-match doc flag (~15% of the no-model-order docs): the layout
    * model emits BLOCK boxes with empty content and the OCR lines arrive
    * as a SEPARATE stream — the reference's v3 OCR-text-matching path
    * (get_layout_parsing_res, xycut_plus_v3.py:459-524), its primary
    * sorter when `original_order` is absent. Match docs stay single-column
    * / no-insert / no-vertical / no-char-layer / no-body-splits so the
    * golden mirror (footnote fix + title promotion, [[ocrMatchPromotesTitle]]
    * and DocGen's later-text scan) is EXACT against the placed geometry.
    * Keyed off the doc id alone, draws nothing. */
  def usesOcrMatch(docId: String): Boolean =
    !emitsOrder(docId) &&
      Math.floorMod(Rng.fnv64(docId + "|ocrm"), 20L) < 3

  /** Far-attachment flag: ~10% of body-unit captions are DEFERRED to the
    * end of their column, far from their body — the tie-up's unconditional
    * leftover attachment (magic_model_utils.py:130-156) must pull them
    * back; an absolute distance bound would orphan them and emit them at
    * the wrong reading position. Content-keyed, draws nothing. */
  def isFarCaption(docId: String, s: InSpan): Boolean =
    s.kind == Kinds.Caption &&
      Math.floorMod(Rng.fnv64(docId + "|far|" + s.offset), 10L) == 0L

  /** Nested-insert page flag (~10% of pages attempt the region layout;
    * accepted only when the page has enough units and the region-aware
    * orderer validates). Content-keyed, draws nothing. */
  def usesInsert(docId: String, pageIdx: Int): Boolean =
    !usesOcrMatch(docId) &&
      Math.floorMod(Rng.fnv64(docId + "|ins|" + pageIdx), 10L) == 0L

  /** Layout validation: replay the pipeline's OWN tie-up + ordering core
    * (PageOps.orderBlocks — the single shared implementation) over the
    * placed boxes (and region boxes, when the layout carries them) and
    * require the emitted sequence to equal authoring order. This is what
    * keeps the golden oracle well-defined while the stub emits hard
    * layouts (aligned-gap columns, deferred captions, nested inserts). */
  private def orderSafe(placed: Vector[(InSpan, (Double, Double, Double, Double))],
      emitsOrd: Boolean,
      regions: Vector[(Double, Double, Double, Double)] = Vector.empty,
      matchDoc: Boolean = false): Boolean = {
    // match docs: mirror the OcrMatch footnote fix the real pipeline
    // applies BEFORE ordering (a footnote whose bottom sits above the
    // lowest text block's bottom is body text, xycut_plus_v3.py:117-123) —
    // without it the replay would validate the footnote as a tie-up
    // attachment while reality orders it as an anchor, and the group
    // median placement (process_block_list) would differ between the two
    val textBot =
      if (!matchDoc) 0.0
      else placed.collect { case (s, (_, _, _, y1))
        if s.kind == Kinds.Text || s.kind == Kinds.ListK || s.kind == Kinds.Index => y1
      }.maxOption.getOrElse(0.0)
    val blocks = placed.map { case (s, (x0, y0, x1, y1)) =>
      val cat = s.kind match {
        case Kinds.ListK | Kinds.Index => Kinds.Text // model can't see listness
        case Kinds.Footnote | Kinds.ImageFootnote if matchDoc && y1 < textBot =>
          Kinds.Text // OcrMatch footnote fix mirror
        case Kinds.ImageFootnote => Kinds.Footnote // model emits plain footnote
        case k => k
      }
      Det(cat, x0, y0, x1, y1, 1.0, "", "", if (emitsOrd) s.offset else -1)
    }
    val regionDets = regions.map { case (x0, y0, x1, y1) =>
      Det("region", x0, y0, x1, y1, 1.0, "", "")
    }
    val got = graft.pipeline.PageOps.orderBlocks(blocks, regionDets, PageW, PageH)
      .map(i => placed(i)._1.offset)
    got == placed.map(_._1.offset).sorted
  }

  /** Pull far-flagged BELOW-captions (authored after their body — figure
    * captions) out of body units and re-append them as standalone trailing
    * units placed at the column end. Above-captions stay put: deferring
    * them would flip their rendered side. Only the LAST body unit's
    * captions defer: the tie-up's unconditional leftover attachment pulls
    * a column-end caption to its NEAREST subject, which is the last body —
    * deferring an earlier body's caption would misattach under the
    * reference's own algorithm (the validation sweep used to author those
    * pages away as plain singles; the gate removes the doomed candidates
    * instead). */
  private def deferFar(units: Vector[Unit], far: InSpan => Boolean): Vector[Unit] = {
    val lastBodyUnit = units.lastIndexWhere(_.blocks.exists(b => Kinds.bodies(b.kind)))
    if (lastBodyUnit < 0) return units
    val deferred = Vector.newBuilder[InSpan]
    val kept = units.zipWithIndex.map { case (u, ui) =>
      val bodyAt = u.blocks.indexWhere(b => Kinds.bodies(b.kind))
      if (bodyAt < 0 || ui != lastBodyUnit) u
      else {
        val (f, k) = u.blocks.zipWithIndex.partition { case (s, i) =>
          i > bodyAt && s.kind == Kinds.Caption && far(s)
        }
        deferred ++= f.map(_._1)
        Unit(k.map(_._1))
      }
    }
    kept ++ deferred.result().map(s => Unit(Vector(s)))
  }

  /** Place one page; every candidate layout — INCLUDING the plain single
    * column — is validated by replaying the pipeline's shared ordering
    * core, falling back through: nested-insert region layout -> two-column
    * with deferred far captions -> two-column -> single with deferred ->
    * single. Docs whose model emits original_order accept the hardest
    * layout immediately (the shortcut recovers any geometry). A page whose
    * HARD candidates all failed counts as authored-away; a page where even
    * the single column fails counts as unsolvable ([[LayoutTelemetry]])
    * (and still places single — the golden suite would surface it).
    * Returns the placed spans plus the page's region-detection boxes
    * (non-empty only for the insert layout). */
  /** Narrowed width for the para-merge width-ratio NEGATIVE variant
    * (contColumnPlan force=2): the continuation part renders as a narrow
    * single-column block, |540 − 240| ≥ 240 ⇒ the ported
    * para_split.py:292 bound must refuse the merge. */
  private val MismatchW = 240.0

  private def placePage(mains: Vector[InSpan], twoCol: Boolean, insert: Boolean,
      pageIdx: Int, vert: InSpan => Boolean, far: InSpan => Boolean,
      emitsOrd: Boolean, narrow: InSpan => Boolean = _ => false,
      matchDoc: Boolean = false)
      : (Vector[(InSpan, (Double, Double, Double, Double))],
         Vector[(Double, Double, Double, Double)]) = {
    type Placed = Vector[(InSpan, (Double, Double, Double, Double))]
    type Region = (Double, Double, Double, Double)
    val (titleOpt, rest) = mains.headOption match {
      case Some(t) if t.kind == Kinds.Title => (Some(t), mains.tail)
      case _ => (None, mains)
    }
    val yStart = if (titleOpt.isDefined) ContentTopTitle else ContentTop
    // title box height encodes the level (doc title 32, sections 22/18/14):
    // the pipeline derives the level from the height alone (get_title_level
    // analogue, pipeline_middle_json_mkcontent.py:355-361)
    val titleBox =
      if (pageIdx == 0) (MarginX, 50.0, PageW - MarginX, 82.0)
      else {
        val h = titleOpt.map(t => titleHeight(titleLevelOf(t.text))).getOrElse(22.0)
        (MarginX, 56.0, PageW - MarginX, 56.0 + h)
      }
    val titlePlaced = titleOpt.map(t => (t, titleBox)).toVector
    val baseUnits = toUnits(rest)

    def single(units: Vector[Unit]): Placed =
      titlePlaced ++ placeColumn(units, MarginX, PageW - 2 * MarginX, yStart,
        vert, narrow)._1

    def twoColCandidates(units: Vector[Unit]): Iterator[(Placed, Vector[Region])] = {
      if (units.length < 2) return Iterator.empty
      val colW = (PageW - 2 * MarginX - ColGap) / 2
      // split units at roughly half the stacked height
      val heights = units.map(u => u.blocks.map(b =>
        (if (vert(b)) VertHeight else blockHeight(b, colW)) + AttachGap).sum + UnitGap)
      val total = heights.sum
      var acc = 0.0
      var splitAt = units.length - 1
      var i = 0
      var found = false
      while (i < units.length - 1 && !found) {
        acc += heights(i)
        if (acc >= total / 2) { splitAt = i + 1; found = true }
        i += 1
      }
      val (u1, u2) = units.splitAt(splitAt)
      if (u1.isEmpty || u2.isEmpty) return Iterator.empty
      val (c1, bottom1) = placeColumn(u1, MarginX, colW, yStart, vert)
      if (bottom1 > ContentBottom) return Iterator.empty
      val offsets = Vector(0.0, 5.0, 11.0, 18.0, 26.0, 35.0, 45.0)
      def enclose(ps: Placed): Region = (
        ps.map(_._2._1).min, ps.map(_._2._2).min,
        ps.map(_._2._3).max, ps.map(_._2._4).max)
      val plain = offsets.iterator.flatMap { off =>
        val (c2, bottom2) = placeColumn(u2, MarginX + colW + ColGap, colW, yStart + off, vert)
        if (bottom2 > ContentBottom) None
        else Some((titlePlaced ++ c1 ++ c2, Vector.empty[Region]))
      }
      // region-rescued variant: when no plain offset orders correctly, a
      // region-detection model marking the two columns makes the order
      // trivially column-major (the reference's region channel exists for
      // exactly these layouts); the title, outside both regions, becomes
      // its own supplementary region
      val rescued = {
        val (c2, bottom2) = placeColumn(u2, MarginX + colW + ColGap, colW, yStart, vert)
        if (c1.isEmpty || c2.isEmpty || bottom2 > ContentBottom) Iterator.empty
        else Iterator((titlePlaced ++ c1 ++ c2, Vector(enclose(c1), enclose(c2))))
      }
      plain ++ rescued
    }

    /** Nested-insert region layout (the v3 region class): a boxed insert
      * (the page's LAST unit) floats between two narrow wrap columns; a
      * full-width unit sits above and one below. Read order = main flow
      * (above, left wrap, right wrap, below) then the insert — projection
      * cuts alone interleave the insert between the wraps, so this layout
      * is only accepted via the region-aware orderer, and the page emits
      * its two region boxes like the reference's region-detection model
      * (xycut_plus_v3.py:441-456). Column gutters (28) exceed the worst
      * intra-unit attachment distance (26) so tie-ups stay unit-local. */
    def insertCandidate(units: Vector[Unit]): Iterator[(Placed, Vector[Region])] = {
      if (units.length < 5) return Iterator.empty
      val insertUnits = Vector(units.last)
      val above = Vector(units.head)
      val mid = units.tail.init
      val below = Vector(mid.last)
      val wraps = mid.init
      if (wraps.length < 2) return Iterator.empty
      // wrap columns must be attachment-free (no bodies/captions/footnotes):
      // a body in a narrow wrap column can out-compete the insert's own
      // body for a caption in the page-global tie-up sweep
      val attachy = Set(Kinds.Caption, Kinds.Footnote, Kinds.ImageFootnote)
      if (wraps.exists(_.blocks.exists(b =>
        Kinds.bodies(b.kind) || attachy(b.kind)))) return Iterator.empty
      // the above/below slots must render FULL WIDTH (they are the region's
      // separator rows); a vertical text block there is a narrow box that
      // would regroup into the wrap columns and interleave
      if ((above ++ below).exists(_.blocks.exists(vert))) return Iterator.empty
      val (wl, wr) = wraps.splitAt((wraps.length + 1) / 2)
      val fullW = PageW - 2 * MarginX
      val leftW = 150.0; val insW = 184.0; val rightW = 150.0
      val gut = 28.0
      val (aP, aBot) = placeColumn(above, MarginX, fullW, yStart, vert)
      val (lP, lBot) = placeColumn(wl, MarginX, leftW, aBot, vert)
      val (iP, iBot) = placeColumn(insertUnits, MarginX + leftW + gut, insW, aBot + 12.0, vert)
      val (rP, rBot) = placeColumn(wr, MarginX + leftW + gut + insW + gut, rightW, aBot, vert)
      val belowY = math.max(math.max(lBot, rBot), iBot)
      val (bP, bBot) = placeColumn(below, MarginX, fullW, belowY, vert)
      if (bBot > ContentBottom) return Iterator.empty
      def enclose(ps: Placed): Region = (
        ps.map(_._2._1).min, ps.map(_._2._2).min,
        ps.map(_._2._3).max, ps.map(_._2._4).max)
      val mainP = titlePlaced ++ aP ++ lP ++ rP ++ bP
      Iterator(((mainP ++ iP, Vector(enclose(mainP), enclose(iP)))))
    }

    val farUnits = deferFar(baseUnits, far)
    val hasFar = farUnits != baseUnits
    // candidates carry a countsAsHard flag: a failed far-caption deferral
    // falls through SILENTLY (the deferral is an opportunistic authoring
    // choice — when the page's geometry would make the reference's own
    // greedy tie-up misattach the far caption, the corpus keeps it
    // adjacent instead), while a failed insert/two-column layout counts
    // as authored-away
    // (placed, regions, countsAsHard, isInsertLayout)
    val hard: Iterator[(Placed, Vector[Region], Boolean, Boolean)] =
      (if (insert) insertCandidate(baseUnits).map(c => (c._1, c._2, true, true)) else Iterator.empty) ++
        (if (twoCol) {
          ((if (hasFar) twoColCandidates(farUnits) else Iterator.empty) ++
            twoColCandidates(baseUnits)).map(c => (c._1, c._2, true, false))
        } else Iterator.empty) ++
        (if (hasFar) Iterator((single(farUnits), Vector.empty[Region], false, false)) else Iterator.empty)
    var hardTried = false
    val chosen = hard.find { case (p, rs, counts, _) =>
      if (counts) hardTried = true
      orderSafe(p, emitsOrd, rs, matchDoc)
    }
    chosen match {
      case Some((p, rs, _, isIns)) =>
        if (isIns) LayoutTelemetry.bumpInsertPages()
        (p, rs)
      case None =>
        val s = single(baseUnits)
        if (hardTried) {
          // a hard layout existed and every candidate failed validation —
          // the authored-away event; validate the single it degrades to
          // (plain single-column pages skip this: the 20k golden sweep
          // already proves their ordering end to end)
          LayoutTelemetry.bumpAuthoredAway()
          if (!orderSafe(s, emitsOrd, matchDoc = matchDoc))
            LayoutTelemetry.bumpUnsolvable()
        }
        (s, Vector.empty)
    }
  }

  override def analyze(doc: DocRow): Seq[PageModel] = {
    val kr = Rng.stream("kernel", doc.doc_id)
    // scanned documents route through OCR (pdf_classify.py:91-237 'auto'
    // router): recognition scores are lower and garbled low-confidence rec
    // results appear — the pipeline's rec-confidence filter must drop them
    // (ocr_utils.py:374-375, OcrConfidence.min_confidence)
    val scanned = kr.chance(0.1)
    // page boundaries are explicit in the interleaved stream: each page
    // starts with its header span
    val pages = ArrayBuffer.empty[Vector[InSpan]]
    var cur = ArrayBuffer.empty[InSpan]
    doc.spans.foreach { s =>
      if (s.kind == Kinds.Header && cur.nonEmpty) {
        pages += cur.toVector; cur = ArrayBuffer.empty[InSpan]
      }
      cur += s
    }
    if (cur.nonEmpty) pages += cur.toVector

    val emitsOrd = emitsOrder(doc.doc_id)
    val far = (sp: InSpan) => isFarCaption(doc.doc_id, sp)
    // v3 OCR-match docs: layout boxes arrive EMPTY and the lines as a
    // separate OCR stream (get_layout_parsing_res input shape); forced
    // single-column so the golden's footnote-fix/promotion mirror is
    // exact against the placed geometry
    val isMatch = usesOcrMatch(doc.doc_id)
    // authored-continuation boundaries force their pages' column modes
    // (contColumnPlan — shared with the golden's merge verdicts)
    val allPages = pages.toVector
    val (colForce, _) = contColumnPlan(doc.doc_id,
      allPages.map(_.filter(s => !Kinds.discarded(s.kind))
        .map(s => (s.kind, s.text)).toVector))

    allPages.zipWithIndex.map { case (pageSpans, p) =>
      val colDraw = kr.chance(0.3) // draw consumed on every page
      // forced boundary pages are ALWAYS single-column (the negative
      // width variant narrows the continuation block itself instead of
      // relying on a two-column layout that small pages cannot realize)
      val twoCol = colForce(p) == 0 && colDraw && !isMatch
      val mains = pageSpans.filter(s => !Kinds.discarded(s.kind))
      // boundary pages of an authored continuation keep the PLAIN layout:
      // vertical columns and insert regions would change the parts' block
      // widths/geometry, and the golden's merge verdict is keyed to the
      // forced column plan alone
      val vert = (sp: InSpan) =>
        isVertical(doc.doc_id, sp) && colForce(p) == 0
      // the width-ratio negative variant: the page's leading continuation
      // block renders narrow (MismatchW)
      val narrow = (sp: InSpan) =>
        colForce(p) == 2 && mains.nonEmpty && sp.offset == mains.head.offset
      val insertUsed = usesInsert(doc.doc_id, p) && colForce(p) == 0
      val (placed, regionBoxes) =
        placePage(mains, twoCol, insertUsed, p, vert, far,
          emitsOrd, narrow, matchDoc = isMatch)
      val regionDets = regionBoxes.map { case (x0, y0, x1, y1) =>
        Det("region", x0, y0, x1, y1, 1.0, "", "")
      }

      val dets = ArrayBuffer.empty[Det]
      val chars = ArrayBuffer.empty[CharDet] // text layer: deterministic order, never scrambled
      val oriImgs = ArrayBuffer.empty[Det]   // embedded original images (pdf layer)
      val ocrLines = ArrayBuffer.empty[Det]  // the v3 separate OCR stream (match docs)
      var charIdx = 0
      // main dets, authoring order (scores drawn in this fixed order).
      // Paragraph text is emitted as PER-LINE detections (justified to the
      // block width) — the text layer a pdftext/OCR pass yields; the
      // pipeline's line merge reassembles blocks (span_block_fix.py line
      // building + fill_spans_in_blocks). When the doc's layout model
      // supplies reading order, every line of a block carries the block's
      // original_order (extract_block_original_order takes the min,
      // block_sort.py:132-142 — with equal per-line values this is it).
      placed.foreach { case (s, (x0, y0, x1, y1)) =>
        val ord = if (emitsOrd) s.offset else -1
        val score =
          if (scanned) 0.32 + 0.5 * kr.nextDouble()
          else 0.55 + 0.44 * kr.nextDouble()
        s.kind match {
          case Kinds.Text if vert(s) =>
            // vertical text: columns right-to-left, each spanning the full
            // block height (span_block_fix.py vertical variants)
            val chunks = lineSplit(s.text, 12)
            var i = 0
            while (i < chunks.length) {
              val xHi = x1 - VertColPitch * i
              dets += Det(Kinds.Text, xHi - 12.0, y0, xHi, y0 + VertHeight,
                score, chunks(i), "", ord)
              i += 1
            }
          case Kinds.Text if isMatch =>
            // ONE empty paragraph box + its lines on the separate OCR
            // stream: OcrMatch must bind them back (content grouping via
            // the 0.8 line-band, layout_objects.py:640-643). Inline
            // equations stay inside the recognized line text on this path.
            dets += Det(Kinds.Text, x0, y0, x1, y1, score, "", "", ord)
            val mLines = lineSplit(s.text, cplOf(x1 - x0))
            var mi = 0
            while (mi < mLines.length) {
              val ly0 = y0 + 14.0 * mi
              ocrLines += Det(Kinds.Text, x0, ly0, x1, ly0 + 12.0, score, mLines(mi), "")
              mi += 1
            }
          case Kinds.Text =>
            val lines = lineSplit(s.text, cplOf(x1 - x0))
            val charLayer = !scanned && usesCharLayer(doc.doc_id, s)
            var i = 0
            while (i < lines.length) {
              val ly0 = y0 + 14.0 * i; val ly1 = ly0 + 12.0
              // a line carrying an inline equation also gets a FORMULA
              // detection (the layout model sees the math). Post-rec (ocr)
              // lines carry it over the whole line box — the pipeline's
              // inline-formula re-class (check_inline_formula,
              // rapid_layout.py:110-128) must fold it into the text span.
              // On char-layer (txt-route) lines the det covers the actual
              // formula substring range — the shape update_det_boxes
              // (ocr_utils.py:193-217, txt call site span_pre_proc.py:172)
              // consumes: the pipeline must split the empty line det
              // around it and splice the equation back as an in-line span.
              val dollar = lines(i).indexOf('$')
              if (dollar >= 0) {
                val end = lines(i).lastIndexOf('$')
                if (charLayer) {
                  val cw = (x1 - x0) / lines(i).length
                  dets += Det(Kinds.InlineFormula, x0 + dollar * cw, ly0,
                    x0 + (end + 1) * cw, ly1, score,
                    lines(i).substring(dollar, end + 1), "", -1)
                } else
                  dets += Det(Kinds.InlineFormula, x0, ly0, x1, ly1, score,
                    lines(i).substring(dollar, end + 1), "", -1)
              }
              // need-OCR line (~18% of later char-layer lines): the text
              // layer has NO chars under this crop, so the fill leaves it
              // empty and the pipeline must route it crop->contrast->OCR
              // (span_pre_proc.py:345-359). Line 0 always carries chars so
              // the page's char layer is never empty. The authored
              // contrast rides the det (2dp, like calculate_contrast);
              // one in seven sits exactly ON the 0.17 boundary, which the
              // reference KEEPS (strict <). The OCR recovery is the
              // authored line text via the stub channel.
              val needOcr = charLayer && i > 0 && dollar < 0 &&
                Math.floorMod(Rng.fnv64(doc.doc_id + "|noc|" + s.offset + "|" + i), 11L) < 2
              if (needOcr) {
                val cr = Rng.fnv64(doc.doc_id + "|ctr|" + s.offset + "|" + i)
                val contrast =
                  if (Math.floorMod(cr, 7L) == 0L) 0.17
                  else 0.18 + Math.floorMod(cr, 80L) / 100.0
                dets += Det(Kinds.Text, x0, ly0, x1, ly1, score, "", "", ord,
                  contrast = contrast, ocrStub = lines(i))
              } else if (charLayer) {
                // empty line det + text-layer chars; a trailing stop char
                // overhangs the right edge so only the punctuation edge
                // rule (calculate_char_in_span) can admit it
                dets += Det(Kinds.Text, x0, ly0, x1, ly1, score, "", "", ord)
                val line = lines(i)
                val cw = (x1 - x0) / line.length
                var j = 0
                while (j < line.length) {
                  val ch = line.charAt(j)
                  val overhang = j == line.length - 1 &&
                    (ch == '.' || ch == '-' || ch == ',' || ch == '!' || ch == '?')
                  if (overhang)
                    chars += CharDet(charStr(ch), x1 - 4.0, ly0 + 2.0, x1 + 8.0, ly1 - 2.0, charIdx)
                  else
                    chars += CharDet(charStr(ch), x0 + j * cw, ly0 + 2.0, x0 + (j + 1) * cw, ly1 - 2.0, charIdx)
                  charIdx += 1
                  j += 1
                }
              } else {
                dets += Det(Kinds.Text, x0, ly0, x1, ly1, score, lines(i), "", ord)
              }
              i += 1
            }
            // BLANK-CROP noise det (~15% of char-layer paragraphs on plain
            // single-column pages): an empty text box over dead whitespace
            // right of the column — no chars can fill it, its crop contrast
            // is sub-0.17, and the gate must REMOVE it (span_pre_proc.py
            // :354) instead of letting an empty span reach ordering.
            // Single-column-only so its x-range can never sit over another
            // column's char grid.
            if (charLayer && !twoCol && !insertUsed &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|blank|" + s.offset), 7L) == 0L) {
              val nz = Rng.fnv64(doc.doc_id + "|blankc|" + s.offset)
              val lowC = 0.04 + Math.floorMod(nz, 12L) / 100.0 // 0.04..0.15
              dets += Det(Kinds.Text, x1 + 6.0, y0 + 1.0, x1 + 66.0, y0 + 13.0,
                score, "", "", -1, contrast = lowC)
            }
            // DEGENERATE-SLIVER trap (~1/8 model-order paragraphs): a 4px
            // text det the PaddleX-path prefilter must drop outright
            // (filter_overlap_boxes w<6||h<6, backend/utils/utils.py:
            // 130-133) — nothing downstream can catch a non-empty
            // mid-page sliver.
            if (emitsOrd &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|sliver|" + s.offset), 8L) == 0L) {
              dets += Det(Kinds.Text, x1 + 10.0, y0, x1 + 14.0, y0 + 12.0,
                0.8, "|", "", -1)
            }
            // BACKGROUND-IMAGE negative (~1/12 char-layer paragraphs): an
            // embedded original image UNDER the paragraph (a scanned
            // letterhead) — its region contains text-layer chars, so
            // remove_layout_in_ori_images must classify it as background
            // and leave the paragraph dets alone (txt_in_ori_image skip,
            // backend/utils/utils.py:46-51); a purity check that ignored
            // the text layer would eat the whole paragraph.
            if (charLayer && !isMatch &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|bgimg|" + s.offset), 12L) == 0L) {
              val bh = 14.0 * (lines.length - 1) + 12.0
              oriImgs += Det(Kinds.Figure, x0 - 4.0, y0 - 4.0, x1 + 4.0,
                y0 + bh + 4.0, 1.0, "",
                "img://bg" + java.lang.Long.toHexString(
                  Rng.fnv64(doc.doc_id + "|bgref|" + s.offset)))
            }
            // TEXT-OVER-TITLE trap (~1/9 plain single-column paragraphs): a
            // spurious TITLE detection slightly LARGER than the paragraph
            // block (4% margins → IoU ≈ 0.857, inside the (0.8, 0.9] band
            // where the score-based IoU dedup cannot fire) at a score that
            // BEATS every line. fix_text_overlap_title_blocks
            // (block_pre_proc.py:125-150) must drop the title
            // directionally — and must run BEFORE the big-eats-small union,
            // which would otherwise absorb the paragraph into the bogus
            // title (overlap-over-min = 1.0).
            if (!twoCol && !insertUsed && !emitsOrd &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|ttrap|" + s.offset), 9L) == 0L) {
              val bh = 14.0 * (lines.length - 1) + 12.0
              val dx = 0.04 * (x1 - x0); val dy = 0.04 * bh
              dets += Det(Kinds.Title, x0 - dx, y0 - dy, x1 + dx, y0 + bh + dy,
                0.99, "SPURIOUS HEADING", "", -1)
            }
          case Kinds.ListK | Kinds.Index =>
            // the model can't see list/TOC-ness: items arrive as plain
            // justified text lines; the pipeline's geometric ladder
            // (para_split.py:73-270) must recover the block type. On
            // match docs each item line is an empty box + an OCR line —
            // per-line binding feeds the same ladder.
            val items = s.text.split("\n", -1)
            var i = 0
            while (i < items.length) {
              val ly0 = y0 + 14.0 * i
              if (isMatch) {
                dets += Det(Kinds.Text, x0, ly0, x1, ly0 + 12.0, score, "", "", ord)
                ocrLines += Det(Kinds.Text, x0, ly0, x1, ly0 + 12.0, score, items(i), "")
              } else
                dets += Det(Kinds.Text, x0, ly0, x1, ly0 + 12.0, score, items(i), "", ord)
              i += 1
            }
          case Kinds.Table if s.text.contains("<img ") =>
            // table-fill-image contract (span_pre_proc.py:218-266 +
            // rapid_table.py:181-199): the recognizer returns the cell
            // content as a placeholder; the embedded image itself arrives
            // via the pdf layer (get_ori_image) strictly inside the table
            // region, and the pipeline's fill join must resolve it
            var html = s.text
            var fillIdx = 0
            var pos = html.indexOf("<img src=\"")
            while (pos >= 0) {
              val end = html.indexOf("\"/>", pos)
              val ref = html.substring(pos + 10, end)
              html = html.substring(0, pos) + s"{{fill-$fillIdx}}" + html.substring(end + 3)
              oriImgs += Det(Kinds.Figure, x0 + 10 + 40 * fillIdx, y0 + 56,
                x0 + 40 + 40 * fillIdx, y0 + 76, 1.0, "", ref)
              fillIdx += 1
              pos = html.indexOf("<img src=\"", pos)
            }
            dets += Det(Kinds.Table, x0, y0, x1, y1, score, html, s.media_ref, ord)
          case Kinds.ImageFootnote =>
            // the model has no image_footnote category — it emits a plain
            // footnote det; the pipeline's nearest-body re-class must
            // recover the kind (__fix_footnote)
            if (isMatch) {
              dets += Det(Kinds.Footnote, x0, y0, x1, y1, score, "", s.media_ref, ord)
              ocrLines += Det(Kinds.Text, x0, y0, x1, y1, score, s.text, "")
            } else
              dets += Det(Kinds.Footnote, x0, y0, x1, y1, score, s.text, s.media_ref, ord)
          case k @ (Kinds.Title | Kinds.Caption | Kinds.Footnote) if isMatch =>
            // eligible single-line labels: empty box + one OCR line
            dets += Det(k, x0, y0, x1, y1, score, "", s.media_ref, ord)
            ocrLines += Det(Kinds.Text, x0, y0, x1, y1, score, s.text, "")
          case k if k == Kinds.Figure && !isMatch && !emitsOrd &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|oritrap|" + s.offset), 6L) == 0L =>
            // TXT-MODE IMAGE SUBSTITUTION trap (~1/6 figures off the
            // match/model-order paths): the layout model emits NO figure
            // det — the image arrives only through the pdf layer
            // (get_ori_image), plus two ghost dets the model "read" inside
            // the image pixels. remove_layout_in_ori_images must DELETE
            // the ghosts (fully inside a pure image region) and INJECT the
            // score-1.0 image det carrying the media_ref
            // (backend/utils/utils.py:72-107) — without it the golden's
            // figure span is missing and two ghost blocks appear.
            oriImgs += Det(Kinds.Figure, x0, y0, x1, y1, 1.0, "", s.media_ref)
            dets += Det(Kinds.Text, x0 + 20, y0 + 20, x0 + 120, y0 + 34,
              0.8, "chart label ghost", "", -1)
            dets += Det(Kinds.Title, x0 + 30, y0 + 50, x0 + 140, y0 + 66,
              0.75, "Ghost Axis", "", -1)
          case k =>
            // ORIGINAL-IMAGE IoU trap (~1/7 figures off the match path):
            // the model det carries NO media_ref — the content arrives as
            // an embedded original image whose box matches at IoU ≈ 0.92;
            // cut_image's extract-original path (pdf_image_tools.py:
            // 196-201) must reuse the original's content identity, or the
            // figure span surfaces with an empty ref.
            val oriIou = k == Kinds.Figure && !isMatch &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|oriiou|" + s.offset), 7L) == 0L
            if (oriIou) {
              dets += Det(k, x0, y0, x1, y1, score, s.text, "", ord)
              val dx = 0.02 * (x1 - x0); val dy = 0.02 * (y1 - y0)
              oriImgs += Det(Kinds.Figure, x0 + dx, y0 + dy, x1 - dx, y1 - dy,
                1.0, "", s.media_ref)
              // a text-layer watermark char under the image makes it a
              // BACKGROUND image for the substitution rule
              // (txt_in_ori_image) — isolating the cut_image IoU-reuse
              // path from remove_layout_in_ori_images, which would
              // otherwise fire on noise dets landing inside the region.
              // The char claims no text span (figures are not fill
              // targets), so it is residue the char fill drops.
              val wx = (x0 + x1) / 2; val wy = (y0 + y1) / 2
              chars += CharDet("©", wx, wy, wx + 8.0, wy + 10.0, charIdx)
              charIdx += 1
            } else {
              dets += Det(k, x0, y0, x1, y1, score, s.text, s.media_ref, ord)
            }
            // EQ-OVER-TEXT trap (~1/7 display formulas off the match path):
            // a junk TEXT detection misread from the equation pixels, 4%
            // larger than the formula box (IoU ≈ 0.857 — the inline fold's
            // 0.9 gate stays closed).
            // fix_interline_equation_overlap_text_blocks_with_hi_iou
            // (block_pre_proc.py:174-199) must drop the TEXT directionally;
            // without it the containment dedup would kill the FORMULA (the
            // smaller box) and the junk would replace the equation.
            if (k == Kinds.Formula && !isMatch && !emitsOrd &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|etrap|" + s.offset), 7L) == 0L) {
              val dx = 0.04 * (x1 - x0); val dy = 0.04 * (y1 - y0)
              dets += Det(Kinds.Text, x0 - dx, y0 - dy, x1 + dx, y1 + dy,
                0.97, "misread equation pixels", "", -1)
            }
            // TITLE-UNION trap (~1/5 page-head level-3 section titles off
            // the match path): a smaller overlapping TITLE detection whose
            // top edge rides 4px above (overlap-over-min = 14·0.4W/(22·0.4W)
            // ≈ 0.82 > 0.8, IoU ≈ 0.37 — invisible to the IoU dedup).
            // remove_overlaps_min_blocks (block_pre_proc.py:222-261) must
            // UNION the smaller into the larger: the merged box is 22 tall,
            // so the rendered title level becomes 2 instead of 3 — a plain
            // drop without the bbox union keeps 18/level 3 and breaks the
            // golden markdown. The golden mirrors via [[titleUnionTrap]].
            if (k == Kinds.Title && !isMatch && !emitsOrd &&
              y0 == 56.0 && y1 - y0 == 18.0 && titleUnionTrap(doc.doc_id, p)) {
              dets += Det(Kinds.Title, x0, y0 - 4.0, x0 + 0.4 * (x1 - x0), y1,
                0.9, "", "", -1)
            }
        }
      }
      // boilerplate dets: header/footer detected as abandon; the page number
      // is mislabeled as text half the time — the geometric discard rules
      // must catch it (block_pre_proc.py:79-97 footnote/margin fences)
      pageSpans.filter(s => Kinds.discarded(s.kind)).foreach { s =>
        s.kind match {
          case Kinds.Header =>
            dets += Det(Kinds.Abandon, MarginX, 12, PageW - MarginX, 30, 0.95, s.text, "")
            // VS-DISCARDED trap (~1/6 pages): a stray text detection fully
            // inside the header's abandon band — remove_need_drop_blocks
            // (block_pre_proc.py:153-171, overlap-in-own-area > 0.6) must
            // trust the discarded box; nothing else can catch a non-small
            // mid-band box at the page top.
            if (!isMatch &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|htrap|" + p), 6L) == 0L)
              dets += Det(Kinds.Text, MarginX + 30, 14, MarginX + 150, 28,
                0.88, "stray header echo", "", -1)
          case Kinds.Footer =>
            // a detector never emits a footer box THROUGH body content: on
            // overflow pages where a placed box sits in the footer band at
            // >0.6 of its own area (the remove_need_drop_blocks ratio —
            // the rule would eat the content), the footer detection is
            // suppressed for the page
            val fx0 = MarginX; val fy0 = 752.0; val fx1 = 400.0; val fy1 = 768.0
            val footerClear = !placed.exists { case (_, (px0, py0, px1, py1)) =>
              val iw = math.min(px1, fx1) - math.max(px0, fx0)
              val ih = math.min(py1, fy1) - math.max(py0, fy0)
              val eaten = iw > 0 && ih > 0 && {
                val own = (px1 - px0) * (py1 - py0)
                own > 0 && iw * ih / own > 0.6
              }
              // ... nor a footer line ABOVE content it would fence away
              // (find_blocks_under_footnote: y0 >= footer bottom with
              // >=0.8 x-projection cover) — deep-overflow pages
              val fenced = py0 >= fy1 && (px1 - px0) > 0 &&
                iw / (px1 - px0) >= 0.8
              eaten || fenced
            }
            if (footerClear)
              dets += Det(Kinds.Abandon, MarginX, 752, 400, 768, 0.93, s.text, "")
            // FOOTNOTE-FENCE trap (~1/6 pages): the footer abandon box IS a
            // fence (wider than a third of the page, >10 tall, in the
            // bottom 30% — block_pre_proc.py:79-83); junk detected BELOW it
            // with ≥0.8 x-projection cover must join the discarded set
            // (find_blocks_under_footnote :202-219). At 140 wide it clears
            // the small-page-number fence, so only the footnote fence can
            // remove it.
            if (footerClear && !isMatch && !emitsOrd &&
              Math.floorMod(Rng.fnv64(doc.doc_id + "|ftrap|" + p), 6L) == 0L)
              dets += Det(Kinds.Text, MarginX + 8, 770, MarginX + 148, 784,
                0.9, "dangling footer shadow", "", -1)
          case Kinds.PageNumber =>
            // mislabel as text only when the page-number band stays isolated
            // (an overflowing column would defeat the isolation fence and the
            // pipeline could never discard it)
            val mislabel = kr.chance(0.5)
            val bandClear = !placed.exists { case (_, (_, y0, _, y1)) =>
              y1 > 770.0 && y0 < 788.0
            }
            val cat = if (mislabel && bandClear) Kinds.Text else Kinds.Abandon
            dets += Det(cat, 290, 772, 322, 786, 0.6, s.text, "")
          case _ =>
        }
      }
      // low-confidence noise detections
      val nNoise = kr.nextInt(3)
      var i = 0
      while (i < nNoise) {
        val nx = 40.0 + kr.nextInt(500)
        val ny = 60.0 + kr.nextInt(650)
        dets += Det(Kinds.Text, nx, ny, nx + 10 + kr.nextInt(30), ny + 8 + kr.nextInt(20),
          0.01 + 0.039 * kr.nextDouble(), "zz", "")
        i += 1
      }
      // spurious text misfires INSIDE figure/table bodies (the model "reads"
      // chart labels) — the span scope filter must drop them
      // (span_pre_proc.py remove_outside_spans:20-59 / containment dedup)
      dets.toVector.foreach { d =>
        if (Kinds.bodies(d.cat) && kr.chance(0.25)) {
          val mx = d.x0 + 8 + kr.nextInt(40)
          val my = d.y0 + 8 + kr.nextInt(30)
          dets += Det(Kinds.Text, mx, my, mx + 30 + kr.nextInt(60), my + 10,
            0.5 + 0.3 * kr.nextDouble(), "axis " + kr.nextInt(100), "")
        }
      }
      // garbled OCR rec results on scanned docs: readable-looking boxes with
      // rec confidence below OcrConfidence.min_confidence
      if (scanned) {
        val nGarbled = 1 + kr.nextInt(3)
        var g = 0
        while (g < nGarbled) {
          val gx = 40.0 + kr.nextInt(500)
          val gy = 60.0 + kr.nextInt(650)
          dets += Det(Kinds.Text, gx, gy, gx + 12 + kr.nextInt(40), gy + 10 + kr.nextInt(8),
            0.06 + 0.23 * kr.nextDouble(), "▯▯▯", "")
          g += 1
        }
      }
      // split detections: a figure/table body sometimes comes out as two
      // 85%-height boxes overlapping 70% — the pipeline's body-overlap
      // union must reassemble the full box
      // (pipeline_magic_model.py:164-204 __fix_by_remove_overlap_image_table_body)
      // (match docs keep whole-body boxes: the promotion mirror compares
      // areas against the authored geometry, and a split's 0.85-height
      // halves would shift max_block_area until the 4.6 union restores it)
      // (model-order docs too: there the PaddleX prefilter dedupes the
      // halves at MODEL level — overlap/min ≈ 0.82 > 0.7, same label, no
      // media exemption — and in the reference the surviving crop still
      // yields full content from pixels, a contract the det-carried stub
      // cannot express, so splits are authored off that path)
      val splits = ArrayBuffer.empty[(Int, Det, Det)]
      dets.zipWithIndex.foreach { case (d, i) =>
        if (Kinds.bodies(d.cat) && kr.chance(0.2) && !isMatch && !emitsOrd) {
          val h = d.y1 - d.y0
          splits += ((i,
            d.copy(y1 = d.y0 + 0.85 * h),
            d.copy(y0 = d.y1 - 0.85 * h, score = d.score - 0.1, text = "", media_ref = "")))
        }
      }
      splits.reverse.foreach { case (i, top, bottom) =>
        dets(i) = top
        dets += bottom
      }
      // duplicate detections of main blocks (near-identical box, lower
      // score, 1px narrower): IoU > 0.99 so the score-based dedup kills
      // the dup on the classic path, and the 1px area deficit makes the
      // PaddleX prefilter's area tiebreak (filter_overlap_boxes
      // box_area_i >= box_area_j) drop the dup deterministically on the
      // model-order path — an exact-area tie there would let emission
      // order decide and sometimes keep the low-score copy, which the
      // rec-confidence floor then eats
      val dups = dets.toVector.filter(d =>
        d.cat != Kinds.Abandon && d.score > 0.5 && kr.chance(0.15))
        .map(d => d.copy(score = d.score - 0.25, x1 = d.x1 - 1.0))
      dets ++= dups
      // scramble emission order (Fisher-Yates)
      val arr = dets.toArray
      var j = arr.length - 1
      while (j > 0) {
        val k = kr.nextInt(j + 1)
        val t = arr(j); arr(j) = arr(k); arr(k) = t
        j -= 1
      }
      // the OCR stream arrives in its own (scrambled) order too — the
      // matching layer may not rely on emission order
      val ocrArr = ocrLines.toArray
      if (isMatch) {
        var oj = ocrArr.length - 1
        while (oj > 0) {
          val k = kr.nextInt(oj + 1)
          val t = ocrArr(oj); ocrArr(oj) = ocrArr(k); ocrArr(k) = t
          oj -= 1
        }
      }
      // ~15% of pages arrive as rotated scans (90/180/270 cw): every box —
      // dets AND text layer — is emitted in the rotated image frame with
      // swapped page dims; the pipeline's orientation restore must map
      // them back (orientation model rapid_orientation_model.py;
      // restore_poly boxbase.py:328). Content-keyed, draws nothing.
      val rotKey = Math.floorMod(Rng.fnv64(doc.doc_id + "|rot|" + p), 20L)
      val rotation = if (rotKey == 0L) 90 else if (rotKey == 1L) 180
        else if (rotKey == 2L) 270 else 0
      if (rotation == 0)
        PageModel(doc.doc_id, p, PageW, PageH, arr.toVector, chars.toVector,
          0, oriImgs.toVector, regionDets, ocrArr.toVector)
      else {
        @inline def fwd(x0: Double, y0: Double, x1: Double, y1: Double) = rotation match {
          case 90 => (PageH - y1, x0, PageH - y0, x1)
          case 180 => (PageW - x1, PageH - y1, PageW - x0, PageH - y0)
          case _ => (y0, PageW - x1, y1, PageW - x0) // 270
        }
        @inline def rotDet(d: Det): Det = {
          val (x0, y0, x1, y1) = fwd(d.x0, d.y0, d.x1, d.y1)
          d.copy(x0 = x0, y0 = y0, x1 = x1, y1 = y1)
        }
        val rdets = arr.toVector.map(rotDet)
        val rchars = chars.toVector.map { c =>
          val (x0, y0, x1, y1) = fwd(c.x0, c.y0, c.x1, c.y1)
          c.copy(x0 = x0, y0 = y0, x1 = x1, y1 = y1)
        }
        val (w, h) = if (rotation == 180) (PageW, PageH) else (PageH, PageW)
        PageModel(doc.doc_id, p, w, h, rdets, rchars, rotation,
          oriImgs.toVector.map(rotDet), regionDets.map(rotDet),
          ocrArr.toVector.map(rotDet))
      }
    }
  }
}

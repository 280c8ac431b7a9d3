package graft.pipeline

import graft.schema._
import graft.geom.Geo
import graft.order.{XYCut, XYCutV3}
import scala.collection.mutable

/** Page-level processing: the geometric cleanup + tie-up + reading-order
  * stages of SURVEY.md §2.2-2.5, as one pure function per page row. All
  * decisions are geometry/score-based and independent of the kernel's
  * (scrambled) emission order. */
object PageOps {

  private val LowConf = 0.05          // pipeline_magic_model.py:72-82
  private val IouDedup = 0.9          // pipeline_magic_model.py:84-110
  private val PageNumMaxW = 60.0
  private val PageNumMaxH = 20.0
  private val BottomFenceFrac = 0.93  // block_pre_proc.py:79-97 analogue
  private val LineGapMax = 6.0        // max inter-line gap inside a block

  /** OCR rec-confidence floor (ocr_utils.py:374-375): garbled recognition
    * results land below it; real text lines stay above on both routes. */
  private val RecMinConf = 0.3

  /** Step 1's survivor test: above the model's score floor, and a text
    * det also above the rec-confidence floor. */
  @inline private def confident(d: Det): Boolean =
    d.score > LowConf && !(d.cat == Kinds.Text && d.score < RecMinConf)

  private val ListEndFlags = Set('.', '。', ';', '；') // para_split.py:7

  /** Geometric list/index block classifier — port of the reference's rule
    * ladder (__is_list_or_index_block, para_split.py:73-270): per-line
    * left/right flush counts against the block box, end-flag and digit
    * ratios, the centered-list rule, and the multi-paragraph exclusion.
    * Rules in reference order: (1) one side fully flush + >=80% digit
    * starts/ends -> index; (2) centered ragged lines with tall aspect ->
    * list; (3) >=2 left-flush lines + (>=2 right-ragged | >=80% end flags |
    * >=2 left-indented) and not multi-paragraph -> list; else text. */
  def classifyBlock(lines: Vector[Det], bx0: Double, by0: Double,
      bx1: Double, by1: Double, pageW: Double): String = {
    if (lines.length < 2) return Kinds.Text
    val n = lines.length
    val lineHeight = lines.head.y1 - lines.head.y0
    val blockWeight = bx1 - bx0
    val blockHeight = by1 - by0
    val weightRadio = if (pageW == 0) 0.0 else blockWeight / pageW
    val first = lines.head
    val last = lines.last
    // first line indented + last line flush-left with a ragged right: a
    // multi-paragraph block, excluded from list detection
    val multiplePara =
      first.x0 - bx0 > lineHeight / 2 &&
        math.abs(last.x0 - bx0) < lineHeight / 2 &&
        bx1 - last.x1 > lineHeight
    // CJK-ish block? (reference delegates to fasttext's zh/ja/ko branch;
    // the closed-area threshold is the only consumer) — same Han+kana+
    // hangul predicate as the lang-aware join, so the two tests agree
    val allText = lines.map(_.text).mkString
    val cjkChars = allText.count(graft.textnorm.TextNorm.isCjkChar)
    val isCjk = allText.nonEmpty && cjkChars * 2 > allText.length
    var leftClose = 0; var leftNotClose = 0
    var rightClose = 0; var rightNotClose = 0
    var centerClose = 0; var extNotClose = 0
    lines.foreach { l =>
      if (l.x0 - bx0 > 0.7 * lineHeight && bx1 - l.x1 > 0.7 * lineHeight)
        extNotClose += 1
      if (math.abs((l.x0 + l.x1) / 2 - (bx0 + bx1) / 2) < lineHeight / 2)
        centerClose += 1
      if (math.abs(bx0 - l.x0) < lineHeight / 2) leftClose += 1
      else if (l.x0 - bx0 > lineHeight) leftNotClose += 1
      if (math.abs(bx1 - l.x1) < lineHeight) rightClose += 1
      else {
        val closedArea =
          (if (isCjk || weightRadio >= 0.5) 0.26 else 0.36) * blockWeight
        if (bx1 - l.x1 > closedArea) rightNotClose += 1
      }
    }
    var numStart = 0; var numEnd = 0; var flagEnd = 0
    lines.foreach { l =>
      val t = l.text.trim
      if (t.nonEmpty) {
        if (ListEndFlags(t.last)) flagEnd += 1
        if (t.head.isDigit) numStart += 1
        if (t.last.isDigit) numEnd += 1
      }
    }
    val lineNumFlag = numStart * 5 >= n * 4 || numEnd * 5 >= n * 4
    val lineEndFlag = flagEnd * 5 >= n * 4
    if ((leftClose * 5 >= n * 4 || rightClose * 5 >= n * 4) && lineNumFlag)
      Kinds.Index
    else if (extNotClose >= 2 && centerClose == n &&
        extNotClose * 2 >= n && blockHeight / blockWeight > 0.4)
      Kinds.ListK
    else if (leftClose >= 2 &&
        (rightNotClose >= 2 || lineEndFlag || leftNotClose >= 2) &&
        !multiplePara)
      Kinds.ListK
    else Kinds.Text
  }

  /** Assemble a line group into one block det: classify geometrically,
    * then join content — list/index keep their line structure, text lines
    * hyphen/space-join (pipeline_middle_json_mkcontent.py:11-21). */
  private def buildBlock(lines: Vector[Det], pageW: Double): Det = {
    if (lines.length == 1) return lines.head
    val x0 = lines.map(_.x0).min; val y0 = lines.map(_.y0).min
    val x1 = lines.map(_.x1).max; val y1 = lines.map(_.y1).max
    val score = lines.map(_.score).max
    val cls = classifyBlock(lines, x0, y0, x1, y1, pageW)
    val text = cls match {
      case Kinds.ListK | Kinds.Index => lines.map(_.text).mkString("\n")
      case _ => graft.textnorm.TextNorm.joinAll(lines.map(_.text))
    }
    // para-merge right-flush precondition (para_split.py:287-289): does
    // the LAST line reach the block's right edge within one line height?
    val last = lines.maxBy(l => (l.y0, l.x0))
    val flush = math.abs(x1 - last.x1) < math.max(1.0, last.h)
    Det(cls, x0, y0, x1, y1, score, text, "", lines.head.order, lines.length, flush)
  }

  // span_pre_proc.py:402-403
  private val LineStopFlags: Set[Char] = Set(
    '.', '!', '?', '。', '！', '？', ')', '）', '"', '”', ':', '：', ';', '；',
    ']', '】', '}', '>', '》', '、', ',', '，', '-', '—', '–')
  private val LineStartFlags: Set[Char] = Set(
    '(', '（', '"', '“', '【', '{', '《', '<', '「', '『', '[')
  private val SpanHeightRadio = 0.33 // span_pre_proc.py:404

  /** Char-center-in-span test with the punctuation edge tolerances
    * (calculate_char_in_span, span_pre_proc.py:405-436): a line-end stop
    * char may overhang the right edge, a line-start bracket the left. */
  def charInSpan(c: CharDet, s: Det): Boolean = {
    val ccx = (c.x0 + c.x1) / 2
    val ccy = (c.y0 + c.y1) / 2
    val scy = (s.y0 + s.y1) / 2
    val sh = s.y1 - s.y0
    val yOk = s.y0 < ccy && ccy < s.y1 && math.abs(ccy - scy) < sh * SpanHeightRadio
    if (s.x0 < ccx && ccx < s.x1 && yOk) true
    else if (c.ch.nonEmpty && LineStopFlags(c.ch.head))
      (s.x1 - sh) < c.x0 && c.x0 < s.x1 && ccx > s.x0 && yOk
    else if (c.ch.nonEmpty && LineStartFlags(c.ch.head))
      s.x0 < c.x1 && c.x1 < (s.x0 + sh) && ccx < s.x1 && yOk
    else false
  }

  /** char->span fill (fill_char_in_spans, span_pre_proc.py:365-398): grid-
    * bucket the spans by y cells of the page's median text-span height,
    * probe each char's center cell, assign to the FIRST (topmost) matching
    * span, then rebuild each empty span's content from its chars sorted by
    * char_idx (the reference's own "hash join"). Text spans left empty
    * (nothing filled) are dropped — the analogue of the reference routing
    * them to OCR. */
  def fillChars(dets: Vector[Det], chars: Seq[CharDet]): Vector[Det] = {
    if (chars.isEmpty) return dets
    val heights = dets.filter(_.cat == Kinds.Text).map(_.h).sorted
    if (heights.isEmpty) return dets
    val median =
      if (heights.length % 2 == 1) heights(heights.length / 2)
      else (heights(heights.length / 2 - 1) + heights(heights.length / 2)) / 2.0
    val gridSize = math.max(median, 1.0)
    // candidate spans: the EMPTY text spans (one that already has text
    // keeps it, so chars it won would be lost to its neighbour), in y
    // order (the reference pre-sorts, so "first match wins" means the
    // topmost span); array-indexed grid — this runs for every txt-route
    // page, so map boxing here is fleet-wide churn
    val spanIdx = dets.indices.filter(i => dets(i).cat == Kinds.Text && dets(i).text.isEmpty)
      .sortBy(i => (dets(i).y0, dets(i).x0, i)).toArray
    var maxCell = 0
    spanIdx.foreach { i => val c = (dets(i).y1 / gridSize).toInt; if (c > maxCell) maxCell = c }
    val grid = new Array[mutable.ArrayBuffer[Int]](maxCell + 2)
    spanIdx.foreach { i =>
      val d = dets(i)
      var cell = math.max(0, (d.y0 / gridSize).toInt) // guard out-of-page boxes
      val endCell = math.min(maxCell + 1, (d.y1 / gridSize).toInt)
      while (cell <= endCell) {
        if (grid(cell) == null) grid(cell) = new mutable.ArrayBuffer[Int](4)
        grid(cell) += i
        cell += 1
      }
    }
    val collected = new Array[mutable.ArrayBuffer[CharDet]](dets.length)
    chars.foreach { c =>
      val cell = (((c.y0 + c.y1) / 2) / gridSize).toInt
      if (cell >= 0 && cell < grid.length && grid(cell) != null) {
        val cands = grid(cell)
        var k = 0
        var done = false
        while (k < cands.length && !done) {
          val i = cands(k)
          if (charInSpan(c, dets(i))) {
            if (collected(i) == null) collected(i) = new mutable.ArrayBuffer[CharDet](16)
            collected(i) += c
            done = true
          }
          k += 1
        }
      }
    }
    val out = Vector.newBuilder[Det]
    var i = 0
    while (i < dets.length) {
      val d = dets(i)
      if (d.cat != Kinds.Text || d.text.nonEmpty) out += d
      else if (collected(i) != null) {
        val cs = collected(i).sortInPlaceBy(_.idx)
        val sb = new java.lang.StringBuilder(cs.length)
        cs.foreach(ch => sb.append(ch.ch))
        out += d.copy(text = sb.toString)
      } else if (d.contrast >= 0.17 && d.ocrStub.nonEmpty)
        // unfillable span -> crop -> contrast gate -> OCR
        // (span_pre_proc.py:345-359): a crop at or above the 0.17
        // contrast line goes to the OCR model (== 0.17 boundary
        // explicitly kept — the gate is STRICT <) and its recovery
        // becomes the span content; below it the crop is blank/noise
        // and the span is REMOVED. The OCR model itself is the kernel
        // stub (Det.ocrStub carries its recovery).
        out += d.copy(text = d.ocrStub)
      // else: blank crop (contrast < 0.17) or stub-less legacy det — dropped
      i += 1
    }
    out.result()
  }

  /** y-overlap exceeding 0.8 of the LOWER box
    * (_is_overlaps_y_exceeds_threshold, ocr_utils.py:40-52). */
  @inline private def yOverlapExceeds(a: Det, b: Det): Boolean = {
    val overlap = math.min(a.y1, b.y1) - math.max(a.y0, b.y0)
    val minH = math.min(a.h, b.h)
    minH > 0 && overlap / minH > 0.8
  }

  /** Model-level overlap prefilter (filter_overlap_boxes,
    * backend/utils/utils.py:109-175) — the PaddleX-model path's cleanup,
    * run only when the layout model supplies reading order (the same
    * use_pp_doclayoutv2 gate that switches the block rules off,
    * block_pre_proc.py:87-105): degenerate boxes under 6px drop outright;
    * pairs overlapping >0.7 of the smaller drop the smaller — EXCEPT
    * pairs involving an inline-formula box (the default no-custom-OCR
    * path skips them, :141-151) and mixed-category pairs involving an
    * image or seal box (:159-166, the background-media exemption; the
    * reference comments 'table' out of that set). Drops are live within
    * the scan, like the reference's dropped_indexes check. Dets that
    * step 1 drops ([[confident]] false: at or below [[LowConf]], or text
    * under [[RecMinConf]]) take no part in the pairing: the reference
    * removes them before this filter, and here step 1 drops them after
    * it — a larger junk det must not evict a real box (a formula number)
    * on its way out. */
  def filterOverlapBoxes(dets: Vector[Det]): Vector[Det] = {
    val n = dets.length
    val dropped = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (dets(i).w < 6 || dets(i).h < 6) dropped(i) = true
      i += 1
    }
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (!dropped(i) && !dropped(j) && confident(dets(i)) && confident(dets(j))) {
          val a = dets(i); val b = dets(j)
          val inline =
            a.cat == Kinds.InlineFormula || b.cat == Kinds.InlineFormula
          if (!inline && Geo.overlapOverMin(a.x0, a.y0, a.x1, a.y1,
              b.x0, b.y0, b.x1, b.y1) > 0.7) {
            val media = (c: String) => c == Kinds.Figure || c == Kinds.Seal
            val exempt = a.cat != b.cat && (media(a.cat) || media(b.cat))
            if (!exempt) {
              if (a.area >= b.area) dropped(j) = true else dropped(i) = true
            }
          }
        }
        j += 1
      }
      i += 1
    }
    var any = false
    i = 0
    while (i < n && !any) { any = dropped(i); i += 1 }
    if (!any) dets
    else dets.indices.filterNot(dropped).map(dets).toVector
  }

  /** txt-mode image substitution (remove_layout_in_ori_images,
    * backend/utils/utils.py:32-107): an embedded original image whose
    * region carries NO text-layer content is a pure image — every
    * non-discarded layout det fully inside it (is_in, boxbase.py:6) is a
    * model misread of the image pixels and is DELETED; each image region
    * that actually replaced something gets an injected image det at score
    * 1.0 carrying the original image's media_ref. An image region WITH
    * text under it is a background image and is left alone (the
    * txt_in_ori_image skip — here the text layer is the char stream). */
  def removeLayoutInOriImages(dets: Vector[Det], ori: Seq[Det],
      chars: Seq[CharDet]): Vector[Det] = {
    if (ori.isEmpty) return dets
    val valid = ori.filter(o => !chars.exists { c =>
      val cx = (c.x0 + c.x1) / 2; val cy = (c.y0 + c.y1) / 2
      cx >= o.x0 && cx <= o.x1 && cy >= o.y0 && cy <= o.y1
    }).toVector
    if (valid.isEmpty) return dets
    val replaced = new Array[Boolean](valid.length)
    val out = Vector.newBuilder[Det]
    dets.foreach { d =>
      if (d.cat == Kinds.Abandon) out += d // category_id==2 kept (:75-77)
      else {
        var m = -1
        var k = 0
        while (k < valid.length && m < 0) {
          val o = valid(k)
          if (Geo.isIn(d.x0, d.y0, d.x1, d.y1, o.x0, o.y0, o.x1, o.y1)) m = k
          k += 1
        }
        if (m >= 0) replaced(m) = true else out += d
      }
    }
    var k = 0
    while (k < valid.length) {
      if (replaced(k)) {
        val o = valid(k)
        out += Det(Kinds.Figure, o.x0, o.y0, o.x1, o.y1, 1.0, "", o.media_ref, -1)
      }
      k += 1
    }
    out.result()
  }

  /** OCR det-box sort (sorted_boxes, ocr_utils.py:105-129), the exact
    * top-to-bottom/left-to-right ordering the reference applies to raw
    * detection boxes before merge/mask/recognition (rapid_ocr.py:272-277):
    * primary sort by (y0, x0), then a single leftward bubble pass that
    * swaps adjacent boxes whose y0 differ by LESS than 10px when the later
    * box starts further left — same-visual-row boxes with detector y
    * jitter come out in reading order, which a plain (y0, x0) sort cannot
    * do. Here it runs on the whole per-page det stream at the same
    * pipeline position, turning the kernel's scrambled emission into the
    * reference's canonical det order; the later stages stay geometric, so
    * ordering correctness never depends on it — exactly as in the
    * reference, where spans are re-sorted again before line merge. */
  def sortedBoxes(dets: Vector[Det]): Vector[Det] = {
    if (dets.length < 2) return dets
    val arr = dets.sortBy(d => (d.y0, d.x0)).toArray
    var i = 0
    while (i < arr.length - 1) {
      var j = i
      var stop = false
      while (j >= 0 && !stop) {
        if (math.abs(arr(j + 1).y0 - arr(j).y0) < 10 && arr(j + 1).x0 < arr(j).x0) {
          val tmp = arr(j); arr(j) = arr(j + 1); arr(j + 1) = tmp
          j -= 1
        } else stop = true
      }
      i += 1
    }
    arr.toVector
  }

  /** Formula-mask det-box update (update_det_boxes, ocr_utils.py:193-217;
    * the txt-route call site this ports is span_pre_proc.py:172): a
    * PRE-recognition text-line detection (empty text — its content comes
    * from the char fill) whose y-range coincides with a formula detection
    * is split around the formula's x-interval(s) (remove_intervals via
    * [[Geo.subtractIntervals]]) so recognition reads only text pixels. A
    * labeled inline-equation det that cut a line is that line's in-line
    * span carrier (pipeline_magic_model's InlineEquation spans live INSIDE
    * the line) — it reclasses to a recognized text span here and
    * [[joinSplitLines]] splices the line back together after the fill.
    * Post-rec (non-empty) dets arrive already split inside the kernel
    * (the ocr-route call, rapid_ocr.py:277) and pass through untouched.
    * Page-local O(n·m) like the reference's own loop. */
  def updateDetBoxes(dets: Vector[Det]): Vector[Det] = {
    val n = dets.length
    var anyMask = false; var anyEmpty = false
    var i = 0
    while (i < n) {
      val c = dets(i).cat
      if (c == Kinds.Formula || c == Kinds.InlineFormula) anyMask = true
      else if (c == Kinds.Text && dets(i).text.isEmpty) anyEmpty = true
      i += 1
    }
    if (!anyMask || !anyEmpty) return dets
    val isMask = new Array[Boolean](n)
    i = 0
    while (i < n) {
      val c = dets(i).cat
      isMask(i) = c == Kinds.Formula || c == Kinds.InlineFormula
      i += 1
    }
    val used = new Array[Boolean](n)
    val pieces = new Array[Vector[(Double, Double)]](n)
    i = 0
    while (i < n) {
      val d = dets(i)
      if (d.cat == Kinds.Text && d.text.isEmpty) {
        var cuts: List[(Double, Double)] = Nil
        var j = 0
        while (j < n) {
          if (isMask(j)) {
            val m = dets(j)
            if (m.x1 > d.x0 && m.x0 < d.x1 && yOverlapExceeds(d, m)) {
              cuts = (m.x0, m.x1) :: cuts
              used(j) = true
            }
          }
          j += 1
        }
        if (cuts.nonEmpty) pieces(i) = Geo.subtractIntervals(d.x0, d.x1, cuts)
      }
      i += 1
    }
    var changed = false
    i = 0
    while (i < n && !changed) { changed = pieces(i) != null || used(i); i += 1 }
    if (!changed) return dets // referential no-op: lets the caller skip the rejoin
    val out = Vector.newBuilder[Det]
    i = 0
    while (i < n) {
      val d = dets(i)
      if (pieces(i) != null)
        pieces(i).foreach { case (a, b) => out += d.copy(x0 = a, x1 = b) }
      else if (used(i) && d.cat == Kinds.InlineFormula)
        out += d.copy(cat = Kinds.Text)
      else out += d
      i += 1
    }
    out.result()
  }

  /** Exact-abutment x-junction tolerance for [[joinSplitLines]]: split
    * pieces and their mask tile the parent det with the SAME doubles, so
    * real junctions are exact; the smallest authored inter-det gap is 2.0. */
  private val JoinEps = 1e-6

  /** Rejoin the x-split spans of one text line after the char fill
    * (merge_spans_to_line, ocr_utils.py:20-37: spans sharing a line join in
    * x order; the recognized pieces and the inline-equation span become one
    * line). A chain = text dets with IDENTICAL y-extent abutting exactly in
    * x — the signature only det splitting produces (authored layouts keep
    * >=2.0 gaps between distinct dets). Text concatenates bare: the char
    * layer carries the spacing, the equation span its latex. */
  def joinSplitLines(dets: Vector[Det]): Vector[Det] = {
    val idx = dets.indices.filter(i => dets(i).cat == Kinds.Text)
    if (idx.length < 2) return dets
    val order = idx.sortBy { i => val d = dets(i); (d.y0, d.y1, d.x0, i) }.toArray
    val replacement = new Array[Det](dets.length) // at chain head
    val consumed = new Array[Boolean](dets.length)
    var k = 0
    while (k < order.length) {
      var end = k
      while (end + 1 < order.length && {
        val c = dets(order(end)); val nx = dets(order(end + 1))
        nx.y0 == c.y0 && nx.y1 == c.y1 && math.abs(nx.x0 - c.x1) <= JoinEps
      }) end += 1
      if (end > k) {
        val members = (k to end).map(m => dets(order(m)))
        val sb = new java.lang.StringBuilder()
        members.foreach(m => sb.append(m.text))
        val head = members.head
        replacement(order(k)) = head.copy(x1 = members.last.x1,
          score = members.map(_.score).max, text = sb.toString,
          order = members.map(_.order).max, nLines = 1)
        var m = k + 1
        while (m <= end) { consumed(order(m)) = true; m += 1 }
      }
      k = end + 1
    }
    val out = Vector.newBuilder[Det]
    var i = 0
    while (i < dets.length) {
      if (replacement(i) != null) out += replacement(i)
      else if (!consumed(i)) out += dets(i)
      i += 1
    }
    out.result()
  }

  /** Full port of the reference's tie-up matching,
    * tie_up_category_by_distance_v3 (magic_model_utils.py:30-169), over
    * indices into `blocks`:
    *
    *  phase 1 — greedy top-left sweep: among unseen boxes pick the one
    *    nearest the sweep origin (min (x0-left)^2+(y0-top)^2), pair it with
    *    its nearest opposite-kind box; REJECT the pair when
    *    `pair_dis >= 3 * nearest_dis` (nearest_dis = the object's distance
    *    to its closest subject, seen or not — magic_model_utils.py:104-113),
    *    retiring the subject but leaving the object for phase 2;
    *  phase 2 — every leftover object attaches to its nearest subject
    *    UNCONDITIONALLY (no distance bound, magic_model_utils.py:130-156):
    *    an object is standalone only when the page has no subject at all.
    *
    * Returns subject block idx -> object block idxs in attachment order
    * (phase-1 object first, phase-2 appends in sweep order) — the order the
    * reference renders the attachment list in. */
  def tieUp(blocks: Vector[Det], subjIdxIn: Vector[Int],
      objIdxIn: Vector[Int]): Map[Int, Vector[Int]] = {
    if (subjIdxIn.isEmpty || objIdxIn.isEmpty) return Map.empty
    @inline def d2origin(i: Int): Double = {
      val b = blocks(i); b.x0 * b.x0 + b.y0 * b.y0
    }
    // primitive-array form of the reference loop (this runs twice per page
    // — pipeline + the stub's layout validation — so allocation churn here
    // is fleet-wide memory bandwidth); the per-iteration sorts are replaced
    // by linear argmins with the SAME stable tie order: python's stable
    // sort-by-distance of the sweep-sorted list makes the winner the
    // minimum of (dist, sweepKey, original entry order), and entries are
    // subjects-then-objects, each pre-sorted by distance to the origin.
    val subs = subjIdxIn.sortBy(d2origin).toArray
    val objs = objIdxIn.sortBy(d2origin).toArray
    @inline def dist(a: Int, b: Int): Double = {
      val p = blocks(a); val q = blocks(b)
      Geo.edgeDist(p.x0, p.y0, p.x1, p.y1, q.x0, q.y0, q.x1, q.y1)
    }
    val n = subs.length
    val m = objs.length
    val total = n + m
    @inline def blockOf(e: Int): Int = if (e < n) subs(e) else objs(e - n)
    val seen = new Array[Boolean](total)
    var matchedSubs = 0
    val isMatchedSub = new Array[Boolean](n)
    val retKeys = new Array[Int](n) // subject order of first attachment
    var retLen = 0
    val retVals = Array.fill(n)(null: mutable.ArrayBuffer[Int])
    @inline def attach(si: Int, oi: Int): Unit = {
      if (retVals(si) == null) {
        retVals(si) = mutable.ArrayBuffer.empty[Int]
        retKeys(retLen) = si; retLen += 1
      }
      retVals(si) += oi
    }
    var break1 = false
    while (!break1 && matchedSubs < n) {
      // sweep origin over unseen entries
      var leftX = Double.MaxValue; var topY = Double.MaxValue
      var anyCand = false
      var e = 0
      while (e < total) {
        if (!seen(e)) {
          anyCand = true
          val b = blocks(blockOf(e))
          if (b.x0 < leftX) leftX = b.x0
          if (b.y0 < topY) topY = b.y0
        }
        e += 1
      }
      if (!anyCand) break1 = true
      else {
        // fst = argmin sweep key (ties: first in entry order)
        var fst = -1; var fstKey = Double.MaxValue
        e = 0
        while (e < total) {
          if (!seen(e)) {
            val b = blocks(blockOf(e))
            val k = (b.x0 - leftX) * (b.x0 - leftX) + (b.y0 - topY) * (b.y0 - topY)
            if (k < fstKey) { fstKey = k; fst = e }
          }
          e += 1
        }
        // nxt = opposite-kind argmin of (dist to fst, sweep key, entry order)
        val fstObj = fst >= n
        val fb = blockOf(fst)
        var nxt = -1; var nxtDist = Double.MaxValue; var nxtKey = Double.MaxValue
        e = 0
        while (e < total) {
          if (!seen(e) && (e >= n) != fstObj) {
            val d = dist(fb, blockOf(e))
            val b = blocks(blockOf(e))
            val k = (b.x0 - leftX) * (b.x0 - leftX) + (b.y0 - topY) * (b.y0 - topY)
            if (d < nxtDist || (d == nxtDist && k < nxtKey)) {
              nxtDist = d; nxtKey = k; nxt = e
            }
          }
          e += 1
        }
        if (nxt == -1) break1 = true
        else {
          val si = if (!fstObj) fst else nxt
          val oi = (if (!fstObj) nxt else fst) - n
          val pairDis = dist(subs(si), objs(oi))
          var nearest = Double.MaxValue
          var k = 0
          while (k < n) {
            val d = dist(subs(k), objs(oi)); if (d < nearest) nearest = d
            k += 1
          }
          if (pairDis >= 3 * nearest) {
            seen(si) = true
          } else {
            seen(si) = true; seen(oi + n) = true
            if (!isMatchedSub(si)) { isMatchedSub(si) = true; matchedSubs += 1 }
            attach(si, oi)
          }
        }
      }
    }
    // phase 2: leftover objects -> nearest subject, unconditionally
    var oi = 0
    while (oi < m) {
      if (!seen(oi + n)) {
        seen(oi + n) = true
        var nearest = Double.MaxValue; var nk = -1
        var k = 0
        while (k < n) {
          val d = dist(subs(k), objs(oi))
          if (d < nearest) { nearest = d; nk = k }
          k += 1
        }
        if (nk >= 0) attach(nk, oi)
      }
      oi += 1
    }
    val out = Map.newBuilder[Int, Vector[Int]]
    var r = 0
    while (r < retLen) {
      val si = retKeys(r)
      out += subs(si) -> retVals(si).map(objs).toVector
      r += 1
    }
    out.result()
  }

  /** Steps 5-7 as one shared core (also driven by the kernel stub's layout
    * validation, so pipeline and renderer simulation can never diverge):
    * tie-up, then reading order over anchors, then attachment expansion.
    * Ordering dispatch mirrors block_sort.py:154-236: the model-order
    * shortcut when any anchor carries original_order >= 0, else XY-cut++
    * v3 (region-aware when the page carries region detections), falling
    * back to the classic cut on failure. Returns block indices in
    * emission order. */
  def orderBlocks(blocks: Vector[Det], regions: Seq[Det] = Nil,
      pageW: Double = 612.0, pageH: Double = 792.0): Vector[Int] =
    emitBlocks(blocks, regions, pageW, pageH).map(_._1)

  /** orderBlocks plus the per-block emitted KIND: a footnote whose tie-up
    * subject is a FIGURE re-classes to image_footnote (__fix_footnote,
    * pipeline_magic_model.py:112-162 — the nearest body's kind decides);
    * everything else keeps its category. */
  def emitBlocks(blocks: Vector[Det], regions: Seq[Det] = Nil,
      pageW: Double = 612.0, pageH: Double = 792.0): Vector[(Int, String)] = {
    // one pass over the blocks to build the category index lists
    val capB = Vector.newBuilder[Int]; val fnB = Vector.newBuilder[Int]
    val numB = Vector.newBuilder[Int]; val bodyB = Vector.newBuilder[Int]
    val formulaB = Vector.newBuilder[Int]
    var bi = 0
    while (bi < blocks.length) {
      blocks(bi).cat match {
        case Kinds.Caption => capB += bi
        case Kinds.Footnote => fnB += bi
        case Kinds.FormulaNumber => numB += bi
        case Kinds.Figure | Kinds.Table => bodyB += bi
        case Kinds.Formula => formulaB += bi
        case _ =>
      }
      bi += 1
    }
    // containment reduction (reduct_overlap, magic_model_utils.py:9-27):
    // each tie-up candidate list drops members fully contained (is_in,
    // boxbase.py:6) in ANOTHER member of the same list — note two
    // IDENTICAL boxes contain each other and BOTH die, the reference's
    // exact loop. A reduced candidate leaves the page entirely (in the
    // reference it never reaches the typed block lists feeding
    // prepare_block_bboxes). Stage-order divergence, documented: the
    // reference reduces at magic-model time BEFORE the block rules; here
    // the tie-up runs last, so most contained pairs are already resolved
    // by the earlier union/dedup walks — the reduction still owns the
    // mutual-containment (both-die) edge those walks cannot express.
    // `reduced` collects the dropped candidates; reduct returns its input
    // INSTANCE when nothing drops, so the common no-overlap page pays no
    // allocation beyond the flag array
    val reducedB = Vector.newBuilder[Int]
    def reduct(idx: Vector[Int]): Vector[Int] = {
      val n = idx.length
      if (n < 2) return idx
      val keep = new Array[Boolean](n)
      java.util.Arrays.fill(keep, true)
      var any = false
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          if (i != j) {
            val a = blocks(idx(i)); val b = blocks(idx(j))
            if (Geo.isIn(a.x0, a.y0, a.x1, a.y1, b.x0, b.y0, b.x1, b.y1)) {
              if (keep(i)) { keep(i) = false; any = true; reducedB += idx(i) }
            }
          }
          j += 1
        }
        i += 1
      }
      if (!any) idx
      else idx.indices.filter(keep).map(idx).toVector
    }
    val capIdx = reduct(capB.result()); val fnIdx = reduct(fnB.result())
    val numIdx = reduct(numB.result()); val bodyIdx = reduct(bodyB.result())
    val formulaIdx = reduct(formulaB.result())
    val reducedV = reducedB.result()
    val reduced: Int => Boolean =
      if (reducedV.isEmpty) _ => false else reducedV.toSet

    // captions and footnotes tie to bodies in separate runs (the reference
    // runs one tie-up per category pair, pipeline_magic_model.py:227-300);
    // per subject the rendered order is captions, then footnotes
    val capAssign = tieUp(blocks, bodyIdx, capIdx)
    val fnAssign = tieUp(blocks, bodyIdx, fnIdx)
    val numAssign = tieUp(blocks, formulaIdx, numIdx)
    val attached = (capAssign.values.flatten ++ fnAssign.values.flatten ++
      numAssign.values.flatten).toSet

    val anchorsIdx = blocks.indices.toVector.filterNot(i =>
      attached(i) || reduced(i))
    // the sort runs over all non-reduced blocks with caption/footnote
    // attachments INCLUDED — the reference's add_lines_to_blocks indexes
    // bodies and their captions/footnotes so each earns a sort index, and
    // revert_group_blocks then places each IMAGE/TABLE group at the
    // MEDIAN of its members' indices (block_sort.py:57-89,246-292).
    // Formula NUMBERS stay OUT of the sort: the reference never groups
    // them (they are attached by the later formula-number fold,
    // model_json_to_middle_json.py:256-292), and a column of small
    // number boxes in the cut would read as a phantom layout column.
    val numAttached: Set[Int] = numAssign.values.flatten.toSet
    val sortIdx = blocks.indices.toVector.filterNot(i =>
      reduced(i) || numAttached(i))
    val order: Vector[Int] =
      if (sortIdx.exists(i => blocks(i).order >= 0)) {
        // model-order shortcut (block_sort.py:154-170): blocks sorted by
        // the model's own order; orderless blocks go last by geometry
        sortIdx.indices.toVector.sortBy { k =>
          val b = blocks(sortIdx(k))
          if (b.order >= 0) (0, b.order.toDouble, 0.0) else (1, b.y0, b.x0)
        }
      } else {
        val boxes = sortIdx.map { i =>
          val b = blocks(i); (b.x0, b.y0, b.x1, b.y1)
        }
        try {
          if (regions.nonEmpty)
            XYCutV3.orderWithRegions(boxes,
              regions.map(r => (r.x0, r.y0, r.x1, r.y1)), pageW, pageH)
          else XYCutV3.order(boxes)
        } catch { case _: Exception => XYCut.order(boxes) } // block_sort.py:230-236
      }
    val pos = new Array[Double](blocks.length)
    var pp = 0
    while (pp < order.length) { pos(sortIdx(order(pp))) = pp.toDouble; pp += 1 }
    @inline def median(xs: Array[Double]): Double = {
      java.util.Arrays.sort(xs)
      if (xs.length % 2 == 1) xs(xs.length / 2)
      else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2.0
    }
    // footnotes attached to a figure re-class to image_footnote
    val reclass: Map[Int, String] = fnAssign.flatMap { case (si, ois) =>
      if (blocks(si).cat == Kinds.Figure) ois.map(_ -> Kinds.ImageFootnote)
      else Nil
    }
    @inline def kindOf(i: Int): String = reclass.getOrElse(i, blocks(i).cat)
    // unit sort by (group median key, body position) over primitive arrays
    val nu = anchorsIdx.length
    val unitAtts = new Array[Vector[Int]](nu)
    val unitKey = new Array[Double](nu)
    val unitOrd = new Array[Int](nu)
    var ui = 0
    while (ui < nu) {
      val ai = anchorsIdx(ui)
      val capFn = capAssign.getOrElse(ai, Vector.empty) ++
        fnAssign.getOrElse(ai, Vector.empty)
      val atts = capFn ++ numAssign.getOrElse(ai, Vector.empty)
      unitAtts(ui) = atts
      // the group median reads body + caption/footnote positions only
      // (the revert_group_blocks member set); formula numbers ride the
      // expansion without a sort index
      unitKey(ui) =
        if (capFn.isEmpty) pos(ai)
        else {
          val xs = new Array[Double](capFn.length + 1)
          xs(0) = pos(ai)
          var k = 0
          while (k < capFn.length) { xs(k + 1) = pos(capFn(k)); k += 1 }
          median(xs)
        }
      unitOrd(ui) = ui
      ui += 1
    }
    // insertion sort over the unit indices (pages hold ~10 units)
    ui = 1
    while (ui < nu) {
      val u = unitOrd(ui)
      val ku = unitKey(u); val pu = pos(anchorsIdx(u))
      var uj = ui - 1
      while (uj >= 0 && {
        val o = unitOrd(uj)
        unitKey(o) > ku || (unitKey(o) == ku && pos(anchorsIdx(o)) > pu)
      }) { unitOrd(uj + 1) = unitOrd(uj); uj -= 1 }
      unitOrd(uj + 1) = u
      ui += 1
    }
    val out = Vector.newBuilder[(Int, String)]
    ui = 0
    while (ui < nu) {
      val u = unitOrd(ui)
      val ai = anchorsIdx(u)
      val atts = unitAtts(u)
      if (atts.isEmpty) out += ((ai, kindOf(ai)))
      else {
        // attachments geometrically above their subject render BEFORE it
        // (table captions sit above the body; the reference emits caption
        // lists before the body, pipeline_middle_json_mkcontent.py:52-82),
        // attachments below render after; tie-up list order within each side
        val (above, below) = atts.partition(oi => blocks(oi).cy < blocks(ai).cy)
        above.foreach(i => out += ((i, kindOf(i))))
        out += ((ai, kindOf(ai)))
        below.foreach(i => out += ((i, kindOf(i))))
      }
      ui += 1
    }
    out.result()
  }

  /** Orientation restore (restore_poly, boxbase.py:328; orientation model
    * rapid_orientation_model.py applied batch_analyze.py:114-125): map
    * boxes from the rotated scan frame back to upright page coordinates.
    * Returns (upright width, upright height, dets, chars). */
  def restoreOrientation(pm: PageModel)
      : (Double, Double, Vector[Det], Vector[CharDet], Vector[Det], Vector[Det], Vector[Det]) = {
    val rot = ((pm.rotation % 360) + 360) % 360
    if (rot == 0)
      return (pm.width, pm.height, pm.dets.toVector, pm.chars.toVector,
        pm.oriImages.toVector, pm.regions.toVector, pm.ocrLines.toVector)
    @inline def box(a0: Double, b0: Double, a1: Double, b1: Double) = rot match {
      case 90 => (b0, pm.width - a1, b1, pm.width - a0)
      case 180 => (pm.width - a1, pm.height - b1, pm.width - a0, pm.height - b0)
      case _ => (pm.height - b1, a0, pm.height - b0, a1) // 270
    }
    @inline def restDet(d: Det): Det = {
      val (x0, y0, x1, y1) = box(d.x0, d.y0, d.x1, d.y1)
      d.copy(x0 = x0, y0 = y0, x1 = x1, y1 = y1)
    }
    val dets = pm.dets.toVector.map(restDet)
    val chars = pm.chars.toVector.map { c =>
      val (x0, y0, x1, y1) = box(c.x0, c.y0, c.x1, c.y1)
      c.copy(x0 = x0, y0 = y0, x1 = x1, y1 = y1)
    }
    val ori = pm.oriImages.toVector.map(restDet)
    val regs = pm.regions.toVector.map(restDet)
    val ocr = pm.ocrLines.toVector.map(restDet)
    if (rot == 180) (pm.width, pm.height, dets, chars, ori, regs, ocr)
    else (pm.height, pm.width, dets, chars, ori, regs, ocr)
  }

  /** `formulaLevel` mirrors the reference's formula config
    * (batch_analyze.py:70,182-187): level 1 (or formula disabled) removes
    * INLINE-equation detections outright — their pixels read as plain text
    * — while display formulas keep their blocks. Level 0 folds labeled
    * inline dets into their text span (their content already lives there). */
  def process(pm: PageModel, formulaLevel: Int = 0): Vector[OrderedBlock] = {
    // 0. orientation restore: boxes arrive in the rotated scan frame
    val (pageW, pageH, updets0, upchars, oriImages, upregions, upocr) =
      restoreOrientation(pm)

    // 0.5 formula-level filter: drop labeled inline-equation dets when the
    //     config says not to recognize them (batch_analyze.py:182-187)
    val updets1 =
      if (formulaLevel == 1) updets0.filter(_.cat != Kinds.InlineFormula)
      else updets0

    // 0.65 model-order path prefilter: when the layout model supplies
    //      reading order (use_pp_doclayoutv2 — any det carries ord >= 0),
    //      the PaddleX-style overlap prefilter runs at MODEL level; the
    //      block fence/union rules are switched OFF below in exchange,
    //      exactly the reference's either-or (block_pre_proc.py:87-105)
    val usePp = updets1.exists(_.order >= 0)
    val updets15 = if (usePp) filterOverlapBoxes(updets1) else updets1
    // 0.68 txt-mode image substitution: pure embedded-image regions eat
    //      the model dets inside them and surface as score-1.0 image dets
    //      (remove_layout_in_ori_images); background images (text-layer
    //      content underneath) are skipped
    val updets17 =
      removeLayoutInOriImages(updets15, oriImages, upchars)
    // 0.69 OCR det-box sort: the canonical det ordering the reference
    //      establishes before the merge/mask passes (sorted_boxes,
    //      rapid_ocr.py:272) — the scrambled kernel emission becomes
    //      top-down reading order with the <10px same-row bubble
    val updets18 = sortedBoxes(updets17)
    // 0.7 formula-mask det-box update (update_det_boxes — txt-route call,
    //     span_pre_proc.py:172): pre-recognition empty line dets split
    //     around y-coinciding formula dets; the inline-equation carriers
    //     reclass to in-line text spans, rejoined at 3.7 after the fill
    val updets = updateDetBoxes(updets18)

    // Steps 1-3 as flag passes over one array (this loop runs for every
    // page in the fleet — per-step Vector rebuilds here are measurable
    // memory-bus churn at 32 threads). Semantics are unchanged: each
    // step's tests read the PREVIOUS step's survivor set (the snapshot a
    // chain of Vector.filter calls sees).
    val arr = updets.toArray
    val nD = arr.length
    val alive = new Array[Boolean](nD)
    // 1. low-confidence filter + OCR rec-confidence filter on text
    var i = 0
    while (i < nD) {
      val d = arr(i)
      alive(i) = confident(d)
      i += 1
    }
    // 1.5 inline-formula fold: a LABELED inline-equation det reaching this
    //     point is the ocr-route whole-line kind (0.7 already reclassed the
    //     txt-route line-splitting carriers) — it folds into its text span
    //     (its content lives there,
    //     pipeline_magic_model.py InlineEquation spans); an unlabeled
    //     formula det overlapping a TEXT detection at IoU >= 0.9 folds by
    //     the geometric check (check_inline_formula, rapid_layout.py:
    //     110-128 — the fallback for models without the category). Runs
    //     before the IoU dedup, which is category-blind and would
    //     otherwise pick one of the two by score. (Only formulas drop here
    //     and only text dets are consulted, so the in-place update cannot
    //     cascade.)
    i = 0
    while (i < nD) {
      if (alive(i) && arr(i).cat == Kinds.InlineFormula) alive(i) = false
      else if (alive(i) && arr(i).cat == Kinds.Formula) {
        val d = arr(i)
        var j = 0
        var hit = false
        while (j < nD && !hit) {
          if (alive(j) && arr(j).cat == Kinds.Text) {
            val o = arr(j)
            hit = Geo.iou(d.x0, d.y0, d.x1, d.y1, o.x0, o.y0, o.x1, o.y1) >= 0.9
          }
          j += 1
        }
        if (hit) alive(i) = false
      }
      i += 1
    }
    // 2. high-IoU dedup: drop a det when a strictly better overlapping det
    //    exists (ties impossible by construction; tiebreak on geometry+text
    //    keeps this deterministic regardless of emission order). Drops are
    //    computed against the full post-1.5 set, then applied (snapshot —
    //    exactly Vector.filter's non-cascading semantics).
    def lexLess(a: Det, b: Det): Boolean =
      if (a.x0 != b.x0) a.x0 < b.x0
      else if (a.y0 != b.y0) a.y0 < b.y0
      else a.text < b.text
    val drop = new Array[Boolean](nD)
    i = 0
    while (i < nD) {
      if (alive(i)) {
        val d = arr(i)
        var j = 0
        var hit = false
        while (j < nD && !hit) {
          if (j != i && alive(j)) {
            val o = arr(j)
            if (o.score > d.score || (o.score == d.score && lexLess(o, d)))
              hit = Geo.iou(d.x0, d.y0, d.x1, d.y1, o.x0, o.y0, o.x1, o.y1) > IouDedup
          }
          j += 1
        }
        drop(i) = hit
      }
      i += 1
    }
    // 3. split off model-abandoned regions (headers/footers -> Abandon):
    //    discarded blocks never render, but they stay live as PREDICATES —
    //    the vs-discarded nesting rule and the footnote fence both read
    //    them (block_pre_proc.py:154-171,79-97)
    val survivors = Vector.newBuilder[Det]
    val discardedB = Vector.newBuilder[Det]
    i = 0
    while (i < nD) {
      if (alive(i) && !drop(i)) {
        if (arr(i).cat == Kinds.Abandon) discardedB += arr(i)
        else survivors += arr(i)
      }
      i += 1
    }
    val discarded = discardedB.result()

    // 3.5 char->span fill: txt-route line detections arrive with empty text
    //     and are reconstructed from the page's pdf text layer
    //     (span_pre_proc.py:365-436)
    // 3.7 line rejoin: spans the 0.7 formula-mask update split (plus the
    //     equation carrier between them) merge back into their line
    //     (merge_spans_to_line, ocr_utils.py:20-37) — only pages where 0.7
    //     actually split anything pay the rejoin sort (referential no-op
    //     check; most pages have no formula-cut line)
    val filled = fillChars(survivors.result(), upchars)
    val live = if (updets eq updets18) filled else joinSplitLines(filled)

    // 4. page-number fence: a small isolated box in the bottom margin is
    //    boilerplate even when the model mislabeled it as text. The O(n)
    //    isolation scan only runs for the rare small-bottom boxes.
    val fenced = live.filter { d =>
      val smallBottom = d.w <= PageNumMaxW && d.h <= PageNumMaxH &&
        d.y0 > BottomFenceFrac * pageH
      !smallBottom || live.exists(o =>
        (o ne d) && Geo.interLen(o.y0, o.y1, d.y0, d.y1) > 0)
    }

    // 4.4 v3 OCR-text-matching (xycut_plus_v3.py get_layout_parsing_res):
    //     when the OCR lines arrive as a separate stream, eligible layout
    //     boxes bind their content from them (hurdle split, footnote fix,
    //     single-title promotion — see OcrMatch); runs after the fence so
    //     a mislabeled page number can't leak into bottom_text_y_max
    val (kept, promoteTitle) =
      if (upocr.nonEmpty) {
        val b = OcrMatch.bind(fenced, upocr)
        (b.dets, b.promoteTitle)
      } else (fenced, false)

    // 4.5 line merge + block classification: consecutive text-line
    //     detections sharing a left edge and stacked at line pitch group
    //     into one block (the reference's span->line->block build,
    //     span_block_fix.py:9-47,126); the group is classified by the
    //     geometric list/index ladder and content-joined accordingly
    val (textLines, nonText) = kept.partition(_.cat == Kinds.Text)
    val mergedText = {
      val sorted = textLines.sortWith((a, b) =>
        a.x0 < b.x0 || (a.x0 == b.x0 && (a.y0 < b.y0 ||
          (a.y0 == b.y0 && a.x1 < b.x1))))
      val out = Vector.newBuilder[Det]
      var group = Vector.empty[Det]
      def flush(): Unit =
        if (group.nonEmpty) { out += buildBlock(group, pageW); group = Vector.empty }
      sorted.foreach { d =>
        if (group.isEmpty) group = Vector(d)
        else {
          val cur = group.last
          if (d.x0 == group.head.x0 && d.y0 >= cur.y1 && d.y0 - cur.y1 <= LineGapMax)
            group = group :+ d
          else { flush(); group = Vector(d) }
        }
      }
      flush()
      out.result()
    }
    // 4.5b vertical line merge: columns sharing the exact vertical extent,
    //      horizontally adjacent, join RIGHT-to-LEFT (CJK vertical text,
    //      span_block_fix.py:160-236 vertical variants)
    val mergedVert = {
      val sorted = mergedText.sortWith((a, b) =>
        a.y0 < b.y0 || (a.y0 == b.y0 && (a.y1 < b.y1 ||
          (a.y1 == b.y1 && a.x0 > b.x0))))
      val out = Vector.newBuilder[Det]
      var cur: Det = null
      sorted.foreach { d =>
        if (cur == null) cur = d
        else if (d.y0 == cur.y0 && d.y1 == cur.y1 &&
            d.x1 <= cur.x0 && cur.x0 - d.x1 <= LineGapMax) {
          cur = cur.copy(text = cur.text + " " + d.text,
            x0 = d.x0, score = math.max(cur.score, d.score))
        } else { out += cur; cur = d }
      }
      if (cur != null) out += cur
      out.result()
    }
    // 4.6 body-overlap union: figure/table boxes overlapping >=0.8 of the
    //     smaller box merge into their union, keeping the higher-score
    //     carrier's text/media (pipeline_magic_model.py:164-204)
    val unionedBodies = {
      val (bodyDets, others) = nonText.partition(d => Kinds.bodies(d.cat))
      val buf = mutable.ArrayBuffer.from(bodyDets.sortBy(d => (d.x0, d.y0, d.y1, -d.score)))
      var changed = true
      while (changed) {
        changed = false
        var i = 0
        while (i < buf.length && !changed) {
          var j = i + 1
          while (j < buf.length && !changed) {
            val a = buf(i); val b = buf(j)
            if (a.cat == b.cat &&
                Geo.overlapOverMin(a.x0, a.y0, a.x1, a.y1, b.x0, b.y0, b.x1, b.y1) >= 0.8) {
              val hi = if (a.score >= b.score) a else b
              buf(i) = hi.copy(
                x0 = math.min(a.x0, b.x0), y0 = math.min(a.y0, b.y0),
                x1 = math.max(a.x1, b.x1), y1 = math.max(a.y1, b.y1))
              buf.remove(j)
              changed = true
            }
            j += 1
          }
          i += 1
        }
      }
      buf.toVector ++ others
    }
    // 4.65 table-fill-image join (extract_table_fill_image,
    //      span_pre_proc.py:218-266; placeholder injection
    //      rapid_table.py:181-199): embedded original images strictly
    //      inside a table region resolve the recognizer's {{fill-i}}
    //      placeholders, in (y0, x0) order
    val filledBodies =
      if (oriImages.isEmpty) unionedBodies
      else unionedBodies.map { d =>
        if (d.cat == Kinds.Table && d.text.contains("{{fill-")) {
          val imgs = oriImages.filter { im =>
            im.cx > d.x0 && im.cx < d.x1 && im.cy > d.y0 && im.cy < d.y1 &&
              Geo.iou(im.x0, im.y0, im.x1, im.y1, d.x0, d.y0, d.x1, d.y1) < 0.9
          }.sortBy(im => (im.y0, im.x0))
          var html = d.text
          imgs.zipWithIndex.foreach { case (im, i) =>
            html = html.replace(s"{{fill-$i}}", s"""<img src="${im.media_ref}"/>""")
          }
          d.copy(text = html)
        } else d
      }
    // 4.68 original-image IoU match (cut_image, pdf_image_tools.py:
    //      196-201): an image span matching an embedded original image at
    //      IoU >= 0.9 reuses the ORIGINAL image content — here its
    //      media_ref, the content identity — instead of a page crop
    //      (extract_original_image_iou_thresh default 0.9,
    //      model_json_to_middle_json.py:67-68)
    val oriMatchedBodies =
      if (oriImages.isEmpty) filledBodies
      else filledBodies.map { d =>
        if (d.cat == Kinds.Figure && d.media_ref.isEmpty)
          oriImages.find(im =>
            Geo.iou(d.x0, d.y0, d.x1, d.y1, im.x0, im.y0, im.x1, im.y1) >= 0.9)
            .map(im => d.copy(media_ref = im.media_ref)).getOrElse(d)
        else d
      }

    // 4.7 span scope filter: a text block mostly contained in a figure/table
    //     body is a model misfire (chart labels, cell text) — the body
    //     carries its own content (span_pre_proc.py remove_outside_spans /
    //     remove_overlaps_min_spans:90-125)
    val scopedText = mergedVert.filter { t =>
      val tArea = t.area
      tArea <= 0 || !oriMatchedBodies.exists { b =>
        Kinds.bodies(b.cat) && {
          val inter = Geo.interLen(t.x0, t.x1, b.x0, b.x1) *
            Geo.interLen(t.y0, t.y1, b.y0, b.y1)
          inter / tArea >= 0.8
        }
      }
    }
    // 4.75 block nesting fixes + footnote fence, the reference's exact
    //      rule sequence over the assembled block list
    //      (prepare_block_bboxes, block_pre_proc.py:65-105,125-261).
    //      "text" at this stage means the pre-classification TEXT category
    //      — list/index classification is a LATER para_split concern, so
    //      our geometric list blocks still count as text here.
    val blocks0 = {
      @inline def isText(d: Det): Boolean =
        d.cat == Kinds.Text || d.cat == Kinds.ListK || d.cat == Kinds.Index
      var bs = scopedText ++ oriMatchedBodies
      // (1) text-over-title IoU>0.8 -> trust the TEXT box, drop the title
      //     REGARDLESS of score (fix_text_overlap_title_blocks :125-150 —
      //     directional, unlike the score-keeps-winner IoU dedup)
      bs = bs.filterNot(t => t.cat == Kinds.Title && bs.exists(x =>
        isText(x) && Geo.iou(x.x0, x.y0, x.x1, x.y1, t.x0, t.y0, t.x1, t.y1) > 0.8))
      // (2) any block overlapping a DISCARDED region at >0.6 of its own
      //     area -> trust the discarded box (remove_need_drop_blocks
      //     :153-171)
      if (discarded.nonEmpty)
        bs = bs.filterNot(b => discarded.exists(d =>
          Geo.overlapInA(b.x0, b.y0, b.x1, b.y1, d.x0, d.y0, d.x1, d.y1) > 0.6))
      // (3) interline-equation-over-text IoU>0.8 -> trust the FORMULA box
      //     (fix_interline_equation_overlap_text_blocks_with_hi_iou
      //     :174-199; the contained-small-formula case falls to rule 5)
      bs = bs.filterNot(t => isText(t) && bs.exists(e =>
        e.cat == Kinds.Formula &&
          Geo.iou(e.x0, e.y0, e.x1, e.y1, t.x0, t.y0, t.x1, t.y1) > 0.8))
      // (4) footnote fence: a discarded box wider than a third of the
      //     page, taller than 10, in the bottom 30% is a footnote line;
      //     every block BELOW it whose x-projection it covers >= 0.8
      //     joins the discarded set (block_pre_proc.py:79-83,85-97,
      //     202-219). Rules 4-5 are SKIPPED on the model-order path —
      //     the use_pp_doclayoutv2 gate (:87-105); the 0.65 prefilter
      //     covered that path instead.
      val fences =
        if (usePp) Vector.empty
        else discarded.filter(d =>
          d.w > pageW / 3 && d.h > 10 && d.y0 > pageH * 0.7)
      if (fences.nonEmpty)
        bs = bs.filterNot(b => fences.exists(f =>
          b.y0 >= f.y1 &&
            Geo.vprojOverlapRatio(b.x0, b.x1, f.x0, f.x1) >= 0.8))
      // (5) big-eats-small: overlap > 0.8 of the smaller area -> the
      //     LARGER block absorbs the smaller's bbox (union, in place —
      //     later pairs see the grown box) and the smaller drops after
      //     the scan (remove_overlaps_min_blocks :222-261). Seal boxes
      //     are exempt, mirroring the span walk's protection (the
      //     reference routes seals outside this list entirely).
      val boxes = bs.toArray
      val gone = new Array[Boolean](boxes.length)
      var bi = 0
      if (usePp) bi = boxes.length // rule 5 also off on the model-order path
      while (bi < boxes.length) {
        var bj = bi + 1
        while (bj < boxes.length) {
          val b1 = boxes(bi); val b2 = boxes(bj)
          if (b1.cat != Kinds.Seal && b2.cat != Kinds.Seal &&
              Geo.overlapOverMin(b1.x0, b1.y0, b1.x1, b1.y1,
                b2.x0, b2.y0, b2.x1, b2.y1) > 0.8) {
            val (smallI, largeI) =
              if (b1.area <= b2.area) (bi, bj) else (bj, bi)
            if (!gone(smallI)) {
              val s = boxes(smallI); val l = boxes(largeI)
              boxes(largeI) = l.copy(
                x0 = math.min(l.x0, s.x0), y0 = math.min(l.y0, s.y0),
                x1 = math.max(l.x1, s.x1), y1 = math.max(l.y1, s.y1))
              gone(smallI) = true
            }
          }
          bj += 1
        }
        bi += 1
      }
      if (gone.exists(identity))
        boxes.indices.filterNot(gone).map(boxes).toVector
      else bs
    }

    // 4.8 containment dedup (remove_overlaps_min_spans,
    //     span_pre_proc.py:90-125): when two blocks overlap at >= 0.65 of
    //     the smaller area, the smaller drops — seals are protected on
    //     both sides; drops cascade (a dropped block can't kill another),
    //     exactly the reference's sequential pair walk. Bodies are already
    //     unioned (4.6), matching the reference's stage order.
    val blocks = {
      val n2 = blocks0.length
      val dropped = new Array[Boolean](n2)
      var a = 0
      while (a < n2) {
        var b2 = 0
        while (b2 < n2) {
          if (a != b2 && !dropped(a) && !dropped(b2)) {
            val s1 = blocks0(a); val s2 = blocks0(b2)
            if (s1.cat != Kinds.Seal && s2.cat != Kinds.Seal &&
                Geo.overlapOverMin(s1.x0, s1.y0, s1.x1, s1.y1,
                  s2.x0, s2.y0, s2.x1, s2.y1) >= 0.65) {
              dropped(if (s1.area <= s2.area) a else b2) = true
            }
          }
          b2 += 1
        }
        a += 1
      }
      if (dropped.exists(identity))
        blocks0.indices.filterNot(dropped).map(blocks0).toVector
      else blocks0
    }

    // 5-7. tie-up + reading order + attachment expansion + figure-footnote
    //      re-class (shared core — see emitBlocks; index-keyed so
    //      byte-identical detections can't collapse into one map entry)
    val emitted = emitBlocks(blocks, upregions, pageW, pageH)

    // 8. final blocks (list/index were classified geometrically during the
    //    line merge); title level from box height, clamped 1..4
    //    (get_title_level, pipeline_middle_json_mkcontent.py:355-361)
    emitted.zipWithIndex.map { case ((bi, kind), idx) =>
      val d = blocks(bi)
      val level =
        if (kind == Kinds.Title) {
          // the v3 single-title doc_title promotion overrides the height
          // ladder (xycut_plus_v3.py:126-139; at most one title exists
          // when the flag is set)
          if (promoteTitle) 1
          else if (d.h >= 30) 1 else if (d.h >= 20) 2 else if (d.h >= 16) 3 else 4
        } else 0
      OrderedBlock(kind, d.text, d.media_ref, pm.page_idx, idx, level, d.nLines,
        d.w, d.lastFlush)
    }
  }
}

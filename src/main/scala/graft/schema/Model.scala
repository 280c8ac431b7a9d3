package graft.schema

/** Core data model of the extraction engine (SURVEY.md §1.5).
  *
  * The input table carries interleaved text + media documents with exactly
  * the BASELINE.json `input_hint` shape:
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
  * The result table carries the ordered extraction output whose
  * `(kind, text, media_ref, order)` sequence is the correctness invariant.
  */

/** One authored span of the input document (pre-extraction position). */
case class InSpan(kind: String, text: String, media_ref: String, offset: Int)

/** One input document row (the Iceberg-shaped corpus table). */
case class DocRow(doc_id: String, spans: Seq[InSpan])

/** One extracted span of the result (reading-order position). */
case class OutSpan(kind: String, text: String, media_ref: String, order: Int)

/** One result row; `markdown` is the rendered per-document markdown
  * (reference: pipeline_middle_json_mkcontent.py union_make MM_MD). */
case class DocResult(doc_id: String, spans: Seq[OutSpan], markdown: String)

/** Span kind vocabulary (closed enums, cf. reference
  * rapid_doc/utils/enum_class.py — Spark has no enum type so these are
  * string constants invariant-checked in tests). */
object Kinds {
  val Title = "title"
  val Text = "text"
  val ListK = "list"
  val Index = "index"
  val Figure = "figure"
  val Table = "table"
  val Formula = "formula"
  /** model DET category for an inline equation (CategoryId.InlineEquation,
    * enum_class.py — distinct from the interline/display category): its
    * content lives inside the text span, so the det folds away; the
    * formula_level=1 config drops these dets outright
    * (batch_analyze.py:182-187). Never an OUTPUT span kind. */
  val InlineFormula = "inline_formula"
  val FormulaNumber = "formula_number"
  val Caption = "caption"
  val Footnote = "footnote"
  /** footnote re-classed to its figure (CategoryId.ImageFootnote=101,
    * enum_class.py:104; __fix_footnote pipeline_magic_model.py:112-162). */
  val ImageFootnote = "image_footnote"
  val Header = "header"
  val Footer = "footer"
  val PageNumber = "page_number"
  /** checkbox span (ContentType.checkbox, enum_class.py:58; det stage
    * checkbox_det_cls.py, injected as CategoryId 200). The span content is
    * the classifier's symbol — '☑' Ticked / '☐' Unticked
    * (classify_checkboxes, checkbox_det_cls.py:87-91). */
  val Checkbox = "checkbox"
  /** hyperlink span (ContentType.hyperlink, enum_class.py:59): anchor text
    * in `text`, target URL carried in `media_ref` (the span's resource
    * pointer), rendered as a markdown link (inline_renderer _render_link,
    * office/mkcontent/inline_renderer.py:534-566). */
  val Hyperlink = "hyperlink"
  /** seal span (ContentType.seal, enum_class.py:60; seal OCR stage
    * batch_analyze.py:415-456) — protected from containment dedup in the
    * reference (span_pre_proc.py:90-125). */
  val Seal = "seal"
  /** algorithm/pseudocode block (layout label 'algorithm'; rendered as a
    * fenced code block with a guessed language,
    * pipeline_middle_json_mkcontent.py _merge_algorithm_block:205-237). */
  val Algorithm = "algorithm"
  /** kinds suppressed from the main flow (boilerplate strip). */
  val discarded: Set[String] = Set(Header, Footer, PageNumber)
  /** model category for explicitly-abandoned regions (CategoryId.Abandon=2,
    * enum_class.py:93). */
  val Abandon = "abandon"
  val bodies: Set[String] = Set(Figure, Table)
}

/** One layout detection emitted by the kernel (the analogue of the
  * reference model-JSON layout_dets rows, rapid_layout.py:99-106).
  * `order` carries the model's own reading order when the layout model
  * supplies one (`original_order`, PP-DocLayoutV2/V3 behavior — the
  * model-order shortcut, block_sort.py:154-170); -1 = not provided. */
case class Det(
    cat: String,
    x0: Double, y0: Double, x1: Double, y1: Double,
    score: Double,
    text: String,
    media_ref: String,
    order: Int = -1,
    nLines: Int = 1,
    /** whether the block's LAST text line runs to its right edge (within
      * one line height) — the para-merge right-flush precondition
      * (__merge_2_text_blocks, para_split.py:287-289); single-line blocks
      * are their own last line, hence true. */
    lastFlush: Boolean = true,
    /** crop contrast of a need-OCR span (calculate_contrast,
      * span_pre_proc.py:518-540 — std/mean of the gray crop rounded to
      * 2dp; the `< 0.17` gate :354 removes blank/noise crops before OCR,
      * the == 0.17 boundary is explicitly kept "for the post-OCR").
      * Pixel-derived in the reference; authored through the deterministic
      * kernel stub here, the same contract as checkbox/seal state. */
    contrast: Double = 1.0,
    /** the OCR model's text recovery for a need-OCR crop — the stub
      * channel for the np_img → OCR content hand-off
      * (span_pre_proc.py:357-359 + the later rec pass). Empty = the crop
      * never went to OCR (char-layer or model-carried content). */
    ocrStub: String = "") {
  def w: Double = x1 - x0
  def h: Double = y1 - y0
  def cx: Double = (x0 + x1) / 2
  def cy: Double = (y0 + y1) / 2
  def area: Double = math.max(0, w) * math.max(0, h)
}

/** One text-layer character (the reference page_dict's
  * `chars:[{bbox, char, char_idx}]`, pdf_text_tool.py:12-33) — emitted in
  * deterministic text-layer order, never scrambled (the pdfium text layer
  * is separate from the model detections). */
case class CharDet(ch: String, x0: Double, y0: Double, x1: Double, y1: Double, idx: Int)

/** Per-page model output row (one row per (doc, page) after the kernel).
  * `chars` carries the pdf text layer on the txt route; detection boxes
  * whose text is empty are filled from it (span_pre_proc.py:365-436).
  * `rotation` is the page scan rotation in degrees clockwise as detected
  * by the orientation model (rapid_orientation_model.py, applied
  * batch_analyze.py:114-125): coordinates arrive in the ROTATED image
  * frame and the pipeline restores them upright (restore_poly,
  * boxbase.py:328). */
case class PageModel(
    doc_id: String,
    page_idx: Int,
    width: Double,
    height: Double,
    dets: Seq[Det],
    chars: Seq[CharDet] = Nil,
    rotation: Int = 0,
    /** embedded original images from the pdf text layer (get_ori_image,
      * pdf_image_tools.py:286) — the table-fill-image join's right side
      * (extract_table_fill_image, span_pre_proc.py:218-266). */
    oriImages: Seq[Det] = Nil,
    /** region-detection output (the reference's region_det_res boxes,
      * xycut_plus_v3.py:441-456): LAYOUT REGIONS the v3 orderer groups
      * blocks by before the two-level enhanced cut — a nested boxed
      * insert, a sidebar. Empty = the whole page is one region. */
    regions: Seq[Det] = Nil,
    /** OCR text-line stream arriving SEPARATELY from the layout boxes
      * (the reference's overall_ocr_res rec boxes+texts,
      * xycut_plus_v3.py:459-524): non-empty ⇒ the page takes the v3
      * OCR-text-matching path ([[graft.pipeline.OcrMatch]]) — eligible
      * layout dets carry empty text and their content binds from these
      * lines. Empty = the model already bound text (char layer or
      * per-line text dets). */
    ocrLines: Seq[Det] = Nil)

/** An ordered block after page-level processing, pre doc-assembly.
  * `nLines` carries the block's text-line count into the doc-level
  * paragraph-merge predicate (para_split.py:273-314 requires one side of
  * a merge to exceed a single line). */
case class OrderedBlock(
    kind: String,
    text: String,
    media_ref: String,
    page_idx: Int,
    index: Int,
    level: Int = 0,
    nLines: Int = 1,
    /** block box width — the para-merge 2× width-ratio bound
      * (para_split.py:292); 0 on geometry-free paths (office/html/pdf
      * converters), where the bound is vacuous. */
    width: Double = 0.0,
    /** last text line right-flush (see [[Det.lastFlush]]). */
    lastFlush: Boolean = true)

object OrderedBlock {
  /** A block of a flow document (the converter tiers): no page geometry,
    * and its reading-order position is its place in the tier's block
    * list, numbered by [[graft.pipeline.Assemble.result]]. */
  def flow(kind: String, text: String, mediaRef: String = "",
      level: Int = 0): OrderedBlock = OrderedBlock(kind, text, mediaRef, 0, 0, level)
}

/** Checkpoint-table row for resumable partition-grain lineage
  * (FIXTURES.md §4). */
case class CheckpointRow(
    run_id: String,
    bucket: Int,
    status: String,
    docs: Long,
    spans: Long,
    wall_ms: Long)

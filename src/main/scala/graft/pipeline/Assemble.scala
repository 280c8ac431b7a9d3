package graft.pipeline

import graft.schema._

/** Document-level assembly: the ordered fold that runs after page-parallel
  * processing (SURVEY.md §2.11) — formula-number attach, cross-page
  * paragraph merge (space and hyphen joins), then [[result]]: span
  * numbering and markdown rendering, shared with every converter tier.
  * Pure and deterministic. */
object Assemble {

  /** para_split's own LINE_STOP_FLAG tuple (para_split.py:6) — the set the
    * reference's paragraph-merge predicate tests, smaller than
    * span_pre_proc's line-edge set (no comma/brackets/dashes: a paragraph
    * ending with ',' is still a continuation candidate). Neither set holds
    * '-'; our hyphen join merging "wor-"/"d" into the restored word stays
    * the documented divergence (the reference keeps the two blocks). */
  private[graft] val stops = Set('.', '!', '?', '。', '！', '？', ')', '）', '"', '”',
    ':', '：', ';', '；')

  /** prev/next text-paragraph merge predicate — port of
    * __merge_2_text_blocks (para_split.py:273-314): the earlier block must
    * not end with a stop flag, its LAST line must run to the block's
    * right edge (right-flush, :287-289 — a short last line means the
    * paragraph already ended), the two blocks' widths must stay within 2×
    * of each other (:292 — a full-width paragraph does not continue into
    * a narrow column), the continuation must not start with a digit or an
    * uppercase letter, and one side must span more than one text line.
    * Width 0 marks geometry-free paths (converters) where the ratio bound
    * is vacuous. The first-line-indent test (:281) stays vacuous for
    * justified line detections; the '-' hyphen join remains the
    * documented divergence. */
  private def shouldMerge(prev: OrderedBlock, next: OrderedBlock): Boolean =
    prev.kind == Kinds.Text && next.kind == Kinds.Text &&
      prev.text.nonEmpty && next.text.nonEmpty &&
      !stops(prev.text.last) &&
      prev.lastFlush &&
      (prev.width <= 0 || next.width <= 0 ||
        math.abs(prev.width - next.width) < math.min(prev.width, next.width)) &&
      !next.text.head.isDigit && !next.text.head.isUpper &&
      (prev.nLines > 1 || next.nLines > 1)

  /** hyphen + lang-aware join (pipeline_middle_json_mkcontent.py:11-21,
    * 146-202). */
  private def join(a: String, b: String): String =
    graft.textnorm.TextNorm.joinText(a, b)

  def assemble(docId: String, pageBlocks: Seq[Vector[OrderedBlock]],
      mergeTables: Boolean = true): DocResult = {
    var flat = pageBlocks.sortBy(pb => if (pb.isEmpty) Int.MaxValue else pb.head.page_idx)
      .flatten.toVector

    // cross-page table merge (flag-gated; reference env
    // MINERU_TABLE_MERGE_ENABLE, utils/table_merge.py:950-1006): the full
    // stream pass — continuation-caption gating, header skip with rowspan
    // expansion, colspan adjustment, footnote relocation, stray-caption
    // restore (shared with the golden generator)
    if (mergeTables) {
      flat = TableMerge.mergeStream(flat)(
        _.kind, _.text, _.page_idx,
        (b, t) => b.copy(text = t),
        b => b.copy(kind = Kinds.Text))
    }

    // formula-number attach: an adjacent (formula, formula_number) pair on
    // the same page becomes `latex \tag{n}`; an orphan number degrades to
    // text (model_json_to_middle_json.py:256-292)
    val tagged = Vector.newBuilder[OrderedBlock]
    var i = 0
    while (i < flat.length) {
      val b = flat(i)
      if (b.kind == Kinds.Formula && i + 1 < flat.length &&
          flat(i + 1).kind == Kinds.FormulaNumber && flat(i + 1).page_idx == b.page_idx) {
        val n = flat(i + 1).text.stripPrefix("(").stripSuffix(")")
        tagged += b.copy(text = b.text + s" \\tag{$n}")
        i += 2
      } else if (b.kind == Kinds.FormulaNumber) {
        tagged += b.copy(kind = Kinds.Text)
        i += 1
      } else { tagged += b; i += 1 }
    }

    // cross-page paragraph merge, chained left-to-right
    val merged = Vector.newBuilder[OrderedBlock]
    var cur: OrderedBlock = null
    tagged.result().foreach { b =>
      if (cur == null) cur = b
      else if (shouldMerge(cur, b))
        // chained-merge geometry (para_split.py:273-314): the reference
        // extends the EARLIER block's line list but never recomputes its
        // bbox_fs, so the width/right-flush checks of a 3rd merge still
        // read the ORIGINAL earlier box — keep cur.width. The flush bit
        // does track the latest absorbed line; we carry b.lastFlush
        // (measured against b's own box) as the closest proxy since line
        // geometry isn't carried past page assembly — equal-width chains
        // (the corpus case) make the proxy exact; unequal-width chains
        // are a documented one-line divergence.
        cur = cur.copy(text = join(cur.text, b.text),
          lastFlush = b.lastFlush, nLines = cur.nLines + b.nLines)
      else { merged += cur; cur = b }
    }
    if (cur != null) merged += cur
    result(docId, merged.result())
  }

  /** THE result builder of every input tier (the mkcontent contract,
    * union_make, pipeline_middle_json_mkcontent.py:320-352; office:
    * office_analyze.py:9-36): a span's order is its position in
    * `blocks`, and the markdown renders from the same blocks. The kernel
    * path hands over its assembled blocks, each converter its walk's
    * blocks in reading order. */
  def result(docId: String, blocks: Seq[OrderedBlock]): DocResult =
    DocResult(docId,
      blocks.zipWithIndex.map { case (b, ord) => OutSpan(b.kind, b.text, b.media_ref, ord) },
      renderMarkdown(blocks))

  /** Per-document markdown (pipeline_middle_json_mkcontent.py:24-110).
    * Math renders in its stored form, the reference's default `$$`/`$`
    * delimiters. */
  def renderMarkdown(blocks: Seq[OrderedBlock]): String =
    blocks.map { b =>
      b.kind match {
        case Kinds.Title => "#" * math.max(1, b.level) + " " + b.text
        case Kinds.Figure => s"![](${b.media_ref})"
        case Kinds.Algorithm =>
          // magika code-lang guess in the reference; a deterministic
          // heuristic here (_merge_algorithm_block:205-237)
          val lang =
            if (b.text.contains("def ") || b.text.contains("return ") ||
              b.text.contains("for ")) "python" else ""
          s"```$lang\n${b.text}\n```"
        case Kinds.Caption | Kinds.Footnote | Kinds.ImageFootnote => "*" + b.text + "*"
        case Kinds.Hyperlink => s"[${b.text}](${b.media_ref})" // inline_renderer.py:534-566
        case _ => b.text
      }
    }.mkString("\n\n")
}

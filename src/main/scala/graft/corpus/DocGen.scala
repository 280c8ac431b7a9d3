package graft.corpus

import graft.schema._
import graft.util.{Rng, SplitMix64}
import java.security.MessageDigest

/** Deterministic synthetic corpus of interleaved text+media documents
  * (FIXTURES.md §2). Every document is generated from its doc_id hash alone,
  * so generation is order-, partition- and resume-independent.
  *
  * The generator also computes the GOLDEN output (FIXTURES.md §3): the
  * expected `(kind, text, media_ref, order)` sequence, derived from the
  * authoring structure alone — page boundaries, continuation flags, group
  * membership. The Spark pipeline never sees those flags: it must recover
  * the same sequence from the kernel stub's scrambled geometric detections.
  * Semantics mirror the reference pipeline's content_list construction
  * (rapid_doc/backend/pipeline/pipeline_middle_json_mkcontent.py:240-352).
  */
object DocGen {

  // -- text synthesis ------------------------------------------------------

  private val words = Vector(
    "analysis", "spark", "layout", "document", "model", "table", "figure",
    "formula", "page", "span", "block", "order", "merge", "column", "region",
    "text", "title", "caption", "footnote", "pipeline", "kernel", "batch",
    "stream", "filter", "sort", "join", "group", "median", "vector", "token",
    "corpus", "extract", "render", "scale", "shuffle", "salt", "bucket",
    "resume", "lineage", "metric")

  private[corpus] def word(r: SplitMix64): String = words(r.nextInt(words.size))

  private[corpus] def cap(s: String): String = s.head.toUpper + s.tail

  /** One sentence: capitalized, 6-12 words, terminated with '.'. Normal
    * paragraphs always end with a stop and start uppercase, so the para-merge
    * predicate can never fire on a non-continuation boundary. */
  private def sentence(r: SplitMix64, sb: StringBuilder): Unit = {
    val n = 6 + r.nextInt(7)
    val first = word(r)
    // (scala StringBuilder has no (CharSequence, from, to) append — a 3-arg
    // call silently boxes a tuple into append(Any))
    sb.append(first.head.toUpper).append(first.substring(1))
    var i = 1
    while (i < n) { sb.append(' ').append(word(r)); i += 1 }
    sb.append('.')
  }

  private[corpus] def paragraphOnce(r: SplitMix64): String = {
    val sb = new StringBuilder(160)
    val n = 1 + r.nextInt(3)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sentence(r, sb)
      i += 1
    }
    // ~20% of paragraphs carry an inline equation before the final stop;
    // the layout model also detects it as a formula box over the line, and
    // the pipeline's inline re-class must fold that det into the text
    if (r.chance(0.2))
      sb.insert(sb.length - 1, s" $$\\gamma_{${1 + r.nextInt(9)}}$$".replace("$$", "$"))
    sb.toString
  }

  /** A paragraph whose wrapped lines can never trip the geometric list
    * ladder (para_split.py:163-187 fires when >=80% of a block's lines end
    * with a LIST_END_FLAG): if >=80% of lines at ANY rendered width end
    * with '.', redraw. The rendered widths come from the stub's column
    * geometries (full page, two-column, insert, wrap). */
  private def paragraph(r: SplitMix64): String = {
    var p = paragraphOnce(r)
    def risky(s: String): Boolean = graft.kernel.StubModel.TextCpls.exists { cpl =>
      val ls = graft.kernel.StubModel.lineSplit(s, cpl)
      ls.length >= 2 && ls.count(l => l.nonEmpty && l.last == '.') * 5 >= ls.length * 4
    }
    while (risky(p)) p = paragraphOnce(r)
    p
  }

  private[corpus] def titleText(r: SplitMix64): String =
    Vector.fill(2 + r.nextInt(3))(cap(word(r))).mkString(" ")

  /** List block: items end with ';' (last '.') — the end-flag ratio is the
    * geometric ladder's rule-3 list signal (para_split.py:163-187). */
  private def listText(r: SplitMix64): String = {
    val n = 3 + r.nextInt(4)
    Vector.tabulate(n)(i =>
      "- " + word(r) + " " + word(r) + (if (i == n - 1) "." else ";")).mkString("\n")
  }

  /** TOC-style index block: "<Heading> . . . . <page>" lines
    * (para_split.py:73-270 index rules). */
  private def indexText(r: SplitMix64): String =
    Vector.fill(3 + r.nextInt(4))(
      cap(word(r)) + " " + word(r) + " . . . . " + (1 + r.nextInt(40))).mkString("\n")

  /** The header row carries the per-doc table counter so two DIFFERENT
    * tables never share a header (header equality drives the merge's
    * header-skip, table_merge.py detect_table_headers:483; merge
    * ELIGIBILITY is caption/footnote/structure-gated per
    * can_merge_tables:598 — a fresh table's leading caption is what blocks
    * an accidental cross-page merge).
    * ~30% of tables are WIRED (bordered — the wired/wireless classify of
    * rapid_table.py:47-58); ~25% embed an original image in a cell, which
    * the table recognizer returns as a placeholder the pipeline's
    * fill-image join must resolve (span_pre_proc.py:218-266). */
  private def tableHtml(r: SplitMix64, docId: String, k: Int): String = {
    val a = word(r); val b = word(r)
    val v1 = 100 + r.nextInt(900); val v2 = r.nextInt(100)
    val open = if (r.chance(0.3)) "<table border=\"1\">" else "<table>"
    val imgRow =
      if (r.chance(0.25))
        s"""<tr><td>Chart</td><td><img src="img://${sha256Hex(docId + ":tblimg:" + k)}"/></td></tr>"""
      else ""
    s"$open<tr><td>Model $k</td><td>${cap(a)}</td></tr>" +
      s"<tr><td>Testing Error</td><td>0.$v2$v1</td></tr>" +
      s"<tr><td>${cap(b)} Regression</td><td>$v1.2</td></tr>$imgRow</table>"
  }

  /** A table split across a page boundary: both parts repeat the header. */
  private def splitTable(r: SplitMix64, k: Int): (String, String) = {
    val header = s"<tr><td>Model $k</td><td>${cap(word(r))}</td></tr>"
    val rows = Vector.fill(3 + r.nextInt(4))(
      s"<tr><td>${cap(word(r))}</td><td>${100 + r.nextInt(900)}.${r.nextInt(10)}</td></tr>")
    val cut = 1 + r.nextInt(rows.length - 1)
    (s"<table>$header${rows.take(cut).mkString}</table>",
      s"<table>$header${rows.drop(cut).mkString}</table>")
  }

  /** Split table with differing column counts: part 1 rows are colspan-2
    * full-width cells (2 effective cols), part 2 grows to 3 columns — the
    * pipeline's merge must widen part 1's colspans to the 3-column target
    * (table_merge.py adjust_table_rows_colspan:680). Part 2 repeats no
    * header (header texts differ), exercising the k=0 boundary-row match. */
  private def colspanSplit(r: SplitMix64, k: Int): (String, String) = {
    val p1 = s"<table><tr><td>Model $k</td><td>${cap(word(r))}</td></tr>" +
      Vector.fill(2)(
        s"""<tr><td colspan="2">${cap(word(r))} ${word(r)} ${100 + r.nextInt(900)}</td></tr>""").mkString +
      "</table>"
    val p2 = s"<table><tr><td>${cap(word(r))}</td><td>${r.nextInt(100)}</td></tr>" +
      s"<tr><td>${cap(word(r))}</td><td>${r.nextInt(100)}</td><td>${r.nextInt(100)}</td></tr></table>"
    (p1, p2)
  }

  /** Split table with a two-row rowspan header repeated on both parts —
    * the merge's header skip must expand over the rowspan coverage
    * (table_merge.py _expand_header_count_by_rowspan:560). */
  private def rowspanSplit(r: SplitMix64, k: Int): (String, String) = {
    val header = s"""<tr><td rowspan="2">Model $k</td><td>${cap(word(r))}</td></tr>""" +
      s"<tr><td>${cap(word(r))}</td></tr>"
    def rows(m: Int) = Vector.fill(m)(
      s"<tr><td>${cap(word(r))}</td><td>${100 + r.nextInt(900)}</td></tr>").mkString
    (s"<table>$header${rows(2)}</table>", s"<table>$header${rows(1 + r.nextInt(2))}</table>")
  }

  private def formulaLatex(r: SplitMix64): String = {
    val i = 1 + r.nextInt(9)
    s"$$$$ \\lambda_{$i} = \\frac{a_{$i}}{\\bar{x}} $$$$".replace("$$$$", "$$")
  }

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("SHA-256")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = sha256HexBytes(s.getBytes("UTF-8"))

  def sha256HexBytes(data: Array[Byte]): String = {
    val md = digest.get()
    md.reset()
    val bytes = md.digest(data)
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = hexChars((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  // -- authoring structure -------------------------------------------------

  /** Authored block. `contWith` marks the page-boundary paragraph
    * continuation (this block merges with the FIRST main block of the next
    * page); `hyphen` selects the hyphen-join variant
    * (reference para merge: para_split.py:273-314,
    * hyphen rule pipeline_middle_json_mkcontent.py:11-21). */
  case class ABlock(kind: String, text: String, mediaRef: String = "",
      contWith: Boolean = false, hyphen: Boolean = false,
      level: Int = 0)

  case class APage(blocks: Vector[ABlock])

  case class ADoc(docId: String, pages: Vector[APage])

  /** Page-count distribution with the skew the routing must balance
    * (FIXTURES.md §2): 80% 1-3 pages, 15% 4-12, 5% 13-64. */
  private def nPages(r: SplitMix64): Int = {
    val roll = r.nextDouble()
    if (roll < 0.80) 1 + r.nextInt(3)
    else if (roll < 0.95) 4 + r.nextInt(9)
    else 13 + r.nextInt(52)
  }

  /** Page count of a doc without generating it (replays the first draws). */
  def pageCount(docId: String): Int = nPages(Rng.stream("gen", docId))

  def authored(docId: String): ADoc = {
    val r = Rng.stream("gen", docId)
    val np = nPages(r)
    var figK = 0
    var tabK = 0
    val pages = Vector.tabulate(np) { p =>
      val blocks = Vector.newBuilder[ABlock]
      if (p == 0 || r.chance(0.25)) {
        val t = titleText(r)
        // section levels 2..4 derive from the title text via the SAME
        // function the kernel uses to pick the rendered box height — the
        // pipeline recovers the level from geometry alone
        val lvl = if (p == 0) 1 else graft.kernel.StubModel.titleLevelOf(t)
        blocks += ABlock(Kinds.Title, t, level = lvl)
      }
      val nGroups = 2 + r.nextInt(4)
      var g = 0
      while (g < nGroups) {
        val roll = r.nextDouble()
        if (roll < 0.52) blocks += ABlock(Kinds.Text, paragraph(r))
        else if (roll < 0.53)
          // pseudocode block the layout model labels 'algorithm'; rendered
          // as a fenced code block (mkcontent _merge_algorithm_block)
          blocks += ABlock(Kinds.Algorithm,
            s"for i in range(${1 + r.nextInt(30)}):\n    total += ${word(r)}[i]\nreturn total")
        else if (roll < 0.55)
          // form checkbox with its label (checkbox_det_cls.py stage,
          // ContentType.checkbox) — a pass-through span kind the model
          // detects as its own category
          blocks += ABlock(Kinds.Checkbox,
            (if (r.chance(0.5)) "☑" else "☐") + " " + word(r) + " " + word(r))
        else if (roll < 0.56)
          // seal region with its OCR'd text (seal stage,
          // batch_analyze.py:415-456; containment-dedup-protected kind)
          blocks += ABlock(Kinds.Seal, s"SEAL ${cap(word(r))} ${cap(word(r))}")
        else if (roll < 0.575)
          // hyperlink span (ContentType.hyperlink, enum_class.py:59):
          // anchor text + target URL in media_ref, markdown-rendered as a
          // link (example.org is the RFC 2606 documentation domain)
          blocks += ABlock(Kinds.Hyperlink, s"See the ${word(r)} ${word(r)}",
            mediaRef = s"https://example.org/${word(r)}/${1 + r.nextInt(99)}")
        else if (roll < 0.70) {
          figK += 1
          blocks += ABlock(Kinds.Figure, "",
            mediaRef = "img://" + sha256Hex(docId + ":fig:" + figK))
          if (r.chance(0.8)) blocks += ABlock(Kinds.Caption, s"Figure $figK: Figure Caption")
          // figure footnotes: the model emits plain 'footnote' dets; the
          // pipeline's nearest-body re-class must recover image_footnote
          if (r.chance(0.3)) blocks += ABlock(Kinds.ImageFootnote,
            s"Fig note: ${word(r)} ${word(r)}.")
        } else if (roll < 0.82) {
          tabK += 1
          // table captions are authored ABOVE the body (the reference's
          // documents have them there; mkcontent renders caption before
          // body) — this is also what lets a fresh table's own caption
          // block a cross-page merge (can_merge_tables:598)
          if (r.chance(0.8)) blocks += ABlock(Kinds.Caption, s"Table $tabK: Table Caption")
          blocks += ABlock(Kinds.Table, tableHtml(r, docId, tabK))
          if (r.chance(0.4)) blocks += ABlock(Kinds.Footnote, s"Note: ${word(r)} ${word(r)}.")
        } else if (roll < 0.92) {
          blocks += ABlock(Kinds.Formula, formulaLatex(r))
          if (r.chance(0.5)) blocks += ABlock(Kinds.FormulaNumber, s"(${1 + r.nextInt(20)})")
        } else if (roll < 0.955) blocks += ABlock(Kinds.ListK, listText(r))
        else if (roll < 0.97)
          // orphan caption: no body anywhere near it — the tie-up's distance
          // rejection must leave it in place instead of dragging it to a
          // random body elsewhere on the page
          blocks += ABlock(Kinds.Caption, s"Unanchored caption ${word(r)}")
        else blocks += ABlock(Kinds.Index, indexText(r))
        g += 1
      }
      APage(blocks.result())
    }
    // Cross-page TABLE continuation pass (runs before the paragraph pass so
    // a boundary gets at most one continuation construct): a table whose
    // rows flow onto the next page. Eight variants exercise the full merge
    // protocol (utils/table_merge.py:483-1006): plain header repeat,
    // continuation caption, colspan adjustment, rowspan header skip,
    // footnote relocation, post-table caption restore, a NEGATIVE case
    // (previous-part footnote + caption-less continuation -> can_merge says
    // no), and the footnote-DELETION case (previous-part footnote +
    // continuation caption -> merge proceeds and perform_table_merge drops
    // the previous part's own footnote, :941-948).
    val withTables = pages.toArray
    var tp = 0
    while (tp < np - 1) {
      if (r.chance(0.15)) {
        tabK += 1
        val variant = r.nextInt(8)
        val (part1, part2) = variant match {
          case 2 => colspanSplit(r, tabK)
          case 3 => rowspanSplit(r, tabK)
          case _ => splitTable(r, tabK)
        }
        val append = Vector.newBuilder[ABlock]
        append += ABlock(Kinds.Caption, s"Table $tabK: Table Caption")
        append += ABlock(Kinds.Table, part1)
        if (variant == 6 || variant == 7)
          append += ABlock(Kinds.Footnote, s"Note: ${word(r)} ${word(r)}.")
        val prepend = Vector.newBuilder[ABlock]
        if (variant == 1 || variant == 3 || variant == 7)
          prepend += ABlock(Kinds.Caption, s"Table $tabK (continued)")
        prepend += ABlock(Kinds.Table, part2)
        if (variant == 4) // relocates onto the merged table
          prepend += ABlock(Kinds.Footnote, s"Note: ${word(r)} ${word(r)}.")
        if (variant == 5) // stray caption under the continuation -> text
          prepend += ABlock(Kinds.Caption, s"Remarks ${word(r)}.")
        withTables(tp) = APage(withTables(tp).blocks ++ append.result())
        withTables(tp + 1) = APage(prepend.result() ++ withTables(tp + 1).blocks)
      }
      tp += 1
    }
    // Standalone-caption resolution (after the table pass, which can add a
    // body to a page head): the reference's tie-up attaches every leftover
    // caption to the nearest body when the page has one
    // (magic_model_utils.py:130-156, unconditional) — a standalone caption
    // is only well-defined on a body-free page, so on body pages it is
    // authored as plain text instead. Draws nothing from the rng.
    var cp = 0
    while (cp < np) {
      val pg = withTables(cp)
      val hasBody = pg.blocks.exists(b => b.kind == Kinds.Figure || b.kind == Kinds.Table)
      if (hasBody) {
        val fixed = pg.blocks.zipWithIndex.map { case (b, i) =>
          val afterBody = i > 0 && (pg.blocks(i - 1).kind == Kinds.Figure ||
            pg.blocks(i - 1).kind == Kinds.Table)
          val beforeTable = i + 1 < pg.blocks.length &&
            pg.blocks(i + 1).kind == Kinds.Table
          val standalone = b.kind == Kinds.Caption && !afterBody && !beforeTable
          if (standalone) b.copy(kind = Kinds.Text) else b
        }
        withTables(cp) = APage(fixed)
      }
      cp += 1
    }
    // Continuation post-pass: a paragraph flowing across a page boundary.
    // Part 1 ends mid-sentence (no stop), part 2 starts lowercase — exactly
    // the reference's merge predicate; the hyphen variant splits inside a
    // word. Normal paragraphs can never satisfy the predicate.
    val adjusted = withTables
    val headReplaced = new Array[Boolean](np)
    var p = 0
    while (p < np - 1) {
      val cur = adjusted(p)
      val nxt = adjusted(p + 1)
      val lastIsText = cur.blocks.nonEmpty && cur.blocks.last.kind == Kinds.Text
      val firstIsText = nxt.blocks.nonEmpty && nxt.blocks.head.kind == Kinds.Text
      // never rewrite a page whose only block is itself a continuation part:
      // that would break the predicate chain the pipeline relies on
      val clobber = headReplaced(p) && cur.blocks.length == 1
      if (lastIsText && firstIsText && !clobber && r.chance(0.35)) {
        val hyphen = r.chance(0.3)
        val para = paragraph(r)
        val ws = para.split(" ").toVector
        // split strictly inside the final sentence so part2 starts lowercase
        val lastStart = {
          val idx = ws.lastIndexWhere(w => w.head.isUpper)
          math.max(idx, 0)
        }
        if (ws.length - lastStart >= 4) {
          val cut = lastStart + 1 + r.nextInt(ws.length - lastStart - 2)
          val (a, b) =
            if (hyphen && ws(cut).length >= 4) {
              val w = ws(cut)
              val mid = 2 + r.nextInt(w.length - 3)
              ((ws.take(cut) :+ (w.substring(0, mid) + "-")).mkString(" "),
                (w.substring(mid) +: ws.drop(cut + 1)).mkString(" "))
            } else (ws.take(cut).mkString(" "), ws.drop(cut).mkString(" "))
          // one side must wrap to >1 line at every rendered width (cpl<=90)
          // or the reference merge predicate's line-count condition
          // (para_split.py:303-304) would reject the continuation
          if (a.length > 90 || b.length > 90) {
            val hy = hyphen && ws(cut).length >= 4
            adjusted(p) = APage(cur.blocks.init :+
              ABlock(Kinds.Text, a, contWith = true, hyphen = hy))
            adjusted(p + 1) = APage(ABlock(Kinds.Text, b) +: nxt.blocks.tail)
            headReplaced(p + 1) = true
          }
        }
      }
      p += 1
    }
    ADoc(docId, adjusted.toVector)
  }

  // -- raw pdfium text layer (classify router input) ------------------------

  /** One raw page as the classify router reads it: the pdfium text layer
    * plus the char-level observables pdf_classify.py consumes that text
    * alone cannot carry (HasUnicodeMapError count, chars rendered by a
    * no-ToUnicode Identity CID font). */
  case class RawPage(doc_id: String, page_idx: Int, width: Int, height: Int,
      text: String, map_err: Int, cid_chars: Int, img_cov_pct: Int)

  /** Deterministic CJK filler (Han below U+7000 — never touches the
    * suspicious U+7280-72DF window). */
  private def cjkText(r: SplitMix64, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append((0x4E00 + r.nextInt(0x2200)).toChar); i += 1 }
    sb.toString
  }

  private val U72Whitelist = "犀犁犄犊犒犟犬犯状犷犹狂狄狈狐狗狙狞".toSet

  /** Latin-language word pools for the lang-id corpus classes (r4): each
    * pool leans on that language's stopwords and diacritics — the signals
    * the latin discriminator reads (fasttext stand-in breadth,
    * utils/language.py:22-41). Marker words are pool-unique across the
    * three languages. */
  private val frPool = Vector(
    "le", "la", "les", "des", "une", "est", "dans", "pour", "que", "nous",
    "avec", "très", "déjà", "être", "côté", "général", "réseau", "modèle",
    "données", "chaque", "aussi", "leur", "plus", "sans", "sous", "entre",
    "après", "avant", "donc", "ainsi", "même", "février", "élève", "garçon",
    "château", "ça")
  private val dePool = Vector(
    "der", "die", "das", "und", "ist", "nicht", "mit", "von", "zu", "den",
    "einem", "über", "für", "größe", "straße", "müssen", "können", "schön",
    "zwischen", "wieder", "immer", "durch", "nach", "bei", "aus", "wenn",
    "dann", "also", "doch", "schnell", "grün", "früh", "spät", "haben",
    "werden", "sein")
  private val esPool = Vector(
    "el", "los", "las", "una", "es", "en", "para", "que", "con", "por",
    "según", "año", "niño", "señal", "más", "sólo", "también", "están",
    "desde", "hasta", "cuando", "pero", "como", "muy", "sin", "sobre",
    "había", "través", "número", "página", "tiempo", "puede", "entre",
    "mismo", "cada", "forma")

  // Italian accents restricted to ò/ì/ù (è/à would feed the FRENCH
  // diacritic class) and Portuguese to ã/õ (á/í/ó/ú feed the Spanish
  // class, ç/ê/â the French) — each pool's accent signal stays inside its
  // own language-unique class, the r4 discipline
  private val itPool = Vector(
    "che", "della", "sono", "anche", "nella", "questo", "essere", "degli",
    "sulla", "quindi", "può", "ciò", "però", "perciò", "così", "lì", "giù",
    "più", "virtù", "laggiù", "dove", "ogni", "tutti", "fare", "tempo",
    "grande", "parte", "stato", "governo", "mondo", "giorno", "storia",
    "numero", "ancora", "dopo", "prima")
  private val ptPool = Vector(
    "uma", "com", "mais", "depois", "isso", "muito", "fazer", "anos",
    "seus", "pelo", "não", "então", "são", "mão", "questão", "verão",
    "irmã", "manhã", "visões", "razões", "limões", "botões", "tempo",
    "casa", "vida", "grande", "mundo", "parte", "governo", "sempre",
    "coisa", "aqui", "trabalho", "momento", "forma", "cidade")

  private def latinText(r: SplitMix64, pool: Vector[String], n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (i % 12 == 0) ". " else " ")
      sb.append(pool(r.nextInt(pool.size)))
      i += 1
    }
    sb.append('.')
    sb.toString
  }

  /** Single-script page text: word-ish runs of 3-9 chars from one code
    * range, space-separated with sentence stops — the script-dominant
    * page shape the breadth classes (ru/el/ar/he/th/hi) author. */
  private def scriptText(r: SplitMix64, base: Int, span: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(n + n / 4)
    var i = 0
    while (i < n) {
      val wl = 3 + r.nextInt(7)
      var j = 0
      while (j < wl && i < n) {
        sb.append((base + r.nextInt(span)).toChar); i += 1; j += 1
      }
      if (i < n) sb.append(if (r.chance(0.1)) ". " else " ")
    }
    sb.append('.')
    sb.toString
  }

  /** U+7280-72DF chars OUTSIDE the reference's common-hanzi whitelist
    * (SUSPICIOUS_CJK_72XX_WHITELIST, pdf_classify.py:30-32). */
  private def u72Text(r: SplitMix64, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = (0x7280 + r.nextInt(0x60)).toChar
      if (!U72Whitelist(c)) { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The raw text layer per document, with a deterministic corruption
    * class drawn from its own rng stream (independent of "gen", so the
    * extraction corpus is untouched). Classes map 1:1 onto the classify
    * ladder's rules (pdf_classify.py:91-237) plus two negative classes
    * (dot-leader TOC exemption; high image coverage that must NOT flip). */
  def rawPages(docId: String): Vector[RawPage] = {
    val doc = authored(docId)
    val r = Rng.stream("clf", docId)
    val roll = r.nextDouble()
    // 0 normal, 1 aspect, 2 sparse, 3 map-error, 4 cid, 5 abnormal,
    // 6 cross-script, 7 u72xx, 8 punct-garbage, 9 dot-leader TOC (txt),
    // 10 high image coverage (txt), 11 kana-dominant ja (txt),
    // 12 hangul-dominant ko (txt), 13-15 latin fr/de/es (r4: stopword +
    // diacritic profile classes for the latin discriminator),
    // 16-21 single-script pages ru/el/ar/he/th/hi (r5: the script-range
    // breadth classes — fasttext covers ~170 languages; script-dominant
    // detection is the content-derivable slice of that surface),
    // 22-23 latin it/pt (r5: stopword + unique-diacritic profiles)
    val cls =
      if (roll < 0.02) 1 else if (roll < 0.05) 2 else if (roll < 0.07) 3
      else if (roll < 0.09) 4 else if (roll < 0.11) 5 else if (roll < 0.13) 6
      else if (roll < 0.15) 7 else if (roll < 0.17) 8 else if (roll < 0.20) 9
      else if (roll < 0.25) 10 else if (roll < 0.27) 11
      else if (roll < 0.29) 12
      else if (roll < 0.31) 13 else if (roll < 0.33) 14
      else if (roll < 0.35) 15
      else if (roll < 0.365) 16 else if (roll < 0.38) 17
      else if (roll < 0.395) 18 else if (roll < 0.41) 19
      else if (roll < 0.425) 20 else if (roll < 0.44) 21
      else if (roll < 0.455) 22 else if (roll < 0.47) 23 else 0
    doc.pages.zipWithIndex.map { case (pg, p) =>
      val base = pg.blocks.map(_.text).filter(_.nonEmpty).mkString(" ")
      val nFig = pg.blocks.count(_.kind == Kinds.Figure)
      val imgCov = if (cls == 10) 85 + r.nextInt(14) else math.min(60, nFig * 18)
      val (w, h) = if (cls == 1 && p == 0) (6120, 500) else (612, 792)
      val text = cls match {
        case 2 => base.take(20 + r.nextInt(20))
        case 5 =>
          val n = math.max(12, base.length / 20)
          base + ("�" * (n / 2)) + ("" * (n / 4)) + ("" * (n / 4))
        case 6 =>
          val cyr = new String(Array.fill(50)((0x0410 + r.nextInt(0x40)).toChar))
          val dev = new String(Array.fill(50)((0x0905 + r.nextInt(0x30)).toChar))
          val jamo = new String(Array.fill(50)((0x1100 + r.nextInt(0x50)).toChar))
          cjkText(r, 400) + cyr + dev + jamo
        case 7 => cjkText(r, 800) + u72Text(r, 40)
        case 8 =>
          val letters = Vector.fill(28)(word(r)).mkString(" ").take(200)
          letters + ("#$%&;:<>?@" * 10)
        case 9 =>
          val heads = Vector.fill(10)(cap(word(r)) + " " + word(r)).map(_.take(12))
          heads.map(hd => hd + ("." * 12) + (1 + r.nextInt(40))).mkString(" ")
        case 11 => // hiragana/katakana-dominant page (lang ja)
          new String(Array.fill(400)((0x3041 + r.nextInt(0xBE)).toChar))
        case 12 => // hangul-syllable-dominant page (lang ko)
          new String(Array.fill(400)((0xAC00 + r.nextInt(0x2BA4)).toChar))
        case 13 => latinText(r, frPool, 250)
        case 14 => latinText(r, dePool, 250)
        case 15 => latinText(r, esPool, 250)
        case 16 => scriptText(r, 0x0430, 0x20, 400) // Cyrillic lowercase -> ru
        case 17 => scriptText(r, 0x03B1, 0x19, 400) // Greek lowercase -> el
        case 18 => scriptText(r, 0x0621, 0x2A, 400) // Arabic letters -> ar
        case 19 => scriptText(r, 0x05D0, 0x1B, 400) // Hebrew letters -> he
        case 20 => scriptText(r, 0x0E01, 0x2E, 400) // Thai consonants -> th
        case 21 => scriptText(r, 0x0905, 0x35, 400) // Devanagari -> hi
        case 22 => latinText(r, itPool, 250)
        case 23 => latinText(r, ptPool, 250)
        case _ => base
      }
      val mapErr = if (cls == 3) math.max(8, text.length * 8 / 100) else 0
      val cid = if (cls == 4) math.max(40, text.length / 50) else 0
      RawPage(docId, p, w, h, text, mapErr, cid, imgCov)
    }
  }

  // -- input table rows ----------------------------------------------------

  /** Input spans in authoring order, with per-page boilerplate
    * (header/footer/page_number) interleaved — the "interleaved text+media"
    * table of the north rule. */
  def docRow(docId: String): DocRow = {
    val doc = authored(docId)
    val spans = Vector.newBuilder[InSpan]
    var off = 0
    def add(kind: String, text: String, ref: String = ""): Unit = {
      spans += InSpan(kind, text, ref, off); off += 1
    }
    doc.pages.zipWithIndex.foreach { case (pg, p) =>
      add(Kinds.Header, s"RUNNING HEAD ${docId} page ${p + 1}")
      pg.blocks.foreach(b => add(b.kind, b.text, b.mediaRef))
      add(Kinds.Footer, s"footer ${p + 1}")
      add(Kinds.PageNumber, (p + 1).toString)
    }
    DocRow(docId, spans.result())
  }

  // -- golden oracle -------------------------------------------------------

  /** Expected output sequence, straight from the authoring structure:
    * boilerplate stripped, formula numbers attached as \tag{n}, page-boundary
    * continuations merged, list blocks kept as 'list'. */
  def golden(docId: String): DocResult = {
    val doc = authored(docId)
    // v3 OCR-match docs (the reference's get_layout_parsing_res path,
    // xycut_plus_v3.py): the standardization pass fixes labels before
    // ordering — mirror it from the authoring structure (exact because
    // match docs are single-column: placement is strictly top-down):
    //   - a footnote with body text BELOW it on the page is body text,
    //     not a footnote (:117-123; list/index blocks count — the model
    //     sees their lines as 'text' labels);
    //   - a lone sub-level title whose area clears 0.3× the largest
    //     block's area IS the doc title (:126-139) — level 1.
    val matchDoc = graft.kernel.StubModel.usesOcrMatch(docId)
    val pages0 =
      if (!matchDoc) doc.pages
      else doc.pages.map { pg =>
        val textish = pg.blocks.map(b =>
          b.kind == Kinds.Text || b.kind == Kinds.ListK || b.kind == Kinds.Index)
        val laterText = textish.scanRight(false)(_ || _).drop(1)
        val promoted = graft.kernel.StubModel.ocrMatchPromotesTitle(
          pg.blocks.map(b => (b.kind, b.text)))
        APage(pg.blocks.zipWithIndex.map { case (b, i) =>
          if ((b.kind == Kinds.Footnote || b.kind == Kinds.ImageFootnote) && laterText(i))
            b.copy(kind = Kinds.Text)
          else if (promoted && b.kind == Kinds.Title) b.copy(level = 1)
          else b
        })
      }
    // title-union trap mirror (StubModel.titleUnionTrap): the kernel's
    // smaller overlapping title det makes the pipeline's merged box 22
    // tall, so the rendered level for that page-head section title is 2
    val pages1 = pages0.zipWithIndex.map { case (pg, p) =>
      pg.blocks.headOption match {
        case Some(t) if p > 0 && !matchDoc && t.kind == Kinds.Title &&
            t.level == 3 && !graft.kernel.StubModel.emitsOrder(docId) &&
            graft.kernel.StubModel.titleUnionTrap(docId, p) =>
          APage(t.copy(level = 2) +: pg.blocks.tail)
        case _ => pg
      }
    }
    // flatten with page indices
    var flat = pages1.zipWithIndex.flatMap { case (pg, p) =>
      pg.blocks.map(b => (p, b))
    }
    // formula-number attach (reference: model_json_to_middle_json.py:256-292)
    val tagged = Vector.newBuilder[(Int, ABlock)]
    var i = 0
    while (i < flat.length) {
      val (p, b) = flat(i)
      if (b.kind == Kinds.Formula && i + 1 < flat.length &&
          flat(i + 1)._2.kind == Kinds.FormulaNumber && flat(i + 1)._1 == p) {
        val n = flat(i + 1)._2.text.stripPrefix("(").stripSuffix(")")
        tagged += ((p, b.copy(text = b.text + s" \\tag{$n}")))
        i += 2
      } else if (b.kind == Kinds.FormulaNumber) {
        // orphan number degrades to text (reference same)
        tagged += ((p, b.copy(kind = Kinds.Text)))
        i += 1
      } else {
        tagged += ((p, b)); i += 1
      }
    }
    flat = tagged.result()
    // cross-page table merge: the SAME stream pass the pipeline runs
    // (TableMerge.mergeStream) over the authoring sequence — merge
    // decisions, header skip, caption drop/restore and footnote relocation
    // are one shared implementation, so golden and pipeline cannot diverge
    // on them; what the pipeline must still independently recover is the
    // stream itself (order, attachment structure, boilerplate strip)
    flat = graft.pipeline.TableMerge.mergeStream(flat)(
      t => t._2.kind, t => t._2.text, t => t._1,
      (t, s) => (t._1, t._2.copy(text = s)),
      t => (t._1, t._2.copy(kind = Kinds.Text)))
    // cross-page paragraph merge, gated by the shared column plan: a
    // boundary whose pages were forced to DIFFERENT widths (the r4
    // width-ratio negative variant) keeps its parts separate — exactly
    // what the pipeline's ported para_split.py:292 bound refuses
    val (_, contAllowed) = graft.kernel.StubModel.contColumnPlan(docId,
      doc.pages.map(_.blocks.map(b => (b.kind, b.text))))
    val merged = Vector.newBuilder[(Int, ABlock)]
    var j = 0
    while (j < flat.length) {
      var (p, b) = flat(j)
      var k = j
      while (b.contWith && k + 1 < flat.length &&
          contAllowed(p + (k - j))) {
        val (p2, b2) = flat(k + 1)
        require(p2 == p + (k - j) + 1 && b2.kind == Kinds.Text,
          s"golden continuation invariant broken in $docId")
        // the hyphen variant's part-1 ends with '-' by construction, so
        // the shared join handles both variants
        val t = graft.textnorm.TextNorm.joinText(b.text, b2.text)
        b = b.copy(text = t, contWith = b2.contWith, hyphen = b2.hyphen)
        k += 1
      }
      merged += ((p, b))
      j = k + 1
    }
    val finalBlocks = merged.result()
    val out = finalBlocks.zipWithIndex.map { case ((_, b), ord) =>
      OutSpan(b.kind, b.text, b.mediaRef, ord)
    }
    // golden markdown: same renderer, but levels/content/order come from the
    // authoring structure — the pipeline must recover the title level from
    // box geometry (get_title_level analogue)
    val goldenMd = graft.pipeline.Assemble.renderMarkdown(
      finalBlocks.zipWithIndex.map { case ((p, b), ord) =>
        OrderedBlock(b.kind, b.text, b.mediaRef, p, ord, b.level)
      })
    DocResult(docId, out, goldenMd)
  }
}

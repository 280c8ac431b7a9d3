package graft.html

import graft.office.Ooxml
import graft.pipeline.TableMerge
import graft.schema.{DocResult, Kinds, OrderedBlock}
import org.w3c.dom.Element

/** HTML main-content extraction: DOM walk + boilerplate strip into the
  * engine's (kind, text, media_ref, order) span contract — the north
  * rule's "HTML boilerplate strip, DOM heuristics" tier.
  *
  * Five independent strip rules, each load-bearing on the corpus (each
  * has an authored trap only it can catch):
  *  1. TAG rule — script/style/nav/header/footer/aside/form and the
  *    document head never carry main content (the semantic-boilerplate
  *    element classes).
  *  2. LINK-DENSITY rule — a leaf block whose anchor text exceeds HALF its
  *    text (2·anchorChars > chars) is navigation in content clothing
  *    (promo rows, related-article lists, read-more stubs). This is the
  *    jusText / readability-family density heuristic; the corpus authors
  *    the traps with plain div/ul/p markup so only this rule can separate
  *    them, and a content paragraph with an inline anchor plus a plain
  *    list must SURVIVE it.
  *  3. UNLIKELY-CLASS rule — readability's unlikelyCandidates family: an
  *    element whose class/id names a share bar, comment section, sponsor
  *    slot, breadcrumb, … is dropped with its subtree. Catches chrome
  *    that is neither semantically tagged nor link-dense (share buttons,
  *    user-comment paragraphs that read like content).
  *  4. SHORT-CAPS rule — a short leaf block with letters but no lowercase
  *    ("ADVERTISEMENT", "SPONSORED CONTENT") is an ad/section marker, the
  *    jusText low-stopword "bad" class at its extreme; no tag, class, or
  *    link separates these.
  *  5. CONTEXT rule (jusText's context-sensitive pass): a SHORT text block
  *    (< 25 chars) carries too little signal to classify alone, so it
  *    inherits from its neighbors — classification runs in two phases
  *    (context-free classes good/bad/short, then a revision sweep) and a
  *    short block is dropped iff its nearest non-short neighbors on BOTH
  *    sides are bad (page edges count as bad). A terse content sentence
  *    amid paragraphs survives; the same-length teaser between two link
  *    farms does not — no per-block rule can tell them apart.
  *
  * Input parses through [[SoupParser]], a lenient HTML5-lite tag-soup
  * parser (implied end tags, case-insensitive names, unquoted attributes,
  * entities, void elements) — the corpus degrades half its pages into
  * soup so the walk is exercised over both well-formed XHTML and crawl-
  * grade markup; the walk itself is parser-agnostic. */
object HtmlConvert {

  private val StripTags = Set("script", "style", "nav", "form", "noscript",
    "iframe", "header", "footer", "aside", "head")
  private val ContainerTags = Set("body", "main", "article", "section", "div")
  private val BlockTags = ContainerTags ++ Set("p", "h1", "h2", "h3", "h4",
    "h5", "h6", "figure", "table", "pre", "ul", "ol", "blockquote")

  /** readability's unlikelyCandidates class/id vocabulary (the stable
    * cross-site subset). */
  private val UnlikelyRe = java.util.regex.Pattern.compile(
    "(?i)comment|share|social|sidebar|sponsor|promo|banner|advert|" +
      "breadcrumb|disqus|shoutbox|pager|popup|masthead|related")

  /** Image source with the lazy-loading fallback: crawled pages routinely
    * ship `<img data-src=…>` (the real src filled in by script), so an
    * empty/missing src falls back to data-src — the readability-family
    * lazy-image heuristic. */
  private def imgSrc(e: Element): String = {
    val src = e.getAttribute("src")
    if (src.nonEmpty) src else e.getAttribute("data-src")
  }

  private def unlikely(e: Element): Boolean = {
    val cls = e.getAttribute("class")
    val id = e.getAttribute("id")
    (cls.nonEmpty && UnlikelyRe.matcher(cls).find()) ||
      (id.nonEmpty && UnlikelyRe.matcher(id).find())
  }

  /** Letters but no lowercase, short: an ad/section marker. */
  private def capsBoiler(text: String): Boolean = {
    val s = text.trim
    s.nonEmpty && s.length <= 60 && s.exists(_.isLetter) && !s.exists(_.isLower)
  }

  private def anchorChars(e: Element): Int = {
    var n = 0
    Ooxml.descendants(e, "a").foreach(a => n += a.getTextContent.length)
    n
  }

  /** 2·anchorChars > chars — anchor text dominates the block. */
  private def linkDense(e: Element): Boolean = {
    val total = e.getTextContent.length
    total > 0 && 2 * anchorChars(e) > total
  }

  /** Context-free class of a text-bearing block (p/blockquote/leaf div). */
  private def textClass(e: Element): Int = {
    val t = e.getTextContent
    if (linkDense(e) || capsBoiler(t)) Bad
    else if (t.trim.length < ShortLen) Short
    else Good
  }

  /** Spans + markdown of one page; heading levels come from the hN tags. */
  def convert(docId: String, bytes: Array[Byte]): DocResult =
    graft.pipeline.Assemble.result(docId, blocks(bytes))

  /** Context-free classes (jusText shape, density-based classifiers). */
  private final val Good = 0
  private final val Bad = 1
  private final val Short = 2

  /** Below this a text block cannot be classified alone. */
  private final val ShortLen = 25

  /** The kept blocks in document order. */
  private def blocks(bytes: Array[Byte]): Vector[OrderedBlock] = {
    val cand = candidates(bytes)
    // context revision sweep: shorts inherit from nearest non-short
    // neighbors, edges are bad
    val n = cand.length
    val keep = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      cand(i)._5 match {
        case Good => keep(i) = true
        case Bad => ()
        case _ =>
          var p = i - 1
          while (p >= 0 && cand(p)._5 == Short) p -= 1
          var q = i + 1
          while (q < n && cand(q)._5 == Short) q += 1
          val prevBad = p < 0 || cand(p)._5 == Bad
          val nextBad = q >= n || cand(q)._5 == Bad
          keep(i) = !(prevBad && nextBad)
      }
      i += 1
    }
    val out = Vector.newBuilder[OrderedBlock]
    i = 0
    while (i < n) {
      if (keep(i)) out += OrderedBlock.flow(cand(i)._1, cand(i)._2, cand(i)._3, cand(i)._4)
      i += 1
    }
    out.result()
  }

  /** Phase 1: every block-level element in document order with its
    * context-free class. Tag/unlikely-class subtrees never enter the
    * stream (removed pre-classification, as jusText removes boilerplate
    * markup before segmenting). */
  private def candidates(bytes: Array[Byte]): Vector[(String, String, String, Int, Int)] = {
    val root = SoupParser.parse(new String(bytes, "UTF-8"))
    val body = Ooxml.children(root).find(_.getTagName == "body")
      .getOrElse(return Vector.empty)
    val out = Vector.newBuilder[(String, String, String, Int, Int)]

    def emitTable(e: Element): Unit = {
      val rows = Ooxml.descendants(e, "tr").map { tr =>
        Ooxml.children(tr)
          .filter(c => c.getTagName == "td" || c.getTagName == "th")
          .map { td =>
            def span(attr: String) =
              Option(td.getAttribute(attr)).filter(_.nonEmpty)
                .flatMap(_.toIntOption).getOrElse(1)
            TableMerge.Cell(td.getTextContent.trim, span("colspan"), span("rowspan"))
          }
      }
      out += ((Kinds.Table, TableMerge.render(rows), "", 0, Good))
    }

    def walk(e: Element): Unit = e.getTagName match {
      case t if StripTags(t) || unlikely(e) => ()
      case t @ ("h1" | "h2" | "h3" | "h4" | "h5" | "h6") =>
        out += ((Kinds.Title, e.getTextContent.trim, "", t.charAt(1) - '0',
          if (linkDense(e)) Bad else Good))
      case "p" | "blockquote" =>
        out += ((Kinds.Text, e.getTextContent.trim, "", 0, textClass(e)))
      case "ul" | "ol" =>
        if (linkDense(e)) out += (("", "", "", 0, Bad)) // link farm: bad context
        else {
          val items = Ooxml.children(e).filter(_.getTagName == "li")
          val text =
            if (items.nonEmpty) items.map(_.getTextContent.trim).mkString("\n")
            else e.getTextContent.trim
          out += ((Kinds.ListK, text, "", 0, Good))
        }
      case "figure" =>
        Ooxml.children(e).foreach {
          case img if img.getTagName == "img" =>
            out += ((Kinds.Figure, "", imgSrc(img), 0, Good))
          case cap if cap.getTagName == "figcaption" =>
            out += ((Kinds.Caption, cap.getTextContent.trim, "", 0, Good))
          case _ => ()
        }
      case "img" => out += ((Kinds.Figure, "", imgSrc(e), 0, Good))
      case "table" => emitTable(e)
      case "pre" => out += ((Kinds.Algorithm, e.getTextContent.trim, "", 0, Good))
      case t if ContainerTags(t) =>
        val kids = Ooxml.children(e)
        if (kids.exists(k => BlockTags(k.getTagName))) kids.foreach(walk)
        else if (e.getTextContent.trim.nonEmpty) // leaf div = paragraph
          out += ((Kinds.Text, e.getTextContent.trim, "", 0, textClass(e)))
      case _ => () // stray inline element at block level carries no block
    }

    walk(body)
    out.result()
  }
}

package graft.office

import graft.schema.{Kinds, OrderedBlock}
import org.w3c.dom.Element
import scala.collection.mutable

/** DOCX block walk: the model-free office input path (reference
  * office_analyze.py:9-36 -> model/docx/docx_converter.py, scoped to the
  * WordprocessingML surface the corpus authors). Over the package parts
  * [[OfficeConvert.convert]] unzipped, it parses word/document.xml with
  * the JDK DOM parser, resolves drawing/hyperlink relationships from the
  * rels part, and hands its blocks to the SAME result builder as the PDF
  * pipeline: Heading styles -> leveled titles, Caption style -> caption,
  * multi-run paragraphs joined (xml:space preserved), consecutive
  * numbered paragraphs -> one list block, w:tbl -> the engine's table
  * HTML dialect, drawings -> img:// media refs, hyperlinks -> anchor +
  * URL. Pure per-document function — runs inside mapPartitions like the
  * PDF kernel. Element matching is prefix-based (w:/a:/r:), the corpus
  * contract; a namespace-URI walk would be the production hardening. */
object DocxConvert {

  import Ooxml.{parseXml, children, descendants}

  /** Concatenated run text of a paragraph-ish element, in DOCUMENT ORDER:
    * `w:t` runs verbatim; an OMML equation (`m:oMath`, the reference's
    * eq-boundary splitting surface — docx_converter.py:486-690) re-wraps
    * as inline `$…$` from its `m:t` runs; `mc:AlternateContent` descends
    * into `mc:Choice` ONLY (a naive descendant concat would double the
    * text through `mc:Fallback` — the compatibility duplicate real
    * writers emit). Textbox content (`w:txbxContent`) flows through the
    * ordered walk naturally. */
  private def textOf(e: Element): String = {
    val sb = new StringBuilder
    def walk(n: org.w3c.dom.Node): Unit = n match {
      case el: Element if el.getTagName == "m:oMath" =>
        sb.append('$')
        sb.append(descendants(el, "m:t").map(_.getTextContent).mkString)
        sb.append('$')
      case el: Element if el.getTagName == "mc:AlternateContent" =>
        children(el).find(_.getTagName == "mc:Choice").foreach(walk)
      case el: Element if el.getTagName == "w:t" =>
        sb.append(el.getTextContent)
      case el: Element =>
        var c = el.getFirstChild
        while (c != null) { walk(c); c = c.getNextSibling }
      case _ => ()
    }
    walk(e)
    sb.toString
  }

  private def styleOf(p: Element): String =
    descendants(p, "w:pStyle").headOption.map(_.getAttribute("w:val")).getOrElse("")

  /** The block walk over w:body children in document order — document
    * order IS the reading order for flow documents (no geometry pass).
    * `parts` is the unzipped package ([[Ooxml.readZip]]). */
  def blocks(parts: Map[String, String]): Vector[OrderedBlock] = {
    val doc = parseXml(parts("word/document.xml"))
    val rels = Ooxml.relMap(parts.get("word/_rels/document.xml.rels"))
    val body = descendants(doc, "w:body").head
    val out = mutable.ArrayBuffer.empty[OrderedBlock]
    var listItems = Vector.empty[String]
    var listNumId = "" // consecutive items of the SAME numbering instance
    def flushList(): Unit =
      if (listItems.nonEmpty) {
        out += OrderedBlock.flow(Kinds.ListK, listItems.mkString("\n"))
        listItems = Vector.empty
        listNumId = ""
      }
    children(body).foreach { el =>
      el.getTagName match {
        case "w:tbl" =>
          flushList()
          // reconstruct spans: gridSpan -> colspan; vMerge restart opens a
          // rowspan whose per-row continuation placeholders increment it
          // and drop from the output; tblBorders -> the bordered dialect
          import graft.pipeline.TableMerge.Cell
          val bordered = children(el).exists(c => c.getTagName == "w:tblPr" &&
            descendants(c, "w:tblBorders").nonEmpty)
          var ownerRows = Map.empty[Int, (Int, Int)] // vcol -> (rowIdx, cellIdx)
          val rows = scala.collection.mutable.ArrayBuffer.empty[Vector[Cell]]
          children(el).filter(_.getTagName == "w:tr").foreach { tr =>
            val cellsB = Vector.newBuilder[Cell]
            var vcol = 0
            var cellIdx = 0
            var alive = Set.empty[Int] // vcols continued or restarted this row
            children(tr).filter(_.getTagName == "w:tc").foreach { tc =>
              val gs = descendants(tc, "w:gridSpan").headOption
                .flatMap(g => g.getAttribute("w:val").toIntOption).getOrElse(1)
              val vm = descendants(tc, "w:vMerge").headOption
              val restart = vm.exists(_.getAttribute("w:val") == "restart")
              if (vm.isDefined && !restart) {
                // continuation placeholder: grow the owner, emit nothing
                ownerRows.get(vcol).foreach { case (ri, ci) =>
                  val c = rows(ri)(ci)
                  rows(ri) = rows(ri).updated(ci, c.copy(rowspan = c.rowspan + 1))
                }
                alive += vcol
              } else {
                cellsB += Cell(textOf(tc), gs, 1)
                if (restart) { alive += vcol; ownerRows += vcol -> (rows.length, cellIdx) }
                cellIdx += 1
              }
              vcol += gs
            }
            ownerRows = ownerRows.filter { case (v, _) => alive(v) }
            rows += cellsB.result()
          }
          val html = graft.pipeline.TableMerge.render(rows.toVector)
          out += OrderedBlock.flow(Kinds.Table,
            if (bordered) "<table border=\"1\">" + html.stripPrefix("<table>") else html)
        case "w:p" =>
          val style = styleOf(el)
          val numPr = descendants(el, "w:numPr").headOption
          val drawing = descendants(el, "w:drawing").headOption
          val hyper = descendants(el, "w:hyperlink").headOption
          if (numPr.isDefined) {
            val nid = descendants(numPr.get, "w:numId").headOption
              .map(_.getAttribute("w:val")).getOrElse("")
            if (listItems.nonEmpty && nid != listNumId) flushList()
            listNumId = nid
            listItems :+= textOf(el)
          } else {
            flushList()
            // a drawing is a FIGURE only when it carries an image blip —
            // a textbox drawing (wps:txbx) is text and flows through the
            // ordered walk (the reference extracts textbox elements,
            // docx_converter.py:108,774)
            val isImage = drawing.exists(d => descendants(d, "a:blip").nonEmpty)
            if (drawing.isDefined && !isImage) {
              val t = textOf(el)
              if (t.nonEmpty) out += OrderedBlock.flow(Kinds.Text, t)
            } else if (isImage) {
              val embed = descendants(drawing.get, "a:blip").headOption
                .map(_.getAttribute("r:embed")).getOrElse("")
              val target = rels.getOrElse(embed, "")
              val hash = target.stripPrefix("media/").stripSuffix(".png")
              out += OrderedBlock.flow(Kinds.Figure, "", s"img://$hash")
            } else if (hyper.isDefined) {
              val url = rels.getOrElse(hyper.get.getAttribute("r:id"), "")
              out += OrderedBlock.flow(Kinds.Hyperlink, textOf(hyper.get), url)
            } else if (style.startsWith("Heading")) {
              val lvl = style.stripPrefix("Heading").toIntOption.getOrElse(1)
              out += OrderedBlock.flow(Kinds.Title, textOf(el),
                level = math.min(6, math.max(1, lvl)))
            } else if (style == "Caption") {
              out += OrderedBlock.flow(Kinds.Caption, textOf(el))
            } else {
              val t = textOf(el)
              if (t.nonEmpty) out += OrderedBlock.flow(Kinds.Text, t)
            }
          }
        case _ =>
      }
    }
    flushList()
    out.toVector
  }
}

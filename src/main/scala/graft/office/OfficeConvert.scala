package graft.office

import graft.schema.{Kinds, DocResult, OrderedBlock}
import org.w3c.dom.Element
import Ooxml._

/** Office format dispatcher + the xlsx/pptx converters (reference
  * office_analyze.py:16-25 routes by guess_suffix_by_bytes; here the
  * package's parts identify the format — word/document.xml, xl/
  * workbook.xml, ppt/presentation.xml). All three converters emit the
  * engine's (kind, text, media_ref, order) span contract. */
object OfficeConvert {

  /** xlsx: sheets in workbook order (workbook.xml sheets -> rels ->
    * worksheet parts); each sheet emits its name as a title plus one
    * table block. Cell values resolve through sharedStrings (t="s");
    * A1-style refs place cells, gaps pad to the sheet's max column
    * (xlsx_converter.py surface). */
  /** Built-in date/time number formats (ECMA-376 §18.8.30). */
  private val DateNumFmts: Set[Int] = ((14 to 22) ++ (45 to 47)).toSet

  def xlsxBlocks(parts: Map[String, String]): Vector[OrderedBlock] = {
    val wb = parseXml(parts("xl/workbook.xml"))
    val rels = relMap(parts.get("xl/_rels/workbook.xml.rels"))
    val sst: Vector[String] = parts.get("xl/sharedStrings.xml").map { xml =>
      descendants(parseXml(xml), "si").map(si =>
        descendants(si, "t").map(_.getTextContent).mkString)
    }.getOrElse(Vector.empty)
    // cell styles: xf index -> numFmtId; a date-format style makes the
    // cell's serial render as the datetime string (what openpyxl's
    // cell.value str()s to on the reference side, xlsx_converter.py:1549)
    val xfNumFmt: Vector[Int] = parts.get("xl/styles.xml").map { xml =>
      descendants(parseXml(xml), "cellXfs").headOption.map { xfs =>
        descendants(xfs, "xf").map(xf =>
          Option(xf.getAttribute("numFmtId")).filter(_.nonEmpty)
            .flatMap(_.toIntOption).getOrElse(0))
      }.getOrElse(Vector.empty)
    }.getOrElse(Vector.empty)
    def renderValue(c: Element, raw: String): String = {
      val s = Option(c.getAttribute("s")).filter(_.nonEmpty).flatMap(_.toIntOption)
      val isDate = s.exists(i => i < xfNumFmt.length && DateNumFmts(xfNumFmt(i)))
      if (isDate) raw.toLongOption.map(serial =>
        java.time.LocalDate.of(1899, 12, 30).plusDays(serial).toString + " 00:00:00")
        .getOrElse(raw)
      else raw
    }
    def colOf(ref: String): Int = {
      var c = 0
      ref.takeWhile(_.isLetter).foreach(ch => c = c * 26 + (ch - 'A' + 1))
      c - 1
    }
    descendants(wb, "sheet").flatMap { sh =>
      val target = rels.getOrElse(sh.getAttribute("r:id"), "")
      val ws = parseXml(parts(s"xl/$target"))
      // mergeCells ranges: (row0, col0, rowSpan, colSpan), 0-based
      val merges = descendants(ws, "mergeCell").map { mc =>
        val Array(a, b) = mc.getAttribute("ref").split(":")
        def rowOf(ref: String): Int = ref.dropWhile(_.isLetter).toInt - 1
        (rowOf(a), colOf(a), rowOf(b) - rowOf(a) + 1, colOf(b) - colOf(a) + 1)
      }
      def anchor(ri: Int, ci: Int): Option[(Int, Int, Int, Int)] =
        merges.find { case (r0, c0, _, _) => ri == r0 && ci == c0 }
      def coveredNotAnchor(ri: Int, ci: Int): Boolean = merges.exists {
        case (r0, c0, rs, cs) =>
          ri >= r0 && ri < r0 + rs && ci >= c0 && ci < c0 + cs &&
            !(ri == r0 && ci == c0)
      }
      val rows = descendants(ws, "row").map { row =>
        val cells = descendants(row, "c").map { c =>
          val raw = descendants(c, "v").headOption.map(_.getTextContent).getOrElse("")
          val v = if (c.getAttribute("t") == "s") sst(raw.toInt)
            else renderValue(c, raw)
          (colOf(c.getAttribute("r")), v)
        }
        (row.getAttribute("r").toInt - 1, cells)
      }
      // grid extent: the rightmost written cell PLUS any merge span past it
      val nCols = math.max(
        rows.iterator.flatMap(_._2.map(_._1)).foldLeft(-1)(math.max) + 1,
        merges.iterator.map { case (_, c0, _, cs) => c0 + cs }.foldLeft(0)(math.max))
      val html = rows.map { case (ri, cells) =>
        val m = cells.toMap
        (0 until nCols).flatMap { ci =>
          if (coveredNotAnchor(ri, ci)) None
          else anchor(ri, ci) match {
            case Some((_, _, rs, cs)) =>
              val csA = if (cs > 1) s""" colspan="$cs"""" else ""
              val rsA = if (rs > 1) s""" rowspan="$rs"""" else ""
              Some(s"<td$csA$rsA>${m.getOrElse(ci, "")}</td>")
            case None => Some(s"<td>${m.getOrElse(ci, "")}</td>")
          }
        }.mkString("<tr>", "", "</tr>")
      }.mkString("<table>", "", "</table>")
      Vector(OrderedBlock.flow(Kinds.Title, sh.getAttribute("name"), level = 1),
        OrderedBlock.flow(Kinds.Table, html))
    }
  }

  /** pptx: slides strictly in PRESENTATION order (presentation.xml
    * sldIdLst -> rels -> slide parts — part file numbering is not the
    * order); title placeholders -> titles, other text bodies -> one text
    * block per a:p, pictures resolve through the slide's own rels
    * (pptx_converter.py surface). */
  def pptxBlocks(parts: Map[String, String]): Vector[OrderedBlock] = {
    val pres = parseXml(parts("ppt/presentation.xml"))
    val rels = relMap(parts.get("ppt/_rels/presentation.xml.rels"))
    descendants(pres, "p:sldId").flatMap { sid =>
      val target = rels.getOrElse(sid.getAttribute("r:id"), "")
      val partName = s"ppt/$target"
      val slide = parseXml(parts(partName))
      val slideRels = relMap(parts.get(
        partName.replace("slides/", "slides/_rels/") + ".rels"))
      val tree = descendants(slide, "p:spTree").head
      val slideBlocks = children(tree).flatMap { el =>
        el.getTagName match {
          case "p:sp" =>
            val isTitle = descendants(el, "p:ph").exists(_.getAttribute("type") == "title")
            val paras = descendants(el, "a:p").map(p =>
              descendants(p, "a:t").map(_.getTextContent).mkString)
            if (isTitle) paras.map(t => OrderedBlock.flow(Kinds.Title, t, level = 1))
            else paras.filter(_.nonEmpty).map(t => OrderedBlock.flow(Kinds.Text, t))
          case "p:pic" =>
            val embed = descendants(el, "a:blip").headOption
              .map(_.getAttribute("r:embed")).getOrElse("")
            val target = slideRels.getOrElse(embed, "")
            val hash = target.stripPrefix("../media/").stripSuffix(".png")
            Vector(OrderedBlock.flow(Kinds.Figure, "", s"img://$hash"))
          case "p:graphicFrame" =>
            // slide table (a:tbl inside the graphic frame)
            descendants(el, "a:tbl").headOption.toVector.map { tbl =>
              val html = children(tbl).filter(_.getTagName == "a:tr").map { tr =>
                children(tr).filter(_.getTagName == "a:tc").map { tc =>
                  s"<td>${descendants(tc, "a:t").map(_.getTextContent).mkString}</td>"
                }.mkString("<tr>", "", "</tr>")
              }.mkString("<table>", "", "</table>")
              OrderedBlock.flow(Kinds.Table, html)
            }
          case _ => Vector.empty
        }
      }
      // slide NOTES follow the slide as footnotes (the reference emits
      // notes-slide paragraphs as PAGE_FOOTNOTE blocks,
      // pptx_converter.py:548-583), skipping placeholder shapes — the
      // slide-number/header/date chrome of the notes master
      // (_should_skip_notes_shape)
      val notes = slideRels.values
        .find(_.contains("notesSlide"))
        .map(t => s"ppt/${t.stripPrefix("../")}")
        .flatMap(parts.get)
        .toVector.flatMap { xml =>
          val ns = parseXml(xml)
          descendants(ns, "p:sp").flatMap { sp =>
            val isChrome = descendants(sp, "p:ph").exists(ph =>
              Set("sldNum", "hdr", "ftr", "dt")(ph.getAttribute("type")))
            if (isChrome) Vector.empty
            else descendants(sp, "a:p")
              .map(p => descendants(p, "a:t").map(_.getTextContent).mkString)
              .filter(_.nonEmpty)
              .map(t => OrderedBlock.flow(Kinds.Footnote, t))
          }
        }
      slideBlocks ++ notes
    }
  }

  /** Sniff the format from the package parts and convert
    * (guess_suffix_by_bytes analogue). The package unzips once; every
    * format's walk reads the same part map. */
  def convert(docId: String, bytes: Array[Byte]): DocResult = {
    val parts = readZip(bytes)
    graft.pipeline.Assemble.result(docId,
      if (parts.contains("word/document.xml")) DocxConvert.blocks(parts)
      else if (parts.contains("xl/workbook.xml")) xlsxBlocks(parts)
      else if (parts.contains("ppt/presentation.xml")) pptxBlocks(parts)
      else throw new IllegalArgumentException("unknown office package"))
  }
}

package graft.corpus

import graft.schema.{Kinds, OutSpan}
import graft.util.Rng
import java.io.ByteArrayOutputStream

/** PDF corpus for the raw-blob ingestion router: every doc id maps to one
  * deterministic, REAL PDF file — header + binary comment line, indirect
  * objects, page tree, Helvetica Type1 fonts, text-positioning content
  * streams (`Tf, Td, TD, Tm, TL, T*, Tj, TJ, '`), image XObjects drawn via
  * `cm … Do`, cross-reference table with free entries, trailer +
  * `startxref` — that [[graft.pdf.PdfConvert]] must parse back from bytes
  * alone. This is the reference's PRIMARY input tier
  * (`rapid_doc/main.py:604-636` normalizes path/bytes/URL and routes
  * `%PDF` blobs — `utils/guess_suffix_or_lang.py:12` PDF_SIG_BYTES — into
  * the pdfium parse).
  *
  * Two independent rng streams:
  *   - "pdfc" draws the CONTENT (title, blocks, figure refs) — the golden
  *     span sequence derives from these draws alone;
  *   - "pdfq" draws byte-level QUIRKS (Flate vs plain streams, TJ kerning
  *     splits, hex strings, octal escapes, indirect /Length, split
  *     /Contents arrays, shuffled object order, xref subsection split,
  *     free xref entries, EOL style) — each quirk preserves the authored
  *     text exactly and only varies the byte encoding the parser must
  *     handle, so half the corpus exercising a quirk pins that parser
  *     path without touching the frozen golden. */
object PdfGen {

  // ---- content model ------------------------------------------------------

  private sealed trait PBlock
  private case class PPara(text: String) extends PBlock
  private case class PHead(text: String) extends PBlock
  private case class PList(items: Vector[String]) extends PBlock
  private case class PFigure(k: Int, caption: Option[String]) extends PBlock
  /** link annotation content: anchor text shown on the page, target bound
    * via a page `/Annots` `/Subtype /Link` rect (PDF 32000 §12.5.6.5) —
    * the PDF-tier twin of the office/html hyperlink spans. A `#`-target
    * authors as a named `/Dest`, a URL as `/A /URI`. */
  private case class PLink(text: String, target: String) extends PBlock

  private case class PDoc(title: String, blocks: Vector[PBlock],
      sidebar: Option[String])

  /** content-level sidebar presence (test non-vacuity probe). Only
    * PdfSpec calls it; it stays because it reads the generator's private
    * document model, which a spec cannot. */
  private[graft] def hasSidebar(docId: String): Boolean = doc(docId).sidebar.isDefined

  private def doc(docId: String): PDoc = {
    val r = Rng.stream("pdfc", docId)
    val title = DocGen.titleText(r)
    var figK = 0
    val blocks = Vector.fill(3 + r.nextInt(6)) {
      val roll = r.nextDouble()
      if (roll < 0.46) {
        val p = DocGen.paragraphOnce(r)
        // paren trap: literal-string escaping (\( \)) must round-trip
        if (r.chance(0.25)) PPara(p + " (see the appendix for details).")
        else PPara(p)
      } else if (roll < 0.60) PHead(DocGen.titleText(r))
      else if (roll < 0.70) {
        val anchor = DocGen.cap(DocGen.word(r)) + " " + DocGen.word(r)
        val target =
          if (r.chance(0.25)) "#sec-" + DocGen.word(r)
          else s"https://ref.example/${DocGen.word(r)}/${DocGen.word(r)}"
        PLink(anchor, target)
      } else if (roll < 0.85) {
        figK += 1
        PFigure(figK,
          if (r.chance(0.75)) Some(s"Figure $figK: " + DocGen.cap(DocGen.word(r)))
          else None)
      } else
        PList(Vector.fill(3 + r.nextInt(3))(
          DocGen.cap(DocGen.word(r)) + " " + DocGen.word(r)))
    }
    // 90°-rotated margin note on the LAST page (its own rotation class —
    // the converter reads it upright and orders it after the page flow)
    val sidebar = if (r.chance(0.2)) Some(DocGen.titleText(r)) else None
    PDoc(title, blocks, sidebar)
  }

  /** Deterministic fake image payload for figure `k` — the XObject stream
    * bytes; `media_ref` on BOTH sides is the sha-256 of these bytes, so
    * the converter must actually read the embedded stream. */
  def imageBytes(docId: String, k: Int): Array[Byte] =
    s"pdfimg:$docId:$k".getBytes("UTF-8")

  def imageRef(docId: String, k: Int): String =
    "img://" + DocGen.sha256Hex(s"pdfimg:$docId:$k")

  // ---- layout (shared between bytes and golden ORDER semantics) -----------

  private val PageW = 612
  private val PageH = 792
  private val MarginX = 72
  private val TopY = 720.0
  private val BottomY = 72.0
  private val Leading = 14.0
  private val BlockGap = 10.0 // extra beyond Leading between blocks
  private val ImgW = 180.0
  private val ImgH = 120.0

  val BodySize = 11
  val HeadSize = 16
  val TitleSize = 22
  val CaptionSize = 9

  /** Wrap on spaces at ~64 chars; joining the lines back with single
    * spaces restores the authored text exactly. */
  private def wrap(text: String, max: Int = 64): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    text.split(' ').foreach { w =>
      if (sb.nonEmpty && sb.length + 1 + w.length > max) {
        out += sb.toString; sb.clear()
      }
      if (sb.nonEmpty) sb.append(' ')
      sb.append(w)
    }
    if (sb.nonEmpty) out += sb.toString
    out.result()
  }

  /** One positioned page element. */
  private sealed trait Elem
  /** `lines` share one BT with relative moves; baseline of line i is
    * `y - i*Leading`. `link` non-empty marks a hyperlink anchor whose
    * target is bound by a page-level /Annots rect around the baseline. */
  private case class TextElem(font: String, size: Int, x: Double, y: Double,
      lines: Vector[String], link: String = "") extends Elem
  private case class ImageElem(k: Int, x: Double, y: Double) extends Elem
  /** one-line margin note drawn inside a 90°-rotation `cm` along the
    * right page edge. */
  private case class SidebarElem(text: String) extends Elem

  /** Flow the doc into pages of positioned elements. */
  private def layout(d: PDoc): Vector[Vector[Elem]] = {
    val pages = Vector.newBuilder[Vector[Elem]]
    var cur = Vector.newBuilder[Elem]
    var y = TopY
    var curEmpty = true
    def ensure(need: Double): Unit =
      if (!curEmpty && y - need < BottomY) {
        pages += cur.result(); cur = Vector.newBuilder[Elem]
        y = TopY; curEmpty = true
      }
    def textBlock(font: String, size: Int, lines: Vector[String],
        link: String = ""): Unit = {
      ensure(lines.length * Leading)
      y -= Leading
      cur += TextElem(font, size, MarginX, y, lines, link)
      y -= (lines.length - 1) * Leading + BlockGap
      curEmpty = false
    }
    textBlock("F2", TitleSize, Vector(d.title))
    d.blocks.foreach {
      case PPara(t) => textBlock("F1", BodySize, wrap(t))
      case PHead(t) => textBlock("F2", HeadSize, Vector(t))
      case PLink(t, target) => textBlock("F1", BodySize, Vector(t), target)
      case PList(items) => textBlock("F1", BodySize, items.map("- " + _))
      case PFigure(k, cap) =>
        ensure(ImgH + cap.map(_ => Leading + 4).getOrElse(0.0))
        cur += ImageElem(k, MarginX, y - ImgH)
        y -= ImgH
        cap.foreach { c =>
          y -= Leading
          cur += TextElem("F3", CaptionSize, MarginX, y, Vector(c))
          y -= BlockGap
        }
        if (cap.isEmpty) y -= BlockGap
        curEmpty = false
    }
    d.sidebar.foreach { s => cur += SidebarElem(s) }
    pages += cur.result()
    pages.result()
  }

  // ---- PDF byte writer ----------------------------------------------------

  private def escLiteral(s: String, octalEvery: Int): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(' || c == ')' || c == '\\') { sb.append('\\').append(c) }
      else if (octalEvery > 0 && i % octalEvery == octalEvery - 1 && c < 128)
        // always 3 octal digits: "\40" before a literal digit would swallow
        // it into the escape ("\407"), so pad to the unambiguous form
        sb.append('\\').append(f"${c.toInt}%03o")
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def hexString(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString("<", "", ">")

  /** Encode one show-string with the doc's quirk draws. */
  private def showOp(line: String, r: graft.util.SplitMix64): String = {
    val roll = r.nextDouble()
    if (roll < 0.15) hexString(line) + " Tj"
    else if (roll < 0.40 && line.length > 8) {
      // TJ with small kerning adjustments between chunks (small enough
      // that no extractor would insert a space: |adj| << 180)
      val cut1 = 2 + r.nextInt(line.length - 4)
      val cut2 = cut1 + 1 + r.nextInt(line.length - cut1 - 1)
      val parts = Vector(line.substring(0, cut1), line.substring(cut1, cut2),
        line.substring(cut2)).filter(_.nonEmpty)
      parts.map(p => "(" + escLiteral(p, 0) + ")")
        .mkString("[", s" -${10 + r.nextInt(50)} ", "] TJ")
    } else if (roll < 0.5)
      "(" + escLiteral(line, 7) + ") Tj" // octal escapes sprinkled in
    else "(" + escLiteral(line, 0) + ") Tj"
  }

  /** F4 code bytes: printable ASCII + 0x80 (0xA0-0xFE) — recoverable only
    * through the authored /ToUnicode CMap, pinning the CMap decode path. */
  private def scrambledHex(s: String): String =
    s.map(c => f"${c + 0x80}%02X").mkString("<", "", ">")
  private def asciiPrintable(s: String): Boolean =
    s.forall(c => c >= 0x20 && c < 0x7f)

  /** Content-stream ops for one element. */
  private def elemOps(e: Elem, imgName: Int => String,
      r: graft.util.SplitMix64): String = e match {
    case TextElem(font, size, x, y, lines, _) =>
      val sb = new StringBuilder
      // scrambled-CMap quirk: the block renders through F4 whose byte
      // codes mean nothing without the /ToUnicode mapping (draw always
      // fires to keep the quirk stream aligned)
      val scramble = r.chance(0.22) && lines.forall(asciiPrintable)
      if (scramble) {
        sb.append("BT /F4 ").append(size).append(" Tf ")
        sb.append(s"$x $y Td ").append(scrambledHex(lines.head)).append(" Tj")
        lines.tail.foreach { l =>
          sb.append(s" 0 -$Leading Td ").append(scrambledHex(l)).append(" Tj")
        }
        sb.append(" ET")
        return sb.toString
      }
      sb.append("BT /").append(font).append(' ').append(size).append(" Tf ")
      val posRoll = r.nextDouble()
      if (posRoll < 0.4) sb.append(s"1 0 0 1 $x $y Tm ")
      else sb.append(s"$x $y Td ")
      if (lines.length > 1 && r.chance(0.5)) {
        // TL + T*/' form
        sb.append(s"$Leading TL ")
        sb.append(showOp(lines.head, r))
        lines.tail.foreach { l =>
          if (r.chance(0.5)) sb.append(" T* ").append(showOp(l, r))
          else {
            // ' = next-line-and-show; only valid with a literal operand
            sb.append(" (").append(escLiteral(l, 0)).append(") '")
          }
        }
      } else {
        sb.append(showOp(lines.head, r))
        lines.tail.foreach { l =>
          // TD sets the leading negative; subsequent moves could use T*,
          // but the plain relative-Td chain is the common emitter form
          sb.append(s" 0 -$Leading Td ").append(showOp(l, r))
        }
      }
      sb.append(" ET")
      sb.toString
    case ImageElem(k, x, y) =>
      s"q $ImgW 0 0 $ImgH $x $y cm /${imgName(k)} Do Q"
    case SidebarElem(text) =>
      // 90°-rotated margin note along the right edge: full-matrix cm with
      // b,c ≠ 0 on TEXT — its own rotation class for the converter
      s"q 0 1 -1 0 $PageW 0 cm BT /F1 $BodySize Tf 72 20 Td " +
        s"(${escLiteral(text, 0)}) Tj ET Q"
  }

  private case class Obj(num: Int, body: Array[Byte])

  private def dictObj(num: Int, dict: String): Obj =
    Obj(num, s"$num 0 obj\n$dict\nendobj\n".getBytes("ISO-8859-1"))

  private def streamObj(num: Int, extraDict: String, data: Array[Byte],
      lengthRef: Option[Int], crlf: Boolean): Obj = {
    val lenPart = lengthRef.map(n => s"/Length $n 0 R").getOrElse(s"/Length ${data.length}")
    val eol = if (crlf) "\r\n" else "\n"
    val head = s"$num 0 obj\n<< $lenPart$extraDict >>\nstream$eol".getBytes("ISO-8859-1")
    val tail = "\nendstream\nendobj\n".getBytes("ISO-8859-1")
    val out = new ByteArrayOutputStream(head.length + data.length + tail.length)
    out.write(head); out.write(data); out.write(tail)
    Obj(num, out.toByteArray)
  }

  private def flate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(data.length / 2 + 16)
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** The PDF file bytes. */
  /** The PDF file bytes. Three real file forms, drawn per doc ("pdfq"):
    *   - CLASSIC (PDF 1.4): xref table (+ subsection split / free-entry /
    *     comment / object-order quirks), `trailer` dict;
    *   - MODERN (PDF 1.5, ~30%): every dictionary-only object packed into
    *     ONE compressed OBJECT STREAM (/Type /ObjStm, §7.5.7) and located
    *     by a CROSS-REFERENCE STREAM (/Type /XRef, §7.5.8 — binary
    *     W-encoded columns, FlateDecode, trailer fields in the stream
    *     dict, no `trailer` keyword) — the dominant form in crawled PDFs;
    *   - INCREMENTAL (~20%): a classic file whose first revision carries a
    *     DECOY catalog (empty page tree), then an appended update section
    *     replaces it — `/Prev` chains the xref tables and the NEWEST
    *     entry must win (§7.5.6), so a parser ignoring the update reads
    *     an empty document. */
  def bytes(docId: String): Array[Byte] = {
    val q = Rng.stream("pdfq", docId)
    val pages = layout(doc(docId))
    // file form FIRST so the remaining quirk draws stay aligned per form
    val formRoll = q.nextDouble()
    val form = if (formRoll < 0.30) 1 else if (formRoll < 0.50) 2 else 0

    var next = 3
    def alloc(): Int = { val n = next; next += 1; n }

    // intermediate model: dict-only objects vs stream objects
    val dicts = Vector.newBuilder[(Int, String)]
    val streams = Vector.newBuilder[(Int, String, Array[Byte], Option[Int])]

    val fontNums = Map("F1" -> alloc(), "F2" -> alloc(), "F3" -> alloc(),
      "F4" -> alloc())
    val cmapNum = alloc() // F4's /ToUnicode stream
    if (q.chance(0.3)) alloc() // deleted-object gap in the xref

    val figKs = pages.flatten.collect { case ImageElem(k, _, _) => k }.distinct
    val imgNums = figKs.map(k => k -> alloc()).toMap
    def imgName(k: Int): String = s"Im$k"

    val crlf = q.chance(0.4)
    val pageEntries = pages.map { elems =>
      val pageNum = alloc()
      // scanned-landscape quirk: the page carries /Rotate 90 and all its
      // content is authored pre-rotated by the inverse, so the DISPLAYED
      // document (and hence the golden sequence) is unchanged — a parser
      // must compose /Rotate with the content cm to read it
      val rotated = q.chance(0.2)
      val opsList = elems.map(e => elemOps(e, imgName, q))
      // split-contents quirk: the page's ops across TWO streams joined by
      // the reader with intervening whitespace (PDF 32000 §7.8.2)
      val chunks0: Vector[String] =
        if (opsList.length >= 2 && q.chance(0.3)) {
          val cut = 1 + q.nextInt(opsList.length - 1)
          Vector(opsList.take(cut).mkString("\n"), opsList.drop(cut).mkString("\n"))
        } else Vector(opsList.mkString("\n"))
      val chunks: Vector[String] =
        if (!rotated) chunks0
        else {
          // wrap: q [rot90-inverse] cm … Q — the q/Q pair may straddle the
          // split (legal in concatenated content, §7.8.2)
          val head = s"q 0 1 -1 0 $PageH 0 cm\n" + chunks0.head
          val mid = chunks0.drop(1)
          if (mid.isEmpty) Vector(head + "\nQ")
          else Vector(head) ++ mid.init ++ Vector(mid.last + "\nQ")
        }
      val contentNums = chunks.map { ops =>
        val num = alloc()
        val raw = ops.getBytes("ISO-8859-1")
        val (data, filter) =
          if (q.chance(0.5)) (flate(raw), " /Filter /FlateDecode") else (raw, "")
        if (q.chance(0.25)) {
          // indirect /Length written AFTER the stream (one-pass-writer
          // form); in the modern form the length object lives INSIDE the
          // object stream — resolving a stream length through an ObjStm
          // is the adversarial lazy-resolution path
          val lenNum = alloc()
          streams += ((num, filter, data, Some(lenNum)))
          dicts += ((lenNum, data.length.toString))
        } else streams += ((num, filter, data, None))
        num
      }
      val contents =
        if (contentNums.length == 1) s"${contentNums.head} 0 R"
        else contentNums.map(n => s"$n 0 R").mkString("[", " ", "]")
      val fontRes = fontNums.map { case (n, o) => s"/$n $o 0 R" }.mkString(" ")
      val imgsHere = elems.collect { case ImageElem(k, _, _) => k }.distinct
      val xobjRes =
        if (imgsHere.isEmpty) ""
        else imgsHere.map(k => s"/${imgName(k)} ${imgNums(k)} 0 R")
          .mkString(" /XObject << ", " ", " >>")
      // /Annots link rects around each anchor baseline; rects live in the
      // page's (pre-/Rotate) user space, so a rotated page transforms them
      val links = elems.collect { case t: TextElem if t.link.nonEmpty => t }
      val annotIndirect = q.chance(0.5)
      val annots =
        if (links.isEmpty) ""
        else {
          val bodies = links.map { t =>
            val (rx0, ry0, rx1, ry1) =
              if (!rotated) (t.x - 4, t.y - 5, t.x + 420, t.y + 9)
              else (PageH - (t.y + 9), t.x - 4, PageH - (t.y - 5), t.x + 420)
            val action =
              if (t.link.startsWith("#"))
                s"/Dest /${t.link.stripPrefix("#")}"
              else s"/A << /S /URI /URI (${escLiteral(t.link, 0)}) >>"
            s"<< /Type /Annot /Subtype /Link /Rect [$rx0 $ry0 $rx1 $ry1] $action >>"
          }
          val items =
            if (!annotIndirect) bodies
            else bodies.map { b =>
              val n = alloc(); dicts += ((n, b)); s"$n 0 R"
            }
          items.mkString(" /Annots [ ", " ", " ]")
        }
      val box = if (rotated) s"[0 0 $PageH $PageW] /Rotate 90" else s"[0 0 $PageW $PageH]"
      dicts += ((pageNum,
        s"<< /Type /Page /Parent 2 0 R /MediaBox $box " +
          s"/Contents $contents /Resources << /Font << $fontRes >>$xobjRes >>$annots >>"))
      pageNum
    }

    val realCatalog = "<< /Type /Catalog /Pages 2 0 R >>"
    // the incremental form's first revision points at a DECOY page tree
    val decoyPages = if (form == 2) Some(alloc()) else None
    decoyPages.foreach(d => dicts += ((d, "<< /Type /Pages /Kids [] /Count 0 >>")))
    dicts += ((1, decoyPages match {
      case Some(d) => s"<< /Type /Catalog /Pages $d 0 R >>"
      case None => realCatalog
    }))
    dicts += ((2,
      s"<< /Type /Pages /Kids [${pageEntries.map(n => s"$n 0 R").mkString(" ")}] " +
        s"/Count ${pageEntries.length} >>"))
    Seq(("F1", "Helvetica"), ("F2", "Helvetica-Bold"), ("F3", "Helvetica-Oblique"))
      .foreach { case (n, base) =>
        dicts += ((fontNums(n), s"<< /Type /Font /Subtype /Type1 /BaseFont /$base >>"))
      }
    // F4: the scrambled font, text recoverable only via its /ToUnicode
    // CMap stream (bfrange and bfchar forms both occur in the corpus)
    dicts += ((fontNums("F4"),
      s"<< /Type /Font /Subtype /Type1 /BaseFont /Scrambled /ToUnicode $cmapNum 0 R >>"))
    val cmapBody = {
      val mapping =
        if (q.chance(0.5)) "1 beginbfrange\n<A0> <FE> <0020>\nendbfrange"
        else (0x20 to 0x7e).map(c => f"<${c + 0x80}%02X> <$c%04X>")
          .mkString("95 beginbfchar\n", "\n", "\nendbfchar")
      "/CIDInit /ProcSet findresource begin\nbegincmap\n" +
        "1 begincodespacerange\n<A0> <FE>\nendcodespacerange\n" +
        mapping + "\nendcmap\nend"
    }
    val cmapRaw = cmapBody.getBytes("ISO-8859-1")
    if (q.chance(0.5))
      streams += ((cmapNum, " /Filter /FlateDecode", flate(cmapRaw), None))
    else streams += ((cmapNum, "", cmapRaw, None))
    figKs.foreach { k =>
      val data = imageBytes(docId, k)
      // DCT quirk: an exotic /Filter the parser must PASS THROUGH — the
      // media_ref hashes the raw embedded bytes either way
      val filter = if (q.chance(0.4)) " /Filter /DCTDecode" else ""
      streams += ((imgNums(k),
        s"$filter /Type /XObject /Subtype /Image /Width 180 /Height 120 " +
          s"/ColorSpace /DeviceRGB /BitsPerComponent 8", data, None))
    }

    val out = new ByteArrayOutputStream(8192)
    def w(str: String): Unit = out.write(str.getBytes("ISO-8859-1"))
    w("%PDF-" + (if (form == 1) "1.5" else "1.4") + "\n")
    out.write(Array[Byte]('%'.toByte, 0xe2.toByte, 0xe3.toByte, 0xcf.toByte, 0xd3.toByte, '\n'.toByte))
    val offsets = scala.collection.mutable.Map[Int, Int]()

    if (form == 1) {
      // ---- MODERN: streams direct, dicts in one ObjStm, xref stream ----
      var streamObjs = streams.result()
      if (q.chance(0.4)) streamObjs = streamObjs.reverse // order quirk
      streamObjs.foreach { case (num, extra, data, lenRef) =>
        if (q.chance(0.15)) w(s"% object $num follows\n")
        offsets(num) = out.size()
        out.write(streamObj(num, extra, data, lenRef, crlf).body)
      }
      val packed = dicts.result()
      val objstmNum = alloc()
      val xrefNum = alloc()
      // ObjStm content: "num offset ..." header, then the bare objects
      val bodies = packed.map(_._2 + "\n")
      val offs = bodies.scanLeft(0)(_ + _.length).init
      val head = packed.zip(offs)
        .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
      val stmRaw = (head + bodies.mkString).getBytes("ISO-8859-1")
      val stmData = flate(stmRaw)
      offsets(objstmNum) = out.size()
      out.write((s"$objstmNum 0 obj\n<< /Type /ObjStm /N ${packed.length} " +
        s"/First ${head.length} /Filter /FlateDecode /Length ${stmData.length} >>\nstream\n")
        .getBytes("ISO-8859-1"))
      out.write(stmData)
      w("\nendstream\nendobj\n")
      val inStm: Map[Int, Int] = packed.map(_._1).zipWithIndex.toMap
      // xref STREAM: W = [1 3 2] (type, offset/objstm-num, gen/index)
      val xrefPos = out.size()
      val size = next
      val rows = new ByteArrayOutputStream(size * 6)
      (0 until size).foreach { n =>
        val (t, f2, f3) =
          if (n == xrefNum) (1, xrefPos, 0)
          else offsets.get(n).map(off => (1, off, 0))
            .orElse(inStm.get(n).map(idx => (2, objstmNum, idx)))
            .getOrElse((0, 0, 65535))
        rows.write(t)
        rows.write((f2 >> 16) & 0xff); rows.write((f2 >> 8) & 0xff); rows.write(f2 & 0xff)
        rows.write((f3 >> 8) & 0xff); rows.write(f3 & 0xff)
      }
      // PNG-Up predictor quirk (§7.4.4.4): the dominant real-world xref
      // stream form (test corpora: xdvipdfmx writes /Predictor 12)
      val usePred = q.chance(0.5)
      val rowBytes = rows.toByteArray
      val encoded =
        if (!usePred) rowBytes
        else {
          val pe = new ByteArrayOutputStream(rowBytes.length + size)
          val prior = new Array[Byte](6)
          var r = 0
          while (r * 6 < rowBytes.length) {
            pe.write(2) // Up filter
            var i = 0
            while (i < 6) {
              val cur = rowBytes(r * 6 + i)
              pe.write((cur - prior(i)) & 0xff)
              prior(i) = cur
              i += 1
            }
            r += 1
          }
          pe.toByteArray
        }
      val parms = if (usePred) "/DecodeParms << /Predictor 12 /Columns 6 >> " else ""
      val xrefData = flate(encoded)
      out.write((s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 3 2] " +
        s"$parms/Root 1 0 R /Filter /FlateDecode /Length ${xrefData.length} >>\nstream\n")
        .getBytes("ISO-8859-1"))
      out.write(xrefData)
      w("\nendstream\nendobj\n")
      w(s"startxref\n$xrefPos\n%%EOF\n")
      return out.toByteArray
    }

    // ---- CLASSIC body (also the incremental form's first revision) ----
    var all = dicts.result().map { case (n, d) => dictObj(n, d) } ++
      streams.result().map { case (n, e, d, l) => streamObj(n, e, d, l, crlf) }
    val orderRoll = q.nextDouble()
    if (orderRoll < 0.3) all = all.reverse
    else if (orderRoll < 0.5) {
      val cut = 1 + q.nextInt(all.length - 1)
      all = all.drop(cut) ++ all.take(cut)
    }
    all.foreach { o =>
      if (q.chance(0.15)) w(s"% object ${o.num} follows\n")
      offsets(o.num) = out.size()
      out.write(o.body)
    }
    val xrefPos = out.size()
    val size = next
    val entries = (0 until size).map { n =>
      if (n == 0) "0000000000 65535 f \n"
      else offsets.get(n) match {
        case Some(off) => f"$off%010d 00000 n \n"
        case None => "0000000000 00001 f \n" // the reserved free number
      }
    }
    w("xref\n")
    if (size > 4 && q.chance(0.35)) {
      // two cross-reference subsections (PDF 32000 §7.5.4 allows any split)
      val cut = 2 + q.nextInt(size - 3)
      w(s"0 $cut\n"); entries.take(cut).foreach(w)
      w(s"$cut ${size - cut}\n"); entries.drop(cut).foreach(w)
    } else {
      w(s"0 $size\n"); entries.foreach(w)
    }
    w(s"trailer\n<< /Size $size /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")

    if (form == 2) {
      // ---- INCREMENTAL update: replace the decoy catalog (§7.5.6) ----
      val catPos = out.size()
      w(s"1 0 obj\n$realCatalog\nendobj\n")
      val xref2 = out.size()
      w("xref\n0 1\n0000000000 65535 f \n")
      w(f"1 1\n$catPos%010d 00000 n \n")
      w(s"trailer\n<< /Size $size /Root 1 0 R /Prev $xrefPos >>\n" +
        s"startxref\n$xref2\n%%EOF\n")
    }
    out.toByteArray
  }

  // ---- golden -------------------------------------------------------------

  /** Expected span sequence: derived from the authoring structure alone
    * (content stream "pdfc"); the converter must recover it from the
    * bytes. Heading levels via the font-size ladder (22 → level 1,
    * 16 → level 2) mirror the flagship title-leveling semantics. */
  def golden(docId: String): Vector[OutSpan] = {
    val d = doc(docId)
    val out = Vector.newBuilder[(String, String, String)]
    out += ((Kinds.Title, d.title, ""))
    d.blocks.foreach {
      case PPara(t) => out += ((Kinds.Text, t, ""))
      case PHead(t) => out += ((Kinds.Title, t, ""))
      case PLink(t, target) => out += ((Kinds.Hyperlink, t, target))
      case PList(items) => out += ((Kinds.ListK, items.mkString("\n"), ""))
      case PFigure(k, cap) =>
        out += ((Kinds.Figure, "", imageRef(docId, k)))
        cap.foreach(c => out += ((Kinds.Caption, c, "")))
    }
    // the rotated margin note reads as the final text block: its rotation
    // class is ordered after the page's upright flow
    d.sidebar.foreach(s => out += ((Kinds.Text, s, "")))
    out.result().zipWithIndex.map { case ((k, t, m), ord) => OutSpan(k, t, m, ord) }
  }
}

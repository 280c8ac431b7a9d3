package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.PdfGen
import graft.pdf.PdfConvert

/** PDF tier: generator→parser round trip plus HAND-PINNED fixtures per
  * parser path, so a deliberate mutation of the lexer/xref/text-machine
  * fails a named test here, not just the frozen-parquet compare. */
class PdfSpec extends AnyFunSuite {

  test("round trip: 500 docs, spans equal the authored golden") {
    (0 until 500).foreach { i =>
      val id = f"doc-$i%012d"
      val got = PdfConvert.convert(id, PdfGen.bytes(id)).spans
      val want = PdfGen.golden(id)
      assert(got == want, s"pdf round trip mismatch for $id:\n got=$got\nwant=$want")
    }
  }

  test("%PDF sniff: prefix, offset junk within 1 KiB, and non-pdf bytes") {
    // Sniff's PDF route: a signature offset, -1 when there is none
    def isPdf(b: Array[Byte]) = PdfConvert.sigOffset(b) >= 0
    assert(isPdf(PdfGen.bytes("doc-000000000000")))
    assert(isPdf(("junkjunk\n%PDF-1.7\n").getBytes("ISO-8859-1")))
    assert(!isPdf("PKzipzip".getBytes("ISO-8859-1")))
    assert(!isPdf("<html><body>x</body></html>".getBytes("ISO-8859-1")))
    // signature beyond the 1 KiB window is NOT a pdf
    assert(!isPdf(("x" * 2000 + "%PDF-1.4").getBytes("ISO-8859-1")))
  }

  /** Build a minimal single-page pdf by hand around `content` ops. */
  private def handPdf(content: String,
      lengthIndirect: Boolean = false,
      flate: Boolean = false,
      splitAt: Option[Int] = None,
      xrefFree: Boolean = false,
      reverseObjects: Boolean = false): Array[Byte] = {
    val raw = content.getBytes("ISO-8859-1")
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(b); d.finish()
      val o = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](4096)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray
    }
    case class O(num: Int, body: String)
    val chunks: Vector[String] = splitAt match {
      case Some(cut) =>
        val lines = content.split('\n')
        Vector(lines.take(cut).mkString("\n"), lines.drop(cut).mkString("\n"))
      case None => Vector(content)
    }
    var next = 4
    def alloc(): Int = { val n = next; next += 1; n }
    val objs = scala.collection.mutable.ArrayBuffer[O]()
    val contentNums = chunks.map { c =>
      val bytes = if (flate) deflate(c.getBytes("ISO-8859-1")) else c.getBytes("ISO-8859-1")
      val filter = if (flate) " /Filter /FlateDecode" else ""
      val n = alloc()
      val bodyStr = new String(bytes, "ISO-8859-1")
      if (lengthIndirect) {
        val ln = alloc()
        objs += O(n, s"$n 0 obj\n<< /Length $ln 0 R$filter >>\nstream\n$bodyStr\nendstream\nendobj\n")
        objs += O(ln, s"$ln 0 obj\n${bytes.length}\nendobj\n")
      } else
        objs += O(n, s"$n 0 obj\n<< /Length ${bytes.length}$filter >>\nstream\n$bodyStr\nendstream\nendobj\n")
      n
    }
    val freeNum = if (xrefFree) Some(alloc()) else None
    val contents =
      if (contentNums.length == 1) s"${contentNums.head} 0 R"
      else contentNums.map(n => s"$n 0 R").mkString("[", " ", "]")
    objs += O(1, "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    objs += O(2, "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    objs += O(3, s"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      s"/Contents $contents /Resources << /Font << /F1 0 0 R >> >> >>\nendobj\n")
    val ordered = if (reverseObjects) objs.reverse else objs
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = scala.collection.mutable.Map[Int, Int]()
    ordered.foreach { o => offsets(o.num) = sb.length; sb ++= o.body }
    val xref = sb.length
    sb ++= s"xref\n0 $next\n0000000000 65535 f \n"
    (1 until next).foreach { n =>
      sb ++= (offsets.get(n) match {
        case Some(off) => f"$off%010d 00000 n \n"
        case None => "0000000000 00001 f \n"
      })
    }
    sb ++= s"trailer\n<< /Size $next /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    sb.toString.getBytes("ISO-8859-1")
  }

  private def texts(bytes: Array[Byte]): Vector[(String, String)] =
    PdfConvert.convert("t", bytes).spans.toVector.map(s => (s.kind, s.text))

  test("literal-string escapes: parens, backslash, octal, nested parens") {
    val c = "BT /F1 11 Tf 72 700 Td (a \\(b\\) c \\\\ d \\145nd (nested)) Tj ET"
    assert(texts(handPdf(c)) == Vector(("text", "a (b) c \\ d end (nested)")))
  }

  test("octal escape followed by a literal digit does not over-consume") {
    // \05055 = \050 ('(') then literal "55"
    val c = "BT /F1 11 Tf 72 700 Td (x\\05055y) Tj ET"
    assert(texts(handPdf(c)) == Vector(("text", "x(55y")))
  }

  test("hex strings decode, whitespace and odd final digit tolerated") {
    val c = "BT /F1 11 Tf 72 700 Td <48 656C6C 6F> Tj ET"
    assert(texts(handPdf(c)) == Vector(("text", "Hello")))
  }

  test("TJ kerning numbers fold away, string pieces concatenate") {
    val c = "BT /F1 11 Tf 72 700 Td [(Hel) -20 (lo wo) -31 (rld)] TJ ET"
    assert(texts(handPdf(c)) == Vector(("text", "Hello world")))
  }

  test("T*, TL and ' advance the line; lines of one block join with spaces") {
    val c = "BT /F1 11 Tf 1 0 0 1 72 700 Tm 14 TL (one) Tj T* (two) Tj (three) ' ET"
    assert(texts(handPdf(c)) == Vector(("text", "one two three")))
  }

  test("TD sets the leading for subsequent T*") {
    val c = "BT /F1 11 Tf 72 700 Td (a) Tj 0 -14 TD (b) Tj T* (c) Tj ET"
    assert(texts(handPdf(c)) == Vector(("text", "a b c")))
  }

  test("font-size ladder classifies title levels and captions") {
    val c = "BT /F2 22 Tf 72 700 Td (Big Title) Tj ET\n" +
      "BT /F2 16 Tf 72 660 Td (Sub Head) Tj ET\n" +
      "BT /F1 11 Tf 72 620 Td (body) Tj ET\n" +
      "BT /F3 9 Tf 72 580 Td (a caption) Tj ET"
    assert(texts(handPdf(c)) == Vector(
      ("title", "Big Title"), ("title", "Sub Head"),
      ("text", "body"), ("caption", "a caption")))
  }

  test("bullet-prefixed run becomes one list block, markers stripped") {
    val c = "BT /F1 11 Tf 72 700 Td (- alpha one) Tj 0 -14 Td (- beta two) Tj ET\n" +
      "BT /F1 11 Tf 72 650 Td (after) Tj ET"
    assert(texts(handPdf(c)) == Vector(("list", "alpha one\nbeta two"), ("text", "after")))
  }

  test("paragraph gap splits blocks even at the same font and size") {
    val c = "BT /F1 11 Tf 72 700 Td (para one line) Tj ET\n" +
      "BT /F1 11 Tf 72 676 Td (para two line) Tj ET" // gap 24 > 1.3*14
    assert(texts(handPdf(c)) == Vector(("text", "para one line"), ("text", "para two line")))
  }

  test("FlateDecode streams inflate (real zlib round trip)") {
    val c = "BT /F1 11 Tf 72 700 Td (compressed payload) Tj ET"
    assert(texts(handPdf(c, flate = true)) == Vector(("text", "compressed payload")))
  }

  test("indirect /Length resolves through the xref") {
    val c = "BT /F1 11 Tf 72 700 Td (indirect length) Tj ET"
    assert(texts(handPdf(c, lengthIndirect = true)) == Vector(("text", "indirect length")))
  }

  test("split /Contents array concatenates streams in order") {
    val c = "BT /F1 11 Tf 72 700 Td (first) Tj ET\nBT /F1 11 Tf 72 660 Td (second) Tj ET"
    assert(texts(handPdf(c, splitAt = Some(1))) ==
      Vector(("text", "first"), ("text", "second")))
  }

  test("xref free entries are skipped; file object order is irrelevant") {
    val c = "BT /F1 11 Tf 72 700 Td (free and reversed) Tj ET"
    assert(texts(handPdf(c, xrefFree = true, reverseObjects = true)) ==
      Vector(("text", "free and reversed")))
  }

  test("comments between objects and in streams are skipped") {
    val c = "% leading comment\nBT /F1 11 Tf 72 700 Td % inline\n(with comments) Tj ET"
    assert(texts(handPdf(c)) == Vector(("text", "with comments")))
  }

  test("image XObject: media_ref is the sha-256 of the embedded bytes") {
    val id = "doc-000000000007"
    // find a doc with at least one figure in the first 50
    val withFig = (0 until 50).map(i => f"doc-$i%012d").find { d =>
      PdfGen.golden(d).exists(_.kind == "figure")
    }.get
    val spans = PdfConvert.convert(withFig, PdfGen.bytes(withFig)).spans
    val figs = spans.filter(_.kind == "figure")
    assert(figs.nonEmpty)
    figs.zipWithIndex.foreach { case (f, i) =>
      assert(f.media_ref == PdfGen.imageRef(withFig, i + 1))
    }
  }

  test("multi-page docs keep reading order across /Kids") {
    // find a doc whose layout spills to 2+ pages: many blocks
    val id = (0 until 200).map(i => f"doc-$i%012d")
      .maxBy(d => PdfGen.golden(d).length)
    assert(PdfConvert.convert(id, PdfGen.bytes(id)).spans == PdfGen.golden(id))
  }

  test("modern form (xref stream + ObjStm) and incremental form are non-vacuous and round-trip") {
    // sniff the file form from the bytes: modern has no "trailer" keyword,
    // incremental has two %%EOF markers
    var modern = 0; var incremental = 0; var classic = 0
    (0 until 300).foreach { i =>
      val id = f"doc-$i%012d"
      val bytes = PdfGen.bytes(id)
      val txt = new String(bytes, "ISO-8859-1")
      if (!txt.contains("trailer")) modern += 1
      else if (txt.indexOf("%%EOF") != txt.lastIndexOf("%%EOF")) incremental += 1
      else classic += 1
      assert(PdfConvert.convert(id, bytes).spans == PdfGen.golden(id), s"form round trip $id")
    }
    assert(modern > 30 && incremental > 20 && classic > 80,
      s"form mix degenerate: modern=$modern incremental=$incremental classic=$classic")
  }

  test("incremental update WINS: dropping it leaves the decoy (empty) document") {
    val id = (0 until 300).map(i => f"doc-$i%012d").find { d =>
      val t = new String(PdfGen.bytes(d), "ISO-8859-1")
      t.contains("trailer") && t.indexOf("%%EOF") != t.lastIndexOf("%%EOF")
    }.get
    val bytes = PdfGen.bytes(id)
    assert(PdfConvert.convert(id, bytes).spans == PdfGen.golden(id))
    // truncate after the FIRST revision: a reader of that state sees the
    // decoy catalog with an empty page tree
    val txt = new String(bytes, "ISO-8859-1")
    val cut = txt.indexOf("%%EOF") + 6
    val truncated = java.util.Arrays.copyOfRange(bytes, 0, cut)
    assert(PdfConvert.convert(id, truncated).spans.isEmpty,
      "the first revision must be the decoy - otherwise /Prev handling is untested")
  }

  test("r5 quirks are non-vacuous across the corpus (each path actually fires)") {
    var rotated, dct, pred, bfrange, bfchar, scrambled = 0
    var annotUri, annotDest, annotIndirect, annotInline = 0
    var linkSpans, sidebarSpans = 0
    (0 until 300).foreach { i =>
      val id = f"doc-$i%012d"
      val txt = new String(PdfGen.bytes(id), "ISO-8859-1")
      if (txt.contains("/Rotate 90")) rotated += 1
      if (txt.contains("/DCTDecode")) dct += 1
      if (txt.contains("/Predictor 12")) pred += 1
      if (txt.contains("beginbfrange")) bfrange += 1
      // bfchar CMaps flate half the time; sniff via the uncompressed form
      if (txt.contains("beginbfchar")) bfchar += 1
      if (txt.contains("/F4 ")) scrambled += 1
      if (txt.contains("/S /URI")) annotUri += 1
      if (txt.contains("/Dest /sec-")) annotDest += 1
      if (txt.contains("/Subtype /Link")) {
        if (txt.contains("/Annots [ <<")) annotInline += 1 else annotIndirect += 1
      }
      val g = PdfGen.golden(id)
      linkSpans += g.count(_.kind == graft.schema.Kinds.Hyperlink)
      if (PdfGen.hasSidebar(id)) {
        sidebarSpans += 1
        assert(g.last.kind == graft.schema.Kinds.Text,
          s"sidebar doc $id must end with the rotated margin-note span")
      }
    }
    assert(rotated > 20, s"rotated=$rotated")
    assert(dct > 20, s"dct=$dct")
    assert(pred > 10, s"pred=$pred")
    assert(bfrange > 50 && bfchar > 50, s"cmap forms: bfrange=$bfrange bfchar=$bfchar")
    assert(scrambled > 50, s"scrambled=$scrambled")
    assert(annotUri > 20 && annotDest > 5, s"targets: uri=$annotUri dest=$annotDest")
    assert(annotIndirect > 10 && annotInline > 10,
      s"annot forms: indirect=$annotIndirect inline=$annotInline")
    assert(linkSpans > 100, s"linkSpans=$linkSpans")
    assert(sidebarSpans > 30, s"sidebarSpans=$sidebarSpans")
  }
}

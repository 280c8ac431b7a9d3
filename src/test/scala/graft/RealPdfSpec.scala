package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.PdfConvert

/** Crawl-grade PDF parsing against the reference's OWN bundled PDFs —
  * the strongest available test of the byte-level tier. `test.pdf`
  * (tests/unittest/pdfs/) is a XeTeX/xdvipdfmx file exercising exactly
  * the real-world surface the corpus generator can't: xref streams with
  * PNG /Predictor 12, an ObjStm, a /DCTDecode JPEG XObject,
  * Type0/Identity-H 2-byte CIDs, per-font /ToUnicode CMaps, TJ
  * kern-encoded spaces, and 90°-rotated table content. The assertions
  * mirror the reference e2e harness's own target strings
  * (tests/unittest/test_e2e.py:169-250 assert_content). Guarded by
  * `assume` so the suite still runs where the reference tree is absent. */
class RealPdfSpec extends AnyFunSuite {

  private val testPdf = new java.io.File("/root/reference/tests/unittest/pdfs/test.pdf")

  private def spansOf(f: java.io.File) = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    PdfConvert.convert(f.getName, bytes).spans
  }

  /** rapidfuzz-style indel ratio in [0,100]: 100·(1 − dist/(|a|+|b|)),
    * dist = insert/delete-only edit distance. */
  private def ratio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 100.0
    val n = a.length; val m = b.length
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        cur(j) =
          if (a.charAt(i - 1) == b.charAt(j - 1)) prev(j - 1)
          else 1 + math.min(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    100.0 * (1.0 - prev(m).toDouble / (n + m))
  }

  /** best fuzzy-contains score of `target` over all spans. */
  private def best(spans: Seq[graft.schema.OutSpan], target: String): Double =
    spans.map(s => ratio(s.text, target)).maxOption.getOrElse(0.0)

  test("test.pdf: the e2e target strings are recovered (>=90% of the list)") {
    assume(testPdf.exists(), "reference tree not present")
    val spans = spansOf(testPdf)
    assert(spans.nonEmpty)

    val fuzzTargets = Seq(
      "Figure 1: Figure Caption",
      "Table 1: Table Caption",
      "Trump graduated from the Wharton School of the University of " +
        "Pennsylvania with a bachelor's degree in 1968. He became president " +
        "of his father's real estate business in 1971 and renamed it The " +
        "Trump Organization.")
    val tableCells = Seq("Model", "Testing", "Error", "Linear", "Regression",
      "0.98740", "1321.2", "Gray", "Prediction", "0.00617", "687")

    // the reference harness normalizes typographic quotes away via fuzz;
    // mirror that here before scoring
    val norm = spans.map(s => s.copy(text = s.text.replace('’', '\'')))
    val fuzzHits = fuzzTargets.count(t => best(norm, t) > 85)
    val cellHits = tableCells.count(t => spans.exists(_.text.contains(t)))
    val hits = fuzzHits + cellHits
    val total = fuzzTargets.length + tableCells.length
    assert(hits >= math.ceil(0.9 * total),
      s"recovered $hits/$total targets; fuzz=$fuzzHits cells=$cellHits\n" +
        spans.map(_.text).mkString("\n"))
  }

  test("test.pdf: the DCTDecode figure carries a media_ref over raw JPEG bytes") {
    assume(testPdf.exists(), "reference tree not present")
    val spans = spansOf(testPdf)
    val figs = spans.filter(_.kind == graft.schema.Kinds.Figure)
    assert(figs.nonEmpty)
    // sha-256 of the embedded (undecoded) JPEG stream — stable contract
    assert(figs.head.media_ref.startsWith("img://"))
    assert(figs.head.media_ref.length == "img://".length + 64)
  }

  test("demo pdfs: every bundled real-world file parses without error") {
    val dir = new java.io.File("/root/reference/demo/pdfs")
    assume(dir.exists(), "reference tree not present")
    // NIO stream (not listFiles) so non-ASCII names survive any locale
    val it = java.nio.file.Files.list(dir.toPath).iterator()
    var checked = 0
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".pdf")) {
        val bytes = java.nio.file.Files.readAllBytes(p)
        val res = PdfConvert.convert(p.getFileName.toString, bytes)
        assert(res.spans.nonEmpty, s"$p produced no spans")
        // no mojibake: decoded text must not contain U+FFFD
        assert(!res.spans.exists(_.text.contains('�')), s"$p decoded garbage")
        checked += 1
      }
    }
    assert(checked >= 5)
  }

  test("dangling /Resources refs lose a resource, not the page (pdfium null semantics)") {
    // the reference's own 示例7 research report carries references absent
    // from the xref in its /Resources dicts; before the null-resolution
    // fix the whole text layer was lost (8 image-only spans) — pdfium
    // extracts the text (r5)
    val f = new java.io.File("/root/reference/demo/pdfs/示例7-研究报告.pdf")
    assume(f.exists(), "reference tree not present")
    val bytes = {
      val in = new java.io.FileInputStream(f)
      try in.readAllBytes() finally in.close()
    }
    val spans = PdfConvert.convert("report.pdf", bytes).spans
    assert(spans.length > 30, s"text layer lost again: ${spans.length} spans")
    val text = spans.map(_.text).mkString(" ")
    assert(text.contains("盈 利 承 压"), "CJK body text missing")
    assert(spans.count(_.media_ref.nonEmpty) >= 8, "figure spans missing")
  }

  test("demo1.pdf: dense Latin text volume and CJK decode in the financial report") {
    val demo1 = new java.io.File("/root/reference/demo/pdfs/demo1.pdf")
    assume(demo1.exists(), "reference tree not present")
    val spans = spansOf(demo1)
    val chars = spans.map(_.text.length).sum
    assert(chars > 30000, s"demo1 text volume collapsed: $chars chars")
    assert(spans.exists(_.text.contains("duration curves")))
  }
}

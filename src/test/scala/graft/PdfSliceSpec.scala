package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pdf.{PdfConvert, PdfSlice}
import graft.schema.OutSpan

/** Byte-level page-range slicing (reference
  * convert_pdf_bytes_to_bytes_by_pypdfium2 / windowed variant,
  * cli/common.py:58-166). The load-bearing property: [[PdfConvert]]
  * assembles blocks PER PAGE, so parsing a slice must equal the full
  * parse restricted to the sliced pages — concatenating every
  * single-page slice (orders rebased) must reproduce the whole document
  * byte-for-byte, across all three authored file forms (classic xref,
  * 1.5 objstm+xref-stream, incremental update), /Rotate 90 pages,
  * DCTDecode passthrough figures and Flate'd CMap fonts. */
class PdfSliceSpec extends AnyFunSuite {

  private def rebase(parts: Seq[Vector[OutSpan]]): Vector[OutSpan] =
    parts.flatten.zipWithIndex.map { case (s, i) => s.copy(order = i) }.toVector

  /** Multi-page docs are ~2% of the authored corpus — scan for them so
    * the slicing sweep is non-vacuous instead of hoping a prefix range
    * catches any. */
  private lazy val multiPageIds: Vector[String] =
    (0 until 1500).iterator.map(i => f"doc-$i%012d")
      .filter(id => PdfSlice.pageCount(graft.corpus.PdfGen.bytes(id)) > 1)
      .toVector

  test("single-page slices concatenate to the full document (all file forms)") {
    assert(multiPageIds.length >= 20, s"corpus sweep vacuous: $multiPageIds")
    val ids = multiPageIds ++ (0 until 60).map(i => f"doc-$i%012d")
    ids.foreach { id =>
      val bytes = graft.corpus.PdfGen.bytes(id)
      val full = PdfConvert.convert(id, bytes).spans
      val n = PdfSlice.pageCount(bytes)
      val parts = (0 until n).map(k =>
        PdfConvert.convert(id, PdfSlice.slice(bytes, k, k)).spans.toVector)
      assert(rebase(parts) == full, s"slice concat mismatch for $id")
    }
  }

  test("windowed batching loop reproduces the full parse (batch=2)") {
    val ids = multiPageIds ++ (0 until 30).map(i => f"doc-$i%012d")
    ids.foreach { id =>
      val bytes = graft.corpus.PdfGen.bytes(id)
      val full = PdfConvert.convert(id, bytes).spans
      val parts = Vector.newBuilder[Vector[OutSpan]]
      var start = 0
      var fileEnd = false
      while (!fileEnd) {
        val (wb, fe) = PdfSlice.window(bytes, start, batch = 2)
        parts += PdfConvert.convert(id, wb).spans.toVector
        fileEnd = fe
        start += 2
      }
      assert(rebase(parts.result()) == full, s"window loop mismatch for $id")
    }
  }

  test("end clamp, inclusive range, and out-of-range semantics") {
    val id = "doc-000000000007"
    val bytes = graft.corpus.PdfGen.bytes(id)
    val full = PdfConvert.convert(id, bytes).spans
    // end beyond the last page clamps (common.py get_end_page_id)
    assert(PdfConvert.convert(id, PdfSlice.slice(bytes, 0, 10000)).spans == full)
    // negative end → whole document
    assert(PdfConvert.convert(id, PdfSlice.slice(bytes, 0)).spans == full)
    // windowed: huge batch → one window, file_end true on the first call
    val (wb, fe) = PdfSlice.window(bytes, 0, batch = 999)
    assert(fe && PdfConvert.convert(id, wb).spans == full)
  }

  test("parse-once windows equal the per-call window loop") {
    val ids = multiPageIds.take(12) ++ (0 until 12).map(i => f"doc-$i%012d")
    ids.foreach { id =>
      val bytes = graft.corpus.PdfGen.bytes(id)
      val once = PdfSlice.windows(bytes, batch = 2)
        .flatMap(wb => PdfConvert.convert(id, wb).spans)
      val loop = Vector.newBuilder[OutSpan]
      var start = 0
      var fileEnd = false
      while (!fileEnd) {
        val (wb, fe) = PdfSlice.window(bytes, start, batch = 2)
        loop ++= PdfConvert.convert(id, wb).spans
        fileEnd = fe
        start += 2
      }
      assert(once == loop.result(), s"windows vs window loop for $id")
    }
    // failure contract: one empty window
    val junk = "not a pdf".getBytes("ISO-8859-1")
    assert(PdfSlice.windows(junk, 2).map(_.length) == Vector(0))
  }

  test("parse failure returns the ORIGINAL bytes unchanged (common.py:84-86)") {
    val junk = "this is not a pdf at all".getBytes("ISO-8859-1")
    assert(PdfSlice.slice(junk, 0, 3) eq junk)
    // windowed failure → empty bytes + file_end (common.py:151-153)
    val (wb, fe) = PdfSlice.window(junk, 0, batch = 2)
    assert(wb.isEmpty && fe)
  }

  test("media_ref survives a slice: DCT passthrough re-emits its /Filter") {
    // find docs whose full parse carries a figure; slice each page and
    // check every media_ref appears identically in some slice
    var checked = 0
    (0 until 200).foreach { i =>
      val id = f"doc-$i%012d"
      val bytes = graft.corpus.PdfGen.bytes(id)
      val refs = PdfConvert.convert(id, bytes).spans.filter(_.media_ref.nonEmpty)
        .map(_.media_ref).toSet
      if (refs.nonEmpty) {
        checked += 1
        val sliced = (0 until PdfSlice.pageCount(bytes)).iterator.flatMap { k =>
          PdfConvert.convert(id, PdfSlice.slice(bytes, k, k)).spans
            .filter(_.media_ref.nonEmpty).map(_.media_ref)
        }.toSet
        assert(refs.subsetOf(sliced), s"media_ref lost in slice for $id")
      }
    }
    assert(checked > 20, s"figure sweep vacuous: $checked docs had media")
  }

  test("reference test.pdf slices reassemble (real xref-stream + ObjStm file)") {
    val f = new java.io.File("/root/reference/tests/unittest/pdfs/test.pdf")
    assume(f.exists(), "reference tree not present")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val full = PdfConvert.convert("test.pdf", bytes).spans
    assume(full.nonEmpty)
    val parts = Vector.newBuilder[Vector[OutSpan]]
    var start = 0
    var fileEnd = false
    while (!fileEnd) {
      val (wb, fe) = PdfSlice.window(bytes, start, batch = 1)
      parts += PdfConvert.convert("test.pdf", wb).spans.toVector
      fileEnd = fe
      start += 1
    }
    assert(rebase(parts.result()) == full, "test.pdf slice concat diverged")
  }

  test("EVERY reference demo PDF reassembles from parse-once windows") {
    val dir = new java.io.File("/root/reference/demo/pdfs")
    assume(dir.isDirectory, "reference tree not present")
    val files = dir.listFiles().filter(_.getName.endsWith(".pdf")).sortBy(_.getName)
    assume(files.nonEmpty)
    files.foreach { f =>
      // FileInputStream, not toPath: the CJK demo filenames fail Path
      // encoding under the forked JVM's default charset
      val bytes = {
        val in = new java.io.FileInputStream(f)
        try in.readAllBytes() finally in.close()
      }
      val full = PdfConvert.convert(f.getName, bytes).spans
      val once = PdfSlice.windows(bytes, batch = 3)
        .filter(_.nonEmpty)
        .flatMap(wb => PdfConvert.convert(f.getName, wb).spans)
      assert(rebase(Seq(once)) == full,
        s"${f.getName}: window concat diverged (${once.length} vs ${full.length} spans)")
    }
  }
}

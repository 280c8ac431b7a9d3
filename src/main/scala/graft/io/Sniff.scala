package graft.io

import graft.schema.DocResult

/** THE raw-blob router: one magic-byte sniff shared by
  * [[ExtractJob.runRaw]], the `ingest_raw` driver query and
  * [[graft.streaming.StreamJobs.rawStream]] (two copies drifted once — r3
  * review; now a single function). Each tier has one `convert(id, bytes)`,
  * and each ends in [[graft.pipeline.Assemble.result]]. Mirrors the
  * reference's byte-sniff dispatch (`utils/guess_suffix_or_lang.py`:
  * PDF_SIG_BYTES `%PDF` :12, OOXML zip probing :13-38, magika raster /
  * legacy-office classes :174-193; routed from `main.py:604-636` — image
  * bytes wrapped into 1-page PDFs :623-624, legacy OLE2 office converted
  * :616-621):
  *
  *   - `PK` zip magic at offset 0      → OOXML office converter
  *   - `D0 CF 11 E0 A1 B1 1A E1`      → OLE2 legacy-office converter
  *   - JPEG/PNG/GIF/WebP/BMP magic    → 1-page media document
  *   - `%PDF-` at offset 0            → PDF parser (a real PDF's parse
  *     errors surface — the blob IS a PDF)
  *   - `%PDF-` later in the first 1 KiB → PDF parser with markup fallback:
  *     an HTML page QUOTING "%PDF-" must not be eaten by the PDF tier
  *     (the reference prefix-sniffs only, guess_suffix_or_lang.py:12;
  *     the window exists for crawl-grade leading junk)
  *   - anything else                  → tag-soup HTML main-content strip
  */
object Sniff {

  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 'P'.toByte && bytes(1) == 'K'.toByte

  def convert(id: String, bytes: Array[Byte]): DocResult =
    if (isZip(bytes)) graft.office.OfficeConvert.convert(id, bytes)
    else if (graft.office.OleConvert.isOle2(bytes))
      graft.office.OleConvert.convert(id, bytes)
    else if (graft.image.ImageDoc.isImage(bytes))
      graft.image.ImageDoc.convert(id, bytes)
    else {
      val off = graft.pdf.PdfConvert.sigOffset(bytes)
      if (off == 0) graft.pdf.PdfConvert.convert(id, bytes)
      else if (off > 0)
        try graft.pdf.PdfConvert.convert(id, bytes)
        catch { case scala.util.control.NonFatal(_) =>
          graft.html.HtmlConvert.convert(id, bytes)
        }
      else graft.html.HtmlConvert.convert(id, bytes)
    }

  /** Per-document isolation for every raw-blob path: [[convert]]'s
    * result, or None when the blob is corrupt (truncated zip, garbage
    * xref, binary noise) and the converter throws a non-fatal error. One
    * bad blob must not kill the task that holds it. */
  def guarded(id: String, bytes: Array[Byte]): Option[DocResult] =
    try Some(convert(id, bytes))
    catch { case scala.util.control.NonFatal(_) => None }
}

package graft.image

import graft.schema.{Kinds, DocResult, OrderedBlock}

/** Image-bytes input tier: a bare JPEG/PNG/GIF/WebP/BMP blob arriving at
  * the raw router becomes a one-page media document. The reference wraps
  * image bytes into a 1-page PDF and runs the full pipeline on it
  * (`main.py:623-624` `images_bytes_to_pdf_bytes`, suffix sniff
  * `utils/guess_suffix_or_lang.py:174-193` via magika); on Spark the
  * pipeline-visible result is the same contract — a single figure span
  * whose `media_ref` is the sha-256 of the image bytes (any OCR text for
  * the page would come from the kernel stage, which the deterministic
  * sandbox stubs — the blob itself carries no text layer). */
object ImageDoc {

  /** Magic-byte sniff: Some(format) when the blob is a raster image. */
  def imageKind(bytes: Array[Byte]): Option[String] = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) Some("jpeg")
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G' &&
      at(4) == 0x0d && at(5) == 0x0a && at(6) == 0x1a && at(7) == 0x0a) Some("png")
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8' &&
      (at(4) == '7' || at(4) == '9') && at(5) == 'a') Some("gif")
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'E' && at(10) == 'B' && at(11) == 'P') Some("webp")
    else if (at(0) == 'B' && at(1) == 'M' && bytes.length > 18 && {
      // r5 advice: 'BM' alone misroutes text/HTML starting with "BM" —
      // require a plausible u32 file-size field (within 8 bytes of the
      // actual blob, little-endian) AND a known DIB header size
      // (BITMAPCOREHEADER 12 / BITMAPINFOHEADER 40 / V4 108 / V5 124)
      val fileSize = (at(2) | (at(3) << 8) | (at(4) << 16) | (at(5) << 24)).toLong & 0xffffffffL
      val dib = at(14) | (at(15) << 8) | (at(16) << 16) | (at(17) << 24)
      math.abs(fileSize - bytes.length) <= 8 &&
        (dib == 12 || dib == 40 || dib == 108 || dib == 124)
    }) Some("bmp")
    else None
  }

  def isImage(bytes: Array[Byte]): Boolean = imageKind(bytes).isDefined

  def convert(docId: String, bytes: Array[Byte]): DocResult =
    graft.pipeline.Assemble.result(docId,
      Vector(OrderedBlock.flow(Kinds.Figure, "", "img://" + graft.util.Sha256.hex(bytes))))
}

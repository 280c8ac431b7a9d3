package graft.corpus

import graft.schema.{Kinds, OutSpan}
import graft.util.Rng
import java.io.ByteArrayOutputStream

/** Image-blob corpus for the raw ingestion router: every doc id maps to a
  * deterministic blob with a REAL raster-image magic header (JPEG / PNG /
  * GIF / WebP, drawn per doc) followed by deterministic payload bytes —
  * the format mix the reference's normalizer wraps into 1-page PDFs
  * (`main.py:623-624`, sniffed `utils/guess_suffix_or_lang.py:174-193`).
  * The payloads are not decodable pictures (no image codecs in the
  * sandbox, and none are needed): the contract under test is the ROUTE
  * (magic sniff → media document) and the media_ref hash over the full
  * blob. */
object ImgGen {

  def bytes(docId: String): Array[Byte] = {
    val r = Rng.stream("imgq", docId)
    val out = new ByteArrayOutputStream(256)
    def w(bs: Int*): Unit = bs.foreach(b => out.write(b & 0xff))
    val form = r.nextInt(4)
    form match {
      case 0 => // JPEG: SOI + JFIF APP0
        w(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10)
        out.write("JFIF".getBytes("ISO-8859-1")); w(0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
      case 1 => // PNG signature + fake IHDR tag
        w(0x89); out.write("PNG".getBytes("ISO-8859-1")); w(0x0d, 0x0a, 0x1a, 0x0a)
        w(0, 0, 0, 0x0d); out.write("IHDR".getBytes("ISO-8859-1"))
      case 2 => // GIF89a
        out.write("GIF89a".getBytes("ISO-8859-1"))
      case _ => // WebP RIFF container
        out.write("RIFF".getBytes("ISO-8859-1")); w(0, 1, 0, 0)
        out.write("WEBP".getBytes("ISO-8859-1"))
    }
    val n = 64 + r.nextInt(192)
    (0 until n).foreach(_ => out.write(r.nextInt(256)))
    if (form == 0) w(0xff, 0xd9) // JPEG EOI
    out.toByteArray
  }

  /** Expected span: ONE figure whose media_ref hashes the full blob. */
  def golden(docId: String): Vector[OutSpan] = {
    val ref = "img://" + graft.util.Sha256.hex(bytes(docId))
    Vector(OutSpan(Kinds.Figure, "", ref, 0))
  }
}

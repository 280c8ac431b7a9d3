package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{DocGen, HtmlGen, ImgGen, OfficeGen, OleGen, PdfGen}
import graft.io.Sniff

/** Pins each input tier's rendered markdown, which the span oracles do not
  * see: the SHA-256 of the `\u0000`-joined `Sniff.convert(id, bytes)
  * .markdown` over ids 0–199 of the tier's generator. Heading levels,
  * figure refs, table and list rendering all feed the hash. */
class ConverterMarkdownSpec extends AnyFunSuite {

  private def markdownHash(bytes: String => Array[Byte]): String =
    DocGen.sha256Hex((0 until 200).map { i =>
      val id = DocGen.docId(i)
      Sniff.convert(id, bytes(id)).markdown
    }.mkString("\u0000"))

  private val tiers: Seq[(String, String => Array[Byte], String)] = Seq(
    ("office", OfficeGen.bytes,
      "648364178129e6716717aae61afbf37c06fe8bf650de11034cc63306a92c1068"),
    ("html", HtmlGen.bytes,
      "990169ca19da70f5e96a58a537f34e12044018311400c3bf9925ec3a5461ee09"),
    ("pdf", PdfGen.bytes,
      "cdef8b8ee989ba3fb0196e22e52571bdd81366a791301c80a1016412f553fb64"),
    ("image", ImgGen.bytes,
      "451a5796e081103b60cbd037a4204b50d696c877d1ab3f7c1638974dfdc621df"),
    ("ole", OleGen.bytes,
      "0bf5a7a62ea0168eb5dc4e2ea9c9ffdb8b359a2cb65eb7fe53e70792eb432db9"))

  tiers.foreach { case (tier, bytes, want) =>
    test(s"$tier tier: markdown of ids 0-199 is pinned") {
      assert(markdownHash(bytes) == want)
    }
  }
}

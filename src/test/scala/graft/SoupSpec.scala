package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{HtmlConvert, SoupParser}
import graft.office.Ooxml
import graft.schema.Kinds

/** The lenient tag-soup parser: crawl-grade quirks must produce the same
  * tree (and the same extraction output) as their well-formed versions. */
class SoupSpec extends AnyFunSuite {

  private def texts(html: String): Vector[(String, String)] =
    HtmlConvert.convert("t", html.getBytes("UTF-8")).spans.toVector.map(s => (s.kind, s.text))

  test("implied end tags: p closed by block open, li by li") {
    val soup =
      """<!DOCTYPE html><html><body><main>
        |<p>First paragraph runs until the next block begins here
        |<p>Second paragraph also unterminated
        |<ul><li>Alpha item one<li>Beta item two</ul>
        |<div>A trailing leaf division with enough words to pass.</div>
        |</main></body></html>""".stripMargin
    val got = texts(soup)
    assert(got.length == 4, got.toString)
    assert(got(0)._2.trim.startsWith("First paragraph"))
    assert(got(1)._2.trim.startsWith("Second paragraph"))
    assert(got(2) == (Kinds.ListK, "Alpha item one\nBeta item two"))
    assert(got(3)._1 == Kinds.Text)
  }

  test("case-insensitive tags, unquoted attrs, slash-less void img") {
    val soup =
      """<HTML><BODY><MAIN>
        |<H2>Mixed Case Heading</H2>
        |<FIGURE><IMG SRC=img://abc></FIGURE>
        |<P>A paragraph with enough ordinary words to classify good.</P>
        |</MAIN></BODY></HTML>""".stripMargin
    val got = texts(soup)
    assert(got(0) == (Kinds.Title, "Mixed Case Heading"))
    val spans = HtmlConvert.convert("t", soup.getBytes("UTF-8")).spans
    assert(spans.exists(s => s.kind == Kinds.Figure && s.media_ref == "img://abc"))
  }

  test("entities decode in text and attributes; raw script is opaque") {
    val soup =
      """<html><head><script>if (a < b && c > d) { x = "<p>"; }</script></head><body><main>
        |<p>Fish &amp; chips cost &#163;9 &#x2014; cheap&nbsp;enough for everyone.</p>
        |</main></body></html>""".stripMargin
    val got = texts(soup)
    assert(got == Vector((Kinds.Text,
      "Fish & chips cost £9 — cheap enough for everyone.")))
  }

  test("fragment with no html/head/body wraps like HTML5 tree construction") {
    val soup = "<p>A bare fragment paragraph with plenty of words inside.</p>" +
      "<ul><li>One item here<li>Two items here</ul>"
    val root = SoupParser.parse(soup)
    assert(root.getTagName == "html")
    assert(Ooxml.children(root).map(_.getTagName) == Vector("head", "body"))
    val got = texts(soup)
    assert(got.length == 2)
    assert(got(1) == (Kinds.ListK, "One item here\nTwo items here"))
  }

  test("unmatched close tags and stray '<' are tolerated") {
    val soup = "<main><p>One paragraph 3 < 5 with words enough to be good.</p></div></span></main>"
    val got = texts(soup)
    assert(got.length == 1)
    assert(got(0)._2.contains("3 < 5"))
  }

  test("well-formed and soup versions of a page extract identically") {
    val strict =
      """<html><head><title>t</title><style>b{x:1}</style></head><body>
        |<header><nav><ul><li><a href="/a">A</a></li></ul></nav></header>
        |<main><h1>The Title</h1>
        |<p>A paragraph with a healthy number of readable words in it.</p>
        |<ul><li>First item</li><li>Second item</li></ul>
        |<figure><img src="img://x"/><figcaption>Figure 1: X</figcaption></figure>
        |</main><footer><p>(c) site</p></footer></body></html>""".stripMargin
    val soup = strict
      .replace("</p>", "").replace("</li>", "")
      .replace("<h1>", "<H1>").replace("</h1>", "</H1>")
      .replace("\"/>", "\">")
    assert(texts(strict).nonEmpty)
    assert(texts(soup) == texts(strict))
  }

  test("the corpus authors soup pages and clean pages, goldens unchanged") {
    def id(i: Int) = f"doc-$i%012d"
    val pages = (0 until 300).map(i => new String(graft.corpus.HtmlGen.bytes(id(i)), "UTF-8"))
    assert(pages.exists(p => !p.contains("</p>")), "soup page (no </p>) authored")
    assert(pages.exists(p => p.contains("</p>")), "well-formed page retained")
    assert(pages.exists(_.contains("<H2>")), "uppercase-tag page authored")
    assert(pages.exists(_.contains("<!DOCTYPE html>")), "doctype page authored")
    assert(pages.exists(_.contains("&nbsp;")), "entity page authored")
    assert(pages.exists(_.contains("href=/more")), "unquoted-attr page authored")
    assert(pages.exists(_.contains("<ul compact>")), "valueless-attr page authored")
    assert(pages.exists(_.contains("class='share-tools'")), "single-quote-attr page authored")
  }
}

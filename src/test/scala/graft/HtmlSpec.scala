package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.HtmlGen
import graft.html.HtmlConvert
import graft.schema.Kinds

/** HTML main-content extraction: the DOM walk + tag/link-density strip
  * must recover exactly the authored article from pages wrapped in real
  * boilerplate (header/nav/promo/related/read-more/aside/footer/script). */
class HtmlSpec extends AnyFunSuite {

  private def id(i: Int) = f"doc-$i%012d"

  test("500-page golden equality through the real DOM round trip") {
    (0 until 500).foreach { i =>
      val got = HtmlConvert.convert(id(i), HtmlGen.bytes(id(i))).spans
      val want = HtmlGen.golden(id(i))
      assert(got == want, s"doc ${id(i)}")
    }
  }

  test("boilerplate text never leaks into any span") {
    // nav/footer/aside/promo/read-more text is drawn from the same word
    // corpus as content, so leak detection must be structural: strip the
    // boilerplate AUTHORING and diff. Here: every emitted span text must
    // appear in the golden verbatim — nothing extra survives the walk.
    (0 until 300).foreach { i =>
      val got = HtmlConvert.convert(id(i), HtmlGen.bytes(id(i))).spans
      val wantTexts = HtmlGen.golden(id(i)).map(s => (s.kind, s.text)).toSet
      got.foreach { s =>
        assert(wantTexts((s.kind, s.text)), s"leaked span in ${id(i)}: $s")
      }
    }
  }

  test("the corpus exercises every trap and every survivor class") {
    val pages = (0 until 300).map(i => new String(HtmlGen.bytes(id(i)), "UTF-8"))
    assert(pages.exists(_.contains("<div>Hot: ")), "promo trap authored")
    assert(pages.exists(_.contains("""<p><a href="/more">""")), "read-more trap authored")
    assert(pages.exists(_.contains("""<li><a href="/r">""")), "related-list trap authored")
    assert(pages.exists(_.contains("<p>ADVERTISEMENT</p>")), "caps-ad trap authored")
    assert(pages.exists(_.contains("<div>SPONSORED CONTENT</div>")), "caps-div trap authored")
    assert(pages.exists(_.contains("""class="share-tools"""")), "share-bar trap authored")
    assert(pages.exists(_.contains("""id="comments"""")), "comments trap authored")
    assert(pages.exists(_.contains("<blockquote>")), "blockquote authored")
    assert(pages.exists(_.contains("<br/>")), "br paragraph authored")
    val brDocs = (0 until 300).filter(i =>
      HtmlGen.golden(id(i)).exists(s => s.kind == Kinds.Text && s.text.contains("\n")))
    assert(brDocs.nonEmpty, "br paragraph reaches golden")
    brDocs.take(3).foreach { i =>
      val got = HtmlConvert.convert(id(i), HtmlGen.bytes(id(i))).spans
      assert(got.exists(s => s.kind == Kinds.Text && s.text.contains("\n")),
        s"br newline lost in ${id(i)}")
    }
    assert(pages.exists(_.contains("<p>More stories below.</p>")), "chrome-short trap authored")
    val shortDocs = (0 until 300).filter(i =>
      HtmlGen.golden(id(i)).exists(s => s.kind == Kinds.Text && s.text.endsWith(" holds.")))
    assert(shortDocs.nonEmpty, "short content sentence authored")
    shortDocs.take(5).foreach { i =>
      val got = HtmlConvert.convert(id(i), HtmlGen.bytes(id(i))).spans
      assert(got.exists(s => s.text.endsWith(" holds.")),
        s"short content sentence kept by context in ${id(i)}")
      assert(!got.exists(_.text == "More stories below."), s"chrome short leaked in ${id(i)}")
    }
    val goldens = (0 until 300).flatMap(i => HtmlGen.golden(id(i)))
    assert(goldens.exists(s => s.kind == Kinds.ListK), "plain content list survives")
    assert(goldens.exists(s => s.kind == Kinds.Table), "table survives")
    assert(goldens.exists(s => s.kind == Kinds.Algorithm), "code block survives")
    assert(goldens.exists(s => s.kind == Kinds.Figure && s.media_ref.startsWith("img://")))
    // an inline-anchor paragraph exists AND survives with the anchor inlined
    val anchoredDocs = (0 until 300).filter(i =>
      new String(HtmlGen.bytes(id(i)), "UTF-8").contains("""<a href="/a/"""))
    assert(anchoredDocs.nonEmpty, "inline-anchor paragraph authored")
    anchoredDocs.take(5).foreach { i =>
      val got = HtmlConvert.convert(id(i), HtmlGen.bytes(id(i))).spans
      assert(got.exists(s => s.kind == Kinds.Text && s.text.contains(" See ")),
        s"inline-anchor paragraph kept in ${id(i)}")
    }
  }

  test("hand case: density separates identical markup") {
    val html =
      """<html><head><title>t</title></head><body>
        |<main>
        |<p>plain words carry the content of this paragraph with one <a href="/x">tiny link</a> inside a lot of text around it.</p>
        |<p><a href="/y">All link no content</a></p>
        |<ul><li>Alpha beta gamma</li><li>Delta epsilon zeta</li></ul>
        |<ul><li><a href="/1">alpha link</a></li><li><a href="/2">beta link</a></li></ul>
        |</main></body></html>""".stripMargin.getBytes("UTF-8")
    val spans = HtmlConvert.convert("t", html).spans
    assert(spans.map(_.kind) == Vector(Kinds.Text, Kinds.ListK))
    assert(spans.head.text.contains("tiny link"))
    assert(spans(1).text == "Alpha beta gamma\nDelta epsilon zeta")
  }

  test("hand case: unlikely-class and short-caps rules") {
    val html =
      """<html><head><title>t</title></head><body>
        |<main>
        |<p>ADVERTISEMENT</p>
        |<p>A real paragraph of readable content words here.</p>
        |<div>SPONSORED CONTENT</div>
        |<blockquote>A quoted passage kept as content text.</blockquote>
        |<div class="share-tools">Share this with your friends today</div>
        |<div id="comments"><h3>Comments</h3><p>A comment that reads like content.</p></div>
        |</main></body></html>""".stripMargin.getBytes("UTF-8")
    val spans = HtmlConvert.convert("t", html).spans
    assert(spans.map(_.kind) == Vector(Kinds.Text, Kinds.Text))
    assert(spans.head.text == "A real paragraph of readable content words here.")
    assert(spans(1).text == "A quoted passage kept as content text.")
    // the comments h3 must not leak as a title
    assert(!spans.exists(_.text == "Comments"))
  }

  test("hand case: context separates identical short paragraphs") {
    def page(body: String) =
      s"<html><head><title>t</title></head><body><main>$body</main></body></html>"
        .getBytes("UTF-8")
    val shortP = "<p>It simply holds.</p>" // 16 chars: short either way
    val goodCtx = page(
      "<p>A first real paragraph with plenty of readable words.</p>" +
        shortP +
        "<p>A second real paragraph with plenty of readable words.</p>")
    val badCtx = page(
      """<ul><li><a href="/1">one</a></li><li><a href="/2">two</a></li></ul>""" +
        shortP +
        """<p><a href="/3">all link</a></p>""")
    val kept = HtmlConvert.convert("t", goodCtx).spans
    assert(kept.exists(_.text == "It simply holds."), "short kept in good context")
    val dropped = HtmlConvert.convert("t", badCtx).spans
    assert(dropped.isEmpty, s"short dropped between link farms, got $dropped")
  }
}

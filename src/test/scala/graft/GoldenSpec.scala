package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.DocGen
import graft.pipeline.Extract
import graft.schema._

/** The north-rule invariant: the pipeline's (kind, text, media_ref, order)
  * sequence must exactly equal the golden oracle per document — the golden
  * is derived from the authoring structure alone, while the pipeline must
  * recover it from the kernel stub's scrambled, noisy geometric detections
  * (FIXTURES.md §3). Pure (no Spark) so it covers many documents fast. */
class GoldenSpec extends AnyFunSuite {

  private def ids(n: Int): Seq[String] = (0 until n).map(i => f"doc-$i%012d")

  /** Documents of the benchmark's seed space that once extracted wrong
    * (perfbench ids: seed s draws from s × 10^6):
    *  - a junk text det over a formula number evicted it in the
    *    model-order overlap prefilter, below the score floor (seeds 5,
    *    15, 33) or below the text rec-confidence floor (seeds 68, 299);
    *  - a text det that already had text won a line's chars and dropped
    *    them, so the line lost its head (seeds 64, 108, 295). */
  private val regressionIds = Seq(
    "doc-000005000184", "doc-000015001721", "doc-000033000629",
    "doc-000068001610", "doc-000299000773",
    "doc-000064001374", "doc-000108002106", "doc-000295001915")

  test("pipeline output equals golden span sequence AND markdown on 500 documents") {
    var checked = 0
    (ids(500) ++ regressionIds).foreach { id =>
      val got = Extract.extractDoc(DocGen.docRow(id))
      val want = DocGen.golden(id)
      assert(got.spans == want.spans,
        s"span-sequence mismatch for $id:\n got=${got.spans.take(8)}\nwant=${want.spans.take(8)}")
      assert(got.markdown == want.markdown, s"markdown mismatch for $id")
      checked += 1
    }
    assert(checked == 500 + regressionIds.size)
  }

  test("generation is deterministic and order-independent") {
    val a = DocGen.docRow("doc-000000000042")
    val b = DocGen.docRow("doc-000000000042")
    assert(a == b)
  }

  test("corpus exercises every fixture family ingredient") {
    val all = ids(300).map(DocGen.docRow)
    val kinds = all.flatMap(_.spans.map(_.kind)).toSet
    assert(Set(Kinds.Title, Kinds.Text, Kinds.Figure, Kinds.Table, Kinds.Formula,
      Kinds.FormulaNumber, Kinds.Caption, Kinds.Footnote, Kinds.ListK, Kinds.Index,
      Kinds.Header, Kinds.Footer, Kinds.PageNumber).subsetOf(kinds))
    // the OCR route (scanned docs) is exercised: some kernel output carries
    // garbled rec results the pipeline must drop
    val scannedSeen = ids(120).exists { id =>
      graft.kernel.StubModel.analyze(DocGen.docRow(id))
        .exists(_.dets.exists(_.text == "▯▯▯"))
    }
    assert(scannedSeen, "no scanned-route docs in 120")
    // vertical-text blocks occur and are reassembled (narrow tall text dets)
    val verticalSeen = ids(200).exists { id =>
      val row = DocGen.docRow(id)
      row.spans.exists(s => graft.kernel.StubModel.isVertical(id, s))
    }
    assert(verticalSeen, "no vertical-text docs in 200")
    // page-count skew present
    val pageCounts = all.map(_.spans.count(_.kind == Kinds.Header))
    assert(pageCounts.max >= 13, "large-doc tail missing")
    assert(pageCounts.count(_ <= 3) * 100 >= pageCounts.length * 60)
    // media refs content-addressed
    val refs = all.flatMap(_.spans.filter(_.kind == Kinds.Figure).map(_.media_ref))
    assert(refs.nonEmpty && refs.forall(r => r.startsWith("img://") && r.length == 6 + 64))
  }

  test("cross-page table merge happens and the flag gates it") {
    import graft.kernel.StubModel
    import graft.pipeline.{PageOps, Assemble}
    // find docs whose input has two adjacent tables across a page boundary
    // with the same header (the split-table construct)
    val affected = ids(400).filter { id =>
      val row = DocGen.docRow(id)
      row.spans.sliding(5).exists {
        case Seq(a, b, c, d, e) =>
          a.kind == Kinds.Table && b.kind == Kinds.Footer &&
            c.kind == Kinds.PageNumber && d.kind == Kinds.Header &&
            e.kind == Kinds.Table
        case _ => false
      }
    }
    assert(affected.nonEmpty, "no split-table docs generated in 400")
    var gated = 0
    affected.foreach { id =>
      val row = DocGen.docRow(id)
      val pages = StubModel.analyze(row).map(p => PageOps.process(p))
      val on = Assemble.assemble(id, pages, mergeTables = true)
      val off = Assemble.assemble(id, pages, mergeTables = false)
      assert(on.spans == DocGen.golden(id).spans)
      if (on.spans != off.spans) gated += 1
    }
    assert(gated > 0, "flag-off never changed output — merge not exercised")
  }

  test("golden output contains merged cross-page paragraphs and formula tags") {
    val gs = ids(300).map(DocGen.golden)
    val texts = gs.flatMap(_.spans.map(_.text))
    assert(texts.exists(_.contains("\\tag{")), "no formula tag attach exercised")
    // a merged continuation contains a lowercase joined fragment longer than
    // either part — detect via hyphen join leaving no trace: just assert the
    // golden differs from raw authoring for some doc (merge happened)
    val rawCounts = gs.map(_.spans.length).sum
    val inputMains = ids(300).map(DocGen.docRow).map(_.spans.count(s =>
      !Kinds.discarded(s.kind))).sum
    assert(rawCounts < inputMains, "no merges/attaches happened at all")
  }
}

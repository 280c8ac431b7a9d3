package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.order.XYCut
import graft.geom.Geo
import graft.util.SplitMix64

class XYCutSpec extends AnyFunSuite {

  type Box = (Double, Double, Double, Double)

  test("single column stacks order top-to-bottom") {
    val boxes = Vector.tabulate(5)(i => (36.0, 100.0 + i * 50, 576.0, 130.0 + i * 50))
    assert(XYCut.order(boxes) == Vector(0, 1, 2, 3, 4))
  }

  test("title + two interleaved columns reads title, col1, col2") {
    val title: Box = (36, 50, 576, 82)
    // column gaps must not align across columns, or a y-band genuinely
    // separates the page (classic XY-cut limitation the renderer avoids)
    val c1 = Vector.tabulate(3)(i => (36.0, 100.0 + i * 80, 296.0, 160.0 + i * 80))
    val c2 = Vector((316.0, 130.0, 576.0, 200.0), (316.0, 215.0, 576.0, 285.0),
      (316.0, 300.0, 576.0, 370.0))
    val boxes = (title +: (c1 ++ c2)).toVector
    assert(XYCut.order(boxes) == Vector(0, 1, 2, 3, 4, 5, 6))
  }

  test("permutation invariance: order depends on geometry, not input order") {
    val r = new SplitMix64(0xfeedL)
    (0 until 300).foreach { _ =>
      val boxes = Vector.fill(8) {
        val x0 = r.nextDouble() * 500; val y0 = r.nextDouble() * 700
        (x0, y0, x0 + 10 + r.nextDouble() * 90, y0 + 8 + r.nextDouble() * 52)
      }
      val perm = new scala.util.Random(r.nextLong()).shuffle(boxes.indices.toVector)
      val shuffled = perm.map(boxes)
      val o1 = XYCut.order(boxes).map(boxes)
      val o2 = XYCut.order(shuffled).map(shuffled)
      assert(o1 == o2, s"not permutation invariant for $boxes")
    }
  }

  test("coverage bridges sub-minGap gaps and reports real holes") {
    val segs = Geo.coverage(Seq((0.0, 10.0), (10.5, 20.0), (40.0, 50.0)), 1.0)
    assert(segs == Vector((0.0, 20.0), (40.0, 50.0)))
  }

  test("interval subtraction punches formula masks out of text ranges") {
    // ocr_utils.py:144-217 semantics
    assert(Geo.subtractIntervals(0, 100, Seq((20.0, 30.0), (50.0, 60.0))) ==
      Vector((0.0, 20.0), (30.0, 50.0), (60.0, 100.0)))
    assert(Geo.subtractIntervals(0, 100, Seq((25.0, 35.0), (30.0, 40.0))) ==
      Vector((0.0, 25.0), (40.0, 100.0))) // overlapping cuts merge first
    assert(Geo.subtractIntervals(10, 20, Seq((0.0, 30.0))) == Vector.empty)
    assert(Geo.subtractIntervals(10, 20, Seq((0.0, 15.0))) == Vector((15.0, 20.0)))
    assert(Geo.subtractIntervals(10, 20, Nil) == Vector((10.0, 20.0)))
  }
}

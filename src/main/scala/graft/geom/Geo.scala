package graft.geom

/** Pure bbox geometry kernel — Scala port of the reference's boxbase
  * surface (/root/reference/rapid_doc/utils/boxbase.py): IoU, overlap
  * ratios, edge distance, interval coverage. Used inside typed maps; never
  * a UDF. */
object Geo {

  @inline def interLen(a0: Double, a1: Double, b0: Double, b1: Double): Double =
    math.max(0.0, math.min(a1, b1) - math.max(a0, b0))

  /** Intersection-over-union (boxbase.py:139). */
  def iou(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
      bx0: Double, by0: Double, bx1: Double, by1: Double): Double = {
    val iw = interLen(ax0, ax1, bx0, bx1)
    val ih = interLen(ay0, ay1, by0, by1)
    val inter = iw * ih
    if (inter <= 0) 0.0
    else {
      val aArea = (ax1 - ax0) * (ay1 - ay0)
      val bArea = (bx1 - bx0) * (by1 - by0)
      inter / (aArea + bArea - inter)
    }
  }

  /** overlap area over the smaller box's area (boxbase.py:118). */
  def overlapOverMin(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
      bx0: Double, by0: Double, bx1: Double, by1: Double): Double = {
    val inter = interLen(ax0, ax1, bx0, bx1) * interLen(ay0, ay1, by0, by1)
    if (inter <= 0) 0.0
    else {
      val minArea = math.min((ax1 - ax0) * (ay1 - ay0), (bx1 - bx0) * (by1 - by0))
      if (minArea <= 0) 0.0 else inter / minArea
    }
  }

  /** Box A fully inside box B — inclusive edges (is_in, boxbase.py:6-17). */
  @inline def isIn(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
      bx0: Double, by0: Double, bx1: Double, by1: Double): Boolean =
    ax0 >= bx0 && ay0 >= by0 && ax1 <= bx1 && ay1 <= by1

  /** Intersection area over box A's own area
    * (calculate_overlap_area_in_bbox1_area_ratio, boxbase.py:175-193). */
  def overlapInA(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
      bx0: Double, by0: Double, bx1: Double, by1: Double): Double = {
    val inter = interLen(ax0, ax1, bx0, bx1) * interLen(ay0, ay1, by0, by1)
    if (inter <= 0) 0.0
    else {
      val aArea = (ax1 - ax0) * (ay1 - ay0)
      if (aArea <= 0) 0.0 else inter / aArea
    }
  }

  /** Fraction of box A's x-extent covered by box B's vertical projection
    * (calculate_vertical_projection_overlap_ratio, boxbase.py:195-227). */
  def vprojOverlapRatio(ax0: Double, ax1: Double,
      bx0: Double, bx1: Double): Double = {
    val inter = interLen(ax0, ax1, bx0, bx1)
    val w = ax1 - ax0
    if (inter <= 0 || w <= 0) 0.0 else inter / w
  }

  /** Shortest edge-to-edge distance between two boxes (boxbase.py:41). */
  def edgeDist(ax0: Double, ay0: Double, ax1: Double, ay1: Double,
      bx0: Double, by0: Double, bx1: Double, by1: Double): Double = {
    val dx = math.max(0.0, math.max(bx0 - ax1, ax0 - bx1))
    val dy = math.max(0.0, math.max(by0 - ay1, ay0 - by1))
    math.sqrt(dx * dx + dy * dy)
  }

  /** Subtract a set of intervals from [lo, hi] (ocr_utils.py
    * remove_intervals:163-190 — the formula-mask x-range subtraction that
    * punches formula spans out of text-detection boxes). */
  def subtractIntervals(lo: Double, hi: Double,
      cuts: Seq[(Double, Double)]): Vector[(Double, Double)] = {
    var rest = Vector((lo, hi))
    coverage(cuts, 0.0).foreach { case (c0, c1) =>
      rest = rest.flatMap { case (a, b) =>
        if (c1 <= a || c0 >= b) Vector((a, b))
        else {
          val left = if (c0 > a) Vector((a, c0)) else Vector.empty
          val right = if (c1 < b) Vector((c1, b)) else Vector.empty
          left ++ right
        }
      }
    }
    rest
  }

  /** Merge 1-D intervals into maximal covered segments; gaps narrower than
    * `minGap` are bridged (the XY-cut `min_gap=1` semantics,
    * xycut_plus.py:5-31; at `minGap` 0, the overlapping/touching merge of
    * ocr_utils.py merge_intervals:144-160). Returns segments sorted
    * ascending. */
  def coverage(intervals: Seq[(Double, Double)], minGap: Double): Vector[(Double, Double)] = {
    if (intervals.isEmpty) return Vector.empty
    val sorted = intervals.sortBy(_._1)
    val out = Vector.newBuilder[(Double, Double)]
    var (lo, hi) = sorted.head
    sorted.tail.foreach { case (s, e) =>
      if (s <= hi + minGap) { if (e > hi) hi = e }
      else { out += ((lo, hi)); lo = s; hi = e }
    }
    out += ((lo, hi))
    out.result()
  }
}

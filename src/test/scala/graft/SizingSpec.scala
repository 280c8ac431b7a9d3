package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ScaleQueries

/** The corpus-sized LSH/IVF constants are the one place the Spark↔DuckDB
  * oracle contract relies on integer arithmetic staying in lockstep at
  * power-of-two / perfect-square boundaries (VERDICT r3 task 8). This spec
  * replays the DuckDB formulas INDEPENDENTLY — `length(bin(m-1))` via the
  * binary-string digit count (exactly what DuckDB's `bin()` returns), the
  * `//` floor division, `greatest`, and IEEE-double `sqrt` — and sweeps n
  * across every boundary family, so a drift in either side's formula fails
  * here before it fails the driver board at some unlucky corpus size. */
class SizingSpec extends AnyFunSuite {

  /** SQL replica of ScaleOracles.parCte:
    * m = (count + 31) // 32; p = CASE WHEN m<=1 THEN 2
    * ELSE greatest(2, length(bin(m-1))). DuckDB bin(0)='0' (length 1),
    * bin(x)=minimal binary digits for x>0 — i.e. the decimal length of
    * java.lang.Long.toBinaryString. */
  private def sqlPlanes(n: Long): Int = {
    val m = (n + 31L) / 32L
    if (m <= 1L) 2
    else math.max(2, java.lang.Long.toBinaryString(m - 1L).length)
  }

  /** SQL replica of `greatest(8, p)` (annBucketCtes `nb`). */
  private def sqlBits(n: Long): Int = math.max(8, sqlPlanes(n))

  /** SQL replica of `greatest(8, floor(sqrt(count(*) - 1))::INT + 1)`:
    * DuckDB sqrt(BIGINT) casts to DOUBLE and uses the same IEEE-754 sqrt
    * as java.lang.Math (both correctly-rounded per the standard), so the
    * replay is exact wherever n-1 is exactly representable (n ≤ 2^53). */
  private def sqlIvfK(n: Long): Int =
    math.max(8, math.floor(math.sqrt((n - 1L).toDouble)).toInt + 1)

  /** Every boundary family the formulas can straddle: small-n exhaustive,
    * powers of two ±1 (bit-length steps), multiples of 32 around them
    * (the m = ceil(n/32) divisor), and perfect squares ±1 (the sqrt
    * floor). */
  private def boundaryNs: Seq[Long] = {
    val exhaustive = (1L to 4096L)
    val pow2 = (2 to 40).flatMap { k =>
      val p = 1L << k
      Seq(p - 1, p, p + 1, 32 * p - 1, 32 * p, 32 * p + 1)
    }
    val squares = (1L to 3000L).flatMap { k => Seq(k * k - 1, k * k, k * k + 1) }
    (exhaustive ++ pow2 ++ squares).filter(_ >= 1L).distinct
  }

  test("lshPlanesPerBand matches the DuckDB bin() replay at every boundary") {
    boundaryNs.foreach { n =>
      assert(ScaleQueries.lshPlanesPerBand(n) == sqlPlanes(n),
        s"planes drift at n=$n: scala=${ScaleQueries.lshPlanesPerBand(n)} sql=${sqlPlanes(n)}")
    }
  }

  test("annBucketBits matches greatest(8, p) at every boundary") {
    boundaryNs.foreach { n =>
      assert(ScaleQueries.annBucketBits(n) == sqlBits(n),
        s"bits drift at n=$n")
    }
  }

  test("ivfK matches the DuckDB sqrt replay, exact at perfect squares") {
    boundaryNs.foreach { n =>
      assert(ScaleQueries.ivfK(n) == sqlIvfK(n), s"ivfK drift at n=$n")
    }
    // the designed boundary property: K(k^2) = k and K(k^2+1) = k+1 —
    // floor(sqrt(n-1))+1 never misrounds AT the square the way
    // ceil(sqrt(n)) can when sqrt(k^2) computes to k-ulp
    (8L to 3000L).foreach { k =>
      assert(ScaleQueries.ivfK(k * k) == k, s"K(k^2) != k at k=$k")
      assert(ScaleQueries.ivfK(k * k + 1) == k + 1, s"K(k^2+1) != k+1 at k=$k")
    }
  }

  test("documented anchor values hold") {
    assert(ScaleQueries.lshPlanesPerBand(500) == 4)
    assert(ScaleQueries.lshPlanesPerBand(2000) == 6)
    assert(ScaleQueries.lshPlanesPerBand(1000000000L) == 25)
    assert(ScaleQueries.ivfK(500) == 23)
    assert(ScaleQueries.ivfK(2000) == 45)
    // expected bucket population n / 2^p stays in (16, 32] once n > 64·32:
    // the sizing target that keeps per-band fan-out O(n·32)
    Seq(10000L, 100000L, 10000000L, 1000000000L).foreach { n =>
      val pop = n.toDouble / (1L << ScaleQueries.lshPlanesPerBand(n))
      assert(pop <= 32.0 && pop > 16.0 - 1e-9, s"bucket pop $pop out of band at n=$n")
    }
  }

  test("det_iou_dedup slot-key invariant: corpus words stay under the overlap width (r6)") {
    // det_iou_dedup joins on slot as an equi-key; that is result-identical
    // only while det boxes (20 + 8·wlen wide, ≤82 high) cannot reach the
    // next slot column 130 px away — i.e. max word length ≤ 13. The corpus
    // vocabulary is well under it; this pins the invariant so a corpus
    // change that would break the join-key proof fails here first.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val f = new java.io.File(s"$dir/documents.parquet")
      assume(f.exists())
      val mx = TestSpark.session.read.parquet(f.getPath)
        .selectExpr("max(array_max(transform(split(text, ' '), w -> length(w)))) AS m")
        .collect()(0).getInt(0)
      assert(mx <= 13, s"max word length $mx in $dir breaks the slot-key proof")
    }
  }
}

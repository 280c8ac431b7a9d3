package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.GoldenSweep

/** Golden equality over exactly the documents the benchmark's
  * `docs_extract` workload extracts for seeds 0-39: ids
  * `seed * 10^6 + [0, 2000)`, 80,000 docs, with no Spark. */
class GoldenSweepSpec extends AnyFunSuite {

  test("the docs_extract inputs of seeds 0-39 extract golden-exact") {
    val ids = (0L until 40L).flatMap(s => s * 1000000L until s * 1000000L + 2000L)
    val t0 = System.nanoTime()
    val bad = GoldenSweep.mismatches(ids)
    info(f"${ids.size} docs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(bad.isEmpty, s"${bad.size} of ${ids.size} mismatch; first: ${bad.take(5)}")
  }
}

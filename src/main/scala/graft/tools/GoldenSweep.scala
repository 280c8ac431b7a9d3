package graft.tools

import graft.corpus.DocGen
import graft.pipeline.Extract

/** Dev sweep: golden equality over a large id range (parallel, no Spark).
  * Usage: `GoldenSweep [n] [start]` checks ids start until start + n
  * (defaults 5000 and 0); a nonzero start sweeps the id ranges the
  * benchmark draws from. */
object GoldenSweep {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000L)
    val start = args.lift(1).map(_.toLong).getOrElse(0L)
    val bad = mismatches(start until start + n)
    if (bad.isEmpty) println(s"SWEEP OK: $n docs from $start golden-exact")
    else {
      println(s"SWEEP FAIL: ${bad.size} of $n mismatch; first: ${bad.head}")
      sys.exit(1)
    }
  }

  /** The doc ids of the indexes `ids` whose extraction differs from the golden
    * in spans or markdown, or throws; sorted. One thread per core. */
  def mismatches(ids: IndexedSeq[Long]): Seq[String] = {
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val n = Runtime.getRuntime.availableProcessors
    val threads = (0 until n).map { t =>
      new Thread(() => (t until ids.size by n).map(k => DocGen.docId(ids(k))).foreach { id =>
        val same = scala.util.Try {
          val (got, want) = (Extract.extractDoc(DocGen.docRow(id)), DocGen.golden(id))
          got.spans == want.spans && got.markdown == want.markdown
        }
        if (!same.getOrElse(false)) bad.add(id)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    bad.toArray(Array.empty[String]).toSeq.sorted
  }
}

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
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 16).map { t =>
      new Thread(() => {
        var i = start + t
        while (i < start + n) {
          val id = f"doc-$i%012d"
          val got = Extract.extractDoc(DocGen.docRow(id))
          val want = DocGen.golden(id)
          if (got.spans != want.spans || got.markdown != want.markdown) bad.add(id)
          i += 16
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (bad.isEmpty) println(s"SWEEP OK: $n docs from $start golden-exact")
    else {
      println(s"SWEEP FAIL: ${bad.size} of $n mismatch; first: ${bad.peek()}")
      sys.exit(1)
    }
  }
}

package graft.kernel

import org.apache.spark.util.LongAccumulator

/** Layout-validation telemetry for the kernel stage: a per-task [[Sink]]
  * of Spark `LongAccumulator`s, the one channel that reaches the driver on
  * a multi-executor cluster. [[graft.io.ExtractJob.run]] registers the
  * accumulators and writes their merged values into the job's `_metrics`
  * table, so a real-model deployment inherits the "no silently-authored-away
  * layouts" invariant as a monitorable counter (VERDICT r3 task 9). A
  * driver-side caller counts the same way: register a Sink, `install` it on
  * its own thread, extract, read the accumulators.
  *
  * The counters are EXACT where extraction runs in a result stage, as in
  * `ExtractJob.run`: its map job only routes the documents, and each
  * unit's write job extracts its range in its result stage (PlanSpec).
  * Spark applies a result task's accumulator updates once per partition;
  * in a map stage, a re-run task would re-add.
  *
  * The sink is installed per PARTITION by [[graft.plans.DocExtractExec]]
  * (a Spark task runs its whole iterator on one thread, so ThreadLocal
  * scoping is exact; re-installing at every partition start makes
  * executor thread reuse safe). With no sink installed the bumps are
  * no-ops. */
object LayoutTelemetry {

  /** Driver-registered accumulators, captured by the extraction closure:
    *   - `authoredAway`: pages where every HARD candidate layout failed
    *     validation and the plain single column was used instead;
    *   - `unsolvable`: pages where even the single-column layout failed;
    *   - `insertPages`: pages accepted with a nested-insert region layout. */
  case class Sink(authoredAway: LongAccumulator, unsolvable: LongAccumulator,
      insertPages: LongAccumulator) extends Serializable

  private val taskSink = new ThreadLocal[Sink]

  /** Install `s` for the current thread, or clear it (call at partition
    * start). */
  def install(s: Option[Sink]): Unit = s match {
    case Some(sink) => taskSink.set(sink)
    case None => taskSink.remove()
  }

  def bumpAuthoredAway(): Unit = {
    val s = taskSink.get; if (s != null) s.authoredAway.add(1L)
  }
  def bumpUnsolvable(): Unit = {
    val s = taskSink.get; if (s != null) s.unsolvable.add(1L)
  }
  def bumpInsertPages(): Unit = {
    val s = taskSink.get; if (s != null) s.insertPages.add(1L)
  }
}

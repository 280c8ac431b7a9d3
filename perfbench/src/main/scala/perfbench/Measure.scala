package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Peak live heap: the largest heap occupancy right after a collection,
  * over the armed window. It reads the JVM's own GC notifications, so it
  * needs no extra collections and costs nothing between GCs. */
object Heap {
  private val peak = new AtomicLong(0L)
  @volatile private var armed = false

  def collectors: String =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")

  private val listener: NotificationListener = (n, _) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      peak.accumulateAndGet(used, math.max)
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Runs `body` and returns its result with the peak live heap in MB seen
    * while it ran (the post-GC heap at entry when no collection ran). */
  def peakDuring[A](body: => A): (A, Double) = {
    val base = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.set(0L)
    armed = true
    val a = try body finally armed = false
    val p = if (peak.get > 0) peak.get else base
    (a, p / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Dirs {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }

  /** Regular files under `dir` whose names do not start with `_` or `.`
    * (Spark's data files, without markers and checksums). */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f))

  def bytes(dir: java.io.File): Long = dataFiles(dir).map(_.length).sum
}

package graft

import org.apache.spark.sql.SparkSession

/** The one way a spec gets a Spark session. Specs run one after another
  * in one forked JVM, and the first session built fixes the static
  * confs (`spark.sql.extensions`) for every spec after it, so every
  * session here is built with the same static confs: the graft SQL
  * extension, 4 shuffle partitions, no UI. */
object TestSpark {

  /** The shared `local[4]` session, built on first use. */
  def session: SparkSession = SparkSession.getDefaultSession
    .filterNot(_.sparkContext.isStopped).getOrElse(build("local[4]"))

  /** `body` on a session of its own under `master` (say `local[4,2]`,
    * which retries a failed task once). The shared session is stopped
    * first, and the next [[session]] call builds a fresh one. */
  def withMaster[A](master: String)(body: SparkSession => A): A = {
    stop()
    val spark = build(master)
    try body(spark) finally stop()
  }

  private def build(master: String): SparkSession = {
    // ResumeSpec records JFR events. JFR's first start in a JVM
    // re-instruments JDK classes: started there, in a warm JVM, it slowed
    // the specs after it by seconds (LangIdSpec 2 s -> 6 s); started
    // here, before Spark warms up, it costs a fraction of a second.
    jdk.jfr.FlightRecorder.getFlightRecorder()
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def stop(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

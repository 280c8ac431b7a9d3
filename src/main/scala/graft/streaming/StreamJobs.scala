package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.{DocRow, DocResult}
import graft.kernel.StubModel
import graft.pipeline.Assemble

/** Structured Streaming surface. The reference is pure batch (SURVEY.md
  * §2.10) — these jobs are the streaming-ingest counterparts a production
  * corpus pipeline needs: continuous extraction of newly-landed document
  * files, and watermarked event-rate monitoring. */
object StreamJobs {

  /** The `DocRow` schema, as its encoder derives it. */
  val docSchema: StructType = Encoders.product[DocRow].schema

  /** Continuous extraction over a parquet landing directory: each
    * micro-batch runs the same extraction operator as the batch job
    * (stateless, so exactly-once with any replayable source/sink). */
  def extractStream(spark: SparkSession, landingDir: String): Dataset[DocResult] = {
    import spark.implicits._
    val docs = spark.readStream.schema(docSchema).parquet(landingDir).as[DocRow]
    graft.plans.DocExtract(docs, StubModel, None)
  }

  /** Continuous ingestion of landed blobs (.pdf/.ooxml/.html/images/OLE —
    * extension-agnostic): each blob routes through the ONE shared
    * magic-byte sniffer the batch `runRaw` uses ([[graft.io.Sniff]]):
    * %PDF → the byte-level PDF parser, zip → OOXML, markup → soup +
    * boilerplate strip, emitting the full DocResult contract (spans +
    * markdown). The doc id is the file name up to its first dot. The
    * streaming face of the crawl-store ingestion shape: one stream, every
    * input tier; stateless, so exactly-once with a replayable source/sink. */
  def rawStream(spark: SparkSession, landingDir: String): Dataset[DocResult] = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(landingDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (path, bytes) =>
          val base = path.substring(path.lastIndexOf('/') + 1)
          val id = base.indexOf('.') match {
            case -1 => base
            case dot => base.substring(0, dot)
          }
          // a corrupt landed blob becomes an empty result, not a dead stream
          graft.io.Sniff.guarded(id, bytes).getOrElse(Assemble.result(id, Nil))
        }
      }
  }

  /** Stateful sessionization via flatMapGroupsWithState: per-user sessions
    * split at 30-minute gaps. Closed sessions are emitted; the open tail
    * session is carried in GroupState across micro-batches (arrivals are
    * assumed time-ordered per user across batches — a replayable, ordered
    * source). The batch formulation of the same semantics is the
    * `events_sessionize` query. */
  case class Ev(user_id: Long, ms: Long, event_id: Long)
  case class OpenSession(start_ms: Long, end_ms: Long, n_events: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  val SessionGapMs: Long = 30L * 60000L

  def sessionizeStateful(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[OpenSession]) => {
          val evs = it.toVector.sortBy(e => (e.ms, e.event_id))
          val closed = Vector.newBuilder[SessionOut]
          var open: Option[OpenSession] = state.getOption
          evs.foreach { e =>
            open match {
              case Some(s) if e.ms - s.end_ms <= SessionGapMs =>
                open = Some(OpenSession(s.start_ms, e.ms, s.n_events + 1))
              case Some(s) =>
                closed += SessionOut(user, s.start_ms, s.end_ms, s.n_events)
                open = Some(OpenSession(e.ms, e.ms, 1))
              case None =>
                open = Some(OpenSession(e.ms, e.ms, 1))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
        })
  }

  /** Watermarked sliding-window event counts (late data tolerated 10 min;
    * append mode emits only finalized windows). */
  def eventsWindowed(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ parquet -> event time
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("total"))
}

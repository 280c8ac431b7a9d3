package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.DocResult
import graft.pipeline.Assemble

/** Structured Streaming surface. The reference is pure batch (SURVEY.md
  * §2.10) — [[rawStream]] is the streaming-ingest counterpart a
  * production corpus pipeline needs: continuous conversion of newly
  * landed document files. */
object StreamJobs {

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
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.corpus.DocGen
import graft.kernel.{DocModel, StubModel}
import graft.plans.DocExtract

/** End-to-end extraction job (SURVEY.md §3.1 Spark shape):
  *
  *   input doc ids
  *     -> repartitionById on each doc's placement   (contiguous, balanced tasks)
  *     -> DocGen.docRow                             (rows generated task-side)
  *     -> DocExtractExec                            (per-partition model session)
  *     -> page ops + doc assembly (fused — docs stay whole, zero extra shuffle)
  *     -> result Dataset[DocResult]
  *
  * Keeping each document whole through one operator fuses kernel, page
  * processing and doc-level folds into a single stage: the only shuffle
  * in the job is the routing repartition. At the reference's 64-page
  * windows a whole doc is far below task granularity, so a page-level
  * fan-out would buy a second shuffle for nothing. Both Spark paths,
  * [[runFromIds]] here and the committed `ExtractJob.run`, plan through
  * the one operator, [[graft.plans.DocExtract]]. */
object Extract {

  /** Pure per-document extraction — unit-testable without Spark. */
  def extractDoc(doc: DocRow, model: DocModel = StubModel): DocResult = {
    val pages = model.analyze(doc)
    Assemble.assemble(doc.doc_id, pages.map(p => PageOps.process(p)))
  }

  /** Synthesize the doc ids of indexes `0 until n` ([[DocGen.docId]]). */
  def idRange(spark: SparkSession, n: Long): Dataset[String] = {
    import spark.implicits._
    spark.range(n).map(i => DocGen.docId(i))
  }

  /** A document's placement in `[0, 1)` by a hash of its id independent
    * of the commit bucket's `xxhash64(doc_id)`, so a unit's bucket filter
    * leaves it uniform. An odd multiple of 2^-21, it never sits on a task
    * boundary of [[route]]. */
  def hashFraction: Column =
    (pmod(xxhash64(lit(1), col("doc_id")), lit(1L << 20)) * 2 + 1) / (1L << 21)

  /** The one shuffle of an extraction: row to task `floor(place × partitions)`,
    * one contiguous run of placements per task; a uniform placement spreads
    * page-count skew as evenly as the documents (BalanceSpec). A placement
    * `(k + hashFraction) / n` with `n × partitions < 2^31` is at least
    * `2^-21 / n` off every task boundary, far above the double error. */
  private[graft] def route[T](ds: Dataset[T], partitions: Int, place: Column): Dataset[T] =
    ds.repartitionById(partitions, floor(place * partitions).cast("int"))

  /** The extraction job over document ids: route the doc_id STREAM, then
    * generate each row in the extraction stage. The only shuffle moves
    * bare id strings — the pattern a real deployment gets from a
    * bucket-partitioned input table, where the heavy rows never cross the
    * wire either. The id-to-row map feeds the operator object to object.
    * `model` defaults to the deterministic stub; a real deployment swaps
    * in an ONNX-backed DocModel with the same contract. A committed run
    * over a `DocRow` table is [[graft.io.ExtractJob.run]]. */
  def runFromIds(ids: Dataset[String], partitions: Int = 32,
      model: DocModel = StubModel): Dataset[DocResult] = {
    import ids.sparkSession.implicits._
    val docs = route(ids.toDF("doc_id").as[String], partitions, hashFraction)
      .map(DocGen.docRow _)
    DocExtract(docs, model, None)
  }

  /** Exploded span view of the extraction output (one row per span) —
    * the driver query and the shape golden compares run on; the global
    * sort exists only for the deterministic oracle dump. */
  def extractSpans(spark: SparkSession, dir: String): DataFrame =
    extractSpansUnordered(spark, dir).orderBy("doc_id", "ord")

  /** The same view WITHOUT the dump sort — consumers that regroup or
    * window by doc (the chunkers) would pay the global sort shuffle for
    * nothing. */
  def extractSpansUnordered(spark: SparkSession, dir: String): DataFrame =
    spanView(extractDocs(spark, dir))

  /** One row per span of `results`: `(doc_id, ord, kind, media_ref, text)`. */
  private[graft] def spanView(results: Dataset[DocResult]): DataFrame =
    results.select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.order").as("ord"), col("s.kind"),
        col("s.media_ref"), col("s.text"))

  /** Whole-document extraction results for the given corpus dir — the
    * per-doc consumers (the chunkers) fold inside the extraction
    * partitions instead of re-grouping an exploded span stream (r6:
    * documents are already WHOLE in the kernel stage; a
    * groupByKey(doc_id) downstream re-shuffles every span for an
    * aggregation the map side can do for free). */
  def extractDocs(spark: SparkSession, dir: String): Dataset[DocResult] =
    runFromIds(docIds(spark, dir))

  /** The ids of the documents table in `dir`. */
  private[graft] def docIds(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long].map(DocGen.docId _)
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema._
import graft.corpus.DocGen
import graft.kernel.{DocModel, LayoutTelemetry, StubModel}

/** End-to-end extraction job (SURVEY.md §3.1 Spark shape):
  *
  *   input docs table
  *     -> salted repartition on doc-size buckets   (defeats page-count skew)
  *     -> mapPartitions kernel stage               (per-partition model session)
  *     -> page ops + doc assembly (fused — docs stay whole, zero extra shuffle)
  *     -> result Dataset[DocResult]
  *
  * Keeping each document whole through one mapPartitions fuses kernel,
  * page processing and doc-level folds into a single stage: the only
  * shuffle in the job is the skew-balancing repartition. At the
  * reference's 64-page windows a whole doc is far below task granularity,
  * so a page-level fan-out would buy a second shuffle for nothing. */
object Extract {

  /** Pure per-document extraction — unit-testable without Spark. */
  def extractDoc(doc: DocRow, model: DocModel = StubModel): DocResult = {
    val pages = model.analyze(doc)
    Assemble.assemble(doc.doc_id, pages.map(p => PageOps.process(p)))
  }

  /** Deterministic corpus table from a dataset of doc ids (FIXTURES.md §2). */
  def corpus(ids: Dataset[String]): Dataset[DocRow] = {
    import ids.sparkSession.implicits._
    ids.map(DocGen.docRow _)
  }

  /** Synthesize n doc ids "doc-%012d". */
  def idRange(spark: SparkSession, n: Long): Dataset[String] = {
    import spark.implicits._
    spark.range(n).map(i => f"doc-$i%012d")
  }

  /** THE per-partition body of every Spark extraction path (`run`,
    * `runFromIds`, `DocExtractExec`, `StreamJobs.extractStream`,
    * `ExtractJob.writeOutputs`). It owns the per-partition model scope —
    * a real model lazily creates its ONNX session here and reuses it
    * across the iterator — and installs the layout-telemetry sink for the
    * task thread (clearing a sink a previous task left on a reused
    * executor thread; see [[graft.kernel.LayoutTelemetry]]). */
  def extractPartition(docs: Iterator[DocRow], model: DocModel = StubModel,
      telemetry: Option[LayoutTelemetry.Sink] = None): Iterator[DocResult] = {
    LayoutTelemetry.install(telemetry)
    docs.map(d => extractDoc(d, model))
  }

  /** Salted repartition on a size bucket (0 small, 1 mid, 2 monster; the
    * skew axis — 5% of docs have 13-64 pages). The salt space must be
    * FINE-GRAINED (~64 salts per partition per bucket): with only a few
    * (bucket, salt) combos per partition, combo-level hash clumping
    * re-creates the very imbalance salting is meant to remove (measured:
    * 2.1x max/mean pages at 6 combos/partition vs 1.1x at 192/partition,
    * BASELINE.md). Monster-doc buckets get a 4x-wider space so several
    * monsters can never share a (bucket, salt) cell. */
  private def salted(df: DataFrame, sizeBucket: Column, partitions: Int): DataFrame =
    df.withColumn("size_bucket", sizeBucket)
      .withColumn("salt",
        pmod(xxhash64(col("doc_id")),
          when(col("size_bucket") === 2, lit(partitions * 256))
            .otherwise(lit(partitions * 64))))
      .repartition(partitions, col("size_bucket"), col("salt"))

  /** Salted repartition of whole documents: span count proxies page count. */
  def saltRepartition(docs: Dataset[DocRow], partitions: Int): Dataset[DocRow] = {
    import docs.sparkSession.implicits._
    val spans = size(col("spans"))
    salted(docs.toDF(),
      when(spans <= 32, lit(0)).when(spans <= 128, lit(1)).otherwise(lit(2)), partitions)
      .select(col("doc_id"), col("spans"))
      .as[DocRow]
  }

  /** The extraction job. `model` defaults to the deterministic stub; a real
    * deployment swaps in an ONNX-backed DocModel with the same contract.
    * `telemetry`: driver-registered layout-validation accumulators,
    * installed per partition (task threads) so the counters reach the
    * driver on a real cluster (see [[graft.kernel.LayoutTelemetry]]). */
  def run(docs: Dataset[DocRow], partitions: Int = 32,
      model: DocModel = StubModel,
      telemetry: Option[LayoutTelemetry.Sink] = None): Dataset[DocResult] = {
    import docs.sparkSession.implicits._
    saltRepartition(docs, partitions)
      .mapPartitions(it => extractPartition(it, model, telemetry))
  }

  /** Generation-fused variant: salt-repartition the doc_id STREAM (the size
    * bucket is derivable from the id), then generate + extract inside one
    * mapPartitions. The only shuffle moves bare id strings — the pattern a
    * real deployment gets from a bucket-partitioned input table, where the
    * heavy rows never cross the wire either. */
  def runFromIds(ids: Dataset[String], partitions: Int = 32,
      model: DocModel = StubModel): Dataset[DocResult] = {
    import ids.sparkSession.implicits._
    val pages = col("pages")
    salted(ids.map(id => (id, DocGen.pageCount(id))).toDF("doc_id", "pages"),
      when(pages <= 3, lit(0)).when(pages <= 12, lit(1)).otherwise(lit(2)), partitions)
      .select(col("doc_id")).as[String]
      .mapPartitions(it => extractPartition(it.map(DocGen.docRow), model))
  }

  /** Exploded span view of the extraction output (one row per span) —
    * the driver query and the shape golden compares run on; the global
    * sort exists only for the deterministic oracle dump. */
  def extractSpans(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    extractSpansUnordered(spark, dir).orderBy("doc_id", "ord")

  /** The same view WITHOUT the dump sort — consumers that regroup or
    * window by doc (the chunkers) would pay the global sort shuffle for
    * nothing. */
  def extractSpansUnordered(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    run(corpus(docIds(spark, dir)))
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.order").as("ord"), col("s.kind"),
        col("s.media_ref"), col("s.text"))
  }

  /** Whole-document extraction results for the given corpus dir — the
    * per-doc consumers (the chunkers) fold inside the extraction
    * partitions instead of re-grouping an exploded span stream (r6:
    * documents are already WHOLE in the kernel stage; a
    * groupByKey(doc_id) downstream re-shuffles every span for an
    * aggregation the map side can do for free). */
  def extractDocs(spark: SparkSession, dir: String): Dataset[graft.schema.DocResult] =
    run(corpus(docIds(spark, dir)))

  private def docIds(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long].map(i => f"doc-$i%012d")
  }
}

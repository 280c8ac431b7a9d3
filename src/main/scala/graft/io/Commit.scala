package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.schema.CheckpointRow

/** The bucketed commit protocol: Iceberg-snapshot semantics over plain
  * Parquet (SURVEY.md §4.4; the build carries no Iceberg dependency).
  * This module alone knows the layout of a committed table `out`:
  *   - `out/data/bucket=N/`: the rows, `N = pmod(xxhash64(doc_id), buckets)`;
  *   - `out/_checkpoint/`: one parquet file per committed unit, holding a
  *     `done` [[CheckpointRow]] per bucket of the unit;
  *   - `out/_metrics/`: one parquet file of `(run_id, stage, key, value)`
  *     rows per attempt that committed a bucket;
  *   - `out/_input_fp/`: the per-bucket input fingerprint `(bucket, h)`
  *     of an incremental stage, stored after the stage committed.
  *
  * A unit writes its buckets with dynamic partition overwrite (re-running
  * a unit replaces exactly its partitions), then appends its checkpoint
  * file. Resume = re-run: buckets with a `done` row are skipped, the
  * buckets of a crashed unit are overwritten. Output is byte-stable
  * because the per-unit work is deterministic per `doc_id`.
  *
  * Every file operation goes through the Hadoop `FileSystem` the path
  * resolves to, so plain paths, `file:` URIs and remote filesystems
  * behave alike. A cluster deployment swaps the directory commit for an
  * Iceberg table with the same bucket column; the checkpoint schema is
  * unchanged. */
object Commit {

  case class JobReport(run_id: String, buckets: Int, processed: Int,
      skipped: Int, docs: Long, spans: Long, wall_ms: Long)

  /** Commits `extract` over `input` into `outDir`: the buckets not yet
    * done run in `groups` sequential units, and `failAfterGroups` stops
    * after that many units (the resume specs' crash hook). `extract` maps
    * a bucket-filtered slice of the input to a frame with a `doc_id`
    * column (and `spans`, whose sizes the checkpoint counts, when it has
    * one); bucketing hashes `doc_id` without deserializing `T`. `metrics`
    * gives the caller's own `(stage, key, value)` rows; it is evaluated
    * after the last unit, so it may read accumulators the units filled. */
  def runWith[T](spark: SparkSession, input: Dataset[T],
      extract: Dataset[T] => DataFrame, outDir: String,
      buckets: Int, groups: Int, runId: String,
      failAfterGroups: Int = Int.MaxValue,
      metrics: => Seq[(String, String, Double)] = Nil): JobReport = {
    import spark.implicits._
    val done = checkpoint(spark, outDir).collect {
      case (_, r) if r.status == "done" => r.bucket }.toSet
    val todo = (0 until buckets).filterNot(done).toVector
    val unitSize = math.max(1, math.ceil(todo.size.toDouble / groups).toInt)
    val units = todo.grouped(unitSize).toVector

    var processedBuckets = 0
    var totDocs = 0L
    var totSpans = 0L
    val t0 = System.nanoTime()

    units.take(failAfterGroups).foreach { unit =>
      // a unit spanning every bucket (fresh single-unit run) needs no
      // bucket filter — skip the per-row hash predicate (r6)
      val in =
        if (unit.size == buckets) input
        else input.filter(
          pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int").isin(unit: _*))
      val res = extract(in)
        .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
        .persist()
      val tU = System.nanoTime()
      // the writer option, not the session conf: later writes in the
      // session keep their own overwrite mode
      labeled(spark, s"$runId:write") {
        res.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(s"$outDir/data")
      }
      val wallMs = (System.nanoTime() - tU) / 1000000
      // per-bucket lineage from the persisted result (an Iceberg deployment
      // reads these from commit metrics instead); non-span stages (the
      // dedup chain's pair/label tables) record rows only
      val spanStat =
        if (res.columns.contains("spans")) sum(size(col("spans")))
        else sum(lit(0L))
      val stats = labeled(spark, s"$runId:stats") {
        res.groupBy(col("bucket"))
          .agg(count(lit(1)).as("docs"), spanStat.as("spans"))
          .collect()
      }
      val rows = unit.map { b =>
        val st = stats.find(_.getInt(0) == b)
        CheckpointRow(runId, b, "done",
          st.map(_.getLong(1)).getOrElse(0L), st.map(_.getLong(2)).getOrElse(0L), wallMs)
      }
      // coalesce(1): a <=buckets-row bookkeeping write must not fan out
      // into default-parallelism empty tasks/files (r6)
      labeled(spark, s"$runId:ckpt") {
        spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Append)
          .parquet(s"$outDir/_checkpoint")
      }
      res.unpersist()
      processedBuckets += unit.size
      totDocs += rows.map(_.docs).sum
      totSpans += rows.map(_.spans).sum
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    // metrics table (FIXTURES.md §4): rows are per ATTEMPT (a resumed
    // run's counters cover only the buckets it processed — sum rows for
    // job totals); an attempt that commits no bucket appends nothing, so
    // repeated view reads over a finished table don't grow it
    if (processedBuckets > 0) {
      val rows = Seq(
        ("extract", "docs", totDocs.toDouble),
        ("extract", "spans", totSpans.toDouble),
        ("extract", "wall_ms", wallMs.toDouble),
        ("extract", "docs_per_sec",
          if (wallMs > 0) totDocs * 1000.0 / wallMs else 0.0),
        ("extract", "buckets_processed", processedBuckets.toDouble),
        ("extract", "buckets_skipped", done.size.toDouble)) ++ metrics
      labeled(spark, s"$runId:metrics") {
        spark.createDataset(rows.map { case (stage, key, value) => (runId, stage, key, value) })
          .coalesce(1).toDF("run_id", "stage", "key", "value")
          .write.mode(SaveMode.Append).parquet(s"$outDir/_metrics")
      }
    }
    JobReport(runId, buckets, processedBuckets, done.size, totDocs, totSpans, wallMs)
  }

  /** Re-opens `stale` buckets of a committed table for the next run.
    * Their data dirs go first: dynamic overwrite replaces only partitions
    * that receive rows, so a bucket that recomputes to zero rows would
    * keep serving its old ones. Then their `done` rows go: each
    * checkpoint file holding one is deleted, and the rows it held for
    * other buckets are appended again as one file. A crash in between
    * only makes those buckets run again. */
  def reopen(spark: SparkSession, outDir: String, stale: Set[Int]): Unit =
    if (stale.nonEmpty) {
      import spark.implicits._
      stale.foreach(b => delete(spark, new Path(s"$outDir/data/bucket=$b")))
      val rows = checkpoint(spark, outDir)
      val hit = rows.collect { case (f, r) if stale(r.bucket) => f }.toSet
      hit.foreach(f => delete(spark, new Path(new java.net.URI(f))))
      val kept = rows.collect { case (f, r) if hit(f) && !stale(r.bucket) => r }
      if (kept.nonEmpty)
        spark.createDataset(kept).coalesce(1).write.mode(SaveMode.Append)
          .parquet(s"$outDir/_checkpoint")
    }

  /** The buckets whose input fingerprint `fp` differs from the one stored
    * by the last finished run into `outDir` (all of them before the
    * first). An empty input stores an empty fingerprint, which matches
    * an empty input again. */
  def stale(spark: SparkSession, outDir: String, fp: Map[Int, Long],
      buckets: Int): Set[Int] = {
    val path = s"$outDir/_input_fp"
    if (!exists(spark, path)) return (0 until buckets).toSet
    val stored = spark.read.schema("bucket INT, h BIGINT").parquet(path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until buckets).filter(b => fp.get(b) != stored.get(b)).toSet
  }

  /** Stores the input fingerprint a finished run into `outDir` was built from. */
  def storeFp(spark: SparkSession, outDir: String, fp: Map[Int, Long]): Unit = {
    import spark.implicits._
    spark.createDataset(fp.toSeq).toDF("bucket", "h")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/_input_fp")
  }

  /** The committed rows of `outDir`, without the `bucket` column.
    * `schema` is explicit because a table may hold zero rows, which
    * leaves no part file to infer it from. */
  def read(spark: SparkSession, outDir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$outDir/data").drop("bucket")

  /** Runs `body` under the job description `desc`, then restores the
    * caller's. Traces attribute jobs by these labels; the protocol's are
    * `<runId>:write|stats|ckpt|metrics`. */
  def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(outer)
  }

  /** The checkpoint rows of `outDir`, each with the URI of its file. */
  private def checkpoint(spark: SparkSession,
      outDir: String): Seq[(String, CheckpointRow)] = {
    import spark.implicits._
    val path = s"$outDir/_checkpoint"
    if (!exists(spark, path)) Nil
    else spark.read.schema(Encoders.product[CheckpointRow].schema).parquet(path)
      .select(input_file_name().as("_1"), struct(col("*")).as("_2"))
      .as[(String, CheckpointRow)].collect().toSeq
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def delete(spark: SparkSession, p: Path): Unit =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
}

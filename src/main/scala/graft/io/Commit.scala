package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
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
  * A unit is ONE Spark job, `<runId>:write`: it writes its buckets with
  * dynamic partition overwrite (re-running a unit replaces exactly its
  * partitions) and counts each bucket's rows and spans with
  * `Dataset.observe`, exactly, since Spark applies a result task's
  * accumulator updates once per partition. Then the driver writes the
  * unit's checkpoint file. Resume = re-run: buckets with a `done` row are
  * skipped, the buckets of a crashed unit are overwritten. Output is
  * byte-stable because the per-unit work is deterministic per `doc_id`.
  *
  * The driver reads and writes the side tables itself (parquet-hadoop),
  * with no Spark job: each file under a hidden `.` name first, which
  * Spark and [[readTable]] skip, then renamed into place. Every file
  * operation goes through the Hadoop `FileSystem` the path resolves to,
  * so plain paths, `file:` URIs and remote filesystems behave alike. A
  * cluster deployment swaps the directory commit for an Iceberg table
  * with the same bucket column; the checkpoint schema is unchanged.
  *
  * Local paths go through [[LocalFs]]: without the native libhadoop,
  * Hadoop's stock local filesystem forks one `chmod` process for every
  * directory, file and `.crc` it creates. The protocol names it in the
  * Hadoop conf of its own operations only (the data write as writer
  * options, which reach the executors in the job's conf), never in the
  * session's, so the caller's other writes are untouched. Those confs
  * also turn off the `file:` instance cache, which is keyed by scheme
  * and user, not by conf, and would serve the session's instance. */
object Commit {

  /** Hadoop's checksummed local filesystem, whose raw layer sets the nine
    * rwx bits with java.nio instead of a forked `chmod`; a mode with the
    * sticky bit takes Hadoop's own path. Same files, same modes. */
  class LocalFs extends LocalFileSystem(new RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))
  })

  /** The Hadoop keys that route the protocol's own `file:` operations to
    * [[LocalFs]]. */
  private val localFs = Map("fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  case class JobReport(run_id: String, buckets: Int, processed: Int,
      skipped: Int, docs: Long, spans: Long, wall_ms: Long)

  private val checkpointSchema = Encoders.product[CheckpointRow].schema

  /** Commits `extract` over `input` into `outDir`: the buckets not yet
    * done run in `groups` sequential units, and `failAfterGroups` stops
    * after that many units (the resume specs' crash hook). `extract` maps
    * a unit's slice and each row's [[slice]] placement to a frame with a
    * `doc_id` column (and `spans`, whose sizes the checkpoint counts, when
    * it has one); routed by the placement, a unit writes at most
    * `unitSize + partitions - 1` part files. `metrics` gives the caller's
    * own `(stage, key, value)` rows; it is evaluated after the last unit,
    * so it may read accumulators the units filled. */
  def runWith[T](spark: SparkSession, input: Dataset[T],
      extract: (Dataset[T], Column) => DataFrame, outDir: String,
      buckets: Int, groups: Int, runId: String,
      failAfterGroups: Int = Int.MaxValue,
      metrics: => Seq[(String, String, Double)] = Nil): JobReport = {
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
      val (in, place) = slice(input, unit, buckets)
      val res = extract(in, place).withColumn("bucket", bucketOf(buckets))
      // per-bucket lineage, counted by the write itself (an Iceberg
      // deployment reads these from commit metrics instead); non-span
      // stages (the dedup chain's pair/label tables) record rows only
      val spanCount = if (res.columns.contains("spans")) size(col("spans")) else lit(0)
      val counts = unit.flatMap(b => Seq(count(when(col("bucket") === b, 1)).as(s"docs$b"),
        coalesce(sum(when(col("bucket") === b, spanCount)), lit(0L)).as(s"spans$b")))
      val obs = Observation()
      val tU = System.nanoTime()
      // the writer option, not the session conf: later writes in the
      // session keep their own overwrite mode
      labeled(spark, s"$runId:write") {
        res.observe(obs, counts.head, counts.tail: _*)
          .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
          .options(localFs)
          .partitionBy("bucket").parquet(s"$outDir/data")
      }
      val wallMs = (System.nanoTime() - tU) / 1000000
      val stats = obs.get
      val rows = unit.map(b => CheckpointRow(runId, b, "done",
        stats(s"docs$b").asInstanceOf[Long], stats(s"spans$b").asInstanceOf[Long], wallMs))
      writeTable(spark, s"$outDir/_checkpoint", checkpointSchema, rows)
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
      writeTable(spark, s"$outDir/_metrics",
        StructType.fromDDL("run_id STRING, stage STRING, key STRING, value DOUBLE"),
        rows.map { case (stage, key, value) => (runId, stage, key, value) })
    }
    JobReport(runId, buckets, processedBuckets, done.size, totDocs, totSpans, wallMs)
  }

  /** The rows of `input` in `unit`'s buckets (ascending), and each row's
    * placement in `[0, 1)`: its bucket's rank in `unit` plus
    * [[graft.pipeline.Extract.hashFraction]], over the unit size. */
  private[graft] def slice[T](input: Dataset[T], unit: Seq[Int],
      buckets: Int): (Dataset[T], Column) = {
    // a unit spanning every bucket (fresh single-unit run) needs no
    // bucket filter — skip the per-row hash predicate (r6)
    val in = if (unit.size == buckets) input else input.filter(bucketOf(buckets).isin(unit: _*))
    val rank = array_position(lit(unit.toArray), bucketOf(buckets)) - 1
    (in, (rank + graft.pipeline.Extract.hashFraction) / unit.size)
  }

  private def bucketOf(buckets: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")

  /** Re-opens `stale` buckets of a committed table for the next run.
    * Their data dirs go first: dynamic overwrite replaces only partitions
    * that receive rows, so a bucket that recomputes to zero rows would
    * keep serving its old ones. Then their `done` rows go: each
    * checkpoint file holding one is deleted, and the rows it held for
    * other buckets are written again as one file. A crash in between
    * only makes those buckets run again. */
  def reopen(spark: SparkSession, outDir: String, stale: Set[Int]): Unit =
    if (stale.nonEmpty) {
      stale.foreach(b => delete(spark, new Path(s"$outDir/data/bucket=$b")))
      val rows = checkpoint(spark, outDir)
      val hit = rows.collect { case (f, r) if stale(r.bucket) => f }.toSet
      hit.foreach(delete(spark, _))
      val kept = rows.collect { case (f, r) if hit(f) && !stale(r.bucket) => r }
      if (kept.nonEmpty) writeTable(spark, s"$outDir/_checkpoint", checkpointSchema, kept)
    }

  /** The buckets whose input fingerprint `fp` differs from the one stored
    * by the last finished run into `outDir` (all of them before the
    * first). An empty input stores an empty fingerprint, which matches
    * an empty input again. */
  def stale(spark: SparkSession, outDir: String, fp: Map[Int, Long],
      buckets: Int): Set[Int] = {
    val path = new Path(s"$outDir/_input_fp")
    if (!fs(spark, path).exists(path)) return (0 until buckets).toSet
    val stored = readTable(spark, path)
      .map { case (_, g) => g.getInteger("bucket", 0) -> g.getLong("h", 0) }.toMap
    (0 until buckets).filter(b => fp.get(b) != stored.get(b)).toSet
  }

  /** Stores the input fingerprint a finished run into `outDir` was built
    * from, in place of the old one. A crash after the old one went leaves
    * none, and with none stored every bucket is stale. */
  def storeFp(spark: SparkSession, outDir: String, fp: Map[Int, Long]): Unit = {
    delete(spark, new Path(s"$outDir/_input_fp"))
    writeTable(spark, s"$outDir/_input_fp", StructType.fromDDL("bucket INT, h BIGINT"), fp.toSeq)
  }

  /** The committed rows of `outDir`, without the `bucket` column.
    * `schema` is explicit because a table may hold zero rows, which
    * leaves no part file to infer it from. */
  def read(spark: SparkSession, outDir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$outDir/data").drop("bucket")

  /** Runs `body` under the job description `desc`, then restores the
    * caller's. Traces attribute jobs by these labels; the protocol's one
    * job per unit is `<runId>:write`. */
  def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(outer)
  }

  /** The checkpoint rows of `outDir`, each with the path of its file. */
  private def checkpoint(spark: SparkSession, outDir: String): Seq[(Path, CheckpointRow)] =
    readTable(spark, new Path(s"$outDir/_checkpoint")).map { case (f, g) =>
      f -> CheckpointRow(g.getString("run_id", 0), g.getInteger("bucket", 0),
        g.getString("status", 0), g.getLong("docs", 0), g.getLong("spans", 0),
        g.getLong("wall_ms", 0))
    }

  /** Writes `rows` (tuples or case classes in `schema`'s field order) as
    * one parquet file into `dir`, as a Spark write of them would: Spark's
    * parquet schema (every column nullable) and row metadata, snappy. The
    * file is written under a hidden name, then renamed into place. */
  private def writeTable(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Product]): Unit = {
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(dir, "." + name)
    val nullable = StructType(schema.map(_.copy(nullable = true)))
    val parquetSchema = new SparkToParquetSchemaConverter().convert(nullable)
    val out = ExampleParquetWriter.builder(tmp).withType(parquetSchema)
      .withConf(conf(spark))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", nullable.json))
      .build()
    try rows.foreach { row =>
      val g = new SimpleGroupFactory(parquetSchema).newGroup()
      row.productIterator.zip(schema.fieldNames).foreach {
        case (v: String, f) => g.add(f, v)
        case (v: Int, f) => g.add(f, v)
        case (v: Long, f) => g.add(f, v)
        case (v: Double, f) => g.add(f, v)
      }
      out.write(g)
    } finally out.close()
    if (!fs(spark, tmp).rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename $tmp into place")
  }

  /** The rows of every parquet file in `dir` (none if it does not exist),
    * each with its file's path. Hidden (`.`) and metadata (`_`) files are
    * skipped, as Spark skips them. */
  private def readTable(spark: SparkSession, dir: Path): Seq[(Path, Group)] = {
    val files = fs(spark, dir)
    if (!files.exists(dir)) return Nil
    files.listStatus(dir, (p: Path) => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .toSeq.flatMap { st =>
        val in = ParquetReader.builder(new GroupReadSupport, st.getPath)
          .withConf(conf(spark)).build()
        try Iterator.continually(in.read()).takeWhile(_ != null).map(st.getPath -> _).toVector
        finally in.close()
      }
  }

  private def fs(spark: SparkSession, p: Path): FileSystem = p.getFileSystem(conf(spark))

  /** A copy of the session's Hadoop conf with [[localFs]] set. */
  private def conf(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    localFs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def delete(spark: SparkSession, p: Path): Unit = fs(spark, p).delete(p, true): Unit
}

package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.ScaleQueries

/** Materialized MinHash-dedup chain under the SAME commit protocol as
  * extraction: shingles → candidates → verified → groups → keep, each stage a
  * bucket-partitioned parquet table committed through [[Commit.runWith]]
  * (checkpoint + lineage + idempotent resume). This is the production
  * shape at 100 TB — the chain is computed ONCE and every consumer reads
  * views, instead of each query re-deriving shingles → signatures →
  * candidates from scratch (the 4× recompute the r3 bench paid).
  *
  * Stage granularity:
  *   - CANDIDATES and GROUPS are corpus-global (LSH banding and component
  *     propagation shuffle across every document) — one bucket each;
  *   - SHINGLES, VERIFIED and KEEP are per-doc / per-pair / per-row —
  *     bucket-incremental on the hash of the left id.
  *
  * INCREMENTAL APPEND (r5): every stage stores a FINGERPRINT of its
  * input (order-free xor of row hashes, per bucket). A re-run re-opens
  * ([[Commit.reopen]]) only the buckets whose fingerprint moved: shingles
  * re-tokenizes just the delta buckets; candidates and groups, whose
  * one bucket is fingerprinted over the whole corpus, recompute on any
  * delta (banding and component propagation are honestly global); and
  * verified/keep re-verify only the buckets whose upstream PAIRS changed
  * — the fingerprint is taken over each stage's actual input table, so a
  * byte-identical recompute upstream invalidates nothing downstream. The
  * fingerprint is stored only after its stage commits, so a crash at any
  * point re-opens the same buckets on the next run. A real deployment
  * keys the same mechanism off Iceberg snapshot/partition metadata
  * instead of a scan. */
object DedupPipeline {

  // explicit stage schemas: a duplicate-free corpus can legally produce a
  // ZERO-ROW stage, whose partitionBy write leaves no part files — reading
  // it back must not die on schema inference (r4 advice)
  private[graft] val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("g32", LongType),
    StructField("bucket", IntegerType)))
  private[graft] val candSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("b_id", LongType),
    StructField("nbands", LongType), StructField("bucket", IntegerType)))
  private[graft] val verifiedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("b_id", LongType),
    StructField("inter", LongType), StructField("uni", LongType),
    StructField("bucket", IntegerType)))
  private[graft] val groupSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("group_id", LongType),
    StructField("bucket", IntegerType)))
  private[graft] val keepSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("group_id", LongType),
    StructField("keep", IntegerType), StructField("bucket", IntegerType)))

  /** order-free per-bucket content hash of a stage input: one columnar
    * scan, xor-combined so row order and partitioning don't matter. */
  private def bucketFp(df: DataFrame, buckets: Int): Map[Int, Long] =
    df.select(pmod(xxhash64(col(df.columns.head)), lit(buckets)).cast("int").as("bucket"),
      xxhash64(df.columns.map(col): _*).as("h"))
      .groupBy(col("bucket")).agg(expr("bit_xor(h)").as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Run the five stages into `outDir` (resumable AND incremental:
    * finished stages/buckets with unchanged inputs are skipped on
    * re-run; changed inputs re-open exactly the stale buckets).
    * `failAfterStages` stops the job after N completed stages — the
    * resume spec's crash hook. `incremental = false` is the one-shot
    * run into a fresh dir that nothing re-runs (pipelineQuery): it
    * computes no fingerprints, and commits each stage as one unit, since
    * there is nothing to resume (2 units per stage only doubled the job
    * count). Returns the per-stage job reports. */
  def run(spark: SparkSession, dir: String, outDir: String,
      buckets: Int = 8,
      failAfterStages: Int = Int.MaxValue,
      incremental: Boolean = true): Vector[(String, Commit.JobReport)] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def table(name: String, schema: StructType) = Commit.read(spark, s"$outDir/$name", schema)

    // fingerprint → stale set → re-open → commit → store fingerprint
    def stage(name: String, input: DataFrame, fp: => Map[Int, Long], nb: Int)(
        body: DataFrame => DataFrame): (String, Commit.JobReport) = {
      val stageOut = s"$outDir/$name"
      lazy val cur = fp
      val stale = if (incremental) Commit.stale(spark, stageOut, cur, nb) else Set.empty[Int]
      Commit.reopen(spark, stageOut, stale)
      val report = Commit.runWith[Row](spark, input, (slice, _) => body(slice), stageOut, nb,
        groups = if (incremental) math.min(2, nb) else 1, runId = name)
      if (stale.nonEmpty) Commit.storeFp(spark, stageOut, cur)
      name -> report
    }
    lazy val corpusFp = bucketFp(docs.select(col("doc_id"), col("text")), buckets)
    lazy val globalFp = Map(0 -> corpusFp.values.foldLeft(0L)(_ ^ _))

    Vector(
      () => stage("shingles", docs, corpusFp, buckets)(slice =>
        ScaleQueries.shinglesFrom(slice).select(col("doc_id"), col("g32"))),
      () => stage("candidates", docs, globalFp, 1)(_ =>
        ScaleQueries.minhashLshPairsFromShingles(table("shingles", shingleSchema))),
      () => {
        val cand = table("candidates", candSchema)
        stage("verified", cand, bucketFp(cand, buckets), buckets)(slice =>
          ScaleQueries.minhashVerifyFromShingles(slice, table("shingles", shingleSchema)))
      },
      () => stage("groups", docs, globalFp, 1)(slice =>
        ScaleQueries.dedupGroupsFrom(table("candidates", candSchema), slice.select(col("doc_id")))),
      () => {
        val grp = table("groups", groupSchema)
        stage("keep", grp, bucketFp(grp, buckets), buckets)(ScaleQueries.dedupKeepFrom)
      }
    ).take(failAfterStages).map(_())
  }

  // ---- session-shared materialization ------------------------------------

  /** Bump on ANY change to the chain's stage logic: the memo key carries
    * it, so stale materializations from an older build are never served.
    * The key is (dir, version) ONLY — content changes are handled by the
    * per-bucket fingerprints inside [[run]], which re-open exactly the
    * stale buckets instead of invalidating the whole chain (r4 scale
    * note closed). */
  private val ChainVersion = 4

  /** per-memo-dir JVM monitors: two corpora ensured concurrently in one
    * JVM must not serialize behind each other (r4 hygiene). */
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** dirs this JVM has already ensured: the driver protocol reads an
    * immutable corpus per session, so later view queries skip even the
    * fingerprint scans (a NEW JVM always re-checks fingerprints, which is
    * what makes cross-session incremental append safe). */
  private val ensured = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def ensure(spark: SparkSession, dir: String): String = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir|$ChainVersion") & 0xffffffffL)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_dedup_$key"
    if (ensured.contains(out)) return out
    val monitor = dirLocks.computeIfAbsent(out, _ => new Object)
    monitor.synchronized {
      if (ensured.contains(out)) return out
      // cross-PROCESS exclusion: two JVMs sharing the memo dir (a verify
      // and a bench overlapping) must not interleave stage writes — the
      // second blocks, then resumes over the finished checkpoints (and
      // unchanged fingerprints) for nearly free
      new java.io.File(out).mkdirs()
      val raf = new java.io.RandomAccessFile(s"$out/.lock", "rw")
      val lock = raf.getChannel.lock()
      try run(spark, dir, out)
      finally { lock.release(); raf.close() }
      ensured.add(out)
    }
    out
  }

  def candidatesView(spark: SparkSession, dir: String): DataFrame =
    Commit.read(spark, s"${ensure(spark, dir)}/candidates", candSchema)

  def verifiedView(spark: SparkSession, dir: String): DataFrame =
    Commit.read(spark, s"${ensure(spark, dir)}/verified", verifiedSchema)

  def groupsView(spark: SparkSession, dir: String): DataFrame =
    Commit.read(spark, s"${ensure(spark, dir)}/groups", groupSchema)

  def keepView(spark: SparkSession, dir: String): DataFrame =
    Commit.read(spark, s"${ensure(spark, dir)}/keep", keepSchema)

  /** This JVM's last [[pipelineQuery]] run dir; the next call or exit deletes it. */
  private var lastRun: Option[Path] = None

  /** The end-to-end chain as ONE driver query: a FRESH materialization
    * (unique run dir) so its timing is the real five-stage cost, returning
    * the final keep table — the row the whole chain exists to produce.
    * Output values are deterministic; only the scratch dir varies. The
    * frame reads that dir lazily and the next call deletes it: consume
    * the result (count it, write it) before calling again. */
  def pipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    // reaping other JVMs' dirs is AGE-GATED (r5 advice): another JVM's
    // in-flight run dir (a verify and a bench overlapping) must not be
    // deleted mid-run; only dirs a stale hour old are clearly abandoned
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    local.globStatus(new Path(s"${System.getProperty("java.io.tmpdir")}/graft_dedup_run*"))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => local.delete(st.getPath, true))
    // exit deletes go through the Hadoop FileSystem cache's one shutdown hook
    val out = synchronized {
      lastRun.foreach { p => local.delete(p, true); local.cancelDeleteOnExit(p) }
      lastRun = Some(new Path(java.nio.file.Files.createTempDirectory("graft_dedup_run").toString))
      local.deleteOnExit(lastRun.get)
      lastRun.get.toString
    }
    run(spark, dir, out, incremental = false)
    Commit.read(spark, s"$out/keep", keepSchema).orderBy("doc_id")
  }
}

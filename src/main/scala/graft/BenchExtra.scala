package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmark main (guide §1.4): per-query isolation OUTSIDE the frozen
  * Bench harness. For each named query it
  *   - dumps `.explain("formatted")` to `<java.io.tmpdir>/graft-plans/<name>_<tag>.txt`,
  *   - times the bench action (`.count()`, same session shape as Bench) and
  *     a noop-sink write (full row computation incl. the dump sort),
  * printing min-of-N for each. Usage:
  *   sbt "runMain graft.BenchExtra [--tag before] [--reps 2] q1 q2 ..."
  * (no args = the heavy set). Results are cited in OPTIMIZATION_r06.md;
  * the frozen driver bench stays the scoreboard. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    var tag = "probe"
    var reps = 2
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--tag" => tag = args(i + 1); i += 2
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case q => names += q; i += 1
      }
    }
    val heavy = Seq("dedup_pipeline", "pdf_hyperlinks", "dedup_ngram_jaccard",
      "office_extract", "chunk_blocks", "pdf_extract", "pdf_page_slice",
      "ann_ivf_topk", "span_block_fill", "ingest_raw")
    val qs = if (names.nonEmpty) names.toSeq else heavy

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val planDir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-plans")
    planDir.mkdirs()
    println(s"plans: $planDir")

    qs.foreach { name =>
      val fn = SparkEntry.queries(name)
      // plan dump
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val pw = new java.io.PrintWriter(new java.io.File(planDir, s"${name}_$tag.txt"), "UTF-8")
      try pw.write(plan) finally pw.close()
      // timed count (bench action)
      spark.sparkContext.setJobDescription(s"bench-extra count $name")
      val tc = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // noop write (full computation, guide §1.4)
      spark.sparkContext.setJobDescription(s"bench-extra noop $name")
      val tn = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      println(f"$name%-24s count min ${tc.min}%7.2f s (${tc.map(x => f"$x%.2f").mkString(",")})  " +
        f"noop min ${tn.min}%7.2f s (${tn.map(x => f"$x%.2f").mkString(",")})")
    }
    spark.stop()
  }
}

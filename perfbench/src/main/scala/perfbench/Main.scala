package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` in a fresh JVM
  * per run. It drives one workload through the program's public entry
  * points and prints one line `PERFBENCH_RESULT {json}` on stdout with the
  * attempted/failed counts, the metrics and the run's stamp.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> --launched-ms <epoch ms> [--trace-out <file>]`.
  * `--data` holds the fixture tables of `query_suite`. Every file the run
  * writes lives under `--work`; `run.py` also points `java.io.tmpdir`
  * there. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, launchedMs: Long, traceOut: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("launched-ms").toLong,
      m.getOrElse("trace-out", ""))
  }

  /** The end-to-end metrics every untraced run reports. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "docs_per_s", "round_s", "latency_p50_ms", "latency_p90_ms")

  val cores: Int = Runtime.getRuntime.availableProcessors()

  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since the JVM's main began. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s: $msg")

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    val sessionReady = System.currentTimeMillis()
    val result = new Result
    result.stamp("seed", args.seed)
    result.stamp("workload", args.workload)
    result.stamp("traced", args.trace)
    result.stamp("nproc", cores)
    result.stamp("master", spark.sparkContext.master)
    result.stamp("xmx_mb", Runtime.getRuntime.maxMemory() / (1L << 20))
    result.stamp("gc", Heap.collectors)
    result.stamp("jdk", System.getProperty("java.version"))
    result.stamp("spark", spark.version)
    result.stamp("scala", scala.util.Properties.versionNumberString)
    val ctx = Ctx(spark, args, (sessionReady - args.launchedMs) / 1e3, result)
    log(f"session ready ${ctx.sessionStartS}%.2f s after launch")
    try {
      args.workload match {
        case "docs_extract" => Workloads.docsExtract(ctx)
        case "query_suite" => Workloads.querySuite(ctx)
        case "blobs_stream" => Workloads.blobsStream(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      if (args.trace) {
        log("layer pass")
        Trace.layerPass(ctx)
        Trace.writeSpans(args.traceOut)
        log("layer pass done")
      }
      result.select(if (args.trace) Trace.PerLayer.map(_._1) else EndToEnd)
      println("PERFBENCH_RESULT " + result.json)
    } finally {
      spark.stop()
    }
  }
}

/** What a workload needs: the session, the parsed arguments, the time the
  * JVM took from launch to a ready session, and the result sink. */
final case class Ctx(spark: SparkSession, args: Main.Args, sessionStartS: Double,
    result: Result) {
  def dir(name: String): String = s"${args.work}/$name"
}

/** Attempted/failed counts, metrics and the stamp of one run, rendered as
  * one JSON object. */
final class Result {
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private val stampKv = scala.collection.mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }
  def stamp(key: String, value: Any): Unit = stampKv(key) = value

  /** Keeps exactly the named metrics, in that order; all must be set. */
  def select(names: Seq[String]): Unit = {
    val missing = names.filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val kept = names.map(n => n -> metrics(n))
    metrics.clear()
    metrics ++= kept
  }

  def json: String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def value(v: Any): String = v match {
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
      case other => str(other.toString)
    }
    val ms = metrics.map { case (k, (v, u)) =>
      str(k) + ":{\"value\":" + v.toString + ",\"unit\":" + str(u) + "}"
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"stamp":${value(stampKv.toMap)}}"""
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --bench-dir <dir> --work <dir>`.
  *
  * Prints one `{"info": …}` line with the run's context and every sample
  * count, then, as the last line, `{"correct", "attempted", "failed",
  * "metrics"}` with the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). Every number is reported as measured in this
  * run: no best-of-N, no re-runs, no reuse of earlier results.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, benchDir: Path, work: Path) {
    def fixture: String = benchDir.resolve("fixture").toString
  }

  /** What a workload measured. `e2e` and `layers` carry every metric the
    * workload defines; `info` is reported alongside. */
  final case class Outcome(attempted: Long, failed: Long,
      e2e: Map[String, Double], layers: Map[String, Double],
      info: Seq[(String, Any)])

  /** Two task threads leave the other cores of a small host to the
    * driver thread, the JIT compilers and the collector. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("bench-dir")), Paths.get(kv("work")))
    val loadBefore = loadAvg()
    val spark = session(opts.work)
    val outcome = try opts.workload match {
      case "connector_avro" => ConnectorWorkload.run(spark, opts, startNs)
      case "analytics_iterative" => AnalyticsWorkload.run(spark, opts, startNs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val info = Seq(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> Cores,
      "loadavg_1m_start" -> loadBefore, "loadavg_1m_end" -> loadAvg(),
      "error_rate" -> outcome.failed.toDouble / math.max(1L, outcome.attempted)
    ) ++ outcome.info
    println(Json.obj(Seq("info" -> Json.Raw(Json.obj(info)))))
    val metrics = (if (opts.trace) outcome.layers else outcome.e2e).toSeq.sortBy(_._1)
      .map { case (name, v) => name -> Json.Raw(Json.obj(Seq(
        "value" -> v, "unit" -> Units.of(name)))) }
    println(Json.obj(Seq("correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> Json.Raw(Json.obj(metrics)))))
    // a failed output check must fail the command, not only the JSON
    if (outcome.failed > 0) sys.exit(3)
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bounded status history, so retained heap does not grow with the
      // number of jobs a run happens to fit into its seconds
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Heap still in use after full collections, in MB: the heap pools'
    * usage right after the last collection, so that what background
    * threads allocate after it does not count. */
  def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def seconds(ns: Long): Double = ns / 1e9

  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Pass times are reported as means over the timed window: the host
    * alternates between speed states for seconds at a time, and the
    * median pass jumps between them from run to run. */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

/** Units of every metric name the benchmark prints. */
object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_s") || n.startsWith("memo.build_s.") ||
        n.startsWith("query_s_") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_us") => "us"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_rps") => "1/s"
    case n if n.endsWith("_ratio") || n.endsWith("_pct") => "ratio"
    case _ => "count"
  }
}

/** Just enough JSON for the result lines. */
object Json {
  final case class Raw(s: String)

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Memos

/** `analytics_iterative`: each pass drops every memo (`Memos.clearAll`),
  * builds two memos in registry order, then calls the two
  * `SparkEntry.queries` entries that read them, each timed from the call
  * into the entry function to the end of its `noop` write. Input is the
  * committed fixture.
  *
  * Before the warm-up passes every entry's result hash is checked against
  * `goldens.tsv`.
  */
object AnalyticsWorkload {

  /** The memo builds, and the entries that read them: personalized
    * PageRank over the co-supply edges, and incremental dedup against the
    * cross-corpus postings index. */
  val MemoNames: Seq[String] = Seq("memo:co_edges25", "memo:crosscorpus_index")
  val Entries: Seq[String] = Seq("q140_ppr", "q137_incremental_dedup")
  val WarmupPasses = 3

  def goldens(benchDir: Path): Map[String, ResultHash.Digest] =
    Files.readAllLines(benchDir.resolve("goldens.tsv"), StandardCharsets.UTF_8)
      .asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(name, rows, hash, _) = l.split("\t")
        name -> ResultHash.Digest(rows.toLong, hash)
      }.toMap

  /** Calls into the program, with their spans, job tags and accounting. */
  final class Runner(spark: SparkSession, o: Main.Opts, trace: Trace,
      metrics: SparkMetrics) {
    private val queries = SparkEntry.queries
    private val golden = goldens(o.benchDir)
    var attempted, failed = 0L
    val errors: mutable.Buffer[String] = mutable.Buffer[String]()
    /** Seconds of every successful call, by entry or memo name. */
    val opSeconds = mutable.LinkedHashMap[String, mutable.Buffer[Double]]()

    private def guarded(name: String)(body: => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        body
        opSeconds.getOrElseUpdate(name, mutable.Buffer()) += Main.seconds(System.nanoTime() - t0)
      } catch {
        case e: Exception => failed += 1; errors += s"$name: ${e.getClass.getSimpleName}"
      }
    }

    def buildMemos(names: Seq[String]): Unit = {
      Memos.clearAll()
      Memos.builders.filter(b => names.contains(b._1)).foreach { case (name, build) =>
        guarded(name) {
          metrics.tag(spark, name)
          trace.span(name)(build(spark, o.fixture))
        }
      }
    }

    def check(name: String): Unit = guarded(name) {
      metrics.tag(spark, s"$name|check")
      val got = ResultHash.of(queries(name)(spark, o.fixture))
      if (!golden.get(name).contains(got))
        throw new IllegalStateException(s"result $got differs from golden")
    }

    def entry(name: String): Unit = guarded(name) {
      trace.span("entry") {
        metrics.tag(spark, s"$name|construct")
        val df = trace.span("entry.construct")(queries(name)(spark, o.fixture))
        metrics.tag(spark, s"$name|exec")
        trace.span("entry.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }

    /** One pass; returns its duration in ns. */
    def pass(entries: Seq[String], memos: Seq[String]): Long = {
      val t0 = System.nanoTime()
      buildMemos(memos)
      entries.foreach(entry)
      metrics.tag(spark, SparkMetrics.Untagged)
      System.nanoTime() - t0
    }

    /** Per-layer numbers per pass: Spark counts over all `passes` since the
      * last reset, span times over the `traced` passes among them. */
    def layers(passes: Int, traced: Int, memos: Seq[String]): Map[String, Double] = {
      metrics.drain(spark)
      val per = 1.0 / passes
      val perTraced = 1.0 / traced
      val construct = metrics.total(_.endsWith("|construct"))
      val exec = metrics.total(_.endsWith("|exec"))
      val all = metrics.total(t => t.endsWith("|construct") || t.endsWith("|exec"))
      val memoLayer = memos.flatMap { name =>
        val short = name.stripPrefix("memo:")
        Seq(s"memo.build_s.$short" -> Main.seconds(trace.totalNs(name)) * perTraced,
          s"memo.jobs.$short" -> metrics.total(_ == name).jobs * per)
      }
      Map(
        "entry.construct_s" -> Main.seconds(trace.totalNs("entry.construct")) * perTraced,
        "entry.exec_s" -> Main.seconds(trace.totalNs("entry.exec")) * perTraced,
        "spark.jobs_construct" -> construct.jobs * per,
        "spark.jobs_exec" -> exec.jobs * per,
        "spark.stages" -> all.stages * per,
        "spark.tasks" -> all.tasks * per,
        "spark.sched_delay_ms" -> all.schedDelayMs * per,
        "spark.shuffle_read_bytes" -> all.shuffleReadBytes * per,
        "spark.shuffle_write_bytes" -> all.shuffleWriteBytes * per,
        "spark.spill_bytes" -> all.spillBytes * per,
        "spark.peak_exec_mem_bytes" -> all.peakExecMemBytes.toDouble,
        "catalyst.optimize_ms" -> all.optimizeMs * per,
        "catalyst.plan_ms" -> all.planMs * per,
      ) ++ memoLayer ++ LayerProbes.tables(spark, metrics, trace, o.fixture)
    }
  }

  def run(spark: SparkSession, o: Main.Opts, startNs: Long): Main.Outcome = {
    val trace = new Trace(o.trace, s"${o.workload}-${o.seed}")
    val metrics = SparkMetrics.register(spark, listen = o.trace)
    val r = new Runner(spark, o, trace, metrics)

    // warm-up: first the check, a pass that builds the memos and hashes
    // every entry's collected output against the goldens; then plain
    // passes, as the plain pass right after the check runs about 40%
    // slower and pass time keeps falling over the next few
    trace.on = false
    r.buildMemos(MemoNames)
    Entries.foreach(r.check)
    (1 to WarmupPasses).foreach(_ => r.pass(Entries, MemoNames))
    val setupS = Main.seconds(System.nanoTime() - startNs)
    System.err.println(f"[perfbench] setup $setupS%.3f s")
    metrics.drain(spark)
    metrics.reset()
    r.opSeconds.clear()

    // whole passes until `seconds` of timed work; a traced run alternates
    // untraced and traced passes, so it measures its own overhead
    val passes = mutable.Buffer[(Boolean, Double)]()
    var timedNs = 0L
    while (timedNs < o.seconds * 1000000000L || (o.trace && passes.forall(!_._1))) {
      trace.on = o.trace && passes.length % 2 == 1
      val ns = r.pass(Entries, MemoNames)
      timedNs += ns
      passes += trace.on -> Main.seconds(ns)
      System.err.println(f"[perfbench] pass ${Main.seconds(ns)}%.3f s, traced ${trace.on}")
    }
    trace.on = false
    // memos are dropped at the start of every pass, so the heap held at
    // the end does not grow with the number of passes
    val heapMb = Main.heapRetainedMb()

    val latencies = Entries.flatMap(e => r.opSeconds.getOrElse(e, Nil).take(passes.length))
    val suite = Main.mean(passes.filterNot(_._1).map(_._2).toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "suite_s" -> suite,
      "query_s_p90" -> Main.quantile(latencies, 0.9),
      "heap_retained_mb" -> heapMb)
    val layers = if (!o.trace) Map.empty[String, Double] else {
      val tracedSuite = Main.mean(passes.filter(_._1).map(_._2).toSeq)
      val own = r.layers(passes.length, passes.count(_._1), MemoNames)
      own ++ LayerProbes.census(spark, o, trace, metrics, own.keySet) ++ Map(
        "trace.suite_s" -> tracedSuite,
        "trace.overhead_ratio" -> (tracedSuite / suite - 1))
    }
    trace.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))

    Main.Outcome(r.attempted, r.failed, e2e, layers, Seq(
      "fixture" -> "perfbench/fixture (sf0.001, generator seed 42)",
      "entries" -> Entries, "memos" -> MemoNames, "passes" -> passes.length,
      "query_s_p50" -> Main.quantile(latencies, 0.5), "query_samples" -> latencies.length,
      "query_samples_above_p90" -> latencies.count(_ > Main.quantile(latencies, 0.9)),
      "errors" -> r.errors.take(20).toSeq,
      "op_s" -> Json.Raw(Json.obj(r.opSeconds.toSeq.map { case (k, v) => k -> Main.median(v.toSeq) }))))
  }
}

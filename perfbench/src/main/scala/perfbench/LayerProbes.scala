package perfbench

import org.apache.spark.sql.SparkSession

import graft.Tables

/** Direct calls into layers, made by a traced run after its timed passes:
  * the `Tables` layer, which entries reach only from inside, and a census
  * of every layer the workload itself bypasses, so that every traced run
  * reports every per-layer metric. */
object LayerProbes {

  /** Per-layer numbers of the layers whose metrics are not in `have`: one
    * traced connector round, and one traced analytics pass over `q11_agg`
    * and the iterative workload's memo builds. */
  def census(spark: SparkSession, o: Main.Opts, trace: Trace,
      metrics: SparkMetrics, have: Set[String]): Map[String, Double] = {
    val connector = if (have("sources.read_us")) Map.empty[String, Double] else {
      val ctx = new ConnectorWorkload.Ctx(spark, o, trace)
      try {
        val r = ctx.round(traced = true)
        ConnectorWorkload.layers(trace, Seq(r), ctx.progress.values.toSeq)
      } finally ctx.stop()
    }
    val memos = AnalyticsWorkload.MemoNames
    val analytics = if (have("entry.construct_s") && have(s"memo.build_s.${memos.head.stripPrefix("memo:")}"))
      Map.empty[String, Double] else {
      metrics.reset()
      val r = new AnalyticsWorkload.Runner(spark, o, trace, metrics)
      trace.on = true
      r.pass(Seq("q11_agg"), memos)
      trace.on = false
      r.layers(1, 1, memos)
    }
    (connector ++ analytics).filter { case (k, _) => !have(k) }
  }

  /** One `Tables.load` of every fixture table: mean time per load and
    * Spark jobs per load (schema inference). */
  def tables(spark: SparkSession, metrics: SparkMetrics, trace: Trace,
      dir: String): Map[String, Double] = {
    val tag = "tables|load"
    metrics.tag(spark, tag)
    trace.on = trace.enabled
    val t0 = System.nanoTime()
    Tables.names.foreach(t => trace.span("tables.load")(Tables.load(spark, dir, t)))
    val ms = (System.nanoTime() - t0) / 1e6 / Tables.names.length
    trace.on = false
    metrics.tag(spark, SparkMetrics.Untagged)
    metrics.drain(spark)
    Map("tables.load_ms" -> ms,
      "tables.load_jobs" -> metrics.total(_ == tag).jobs.toDouble / Tables.names.length)
  }
}

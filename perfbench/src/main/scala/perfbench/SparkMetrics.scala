package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted from outside the program: a `SparkListener` plus a
  * `QueryExecutionListener`, both registered by the benchmark.
  *
  * The benchmark tags the driver thread with a local property before each
  * call into the program (`tag`); every job carries the tag it was
  * submitted under, so jobs, stages and tasks split exactly at the
  * construction/write boundary. Catalyst phase times come from
  * `QueryExecution.tracker` and are charged to the tag current when the
  * event is delivered. Read only after `drain`.
  */
final class SparkMetrics extends SparkListener with QueryExecutionListener {
  import SparkMetrics._

  final class Counts {
    var jobs, stages, tasks = 0L
    var schedDelayMs, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var peakExecMemBytes = 0L
    var optimizeMs, planMs = 0.0

    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      schedDelayMs += o.schedDelayMs
      shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes
      peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
      optimizeMs += o.optimizeMs; planMs += o.planMs
    }
  }

  private val byTag = mutable.Map[String, Counts]()
  private val stageTag = mutable.Map[Int, String]()
  @volatile private var current = Untagged

  private def counts(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  /** Tag the calling thread's jobs (and later Catalyst events) with `t`. */
  def tag(spark: SparkSession, t: String): Unit = {
    current = t
    spark.sparkContext.setLocalProperty(TagKey, t)
  }

  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Sum of the counts whose tag satisfies `p` (call after `drain`). */
  def total(p: String => Boolean): Counts = synchronized {
    val c = new Counts
    byTag.foreach { case (t, x) => if (p(t)) c.add(x) }
    c
  }

  def reset(): Unit = synchronized { byTag.clear(); stageTag.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .getOrElse(Untagged)
    counts(t).jobs += 1
    e.stageIds.foreach(stageTag(_) = t)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      counts(stageTag.getOrElse(e.stageInfo.stageId, Untagged)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrElse(e.stageId, Untagged))
    c.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      if (info != null && info.finished)
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val c = counts(current)
    phases.get(QueryPlanningTracker.OPTIMIZATION).foreach(c.optimizeMs += _.durationMs)
    phases.get(QueryPlanningTracker.PLANNING).foreach(c.planMs += _.durationMs)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object SparkMetrics {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"

  /** A collector whose listeners are registered only when `listen`:
    * untraced runs still tag jobs, but count nothing. */
  def register(spark: SparkSession, listen: Boolean = true): SparkMetrics = {
    val m = new SparkMetrics
    if (listen) {
      spark.sparkContext.addSparkListener(m)
      spark.listenerManager.register(m)
    }
    m
  }
}

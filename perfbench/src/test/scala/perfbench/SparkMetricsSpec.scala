package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Pins the benchmark's job accounting on plans with known job counts. */
class SparkMetricsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    Paths.get(".work", "tmp").toFile.mkdirs()
    Main.session(Paths.get(".work"))
  }
  private lazy val metrics = SparkMetrics.register(spark)

  override def afterAll(): Unit = spark.stop()

  private def jobs(tag: String) = { metrics.drain(spark); metrics.total(_ == tag).jobs }

  test("jobs split at the construction/write boundary on a known 2-job plan") {
    metrics.tag(spark, "plan|construct")
    // one eager action while the frame is built: 1 job
    val n = spark.range(0, 100, 1, 2).collect().length
    val df = spark.range(0, 100, 1, 2).repartition(3).selectExpr(s"id + $n AS x")
    metrics.tag(spark, "plan|exec")
    // AQE runs the shuffle map stage and the result stage as two jobs
    df.write.format("noop").mode("overwrite").save()
    metrics.tag(spark, SparkMetrics.Untagged)
    assert(jobs("plan|construct") == 1)
    assert(jobs("plan|exec") == 2)
    val exec = metrics.total(_ == "plan|exec")
    assert(exec.stages == 2)
    assert(exec.tasks == 2 + 3)
    assert(exec.shuffleWriteBytes > 0 && exec.shuffleReadBytes > 0)
  }

  test("one Tables.load launches one schema-inference job") {
    metrics.tag(spark, "load")
    Tables.load(spark, "fixture", "nation")
    metrics.tag(spark, SparkMetrics.Untagged)
    assert(jobs("load") == 1)
  }
}

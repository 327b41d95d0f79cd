package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.Memos

/** Helpers for `derive_goldens.py`; each prints TSV lines
  * `name, rows, hash, source` on stdout.
  *
  *   - `oracles <bench-dir> <out.json>`: writes `SparkEntry.oracleSql` of
  *     the benchmark's entries as a JSON object;
  *   - `parquet <bench-dir> <dir>`: hashes the parquet files under `<dir>/<entry>`, the
  *     DuckDB oracle results (source `duckdb`);
  *   - `entries <bench-dir>`: runs every benchmark entry on the fixture,
  *     after the workload's memo builds, and hashes its result
  *     (source `program`).
  */
object Goldens {
  def main(args: Array[String]): Unit = {
    val benchDir = Paths.get(args(1))
    val entries = AnalyticsWorkload.Entries
    args(0) match {
      case "oracles" =>
        val oracle = SparkEntry.oracleSql
        val json = Json.obj(entries.filter(oracle.contains).map(e => e -> oracle(e)))
        Files.write(Paths.get(args(2)), json.getBytes(StandardCharsets.UTF_8))
      case mode =>
        val spark = Main.session(benchDir.resolve(".work"))
        try {
          val fixture = benchDir.resolve("fixture").toString
          val digests = if (mode == "parquet") {
            Files.list(Paths.get(args(2))).iterator.asScala.toSeq.sortBy(_.toString)
              .map(d => d.getFileName.toString -> ResultHash.of(spark.read.parquet(d.toString)))
          } else {
            Memos.builders.filter(b => AnalyticsWorkload.MemoNames.contains(b._1))
              .foreach { case (_, build) => build(spark, fixture) }
            entries.map(e => e -> ResultHash.of(SparkEntry.queries(e)(spark, fixture)))
          }
          val source = if (mode == "parquet") "duckdb" else "program"
          digests.foreach { case (name, d) => println(s"$name\t${d.rows}\t${d.hash}\t$source") }
        } finally spark.stop()
    }
  }
}

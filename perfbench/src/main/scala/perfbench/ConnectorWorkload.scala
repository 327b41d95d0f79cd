package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.avro.AvroCodec
import graft.config.{Parsers, SinkConfig, SourceConfig}
import graft.core._
import graft.sources.{FileSink, FileSource}
import graft.streaming.AvroStreamOps

/** `connector_avro`: JSON lines → `FileSource` → `InMemoryBroker` (4
  * partitions) → `FileSink` (flush and commit on every message), then the
  * same frames through a Structured Streaming query that decodes them
  * with `AvroStreamOps.decodeKafkaShaped`, in micro-batches of a fixed
  * size.
  *
  * One round drains the input through all three phases. The input is
  * split into chunk files; each chunk is one operation: a `FileSource`
  * that drains the chunk into the round's broker, then a `FileSink` that
  * resumes from the group's committed offsets and drains it to the
  * round's output file. Rounds repeat until `seconds` of phase time is
  * measured; every round's output is checked after its timed phases.
  */
object ConnectorWorkload {
  val Records = 2000
  val Chunks = 8
  val Partitions = 4
  val MicroBatch = 1000
  val WarmupRounds = 10
  val Topic = "records"
  val Group = "perfbench-sink"

  type Rec = (String, Map[String, Any])

  private val Cities = Vector("OSLO", "LIMA", "ROME", "KYIV", "BERN", "DOHA",
    "RIGA", "BAKU", "APIA", "SUVA")
  private val Words = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** `n` records with distinct 8-letter uppercase keys; the value has six
    * fields, one a nested record and one a string array. */
  def generate(seed: Long, n: Int): Vector[Rec] = {
    val rnd = new Random(seed)
    def letters(k: Int) = Iterator.fill(k)(('A' + rnd.nextInt(26)).toChar).mkString
    val seen = mutable.HashSet[String]()
    Vector.fill(n) {
      var key = letters(8)
      while (!seen.add(key)) key = letters(8)
      key -> Map[String, Any](
        "name" -> letters(4 + rnd.nextInt(20)),
        "count" -> rnd.nextInt(1000000).toLong,
        // odd multiples of 1/8: exact in binary, never integral, so the
        // JSON form always reads back as a double
        "score" -> (2 * rnd.nextInt(400000) + 1) / 8.0,
        "active" -> rnd.nextBoolean(),
        "tags" -> Seq.fill(1 + rnd.nextInt(4))(Words(rnd.nextInt(Words.length))),
        "loc" -> Map[String, Any](
          "city" -> Cities(rnd.nextInt(Cities.length)),
          "zip" -> (10000 + rnd.nextInt(90000)).toLong))
    }
  }

  def jsonLine(r: Rec): String = {
    def v(x: Any): String = x match {
      case m: Map[_, _] => m.map { case (k, y) => Json.str(k.toString) + ": " + v(y) }
        .mkString("{", ", ", "}")
      case xs: Seq[_] => xs.map(v).mkString("[", ", ", "]")
      case s: String => Json.str(s)
      case other => other.toString
    }
    s"""{"key": ${v(r._1)}, "value": ${v(r._2)}}"""
  }

  val ValueSparkSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("count", LongType),
    StructField("score", DoubleType), StructField("active", BooleanType),
    StructField("tags", ArrayType(StringType)),
    StructField("loc", StructType(Seq(
      StructField("city", StringType), StructField("zip", LongType))))))

  /** Order-independent hash of records: the wrapping sum of one 64-bit
    * hash per record. */
  def recordHash(key: String, name: String, count: Long, score: Double,
      active: Boolean, tags: Seq[String], city: String, zip: Long): Long =
    scala.util.hashing.MurmurHash3.stringHash(
      Seq(key, name, count, java.lang.Double.doubleToLongBits(score), active,
        tags.mkString("\u0001"), city, zip).mkString("\u0000")).toLong * 0x9E3779B97F4A7C15L +
      scala.util.hashing.MurmurHash3.stringHash(key + "|" + name)

  /** The stream's `key` column holds the decoded key rendered as JSON. */
  def hashOf(r: Rec): Long = {
    val v = r._2
    val loc = v("loc").asInstanceOf[Map[String, Any]]
    recordHash(graft.sources.Json.render(r._1), v("name").asInstanceOf[String], v("count").asInstanceOf[Long],
      v("score").asInstanceOf[Double], v("active").asInstanceOf[Boolean],
      v("tags").asInstanceOf[Seq[String]], loc("city").asInstanceOf[String],
      loc("zip").asInstanceOf[Long])
  }

  def hashOf(row: Row): Long = {
    val loc = row.getStruct(6)
    recordHash(row.getString(0), row.getString(1), row.getLong(2),
      row.getDouble(3), row.getBoolean(4), row.getSeq[String](5),
      loc.getString(0), loc.getLong(1))
  }

  private val base = Map[String, Any](
    "bootstrap_servers" -> Seq("localhost:9092"),
    "schema_registry" -> "http://localhost:8081")

  /** Each chunk file has its own read position, so its own offset topic. */
  def sourceConfig(chunk: Int): SourceConfig = SourceConfig.fromMap(base ++ Map(
    "topic" -> Topic, "offset_topic" -> s"${Topic}_offsets_$chunk"))

  def sinkConfig: SinkConfig = SinkConfig.fromMap(base ++ Map(
    "group_id" -> Group, "topics" -> Seq(Topic), "poll_timeout" -> "1"))

  /** Timings and checks of one round. */
  final case class Round(traced: Boolean, sourceNs: Long, sinkNs: Long,
      streamNs: Long, chunkNs: Seq[Long]) {
    def suiteNs: Long = sourceNs + sinkNs + streamNs
  }

  final class Ctx(val spark: SparkSession, val o: Main.Opts, val trace: Trace) {
    val records: Vector[Rec] = generate(o.seed, Records)
    val inputs: Seq[Path] = (0 until Chunks).map(i => o.work.resolve(s"connector-${o.seed}-$i.jsonl"))
    val output: Path = o.work.resolve(s"connector-${o.seed}.out.jsonl")
    private val expectedHash = records.iterator.map(hashOf).sum

    Files.createDirectories(o.work)
    records.grouped(Records / Chunks).toSeq.zip(inputs).foreach { case (chunk, path) =>
      Files.write(path, chunk.map(jsonLine).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    private var stream: Option[(MemoryStream[(Array[Byte], Array[Byte])],
      org.apache.spark.sql.streaming.StreamingQuery)] = None
    private val decoded = mutable.ArrayBuffer[Row]()
    /** Durations of the traced rounds' micro-batches, by batch id. */
    val progress = mutable.LinkedHashMap[Long, Map[String, Long]]()
    var attempted, failed = 0L
    val errors: mutable.Buffer[String] = mutable.Buffer[String]()

    /** The streaming query over a memory stream, started once the first
      * round has registered the schemas it decodes with. */
    private def query(broker: InMemoryBroker, frame: (Array[Byte], Array[Byte])) =
      stream.getOrElse {
        import spark.implicits._
        val ms = MemoryStream[(Array[Byte], Array[Byte])](spark)
        def schemaOf(bytes: Array[Byte]) =
          broker.schemaById(AvroCodec.unframe(bytes)._1).get
        val df = AvroStreamOps.decodeKafkaShaped(ms.toDF().toDF("key", "value"),
          schemaOf(frame._1), schemaOf(frame._2), ValueSparkSchema)
        val q = df.writeStream
          .option("checkpointLocation", o.work.resolve(s"stream-ckpt-${o.seed}-${System.nanoTime()}").toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = batch.collect(); decoded.synchronized(decoded ++= rows); ()
          }
          .start()
        stream = Some((ms, q))
        (ms, q)
      }

    /** One round; `traced` runs the connectors' traced subclasses with
      * spans on. */
    def round(traced: Boolean): Round = {
      trace.on = traced
      val broker = new InMemoryBroker(Partitions)
      Files.deleteIfExists(output)
      var sourceNs, sinkNs = 0L
      val chunkNs = inputs.zipWithIndex.map { case (input, i) =>
        val t0 = System.nanoTime()
        val source =
          if (traced) new Traced.Source(new FileSource(input.toString, sourceConfig(i), broker),
            sourceConfig(i), broker, trace)
          else new FileSource(input.toString, sourceConfig(i), broker)
        source.run()
        val t1 = System.nanoTime()
        val sink =
          if (traced) new Traced.Sink(output, sinkConfig, broker, trace)
          else new FileSink(output.toString, sinkConfig, broker)
        sink.run()
        val t2 = System.nanoTime()
        sourceNs += t1 - t0
        sinkNs += t2 - t1
        t2 - t0
      }

      val logs = broker.partitionsOf(Topic).map { tp =>
        tp -> (0L until broker.endOffset(tp)).map(broker.read(tp, _).get)
      }
      trace.on = false
      val frames = logs.flatMap(_._2).map(m => (m.key, m.value))
      val (ms, q) = query(broker, frames.head)
      val earlier = q.recentProgress.map(_.batchId).toSet
      decoded.synchronized(decoded.clear())
      val batchNs = frames.grouped(MicroBatch).map { chunk =>
        val s = System.nanoTime()
        ms.addData(chunk)
        q.processAllAvailable()
        System.nanoTime() - s
      }.toVector
      if (traced) q.recentProgress.filterNot(p => earlier(p.batchId)).foreach { p =>
        progress(p.batchId) = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
      val errs = check(broker, logs)
      attempted += 3L * Records
      failed += errs.length
      errors ++= errs
      val r = Round(traced, sourceNs, sinkNs, batchNs.sum, chunkNs)
      System.err.println(f"[perfbench] round: source ${r.sourceNs / 1e9}%.3f s, " +
        f"sink ${r.sinkNs / 1e9}%.3f s, stream ${r.streamNs / 1e9}%.3f s, traced $traced")
      r
    }

    /** Sink output equals the input multiset, in input order within each
      * partition; committed offsets equal end offsets; decoded stream rows
      * match the generator by count and hash. */
    private def check(broker: InMemoryBroker, logs: Seq[(TopicPartition, Seq[Message])]): Seq[String] = {
      val errors = Seq.newBuilder[String]
      val keySchema = AvroCodec.parseable(
        broker.schemaById(AvroCodec.unframe(logs.flatMap(_._2).head.key)._1).get)
      val logKeys = logs.map { case (tp, msgs) =>
        tp.partition -> msgs.map(m => AvroCodec.decodeFramed(m.key, keySchema).toString)
      }.toMap
      val partitionOf = logKeys.toSeq.flatMap { case (p, keys) => keys.map(_ -> p) }.toMap
      val out = Files.readAllLines(output, StandardCharsets.UTF_8).asScala.toVector
        .map(Parsers.flatJson).map(m => (m("key").asInstanceOf[String], m("value")))
      val want = records.map(r => (r._1, r._2: Any)).groupBy(identity).view.mapValues(_.size).toMap
      val got = out.groupBy(identity).view.mapValues(_.size).toMap
      val wrong = (want.keySet ++ got.keySet).toSeq
        .map(r => math.abs(want.getOrElse(r, 0) - got.getOrElse(r, 0))).sum
      if (wrong > 0) errors += s"sink: $wrong records lost, duplicated or mis-decoded"
      for (p <- 0 until Partitions) {
        val inOrder = records.map(_._1).filter(k => partitionOf.get(k).contains(p))
        val logOrder = logKeys.getOrElse(p, Nil)
        val outOrder = out.map(_._1).filter(k => partitionOf.get(k).contains(p))
        if (logOrder != inOrder) errors += s"broker partition $p out of input order"
        if (outOrder != inOrder) errors += s"sink partition $p out of input order"
      }
      logs.foreach { case (tp, _) =>
        if (!broker.committed(Group, tp).contains(broker.endOffset(tp)))
          errors += s"committed offset ${broker.committed(Group, tp)} != end ${broker.endOffset(tp)} on $tp"
      }
      val rows = decoded.synchronized(decoded.toVector)
      if (rows.length != records.length || rows.iterator.map(hashOf).sum != expectedHash)
        errors += s"stream: ${rows.length} rows decoded, hash mismatch or count != ${records.length}"
      errors.result()
    }

    def stop(): Unit = stream.foreach(_._2.stop())
  }

  def run(spark: SparkSession, o: Main.Opts, startNs: Long): Main.Outcome = {
    val trace = new Trace(o.trace, s"${o.workload}-${o.seed}")
    val ctx = new Ctx(spark, o, trace)
    try {
      // warm-up: untimed rounds (the first also starts the query); the
      // stream phase keeps speeding up over about the first ten
      (1 to WarmupRounds).foreach(_ => ctx.round(traced = false))
      val setupS = Main.seconds(System.nanoTime() - startNs)
      // after a fixed amount of work: retained heap grows with every round,
      // so at the end of a timed window it would grow with the speed
      val heapMb = Main.heapRetainedMb()
      ctx.progress.clear()

      // rounds until `seconds` of phase time; a traced run alternates
      // untraced and traced rounds, so it measures its own overhead
      val rounds = mutable.Buffer[Round]()
      var timedNs = 0L
      while (timedNs < o.seconds * 1000000000L || (o.trace && rounds.forall(!_.traced))) {
        val r = ctx.round(traced = o.trace && rounds.length % 2 == 1)
        rounds += r
        timedNs += r.suiteNs
      }
      val plain = rounds.filterNot(_.traced).toSeq
      val chunks = plain.flatMap(_.chunkNs).map(Main.seconds)
      val suite = Main.mean(plain.map(r => Main.seconds(r.suiteNs)))
      val e2e = Map(
        "setup_s" -> setupS,
        "suite_s" -> suite,
        "query_s_p90" -> Main.quantile(chunks, 0.9),
        "heap_retained_mb" -> heapMb)
      val layers = if (!o.trace) Map.empty[String, Double] else {
        val traced = rounds.filter(_.traced).toSeq
        val tracedSuite = Main.mean(traced.map(r => Main.seconds(r.suiteNs)))
        val own = ConnectorWorkload.layers(trace, traced, ctx.progress.values.toSeq)
        own ++ LayerProbes.census(spark, o, trace, SparkMetrics.register(spark), own.keySet) ++
          Map("trace.suite_s" -> tracedSuite, "trace.overhead_ratio" -> (tracedSuite / suite - 1))
      }
      trace.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.jsonl"))
      Main.Outcome(ctx.attempted, ctx.failed, e2e, layers, rates(plain).toSeq ++ Seq(
        "records_per_round" -> Records, "chunks_per_round" -> Chunks,
        "partitions" -> Partitions, "micro_batch" -> MicroBatch, "rounds" -> rounds.length,
        "query_s_p50" -> Main.quantile(chunks, 0.5), "query_samples" -> chunks.length,
        "query_samples_above_p90" -> chunks.count(_ > Main.quantile(chunks, 0.9)),
        "errors" -> ctx.errors.take(20).toSeq))
    } finally ctx.stop()
  }

  /** Median records/s of each phase over `rounds`. */
  def rates(rounds: Seq[Round]): Map[String, Double] = {
    def rate(ns: Round => Long) = Main.median(rounds.map(r => Records / Main.seconds(ns(r))))
    Map("source_rps" -> rate(_.sourceNs), "sink_rps" -> rate(_.sinkNs),
      "stream_decode_rps" -> rate(_.streamNs))
  }

  /** Per-layer numbers of the traced `rounds`. Times per call are means;
    * counts are per round. */
  def layers(trace: Trace, rounds: Seq[Round], progress: Seq[Map[String, Long]]): Map[String, Double] = {
    val c = Traced.counts
    def us(name: String, self: Boolean = false) = {
      val n = trace.count(name)
      if (n == 0) 0.0 else (if (self) trace.selfNs(name) else trace.totalNs(name)) / 1e3 / n
    }
    val perRound = 1.0 / rounds.length
    def ms(key: String) = Main.median(progress.map(_.getOrElse(key, 0L).toDouble))
    // inference runs inside the first produce of each source: its cost is
    // that produce's excess over the source's median produce
    val produce = trace.selfEach("source.produce").map(_ / 1e3).grouped(Records / Chunks).toSeq
    rates(rounds) ++ Map(
      "sources.read_us" -> us("sources.read"),
      "sources.flush_us" -> us("sources.flush"),
      "sources.flush_count" -> trace.count("sources.flush") * perRound,
      "avro.infer_us" -> Main.median(produce.map(p => p.head - Main.median(p))),
      // schemas the source registered: key, value and offset
      "avro.infer_count" -> c.schemaIds.size.toDouble,
      "avro.encode_us" -> us("source.produce", self = true),
      "avro.decode_us" -> us("avro.decode"),
      "core.produce_us" -> us("core.produce"),
      "core.offset_commit_us" -> us("core.offset_commit"),
      "core.broker_bytes" -> c.brokerBytes.toDouble / math.max(1, trace.count("source.produce")),
      "core.poll_us" -> us("core.poll"),
      "core.poll_count" -> c.polls * perRound,
      "core.poll_useful_ratio" -> c.recordPolls.toDouble / math.max(1L, c.polls),
      "core.commit_us" -> us("core.commit"),
      "core.commit_count" -> c.commits * perRound,
      "core.commit_retry_count" -> c.commitFailures * perRound,
      "streaming.batches" -> progress.length * perRound,
      "streaming.trigger_ms" -> ms("triggerExecution"),
      "streaming.add_batch_ms" -> ms("addBatch"),
      "streaming.planning_ms" -> ms("queryPlanning"),
      "streaming.wal_commit_ms" -> ms("walCommit"))
  }
}

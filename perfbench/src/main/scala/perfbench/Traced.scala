package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.collection.mutable

import graft.config.{SinkConfig, SourceConfig}
import graft.core._
import graft.sources.{FileSource, Json => GraftJson}

/** Connector subclasses for the traced run: spans around the calls the
  * connector makes into each layer, recorded through the program's own
  * subclass hooks (`GraftSource`/`GraftSink`, `makeConsumer`) and a
  * wrapped transport.
  */
object Traced {

  /** Counts kept at the transport boundary. */
  final class Counts {
    var brokerBytes, polls, recordPolls, commits, commitFailures = 0L
    val schemaIds = mutable.Set[Int]()
  }
  val counts = new Counts

  final class Producer(inner: TransportProducer, trace: Trace) extends TransportProducer {
    def produce(topic: String, key: Array[Byte], value: Array[Byte]): Unit =
      trace.span("core.produce") {
        counts.brokerBytes += Option(key).map(_.length).getOrElse(0) + value.length
        Seq(key, value).foreach(b => if (b != null && b.length >= 5)
          counts.schemaIds += java.nio.ByteBuffer.wrap(b, 1, 4).getInt)
        inner.produce(topic, key, value)
      }
    def flush(): Unit = trace.span("core.producer_flush")(inner.flush())
  }

  final class Consumer(inner: TransportConsumer, trace: Trace) extends TransportConsumer {
    def subscribe(topics: Seq[String]): Unit = inner.subscribe(topics)
    def poll(timeoutMs: Long): Poll = trace.span("core.poll") {
      val p = inner.poll(timeoutMs)
      counts.polls += 1
      if (p.isInstanceOf[Poll.Record]) counts.recordPolls += 1
      p
    }
    def commit(offsets: Map[TopicPartition, Long]): Unit = trace.span("core.commit") {
      counts.commits += 1
      try inner.commit(offsets)
      catch { case t: Throwable => counts.commitFailures += 1; throw t }
    }
    def committed(tp: TopicPartition): Option[Long] = inner.committed(tp)
    def assignment: Seq[TopicPartition] = inner.assignment
    def lastMessage(topic: String): Option[Message] = inner.lastMessage(topic)
    def close(): Unit = inner.close()
  }

  /** `FileSource` driven through a `GraftSource` subclass: reads delegate
    * to the real `FileSource`; `produce` is the inference and encoding
    * step, whose transport call is the `core.produce` child span. */
  final class Source(file: FileSource, config: SourceConfig,
      broker: InMemoryBroker, trace: Trace) extends GraftSource(config, broker) {
    override protected val producer: TransportProducer =
      new Producer(broker.producer(), trace)
    def read(): Option[(Any, Any)] = trace.span("sources.read")(file.read())
    def seek(index: Any): Unit = file.seek(index)
    def getIndex: Any = file.getIndex
    override protected def onEof(): Option[Status] = Some(Status.Stopped)
    override protected def produce(key: Any, value: Any): Unit =
      trace.span("source.produce")(super.produce(key, value))
    override protected def commitOffset(): Unit =
      trace.span("core.offset_commit")(super.commitOffset())
    override def close(): Unit = { super.close(); file.close() }
  }

  /** `FileSink` is final, so this `GraftSink` subclass renders and appends
    * the same JSON lines on the same flush gate, with spans around the
    * decode, the flush and (through `makeConsumer`) poll and commit. */
  final class Sink(path: Path, config: SinkConfig, broker: InMemoryBroker,
      trace: Trace) extends GraftSink(config, broker) {
    private val buffer = mutable.ArrayBuffer[String]()
    override protected def makeConsumer(): TransportConsumer =
      new Consumer(broker.consumer(config.groupId), trace)
    override protected def decodeFramed(bytes: Array[Byte]): Any =
      trace.span("avro.decode")(super.decodeFramed(bytes))
    protected def onMessageReceived(msg: Message): Option[Status] = {
      val key = Option(msg.key).map(decodeFramed).orNull
      val value = decodeFramed(msg.value)
      buffer += s"""{"key": ${GraftJson.render(key)}, "value": ${GraftJson.render(value)}}"""
      None
    }
    protected def onFlush(): Option[Status] = trace.span("sources.flush") {
      if (buffer.nonEmpty) {
        Files.write(path, buffer.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        buffer.clear()
      }
      None
    }
    override protected def onNoMessageReceived(): Option[Status] =
      if (hasPartitionAssignments && allPartitionsAtEof) Some(Status.Stopped) else None
  }
}

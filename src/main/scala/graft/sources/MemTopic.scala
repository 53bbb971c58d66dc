package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** In-memory partitioned "topic" log + a full DataSourceV2 connector
  * over it — the offline stand-in for the reference's Kafka transport
  * (O3/O4/O10) with the semantics that actually matter preserved:
  *
  *   - the log is PARTITIONED (default 3 ≙ `scripts/run.sh:19-25`) and
  *     append-only; records are (value, partition, offset);
  *   - a batch read is OFFSET-BOUNDED: end offsets are captured once at
  *     plan time, so rows appended after planning are not read — the
  *     correct expression of "consume the bounded topic" that replaces
  *     the reference's 5s-idle drain heuristic
  *     (`external_sort.go:95-113`), exactly like the real Kafka source's
  *     `endingOffsets=latest`;
  *   - writes commit ATOMICALLY on driver-side job commit: task writers
  *     buffer and ship rows in their commit message, so a retried task
  *     never double-appends (the at-least-once async-acks gap in the
  *     reference's producer, `internal/kafka/client.go:16-19`, is fixed
  *     rather than ported).
  *
  * Single-JVM by design (a test/teaching transport — `local[n]` shares
  * one heap); swap `format(classOf[MemTopicProvider].getName)` for
  * `format("kafka")` and the same plans run against a broker.
  */
object MemTopic {
  /** Read schema ≙ the Kafka source's projection the sorter consumes. */
  val schema: StructType = new StructType()
    .add("value", StringType, nullable = false)
    .add("partition", IntegerType, nullable = false)
    .add("offset", LongType, nullable = false)

  private val topics = new ConcurrentHashMap[String, Array[ArrayBuffer[String]]]()

  /** Create (or reset) a topic with `numPartitions` empty partitions. */
  def create(topic: String, numPartitions: Int = 3): Unit = {
    require(numPartitions > 0, s"bad numPartitions=$numPartitions")
    topics.put(topic, Array.fill(numPartitions)(ArrayBuffer.empty[String]))
  }

  def exists(topic: String): Boolean = topics.containsKey(topic)

  def drop(topic: String): Unit = topics.remove(topic)

  private def partitions(topic: String): Array[ArrayBuffer[String]] = {
    val t = topics.get(topic)
    require(t != null, s"unknown topic '$topic' — MemTopic.create it first")
    t
  }

  private def part(topic: String, p: Int): ArrayBuffer[String] = {
    val t = partitions(topic)
    require(p >= 0 && p < t.length,
      s"topic '$topic' has ${t.length} partitions, no partition $p")
    t(p)
  }

  def numPartitions(topic: String): Int = partitions(topic).length

  def append(topic: String, p: Int, values: Iterable[String]): Unit = {
    val buf = part(topic, p)
    buf.synchronized { buf ++= values }
  }

  def endOffset(topic: String, p: Int): Long = {
    val buf = part(topic, p)
    buf.synchronized { buf.length.toLong }
  }

  /** Records in [start, end) of one partition (bounds from plan time).
    * Offsets outside the partition fail loudly, like Kafka's default
    * `failOnDataLoss=true`: a stream resumed from a checkpoint past the
    * topic's end (the topic was re-created) must not read nothing and
    * report success. */
  def slice(topic: String, p: Int, start: Long, end: Long): Array[String] = {
    val buf = part(topic, p)
    buf.synchronized {
      if (start < 0 || start > end || end > buf.length)
        throw new IllegalStateException(s"topic '$topic' partition $p: " +
          s"offsets [$start, $end) are outside [0, ${buf.length}) — " +
          "records were lost or the topic was re-created")
      buf.slice(start.toInt, end.toInt).toArray
    }
  }
}

/** `spark.read.format(classOf[MemTopicProvider].getName)
  *   .option("topic", t).load()` — bounded scan;
  * `df.write.format(...).option("topic", t).mode("append").save()` —
  * atomic batched append. */
class MemTopicProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MemTopic.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val topic = properties.get("topic")
    require(topic != null, "option 'topic' is required")
    new MemTopicTable(topic)
  }
}

private[sources] class MemTopicTable(topic: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"memtopic:$topic"
  override def schema(): StructType = MemTopic.schema
  // ACCEPT_ANY_SCHEMA: writes carry just `value` (partition/offset are
  // assigned by the log, as in Kafka) — without it the analyzer demands
  // every table column in the input.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new MemTopicScan(topic)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val valueIdx = info.schema().fieldIndex("value")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new MemTopicBatchWrite(topic, valueIdx)
      }
    }
  }
}

/** One InputPartition per topic partition; END OFFSETS CAPTURED at
  * `planInputPartitions` (per-action physical planning) — each
  * execution reads a consistent bounded [0, latest-at-plan) snapshot
  * and terminates, like Kafka's `endingOffsets=latest` resolution. */
private[sources] class MemTopicScan(topic: String) extends Scan with Batch {
  override def readSchema(): StructType = MemTopic.schema
  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MemTopicMicroBatchStream(topic)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until MemTopic.numPartitions(topic)).map { p =>
      MemTopicInputPartition(topic, p, 0L, MemTopic.endOffset(topic, p))
        : InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    MemTopicReaderFactory
}

/** Shared by the batch scan and the micro-batch stream — a partition
  * read is the same [start, end) slice either way. */
private[sources] object MemTopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ip = partition.asInstanceOf[MemTopicInputPartition]
    new PartitionReader[InternalRow] {
      private val rows = MemTopic.slice(ip.topic, ip.part, ip.start, ip.end)
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(rows(i)), ip.part, ip.start + i))
      override def close(): Unit = ()
    }
  }
}

/** Per-partition end-offset vector, JSON-serialized for the streaming
  * checkpoint log — the MemTopic analog of Kafka's per-partition offset
  * map. */
private[sources] case class MemTopicOffset(ends: Seq[Long]) extends Offset {
  override def json: String = ends.mkString("[", ",", "]")
}

/** The LIVE form of the bounded O4 scan: a DSv2 MicroBatchStream over
  * the topic. Each micro-batch covers (start, latest] per partition —
  * offsets advance monotonically, restarts resume from the committed
  * checkpoint offset (deserializeOffset), and `Trigger.AvailableNow`
  * (Spark's wrapper) pins `latestOffset` once at query start so a
  * bounded run terminates — the principled replacement for the
  * reference's 5s-idle drain heuristic, now on the streaming path too.
  * Swap the provider class for "kafka" and the same plan runs against
  * a broker. */
private[sources] class MemTopicMicroBatchStream(topic: String)
    extends MicroBatchStream {
  private val nParts = MemTopic.numPartitions(topic)

  override def initialOffset(): Offset = MemTopicOffset(Seq.fill(nParts)(0L))

  override def latestOffset(): Offset =
    MemTopicOffset((0 until nParts).map(p => MemTopic.endOffset(topic, p)))

  override def deserializeOffset(json: String): Offset = {
    val ends = json.stripPrefix("[").stripSuffix("]").split(",")
      .filter(_.nonEmpty).map(_.trim.toLong).toSeq
    if (ends.length != nParts)
      throw new IllegalStateException(s"topic '$topic' has $nParts " +
        s"partitions but the checkpointed offsets $json have ${ends.length}")
    MemTopicOffset(ends)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MemTopicOffset].ends
    val e = end.asInstanceOf[MemTopicOffset].ends
    (0 until nParts).map { p =>
      MemTopicInputPartition(topic, p, s(p), e(p)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    MemTopicReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class MemTopicInputPartition(
    topic: String, part: Int, start: Long, end: Long) extends InputPartition

/** Task writers BUFFER; rows only reach the topic in driver-side
  * `commit` — a retried/speculated task's uncommitted buffer is simply
  * dropped (abort), so the sink is effectively-once per job. Each task
  * sticks to one topic partition (taskPartitionId mod topicPartitions),
  * preserving within-task row order like Kafka's per-partition order. */
private[sources] class MemTopicBatchWrite(topic: String, valueIdx: Int)
    extends BatchWrite {
  private val nParts = MemTopic.numPartitions(topic)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new MemTopicWriterFactory(nParts, valueIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach { case MemTopicCommit(part, values) =>
      MemTopic.append(topic, part, values)
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class MemTopicCommit(part: Int, values: Seq[String])
    extends WriterCommitMessage

private[sources] class MemTopicWriterFactory(nParts: Int, valueIdx: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = ArrayBuffer.empty[String]
      override def write(record: InternalRow): Unit =
        buf += record.getUTF8String(valueIdx).toString
      override def commit(): WriterCommitMessage =
        MemTopicCommit(partitionId % nParts, buf.toSeq)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

/** The topic transport behind the same [[RecordSource]]/[[RecordSink]]
  * traits the file and Kafka legs use. */
final case class MemTopicRecordSource(topic: String) extends RecordSource {
  def load(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.format(classOf[MemTopicProvider].getName)
      .option("topic", topic).load()
      .select(col("value").as("line"))
  }
}

/** Streaming read of the topic (MicroBatchStream) behind the same
  * [[StreamRecordSource]] trait as the file and Kafka streaming legs. */
final case class MemTopicStreamSource(topic: String) extends StreamRecordSource {
  def loadStream(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.readStream.format(classOf[MemTopicProvider].getName)
      .option("topic", topic).load()
      .select(col("value").as("line"))
  }
}

final case class MemTopicRecordSink(topic: String) extends RecordSink {
  def save(df: DataFrame): Unit =
    df.select(org.apache.spark.sql.functions.col("line").cast("string").as("value"))
      .write.format(classOf[MemTopicProvider].getName)
      .option("topic", topic).mode("append").save()
}

package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** An in-process topic: partitioned append-only logs of `value` bytes, each
  * record stamped with the System.nanoTime at which it was appended. */
final class Topic(val partitions: Int) {
  private val values = Array.fill(partitions)(ArrayBuffer.empty[Array[Byte]])
  private val stamps = Array.fill(partitions)(ArrayBuffer.empty[Long])
  private var next = 0

  def append(bytes: Array[Byte], partition: Int): Unit = {
    val now = System.nanoTime()
    synchronized {
      values(partition) += bytes; stamps(partition) += now
      notifyAll()
    }
  }

  /** Producer side of a handover: the whole batch becomes visible at once,
    * spread round-robin over the partitions. */
  def appendAll(batch: Seq[Array[Byte]]): Long = synchronized {
    val now = System.nanoTime()
    batch.foreach { b =>
      next = (next + 1) % partitions
      values(next) += b; stamps(next) += now
    }
    notifyAll()
    now
  }

  def ends: Array[Long] = synchronized(values.map(_.size.toLong))

  def slice(p: Int, from: Long, until: Long): (Array[Array[Byte]], Array[Long]) = synchronized {
    (values(p).slice(from.toInt, until.toInt).toArray, stamps(p).slice(from.toInt, until.toInt).toArray)
  }

  /** Records appended to any partition after `seen` (per-partition counts),
    * waiting up to `waitMs` for at least one. Advances `seen`. */
  def poll(seen: Array[Long], waitMs: Long): Seq[(Array[Byte], Long)] = synchronized {
    def fresh = (0 until partitions).exists(p => values(p).size > seen(p))
    if (!fresh && waitMs > 0) wait(waitMs)
    (0 until partitions).flatMap { p =>
      val out = (seen(p).toInt until values(p).size).map(i => values(p)(i) -> stamps(p)(i))
      seen(p) = values(p).size
      out
    }
  }
}

object Topics {
  private val all = new ConcurrentHashMap[String, Topic]()
  val Partitions: Int = Runtime.getRuntime.availableProcessors()
  def apply(name: String): Topic = all.computeIfAbsent(name, _ => new Topic(Partitions))
  def reset(): Unit = all.clear()
  private val originNanos = System.nanoTime()
  private val originMicros = System.currentTimeMillis() * 1000L
  /** A record's nanoTime stamp as epoch microseconds (Kafka's create time). */
  def epochMicros(stampNanos: Long): Long = originMicros + (stampNanos - originNanos) / 1000L
}

/** Stand-in for the Kafka connector, registered under the `kafka` format
  * name (META-INF/services), so `KafkaIO` and `StreamRunner.run` drive it
  * unchanged. It reads the `subscribe` topic with Kafka's source schema and
  * writes the `value` column of each row to the `topic` topic, bytes
  * unchanged, stamping each row's arrival time. The bootstrap servers
  * option is accepted and ignored. */
class StandInKafka extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = StandInKafka.schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new StandInKafka.KafkaTable(schema)
}

object StandInKafka {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  final class KafkaTable(tableSchema: StructType) extends Table with SupportsRead with SupportsWrite {
    override def name(): String = "standin-kafka"
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE).asJava

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
      override def readSchema(): StructType = StandInKafka.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new Stream(options.get("subscribe"))
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val topic = info.options().get("topic")
      val idx = info.schema().fieldIndex("value")
      val isString = info.schema()(idx).dataType == StringType
      new WriteBuilder {
        override def build(): Write = new Write {
          override def toStreaming: StreamingWrite = new StreamingWrite {
            override def createStreamingWriterFactory(p: PhysicalWriteInfo) =
              new WriterFactory(topic, idx, isString)
            override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
            override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
  }

  /** Per-partition end offsets; Spark compares offsets by their JSON. */
  final class Ends(val ends: Array[Long]) extends Offset {
    override def json(): String = ends.mkString("[", ",", "]")
  }

  final case class Slice(topic: String, partition: Int, from: Long, until: Long) extends InputPartition

  final class Stream(topic: String) extends MicroBatchStream {
    private val t = Topics(topic)
    override def initialOffset(): Offset = new Ends(Array.fill(t.partitions)(0L))
    override def latestOffset(): Offset = new Ends(t.ends)
    override def deserializeOffset(json: String): Offset =
      new Ends(json.stripPrefix("[").stripSuffix("]").split(",").filter(_.nonEmpty).map(_.trim.toLong))
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[Ends].ends
      val e = end.asInstanceOf[Ends].ends
      e.indices.filter(p => e(p) > s(p)).map(p => Slice(topic, p, s(p), e(p)): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = new ReaderFactory
  }

  final class ReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val s = partition.asInstanceOf[Slice]
      val (values, stamps) = Topics(s.topic).slice(s.partition, s.from, s.until)
      val topicName = UTF8String.fromString(s.topic)
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < values.length }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](null, values(i),
          topicName, s.partition, s.from + i, Topics.epochMicros(stamps(i)), 0))
        override def close(): Unit = ()
      }
    }
  }

  final class WriterFactory(topic: String, idx: Int, isString: Boolean)
      extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val t = Topics(topic)
        override def write(row: InternalRow): Unit =
          if (!row.isNullAt(idx))
            t.append(if (isString) row.getUTF8String(idx).getBytes else row.getBinary(idx), partitionId % t.partitions)
        override def commit(): WriterCommitMessage = new WriterCommitMessage {}
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}

package graft.sources

import graft.functions.BinaryRecordDecode
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** In-tree Kafka-SHAPED DataSource V2 test source (`format("kafka-test")`).
  *
  * The image has no broker and no Kafka connector jar, so the reference's
  * core produce→consume property — `RecordStreamSpec`'s round trip, including
  * the pause/resume-under-small-buffer case
  * (/root/reference/src/it/scala/RecordStreamSpec.scala:91-143, :106-118) —
  * cannot run against real Kafka here. This source closes that gap
  * engine-side: it emits the EXACT schema of the real Kafka source
  * (`key, value, topic, partition, offset, timestamp, timestampType`) from a
  * deterministic simulated log, with the three control points the reference
  * semantics depend on:
  *
  *  - **partitions/offsets (A1/A8)**: `partitions` × `recordsPerPartition`
  *    records; each partition is a dense offset sequence 0..n-1, keys are
  *    partition-sticky (as a key-hash router guarantees), so per-key order ≡
  *    per-partition offset order — the invariant latest-by-key relies on.
  *  - **backpressure (A7)**: `maxOffsetsPerTrigger` bounds records admitted
  *    per micro-batch via `SupportsAdmissionControl` — the engine-level
  *    analogue of the reference's `partitionOutputBufferSize` pause/resume
  *    (settings.scala:12, RecordStream.scala:110-150): the consumer never
  *    holds more than the bound in flight, and a log longer than the buffer
  *    drains over multiple batches without loss or duplication.
  *  - **offset recovery (A6/A22)**: stream offsets serialize to the
  *    checkpoint; a restarted query resumes from the committed per-partition
  *    offsets, never redelivering (KafkaTestSourceSpec pins this with a
  *    mid-log restart against the batch oracle).
  *
  * Record content is a pure function of (partition, offset): the key is the
  * UTF-8 user id, the value is the scodec wire format
  * ([[graft.functions.BinaryRecordDecode]], A26) — so the full envelope
  * decode → latest-by-key pipeline runs on it unmodified. `BATCH_READ` over
  * the same log is the oracle side: stream result must equal batch result.
  *
  * Scale note: this is a TEST source (bounded, generated), but it is shaped
  * like the real one — one `InputPartition` per topic partition, reader
  * streams rows without materializing the log, admission control bounds
  * per-batch memory. The production path is the real Kafka connector behind
  * the same [[Sources.kafkaStream]] options.
  */
object KafkaTestSource {

  /** The Kafka source's exact read schema. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** 2026-01-01T00:00:00Z in epoch micros; record timestamp = base + offset
    * seconds (CreateTime semantics, timestampType 0).
    */
  val TimestampBaseMicros: Long = 1767225600000000L

  /** Partition-sticky user id for (partition, offset): partition p owns
    * the ids from p × stride, stride = max(1000, keysPerPartition), so no
    * two partitions share a key (ids for ≤ 1000 keys per partition are
    * p × 1000 + offset % keysPerPartition).
    */
  def uid(partition: Int, offset: Long, keysPerPartition: Int): Long =
    partition.toLong * math.max(1000L, keysPerPartition.toLong) +
      (offset % keysPerPartition)

  /** Deterministic payload fields for (partition, offset). */
  def eventType(offset: Long): String = "e" + (offset % 3)
  def payloadK(partition: Int, offset: Long): Int =
    partition * 100000 + (offset * 7).toInt

  private[sources] def row(topic: String, partition: Int, offset: Long,
      keysPerPartition: Int): InternalRow = {
    val key = uid(partition, offset, keysPerPartition).toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val value = BinaryRecordDecode.encode(
      eventType(offset), payloadK(partition, offset), offset % 2 == 0)
    new GenericInternalRow(Array[Any](
      key, value, UTF8String.fromString(topic), partition, offset,
      TimestampBaseMicros + offset * 1000000L, 0))
  }
}

private[sources] final case class KafkaTestConfig(topic: String, partitions: Int,
    recordsPerPartition: Long, keysPerPartition: Int, startingOffset: Long,
    maxOffsetsPerTrigger: Option[Long])

private[sources] object KafkaTestConfig {
  def from(options: CaseInsensitiveStringMap): KafkaTestConfig = {
    val keysPerPartition = options.getInt("keysPerPartition", 5)
    require(keysPerPartition >= 1,
      s"kafka-test keysPerPartition must be at least 1, got $keysPerPartition")
    KafkaTestConfig(
      topic = options.getOrDefault("topic", "test-topic"),
      partitions = options.getInt("partitions", 2),
      recordsPerPartition = options.getLong("recordsPerPartition", 10L),
      keysPerPartition = keysPerPartition,
      startingOffset = options.getLong("startingOffset", 0L),
      maxOffsetsPerTrigger =
        Option(options.get("maxOffsetsPerTrigger")).map(_.toLong))
  }
}

/** Per-partition offsets; `json` is the checkpointed form (A6). */
private[sources] final case class KafkaTestOffset(offsets: Map[Int, Long])
    extends Offset {
  override def json: String = offsets.toSeq.sortBy(_._1)
    .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

private[sources] object KafkaTestOffset {
  private val Entry = """"(\d+)"\s*:\s*(\d+)""".r
  def fromJson(s: String): KafkaTestOffset =
    KafkaTestOffset(Entry.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

private[sources] final case class KafkaTestInputPartition(topic: String,
    partition: Int, start: Long, end: Long, keysPerPartition: Int)
    extends InputPartition

private[sources] class KafkaTestReaderFactory extends PartitionReaderFactory {
  override def createReader(ip: InputPartition): PartitionReader[InternalRow] = {
    val kip = ip.asInstanceOf[KafkaTestInputPartition]
    new PartitionReader[InternalRow] {
      private var offset = kip.start - 1
      override def next(): Boolean = { offset += 1; offset < kip.end }
      override def get(): InternalRow =
        KafkaTestSource.row(kip.topic, kip.partition, offset, kip.keysPerPartition)
      override def close(): Unit = ()
    }
  }
}

private[sources] class KafkaTestBatch(cfg: KafkaTestConfig) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    (0 until cfg.partitions).map(p => KafkaTestInputPartition(cfg.topic, p,
      cfg.startingOffset, cfg.recordsPerPartition, cfg.keysPerPartition): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaTestReaderFactory
}

private[sources] class KafkaTestMicroBatchStream(cfg: KafkaTestConfig)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def logEnd: Long = cfg.recordsPerPartition

  override def initialOffset(): Offset =
    KafkaTestOffset((0 until cfg.partitions).map(_ -> cfg.startingOffset).toMap)

  // with SupportsAdmissionControl the engine calls the 2-arg form; the real
  // Kafka source throws here too
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def getDefaultReadLimit: ReadLimit =
    cfg.maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Advance each partition by its share of the admitted rows. An even split
    * (min 1) stands in for the real source's lag-proportional split — the
    * test log is uniform, so they coincide; what the spec pins is the BOUND
    * (per-batch admitted ≤ limit) and loss-free multi-batch drain.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KafkaTestOffset].offsets
    val next = limit match {
      case _: ReadAllAvailable => s.map { case (p, o) => p -> logEnd.max(o) }
      case mr: ReadMaxRows =>
        val perPartition = (mr.maxRows() / cfg.partitions).max(1L)
        s.map { case (p, o) => p -> math.min(logEnd, o + perPartition).max(o) }
      case _ => s.map { case (p, o) => p -> logEnd.max(o) }
    }
    KafkaTestOffset(next)
  }

  override def deserializeOffset(json: String): Offset =
    KafkaTestOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaTestOffset].offsets
    val e = end.asInstanceOf[KafkaTestOffset].offsets
    e.toSeq.sortBy(_._1).flatMap { case (p, hi) =>
      val lo = s.getOrElse(p, cfg.startingOffset)
      if (hi > lo)
        Some(KafkaTestInputPartition(cfg.topic, p, lo, hi, cfg.keysPerPartition): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaTestReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] class KafkaTestTable extends Table with SupportsRead {
  override def name(): String = "kafka-test"
  override def schema(): StructType = KafkaTestSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val cfg = KafkaTestConfig.from(options)
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = KafkaTestSource.schema
      override def toBatch: Batch = new KafkaTestBatch(cfg)
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new KafkaTestMicroBatchStream(cfg)
      override def description(): String =
        s"kafka-test topic=${cfg.topic} partitions=${cfg.partitions}"
    }
  }
}

/** `format("kafka-test")` provider (registered via META-INF/services). */
class KafkaTestSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka-test"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaTestSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new KafkaTestTable
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Subscription ADT — mirror of the reference's
  * `Subscription.Topics/Pattern` (/root/reference/src/main/scala/com/iravid/
  * fs2/kafka/client/Subscription.scala:5-6), mapped onto the Kafka source's
  * `subscribe` / `subscribePattern` options.
  */
sealed trait Subscription
object Subscription {
  final case class Topics(topics: List[String]) extends Subscription
  final case class Pattern(pattern: String) extends Subscription
}

/** Source builders (reference A1/A2/A5/A6/A7).
  *
  * The reference's entire consumer runtime — poll loop, rebalance handling,
  * per-partition demux queues, pause/resume backpressure
  * (client/RecordStream.scala:64-192) — is Spark's micro-batch machinery:
  *  - poll cadence (`settings.pollInterval`) → `Trigger.ProcessingTime`
  *  - backpressure bound (`partitionOutputBufferSize`) → `maxOffsetsPerTrigger`
  *  - offset recovery on assign (A6) → checkpoint restore / `startingOffsets`
  *  - rebalance (A9) → internal to the Kafka source across micro-batches.
  *
  * NOTE: the Kafka connector jar (spark-sql-kafka-0-10) is not in this
  * image's /opt/spark/jars and there is no broker, so `kafka*` builders are
  * compile-checked wiring: option construction is unit-tested, the running
  * streaming paths are exercised through file streams (same micro-batch
  * engine, same stateful operators).
  */
object Sources {

  /** Streaming Kafka source (A1/A2). Partitioned view (A1) = the built-in
    * `partition` column; group by it for partition-scoped processing.
    */
  def kafkaStream(spark: SparkSession, bootstrapServers: String,
      subscription: Subscription, startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("startingOffsets", startingOffsets)
    val subscribed = subscription match {
      case Subscription.Topics(ts) => base.option("subscribe", ts.mkString(","))
      case Subscription.Pattern(p) => base.option("subscribePattern", p)
    }
    maxOffsetsPerTrigger.fold(subscribed)(n =>
      subscribed.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** Batch Kafka scan over an offset range (offset-recovery analogue, A6). */
  def kafkaBatch(spark: SparkSession, bootstrapServers: String,
      subscription: Subscription, startingOffsets: String = "earliest",
      endingOffsets: String = "latest"): DataFrame = {
    val base = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("startingOffsets", startingOffsets)
      .option("endingOffsets", endingOffsets)
    (subscription match {
      case Subscription.Topics(ts) => base.option("subscribe", ts.mkString(","))
      case Subscription.Pattern(p) => base.option("subscribePattern", p)
    }).load()
  }

  /** Kafka-SHAPED in-tree test stream ([[KafkaTestSource]]): exact Kafka
    * schema from a deterministic simulated log, with real per-partition
    * offsets, admission-control backpressure and checkpointed offset
    * recovery. The broker-free executable form of the reference round-trip
    * property (RecordStreamSpec.scala:91-143).
    */
  def kafkaTestStream(spark: SparkSession, topic: String, partitions: Int,
      recordsPerPartition: Long, maxOffsetsPerTrigger: Option[Long] = None,
      startingOffset: Long = 0L): DataFrame = {
    val base = spark.readStream.format("kafka-test")
      .option("topic", topic)
      .option("partitions", partitions.toString)
      .option("recordsPerPartition", recordsPerPartition.toString)
      .option("startingOffset", startingOffset.toString)
    maxOffsetsPerTrigger.fold(base)(n =>
      base.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** Batch scan of the same simulated log — the oracle side of the stream ≡
    * batch property (and the A6 offset-range read: `startingOffset` skips the
    * log prefix exactly as `startingOffsets` does on the real source).
    */
  def kafkaTestBatch(spark: SparkSession, topic: String, partitions: Int,
      recordsPerPartition: Long, startingOffset: Long = 0L): DataFrame =
    spark.read.format("kafka-test")
      .option("topic", topic)
      .option("partitions", partitions.toString)
      .option("recordsPerPartition", recordsPerPartition.toString)
      .option("startingOffset", startingOffset.toString)
      .load()

  /** File-based replay stream: the broker-free stand-in used by all
    * streaming tests (same engine, same semantics). `maxFilesPerTrigger`
    * plays the backpressure bound.
    */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Rate source for load tests. */
  def rate(spark: SparkSession, rowsPerSecond: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()

  /** CSV batch scan with explicit schema (no inference pass — at 100 TB an
    * inference scan is a full extra read of the data).
    */
  def csvBatch(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** JSON-lines batch scan with explicit schema. */
  def jsonBatch(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV scan with an in-stream error channel (reference A3 semantics for
    * file sources): malformed rows survive as NULL-field rows carrying the
    * raw line in `_corrupt_record` instead of killing the job or being
    * silently dropped — at 100 TB a format error thousands of files in
    * must be quarantined, not fatal. PERMISSIVE is Spark-native (no
    * per-row UDF); downstream routes on `_corrupt_record IS NULL`.
    */
  def csvBatchWithErrors(spark: SparkSession, path: String,
      schema: StructType, header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** ORC batch scan — the other columnar format Spark ships natively.
    * Like parquet it carries its own schema, supports predicate pushdown
    * and column pruning, and splits by stripe, so every plan-shape
    * property PlanSpec pins for parquet holds for ORC sources too.
    */
  def orcBatch(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}

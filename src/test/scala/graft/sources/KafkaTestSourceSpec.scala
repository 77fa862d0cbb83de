package graft.sources

import graft.TestSpark
import graft.functions.BinaryRecordDecode
import graft.operators.LatestByKey
import graft.streaming.{Event, LatestByKeyStream, LatestRow}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The reference's produce→consume round-trip property, broker-free
  * (/root/reference/src/it/scala/RecordStreamSpec.scala:91-143): every
  * record in the simulated Kafka log is delivered exactly once through the
  * streaming engine, a buffer smaller than the log drains over multiple
  * bounded micro-batches (:106-118, the pause/resume case), and a mid-log
  * restart resumes from the committed offsets — with the full envelope
  * decode → latest-by-key pipeline matching the batch oracle (A1/A5/A6/A7,
  * A22 replay determinism).
  */
class KafkaTestSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Envelope decode (A26/A3): scodec wire format → typed changelog. */
  private def decoded(df: DataFrame): Dataset[Event] = {
    import spark.implicits._
    val r = BinaryRecordDecode.decode(col("value"))
    df.select(
      col("offset").as("event_id"),
      col("key").cast("string").cast("long").as("user_id"),
      r.getField("i").as("event_type"),
      (r.getField("k") / lit(100.0)).as("value")).as[Event]
  }

  private def latestMap(df: DataFrame): Map[Long, (String, Double, Long)] =
    LatestByKey.materialize(df, "user_id", "event_id", Seq("event_type", "value"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap

  test("batch read emits the exact Kafka connector schema over a dense per-partition log") {
    val df = Sources.kafkaTestBatch(spark, "t", partitions = 3, recordsPerPartition = 7)
    assert(df.schema == KafkaTestSource.schema,
      s"schema must be the Kafka source's, field for field: ${df.schema.treeString}")
    val rows = df.select("partition", "offset", "timestampType").collect()
    assert(rows.length == 21)
    val byPart = rows.groupBy(_.getInt(0))
    assert(byPart.keySet == Set(0, 1, 2))
    byPart.values.foreach(rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0L until 7L), "dense offsets"))
    assert(rows.forall(_.getInt(2) == 0), "CreateTime timestampType")
    // keys are partition-sticky, as a key-hash router guarantees
    df.select(col("partition"), col("key").cast("string").cast("long")).collect()
      .foreach(r => assert(r.getLong(1) / 1000 == r.getInt(0).toLong))
  }

  test("more than 1000 keys per partition stay partition-disjoint; fewer than 1 is rejected") {
    def read(keys: Int) = spark.read.format("kafka-test")
      .option("partitions", "2").option("recordsPerPartition", "2000")
      .option("keysPerPartition", keys.toString).load()
    val keysOf = read(1500)
      .select(col("partition"), col("key").cast("string").cast("long"))
      .collect().groupBy(_.getInt(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    assert(keysOf.keySet == Set(0, 1))
    assert(keysOf.values.forall(_.size == 1500))
    assert((keysOf(0) & keysOf(1)).isEmpty,
      "a key must belong to exactly one partition")
    val e = intercept[Exception](read(0).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("keysPerPartition")))
  }

  test("startingOffset skips the log prefix (the A6 offset-range read)") {
    val df = Sources.kafkaTestBatch(spark, "t", partitions = 2,
      recordsPerPartition = 6, startingOffset = 4)
    val offs = df.select("partition", "offset").collect()
      .groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted.toSeq }
    assert(offs == Map(0 -> Seq(4L, 5L), 1 -> Seq(4L, 5L)))
  }

  test("streamed delivery equals the batch log, each record exactly once (round trip)") {
    val ckpt = Files.createTempDirectory("graft-kts-rt").toString
    val seen = new ConcurrentLinkedQueue[(Int, Long)]()
    val q = Sources.kafkaTestStream(spark, "t", partitions = 3, recordsPerPartition = 20)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: Dataset[Row], _: Long) =>
        df.select("partition", "offset").collect()
          .foreach(r => seen.add((r.getInt(0), r.getLong(1))))
      }
      .start()
    q.processAllAvailable(); q.stop()
    val got = seen.asScala.toSeq
    assert(got.size == got.distinct.size, "no record delivered twice")
    val expected = Sources.kafkaTestBatch(spark, "t", 3, 20)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got.toSet == expected, "every produced record consumed")
  }

  test("log longer than the buffer drains over multiple bounded micro-batches (A7)") {
    // reference: 'handle data lengths bigger than the buffer size'
    // (RecordStreamSpec.scala:106-118) — buffer 6 against 2 partitions x 10
    val ckpt = Files.createTempDirectory("graft-kts-bp").toString
    val perEpoch = TrieMap.empty[Long, Seq[(Int, Long)]]
    val q = Sources.kafkaTestStream(spark, "t", partitions = 2,
      recordsPerPartition = 10, maxOffsetsPerTrigger = Some(6))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: Dataset[Row], epoch: Long) =>
        perEpoch(epoch) = df.select("partition", "offset").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq
      }
      .start()
    q.processAllAvailable(); q.stop()
    val all = perEpoch.values.flatten.toSeq
    assert(all.size == 20 && all.distinct.size == 20, "loss- and duplicate-free drain")
    val nonEmpty = perEpoch.values.count(_.nonEmpty)
    assert(nonEmpty >= 4, s"10/partition at 3/partition/trigger needs >= 4 batches, got $nonEmpty")
    perEpoch.values.foreach { rs =>
      assert(rs.size <= 6, "admitted rows per micro-batch bounded by the buffer")
      rs.groupBy(_._1).values.foreach(g =>
        assert(g.size <= 3, "per-partition admission is the even split"))
    }
    // per-partition offset order is preserved across micro-batches
    perEpoch.toSeq.sortBy(_._1)
      .flatMap { case (e, rs) => rs.map { case (p, o) => (p, e, o) } }
      .groupBy(_._1).values.foreach { g =>
        val inEpochOrder = g.sortBy(t => (t._2, t._3)).map(_._3)
        assert(inEpochOrder == inEpochOrder.sorted, "offsets non-decreasing across epochs")
      }
  }

  test("restart delivers only the unconsumed log suffix (A6 offset recovery)") {
    val ckpt = Files.createTempDirectory("graft-kts-restart").toString
    def run(recordsPerPartition: Long): Seq[(Int, Long)] = {
      val seen = new ConcurrentLinkedQueue[(Int, Long)]()
      val q = Sources.kafkaTestStream(spark, "t", partitions = 2,
        recordsPerPartition = recordsPerPartition)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          df.select("partition", "offset").collect()
            .foreach(r => seen.add((r.getInt(0), r.getLong(1))))
        }
        .start()
      q.processAllAvailable(); q.stop()
      seen.asScala.toSeq
    }
    val first = run(4)   // log ends at offset 4: consume + checkpoint
    val second = run(10) // the log grew: resume from the checkpoint
    assert(first.toSet == (0 until 2).flatMap(p => (0L until 4L).map(p -> _)).toSet)
    assert(second.forall(_._2 >= 4L), s"redelivered: ${second.filter(_._2 < 4L)}")
    assert((first ++ second).toSet ==
      (0 until 2).flatMap(p => (0L until 10L).map(p -> _)).toSet)
    assert((first ++ second).size == 20, "exactly-once across the restart")
  }

  test("envelope -> latest-by-key across a mid-log restart equals the batch oracle (A22)") {
    val ckpt = Files.createTempDirectory("graft-kts-latest").toString
    val acc = TrieMap.empty[Long, LatestRow]
    def run(recordsPerPartition: Long): Unit = {
      val stream = Sources.kafkaTestStream(spark, "t", partitions = 2,
        recordsPerPartition = recordsPerPartition)
      val q = LatestByKeyStream.latestTable(decoded(stream))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: Dataset[LatestRow], _: Long) =>
          ds.collect().foreach(r => acc(r.user_id) = r)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run(4)   // first slice of the log, then stop (state + offsets checkpointed)
    run(10)  // restart: fold the rest on top of the recovered state
    val expected = latestMap(
      decoded(Sources.kafkaTestBatch(spark, "t", 2, 10)).toDF())
    assert(acc.size == expected.size)
    expected.foreach { case (k, (et, v, id)) =>
      val got = acc(k)
      assert((got.last_event_type, got.last_value, got.last_event_id) == ((et, v, id)),
        s"key $k")
    }
  }
}

package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Sink builders (reference A12).
  *
  * The reference's producer surfaces a per-record broker ack
  * (`ProducerResult`, client/Producer.scala:37-55); Spark replaces that with
  * epoch-commit semantics — the checkpoint's sink commit log marks a batch
  * durable, which is the property the reference actually uses acks for
  * (its own tests assert by re-consuming, RecordStreamSpec.scala:30-51).
  * Explicit partition/timestamp routing (Producer.produce args) becomes
  * `partition`/`timestamp` columns on the sink DataFrame.
  */
object Sinks {

  /** Kafka sink: expects key/value (binary or string) columns; `topic` may
    * instead be a per-row column for dynamic routing. Connector jar not in
    * this image — compile-checked wiring, see Sources scaladoc.
    */
  def kafka(df: DataFrame, bootstrapServers: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Kafka headers shape check (nullability-insensitive): the sink reads
    * `ARRAY<STRUCT<key STRING, value BINARY>>`.
    */
  private def isKafkaHeadersType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(StructType(Array(k, v)), _) =>
        k.name == "key" && k.dataType == StringType &&
          v.name == "value" && v.dataType == BinaryType
      case _ => false
    }
  }

  /** Project arbitrary columns into the Kafka writer's column contract — the
    * engine form of the reference's `Producer.toProducerRecord`
    * (/root/reference/src/main/scala/com/iravid/fs2/kafka/client/
    * Producer.scala:22-35: encoded key/value bytes + explicit topic,
    * partition, headers). Spark's Kafka sink is column-driven: it reads
    * EXACTLY `key BINARY, value BINARY, topic STRING, partition INT,
    * headers ARRAY<STRUCT<key STRING, value BINARY>>` from the frame —
    * per-row `topic`/`partition` are the dynamic-routing form of the
    * produce() arguments (a fixed topic can instead ride the `topic`
    * option on [[kafka]]). String key/value are cast to binary here, other
    * types must be encoded explicitly (e.g. BinaryRecordEncode) — silent
    * stringification of a struct would corrupt the wire format.
    *
    * The reference's explicit record `timestamp` argument has no sink
    * column in Spark — the producer stamps send time (CreateTime) or the
    * broker stamps append time; a required event time belongs INSIDE the
    * value payload. Per-record acks are likewise replaced by epoch commits
    * (see object scaladoc).
    */
  def kafkaRecords(df: DataFrame, key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      topic: org.apache.spark.sql.Column,
      partition: Option[org.apache.spark.sql.Column] = None,
      headers: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = Seq(
      key.cast(BinaryType).as("key"),
      value.cast(BinaryType).as("value"),
      topic.as("topic")) ++
      partition.map(_.cast(IntegerType).as("partition")).toSeq ++
      headers.map(_.as("headers")).toSeq
    val out = df.select(cols: _*)
    val s = out.schema
    require(s("topic").dataType == StringType,
      s"topic column must be STRING, got ${s("topic").dataType.sql}")
    headers.foreach { _ =>
      require(isKafkaHeadersType(s("headers").dataType),
        s"headers must be ARRAY<STRUCT<key STRING, value BINARY>>, got ${s("headers").dataType.sql}")
    }
    out
  }

  /** Parquet file sink (append). */
  def parquet(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    df.writeStream.format("parquet").option("path", path)
      .option("checkpointLocation", checkpoint).trigger(trigger)

  /** Named in-memory table (tests / interactive). */
  def memory[T](ds: Dataset[T], name: String, outputMode: String): DataStreamWriter[T] =
    ds.writeStream.format("memory").queryName(name).outputMode(outputMode)

  /** foreachBatch escape hatch (reference users' `evalMap` analogue). */
  def foreachBatch[T](ds: Dataset[T])(f: (Dataset[T], Long) => Unit): DataStreamWriter[T] =
    ds.writeStream.foreachBatch(f)

  /** Hive-style partitioned parquet layout: one directory per partition
    * value, so a filter on the partition column prunes whole directories at
    * PLANNING time (PartitionFilters — zero I/O for excluded partitions).
    * The standard layout for 100 TB facts partitioned by date/tenant/lang;
    * pair with `spark.sql.files.maxPartitionBytes` so each surviving file
    * splits into right-sized tasks. PartitionedWriteSpec pins the pruning.
    */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) right-sized files. Streaming sinks emit one
    * file per partition per micro-batch, so a week of 1-minute triggers
    * turns a table into 10⁵ tiny files — footer/open overhead then
    * dominates every scan and the NameNode/listing cost grows unbounded.
    * Compaction is the standing maintenance job every 100 TB table runs.
    *
    * A Hive-partitioned layout (`col=value/` subdirectories) is compacted
    * PER LEAF PARTITION, so directory structure — and the planning-time
    * pruning that rides on it — is preserved; a flat rewrite would demote
    * the partition columns to data columns and break every path-addressed
    * reader (e.g. the bucket-pruned materialized-view upsert above).
    *
    * Swap protocol per leaf: write to a DOT-prefixed sibling staging dir
    * (hidden from Hadoop/Spark listings, so discovery never sees phantom
    * partitions), rename the live dir aside, rename staging into place,
    * delete the old data. Each
    * rename is atomic (posix/HDFS), but between the two renames the path
    * briefly resolves to nothing — readers racing that window fail fast
    * and retry rather than seeing mixed data. Crash recovery on entry, at
    * every directory level: a run that died INSIDE that window leaves the
    * live dir absent and its data in the hidden `.old` — that `.old` is
    * RESTORED (renamed back into place), never deleted; only then are
    * stale `.tmp` staging dirs dropped. A `.old` found NEXT TO a live dir
    * means the swap completed and the crash hit before cleanup, so
    * dropping it is safe. Partition discovery itself skips `.`/`_`
    * prefixed names, so staging leftovers are never compacted as phantom
    * leaves. This makes the operation self-recovering and re-runnable
    * after a crash at any point in the protocol.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    // Crash recovery: a prior run that died between rename(dir, old) and
    // rename(tmp, dir) left the live dir ABSENT and its data in the hidden
    // `.old`. Restoring (not deleting) that `.old` is what makes a re-run
    // safe — deleting it would strand the partition's data forever.
    def restoreIfCrashed(dir: org.apache.hadoop.fs.Path): Unit = {
      val old = new org.apache.hadoop.fs.Path(
        dir.getParent, "." + dir.getName + ".compact.old")
      if (!fs.exists(dir) && fs.exists(old))
        require(fs.rename(old, dir), s"compact: could not restore $old to $dir")
    }
    restoreIfCrashed(root) // non-partitioned root swapped aside by a crash
    // descend into Hive partition subdirs (name contains '='), compacting
    // each leaf directory that actually holds files. Dot/underscore names
    // are NEVER leaves — they are staging leftovers (`.x=1.compact.old`)
    // or metadata (`_SUCCESS`); compacting one as a phantom partition would
    // shadow the real partition it staged. Orphaned `.old` dirs whose live
    // partition is missing are restored before the level is listed.
    def leaves(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val suffix = ".compact.old"
      fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith(".") && n.endsWith(suffix))
          restoreIfCrashed(new org.apache.hadoop.fs.Path(
            dir, n.substring(1, n.length - suffix.length)))
      }
      val parts = fs.listStatus(dir).filter { s =>
        val n = s.getPath.getName
        s.isDirectory && n.contains("=") &&
          !n.startsWith(".") && !n.startsWith("_")
      }
      if (parts.isEmpty) Seq(dir) else parts.flatMap(s => leaves(s.getPath)).toSeq
    }
    leaves(root).map { dir =>
      // DOT-prefixed siblings: Hadoop/Spark listings skip paths starting
      // with '.' or '_', so a reader racing the swap (or a crash leftover)
      // never sees the staging dirs as phantom partitions.
      def hidden(suffix: String) = new org.apache.hadoop.fs.Path(
        dir.getParent, "." + dir.getName + suffix)
      val tmp = hidden(".compact.tmp")
      val old = hidden(".compact.old")
      fs.delete(tmp, true) // stale staging from a crashed prior run
      // here the live dir exists (leaves() restored any orphaned .old), so
      // a surviving .old is post-swap leftover — dropping it is safe
      fs.delete(old, true)
      val bytes = fs.getContentSummary(dir).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      spark.read.parquet(dir.toString).repartition(nFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(dir, old), s"compact: could not stage $dir aside")
      require(fs.rename(tmp, dir), s"compact: could not swap $tmp into place")
      fs.delete(old, true)
      nFiles
    }.sum
  }

  /** Incremental materialized-view maintenance: merge a micro-batch of
    * changelog upserts into a key-hash-partitioned parquet snapshot —
    * the persistent, queryable form of the reference's RocksDB table
    * (`Tables.persistent`, streams/Tables.scala:110-139), maintained from
    * `foreachBatch`.
    *
    * Each row sits in bucket `pmod(xxhash64(keyCol), numBuckets)`, one
    * `__bucket=b` directory per bucket. The first upsert records that
    * layout in a [[ViewLayout]] file at the view root; an upsert whose
    * `numBuckets`, key column or key type differs from it is refused before
    * anything is written, since it would hash a stored key into a second
    * bucket and leave it there twice. A `__bucket=` view without the file
    * is refused too: it predates the layout and must be rebuilt.
    *
    * Each epoch rewrites ONLY the hash buckets the batch touches (dynamic
    * partition overwrite), so maintenance cost scales with the delta ×
    * bucket size, not the view size. The touched-bucket list is collected
    * to the driver for planning-time partition pruning — bounded by
    * `numBuckets` (a config constant), so this is IN-list pruning, not an
    * unbounded driver materialization. The merge shuffles once, on
    * `__bucket`, which also satisfies the (`__bucket`, key) grouping, and
    * sorts each partition by (`__bucket`, key), which is the writer's own
    * ordering: every touched bucket gets exactly one key-sorted file.
    * Re-running a batch after a crash rewrites the same buckets with the
    * same contents (last-write-wins by `idCol`), so the merge is idempotent
    * per epoch.
    */
  def upsertView(updates: DataFrame, viewPath: String, keyCol: String,
      idCol: String, numBuckets: Int): Unit = {
    import org.apache.spark.sql.functions._
    import ViewLayout.BucketCol
    // `__bucket` is reserved for the view's internal hash-partition column —
    // failing fast beats silently overwriting (and later dropping) user data.
    require(!updates.columns.contains(BucketCol),
      "updates must not carry a '__bucket' column (reserved by upsertView)")
    val spark = updates.sparkSession
    // existence via the Hadoop FS layer, same as the write/read side — a
    // java.io.File check silently returns false for s3a://hdfs://file:/
    // URIs, which would make every epoch overwrite (i.e. DELETE) the
    // previously stored keys of its touched buckets.
    val p = new org.apache.hadoop.fs.Path(viewPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout = ViewLayout(numBuckets, keyCol, updates.schema(keyCol).dataType)
    val hasView = fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$BucketCol="))
    val recorded = ViewLayout.read(fs, p)
    recorded.foreach(r => require(r == layout,
      s"view $viewPath has layout $r; this upsert asks for $layout"))
    require(recorded.nonEmpty || !hasView,
      s"view $viewPath has no ${ViewLayout.LayoutFile}: it was written " +
        "before views recorded their layout; rebuild the view")
    val withB = updates.withColumn(BucketCol, layout.bucket(col(keyCol)))
    // The batch lineage is consumed twice (touched-bucket collect + merge
    // write); persist so a transformWithState-derived micro-batch isn't
    // recomputed per use.
    withB.persist()
    try {
      val all = if (hasView) {
        val touched = withB.select(col(BucketCol)).distinct()
          .collect().map(_.getLong(0)).toSeq
        spark.read.parquet(viewPath)
          .filter(col(BucketCol).isin(touched: _*))
          .unionByName(withB)
      } else withB
      val payload = all.columns.filterNot(c => c == keyCol || c == BucketCol)
      val merged = all.repartition(col(BucketCol))
        .groupBy(col(BucketCol), col(keyCol))
        .agg(max_by(struct(payload.map(col): _*), col(idCol)).as("__p"))
        .select(col(BucketCol) +: col(keyCol) +: payload.map(c => col("__p").getField(c).as(c)): _*)
        .sortWithinPartitions(BucketCol, keyCol)
      // the layout goes down once the merge has analysed, before any data
      if (recorded.isEmpty) ViewLayout.write(fs, p, layout)
      // per-WRITE dynamic overwrite (the writer option overrides the
      // session conf): upsertView runs from foreachBatch, and two
      // streaming queries sharing one session could interleave a
      // session-conf save/restore and strand the session in dynamic
      // mode — turning every later static Overwrite into a merge
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol).parquet(viewPath)
    } finally withB.unpersist()
  }

  /** Read a view maintained by [[upsertView]]. A view that records its
    * [[ViewLayout]] keeps `__bucket`, carrying the layout in that column's
    * metadata, so `LatestByKey.ReadOnlyTableView` routes each key to its
    * bucket and hides the column. A view without the file drops `__bucket`.
    */
  def readView(spark: org.apache.spark.sql.SparkSession, viewPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(viewPath)
    val view = spark.read.parquet(viewPath)
    ViewLayout.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p) match {
      case Some(layout) => ViewLayout.tag(view, layout)
      case None => view.drop(ViewLayout.BucketCol)
    }
  }

  /** Bucketed managed table: co-locates data by key at WRITE time so
    * later joins/aggregations on the bucket key plan with NO exchange —
    * the pre-partitioning strategy for repeatedly-joined 100 TB facts
    * (pay one shuffle at ingest, skip it in every query after).
    */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // The in-memory catalog forgets tables across JVMs but their warehouse
    // directories survive; clear an orphaned location so CTAS can't refuse.
    if (!spark.catalog.tableExists(table)) {
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }
}

package graftbench

import graft.{Engine, Pipeline, SparkEntry}
import graft.functions.BinaryRecordDecode
import graft.operators.LatestByKey.ReadOnlyTableView
import graft.sinks.Sinks
import graft.streaming.{Event, LatestByKeyStream, LatestRow}
import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark driver for one workload in one JVM.
  *
  * A workload is a sequence of whole rounds. A round folds a changelog into
  * keyed state epoch by epoch (write phase), then serves point lookups,
  * multi-gets and an enrichment join from the resulting table through
  * `LatestByKey.ReadOnlyTableView` (read phase). The first round warms the
  * JVM and is not timed; timed rounds follow until `--seconds` have passed.
  *
  * Writes one JSON document to `--out` with the raw measurements and every
  * answer the program gave; the caller checks those answers against
  * independently computed ones and derives the metrics.
  */
object Main {
  private val Buckets = 16
  private val Shards = 4
  private val Gets = 16
  private val GetAlls = 16
  private val GetAllKeys = 64
  private val Enrichs = 12
  private val ProbeRows = 1000

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      log: Map[String, String], docs: Long, slices: Seq[(Long, Long)])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m.collect { case (k, v) if k.startsWith("log.") => k.stripPrefix("log.") -> v },
      m("docs").toLong,
      m("slices").split(",").toSeq.map { s =>
        val Array(lo, hi) = s.split(":"); (lo.toLong, hi.toLong) })
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val tr = new Trace(a.trace)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = tr("engine", "Engine.session") { Engine.session(cores, "graftbench") }
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val jobs = if (a.trace) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val w: Workload = a.workload match {
      case "changelog_table" => new ChangelogTable(spark, a, tr, jobs)
      case "incremental_epochs" => new IncrementalEpochs(spark, a, tr, jobs)
      case other => sys.error(s"unknown workload $other")
    }
    val tw = System.nanoTime()
    tr("engine", "warmup") { w.round("warmup", warmup = true) }
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rounds = ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < a.seconds)
      rounds += w.round(s"r${rounds.size}", warmup = false)
    val measuredS = (System.nanoTime() - start) / 1e9
    // everything below is outside the timed region
    val after = w.afterTiming(rounds.toSeq)
    val layers = if (!a.trace) Map.empty else w.layers(rounds.toSeq) ++ Map(
      "engine.session_s" -> sessionS, "engine.warmup_s" -> warmupS)
    if (a.trace) tr.write(s"${a.work}/trace-spans.jsonl")
    val doc = Map("workload" -> a.workload, "setup_s" -> setupS,
      "measured_s" -> measuredS, "cores" -> cores, "rounds" -> rounds,
      "layers" -> layers, "self_s" -> tr.selfSeconds) ++ after
    val pw = new java.io.PrintWriter(a.out, "UTF-8")
    try pw.print(Json(doc)) finally pw.close()
    spark.stop()
  }

  // ------------------------------------------------------------- shared

  abstract class Workload(val spark: SparkSession, val a: Args, val tr: Trace,
      val jobs: Option[JobLog]) {
    protected val rnd = new scala.util.Random(a.seed)

    /** One whole round. The warm-up round may be a shorter one. */
    def round(tag: String, warmup: Boolean): Map[String, Any]
    def afterTiming(rounds: Seq[Map[String, Any]]): Map[String, Any] = Map.empty
    /** Layer figures that only this workload's path has. */
    protected def ownLayers(rounds: Seq[Map[String, Any]]): Map[String, Any]
    /** Rows per second of the workload's input scanned to a noop sink. */
    protected def scanRate(): Double

    protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    /** Timed read phase against a table view. `row` renders an answer. */
    protected def reads(tv: ReadOnlyTableView, key: String, present: IndexedSeq[Long],
        absent: IndexedSeq[Long], warmup: Boolean,
        row: Row => Seq[Any]): Map[String, Any] = {
      def count(base: Int) = if (warmup) base / 4 else base
      def draw(): Long =
        if (rnd.nextInt(4) == 0) absent(rnd.nextInt(absent.size))
        else present(rnd.nextInt(present.size))
      val gets = (1 to count(Gets)).map { _ =>
        val k = draw()
        val t0 = System.nanoTime()
        val df = tr("operators", "ReadOnlyTableView.get") { tv.get(k) }
        val rows = df.collect()
        Map("key" -> k, "ms" -> ms(t0), "rows" -> rows.map(row).toSeq) ++ scanStats(df)
      }
      val getAlls = (1 to count(GetAlls)).map { _ =>
        val ks = Seq.fill(GetAllKeys)(draw()).distinct
        val t0 = System.nanoTime()
        val df = tr("operators", "ReadOnlyTableView.getAll") { tv.getAll(ks) }
        val rows = df.collect()
        Map("keys" -> ks, "ms" -> ms(t0), "rows" -> rows.map(row).toSeq) ++ scanStats(df)
      }
      val enrich = (1 to count(Enrichs)).map { _ =>
        val probeKeys = IndexedSeq.fill(ProbeRows)(draw())
        val probe = spark.createDataFrame(
          probeKeys.zipWithIndex.map { case (k, i) => Row(i.toLong, k) }.asJava,
          StructType(Seq(StructField("probe_id", LongType), StructField(key, LongType))))
        val t0 = System.nanoTime()
        val df = tr("operators", "enrich") { probe.join(tv.scan, Seq(key), "left") }
        val rows = df.collect()
        val m = ms(t0)
        Map("ms" -> m, "probe" -> probeKeys, "rows" -> rows.map(r =>
          r.getAs[Any]("probe_id") +: row(r)).toSeq)
      }
      val traced = if (!a.trace || warmup) Map.empty else Map(
        "get_plan_ms" -> (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          tr("plans", "executedPlan") { tv.get(present.head).queryExecution.executedPlan }
          ms(t0)
        },
        "get_jobs" -> (1 to 5).map(_ => jobsOf(tv.get(present.head).collect())))
      Map("gets" -> gets, "getalls" -> getAlls, "enrich" -> enrich) ++ traced
    }

    /** Spark jobs one action runs (traced runs only). */
    private def jobsOf(body: => Unit): Int = jobs.map { j =>
      JobLog.drain(spark)
      val t0 = System.currentTimeMillis()
      body
      j.within(spark, t0, System.currentTimeMillis()).size
    }.getOrElse(0)

    /** Files and rows the scans of an executed read touched (traced runs). */
    private def scanStats(df: DataFrame): Map[String, Any] =
      if (!a.trace) Map.empty
      else {
        def scans(p: SparkPlan): Seq[SparkPlan] = p match {
          case ad: AdaptiveSparkPlanExec => scans(ad.executedPlan)
          case qs: QueryStageExec => scans(qs.plan)
          case s: FileSourceScanExec => Seq(s)
          case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
        }
        val ss = scans(df.queryExecution.executedPlan)
        def sum(name: String) = ss.flatMap(_.metrics.get(name)).map(_.value).sum
        Map("files_read" -> sum("numFiles"), "rows_scanned" -> sum("numOutputRows"))
      }

    /** Job figures of each epoch, split from outside by the epoch's wall
      * interval `[start_ms, start_ms + ms]` (traced runs only).
      */
    protected def epochJobs(epochs: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
      jobs.toSeq.flatMap { j =>
        epochs.map { e =>
          val t0 = num(e("start_ms")).toLong
          val t1 = t0 + num(e("ms")).toLong
          val js = j.within(spark, t0, t1)
          Map("jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
            "task_s" -> js.map(_.taskMs).sum / 1e3,
            "driver_s" -> JobLog.idleMs(js, t0, t1) / 1e3,
            "lead_ms" -> (if (js.isEmpty) t1 - t0 else js.map(_.t0).min - t0),
            "tail_ms" -> (if (js.isEmpty) 0L else t1 - js.map(_.t1).max).max(0L),
            "shuffle_mb" -> js.map(_.shuffleBytes).sum / 1048576.0,
            "spill_mb" -> js.map(_.spillBytes).sum / 1048576.0,
            "written_mb" -> js.map(_.writtenBytes).sum / 1048576.0,
            "files_written" -> e("files_written"))
        }
      }

    /** Data files under `dir` modified since `sinceMs` (traced runs only). */
    protected def filesSince(dir: String, sinceMs: Long): Int =
      if (!a.trace) 0 else parquetFiles(new File(dir)).count(_.lastModified >= sinceMs)

    /** Median of three timed runs of a probe, as rows per second. */
    protected def rate(rows: Long)(body: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      rows / ts(1)
    }

    /** `format("kafka-test")` options for the first `records` records of
      * each partition of this run's log.
      */
    private def logOptions(records: Long): Map[String, String] = Map(
      "topic" -> a.log("topic"), "partitions" -> a.log("partitions"),
      "startingOffset" -> a.log("start"),
      "recordsPerPartition" -> (a.log("start").toLong + records).toString,
      "keysPerPartition" -> a.log("keys"))

    protected def logStream(records: Long): DataFrame = spark.readStream
      .format("kafka-test").options(logOptions(records))
      .option("maxOffsetsPerTrigger", a.log("admit")).load()

    protected def logBatch(): DataFrame = spark.read.format("kafka-test")
      .options(logOptions(a.log("records").toLong)).load()

    protected def logLength: Long = a.log("partitions").toLong * a.log("records").toLong

    protected def decodeEvents(raw: DataFrame): Dataset[Event] =
      raw.select(col("offset").as("event_id"),
          col("key").cast("string").cast("long").as("user_id"),
          BinaryRecordDecode.decode(col("value")).as("r"))
        .select(col("event_id"), col("user_id"), col("r.i").as("event_type"),
          col("r.k").cast("double").as("value"))
        .as[Event](Encoders.product[Event])

    protected def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    protected def parquetFiles(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

    /** MiB of the files under `dir`, checksum and other hidden files aside. */
    protected def mb(dir: String): Double = {
      def files(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
        else if (f.getName.startsWith(".")) Nil else Seq(f)
      files(new File(dir)).map(_.length).sum / 1048576.0
    }

    /** Per-layer figures, from the timed rounds plus probes run after them. */
    def layers(rounds: Seq[Map[String, Any]]): Map[String, Any] = {
      def reads(kind: String) = rounds.flatMap(r => seqOf(r(kind)))
      def perHit(kind: String) = {
        val rs = reads(kind)
        val hits = rs.map(_("rows").asInstanceOf[Seq[_]].size).sum
        rs.map(m => num(m("rows_scanned"))).sum / math.max(1, hits)
      }
      def epochs(field: String) = median(rounds.flatMap(r =>
        seqOf(r("epoch_jobs")).drop(1).map(m => num(m(field)))))
      Map(
        "sources.scan_rps" -> scanRate(),
        "functions.decode_rps" -> rate(logLength) {
          tr("functions", "decode-probe") { noop(decodeEvents(logBatch()).toDF()) } },
        "operators.get_jobs" -> median(rounds.flatMap(r =>
          r("get_jobs").asInstanceOf[Seq[Int]].map(_.toDouble))),
        "operators.get_files_read" -> median(reads("gets").map(m => num(m("files_read")))),
        "operators.get_rows_scanned_per_hit" -> perHit("gets"),
        "operators.getall_rows_scanned_per_hit" -> perHit("getalls"),
        "plans.get_plan_ms_p50" -> median(rounds.flatMap(r =>
          r("get_plan_ms").asInstanceOf[Seq[Double]])),
        "epoch.founding_jobs" -> median(rounds.map(r => num(seqOf(r("epoch_jobs")).head("jobs")))),
        "epoch.jobs_p50" -> epochs("jobs"),
        "epoch.tasks_p50" -> epochs("tasks"),
        "epoch.task_s_p50" -> epochs("task_s"),
        "epoch.driver_s_p50" -> epochs("driver_s"),
        "epoch.lead_ms_p50" -> epochs("lead_ms"),
        "epoch.tail_ms_p50" -> epochs("tail_ms"),
        "epoch.shuffle_mb_p50" -> epochs("shuffle_mb"),
        "epoch.spill_mb_p50" -> epochs("spill_mb"),
        "epoch.written_mb_p50" -> epochs("written_mb"),
        "epoch.files_written_p50" -> epochs("files_written"),
        "epoch.records_p50" -> median(rounds.flatMap(r =>
          seqOf(r("epochs")).drop(1).map(e => num(e("rows"))))),
        "epoch.state_mb" -> median(rounds.map(r => num(r("state_mb"))))) ++ ownLayers(rounds)
    }
  }

  /** Per-layer metrics only the stream path of `changelog_table` has. */
  private val StreamLayers = Seq("sources.offset_ms_p50", "streaming.plan_ms_p50",
    "streaming.add_batch_ms_p50", "streaming.commit_ms_p50",
    "streaming.state_commit_ms_p50", "streaming.state_update_ms_p50",
    "streaming.batches", "streaming.rows_updated", "streaming.state_rows",
    "streaming.state_bytes")
  private val SinkLayers = Seq("sinks.upsert_ms_p50", "sinks.buckets_touched_p50",
    "sinks.view_mb")

  private def seqOf(x: Any): Seq[Map[String, Any]] = x.asInstanceOf[Seq[Map[String, Any]]]

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(x: Any): Double = x match {
    case n: java.lang.Number => n.doubleValue
  }

  // ------------------------------------------------------ changelog_table

  /** The paper's path: a Kafka-shaped log decoded, folded into RocksDB state
    * by `LatestByKeyStream.latestTable` and upserted into a bucketed parquet
    * view from `foreachBatch`; then reads against that view. One micro-batch
    * is one epoch. The warm-up round drains two micro-batches.
    */
  final class ChangelogTable(spark: SparkSession, a: Args, tr: Trace,
      jobs: Option[JobLog]) extends Workload(spark, a, tr, jobs) {
    private val parts = a.log("partitions").toInt
    private val keys = a.log("keys").toInt
    private val present = for (p <- 0 until parts; j <- 0 until keys)
      yield p * 1000L + j
    private val absent = (0 until 1000).map(j => parts * 1000L + j)

    def round(tag: String, warmup: Boolean): Map[String, Any] = {
      val ck = s"${a.work}/$tag-ck"
      val view = s"${a.work}/$tag-view"
      val upserts = ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      // the warm-up round drains two micro-batches: the first, into an empty
      // view, and one upsert into it
      val records =
        if (warmup) 2 * a.log("admit").toLong / parts else a.log("records").toLong
      val raw = tr("sources", "kafka-test.readStream") { logStream(records) }
      val events = tr("functions", "BinaryRecordDecode.decode") { decodeEvents(raw) }
      val latest = tr("streaming", "LatestByKeyStream.latestTable") {
        LatestByKeyStream.latestTable(events) }
      val q = Sinks.foreachBatch(latest) { (b: Dataset[LatestRow], _: Long) =>
        val s = System.currentTimeMillis()
        val u0 = System.nanoTime()
        tr("sinks", "Sinks.upsertView") {
          Sinks.upsertView(b.toDF(), view, "user_id", "last_event_id", Buckets) }
        val m = ms(u0)
        upserts += Map("ms" -> m, "files" -> filesSince(view, s),
          "buckets" -> (if (!a.trace) 0 else new File(view).listFiles.count(d =>
            d.getName.startsWith("__bucket=") && parquetFiles(d).exists(_.lastModified >= s))))
      }.option("checkpointLocation", ck).start()
      try tr("streaming", "processAllAvailable") { q.processAllAvailable() }
      finally q.stop()
      val wallS = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      val epochs = progress.filter(_.numInputRows > 0).zip(upserts).map { case (p, u) =>
        val d = p.durationMs.asScala.view.mapValues(_.longValue).toMap
        val st = p.stateOperators.toSeq
        Map("start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "ms" -> d.getOrElse("triggerExecution", 0L), "rows" -> p.numInputRows,
          "phases_ms" -> d, "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
          "rows_updated" -> st.map(_.numRowsUpdated).sum,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_bytes" -> st.map(_.memoryUsedBytes).sum, "files_written" -> u("files"))
      }
      val tv = tr("sinks", "Sinks.readView") {
        new ReadOnlyTableView(Sinks.readView(spark, view), "user_id") }
      val rd = reads(tv, "user_id", present, absent, warmup, r => Seq("user_id",
        "last_event_type", "last_value", "last_event_id").map(r.getAs[Any](_)))
      val traced = if (!a.trace) Map.empty else Map(
        "epoch_jobs" -> epochJobs(epochs),
        "state_mb" -> mb(s"$ck/state"))
      Map("tag" -> tag, "dir" -> view, "input_rows" -> progress.map(_.numInputRows).sum,
        "wall_s" -> wallS, "epochs" -> epochs, "upserts" -> upserts.toSeq) ++ rd ++ traced
    }

    protected def scanRate(): Double = rate(logLength) {
      tr("sources", "scan-probe") { noop(logBatch()) } }

    protected def ownLayers(rounds: Seq[Map[String, Any]]): Map[String, Any] = {
      def last(field: String) = median(rounds.map(r => num(seqOf(r("epochs")).last(field))))
      // micro-batches after the first, as for epoch_p50_s
      def batches(f: Map[String, Any] => Double) =
        median(rounds.flatMap(r => seqOf(r("epochs")).drop(1).map(f)))
      def phase(names: String*)(e: Map[String, Any]) = {
        val d = e("phases_ms").asInstanceOf[Map[String, Long]]
        names.map(d.getOrElse(_, 0L)).sum.toDouble
      }
      Map(
        "sources.offset_ms_p50" -> batches(phase("latestOffset", "getBatch")),
        "streaming.plan_ms_p50" -> batches(phase("queryPlanning")),
        "streaming.add_batch_ms_p50" -> batches(phase("addBatch")),
        "streaming.commit_ms_p50" -> batches(phase("walCommit", "commitOffsets")),
        "streaming.state_commit_ms_p50" -> batches(e => num(e("state_commit_ms"))),
        "streaming.state_update_ms_p50" -> batches(e => num(e("state_update_ms"))),
        "streaming.batches" -> median(rounds.map(r => seqOf(r("epochs")).size.toDouble)),
        "streaming.rows_updated" -> median(rounds.map(r =>
          seqOf(r("epochs")).map(e => num(e("rows_updated"))).sum)),
        "streaming.state_rows" -> last("state_rows"),
        "streaming.state_bytes" -> last("state_bytes"),
        "sinks.upsert_ms_p50" -> median(rounds.flatMap(r =>
          seqOf(r("upserts")).map(u => num(u("ms"))))),
        "sinks.buckets_touched_p50" -> median(rounds.flatMap(r =>
          seqOf(r("upserts")).map(u => num(u("buckets"))))),
        "epoch.flips_p50" -> median(rounds.flatMap(r =>
          seqOf(r("epochs")).drop(1).map(e => num(e("rows_updated"))))))
    }
  }

  // --------------------------------------------------- incremental_epochs

  /** `Pipeline.curateEpoch` over the documents in the shape `IncrBench`
    * uses: one large founding epoch, then small descending tail slices;
    * then reads against the curated corpus. The warm-up round runs the
    * founding epoch and the first tail epoch, so the founding path and the
    * tail's delta and flip path have both run before timing; the timed
    * founding epoch then precedes the timed tail epochs as a further one.
    */
  final class IncrementalEpochs(spark: SparkSession, a: Args, tr: Trace,
      jobs: Option[JobLog]) extends Workload(spark, a, tr, jobs) {
    private val present = (0L until a.docs).toIndexedSeq
    private val absent = (a.docs until a.docs + 1000).toIndexedSeq
    private def docs = tr("sources", "parquet.read") {
      spark.read.parquet(s"${a.data}/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("text")) }

    def round(tag: String, warmup: Boolean): Map[String, Any] = {
      val out = s"${a.work}/$tag-out"
      val t0 = System.nanoTime()
      val slices = if (warmup) a.slices.take(2) else a.slices
      val epochs = slices.zipWithIndex.map { case ((lo, hi), i) =>
        val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val s = System.currentTimeMillis()
        val e0 = System.nanoTime()
        val r = tr("pipeline", "Pipeline.curateEpoch") {
          Pipeline.curateEpoch(batch, out, Shards, i.toLong) }
        Map("start_ms" -> s, "ms" -> ms(e0), "rows" -> (hi - lo),
          "flips" -> (r.added + r.removed), "changed_shards" -> r.changedShards.size,
          "files_written" -> filesSince(out, s))
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val tv = tr("sources", "parquet.read") {
        new ReadOnlyTableView(spark.read.parquet(s"$out/corpus")
          .select(col("doc_id"), col("text")), "doc_id") }
      val rd = reads(tv, "doc_id", present, absent, warmup, r =>
        Seq("doc_id", "text").map(r.getAs[Any](_)))
      val traced = if (!a.trace) Map.empty else Map(
        "epoch_jobs" -> epochJobs(epochs),
        "state_mb" -> mb(s"$out/state"))
      Map("tag" -> tag, "dir" -> out, "wall_s" -> wallS, "epochs" -> epochs) ++ rd ++ traced
    }

    override def afterTiming(rounds: Seq[Map[String, Any]]): Map[String, Any] = Map(
      "validate_rows" -> rounds.map(r =>
        Pipeline.validateCorpus(spark, r("dir").toString).count()),
      "oracle_q139" -> SparkEntry.oracleSql("q139_curation_funnel_v2"))

    protected def scanRate(): Double = rate(a.docs) {
      tr("sources", "scan-probe") { noop(docs) } }

    /** No stream runs and `Sinks` is not called: the streaming and sinks
      * figures read 0.
      */
    protected def ownLayers(rounds: Seq[Map[String, Any]]): Map[String, Any] =
      (StreamLayers ++ SinkLayers).map(_ -> 0.0).toMap ++ Map(
        "epoch.flips_p50" -> median(rounds.flatMap(r =>
          seqOf(r("epochs")).drop(1).map(e => num(e("flips"))))))
  }
}

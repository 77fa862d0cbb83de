package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import scala.collection.mutable

/** Bench main (driver contract): times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query runs `SPARK_GRAFT_REPS` times (default 3) and reports the
  * MEDIAN — a single GC/JIT/compilation hiccup must not become the round's
  * official number (r1 recorded a 21 s q13 that re-ran at 2 s). A query that
  * throws is reported in an `"errors"` map and excluded from the total
  * instead of being silently recorded as its time-to-failure.
  *
  * The record is SELF-DIAGNOSING: the line carries the 1-minute system load
  * average sampled before and after the run (`"load":[pre,post]`), and
  * BENCH_DETAIL.json carries each query's per-rep MIN next to its median.
  * Rationale: BENCH_r04's 401 s total was a contended-machine artifact (the
  * same queries re-ran at 66 s on an idle box) and nothing in the artifact
  * said so — with load + min, a contended run is evident on its face
  * (load ≫ core count; min ≪ median).
  *
  * BENCH_DETAIL.json also records what each query's LAST timed rep did
  * ([[measure]]), so a query whose time goes to driver cadence rather than
  * compute shows it with no re-run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = Engine.envCount("SPARK_GRAFT_REPS", 3)
    val spark = Engine.session()
    // Untimed warmup: JIT + codegen + parquet footers, so the first timed
    // query doesn't absorb session startup cost.
    Fixtures.tableNames.foreach(t => Fixtures.table(spark, sfDir, t).count())
    SparkEntry.queries.get("q10_distinct").foreach(f => f(spark, sfDir).count())

    // SPARK_GRAFT_ONLY=q99,q100 (full names or qNN prefixes) restricts the
    // run for targeted timing during development; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(o => o(n) || o(n.takeWhile(_ != '_'))) }

    val loadPre = systemLoad()
    val errors = mutable.LinkedHashMap.empty[String, String]
    // (name, (median, min), last rep's figures): the median is the official
    // number; the min is the contention tell (an idle machine has
    // min ≈ median).
    val results = selected.toSeq.flatMap { case (name, fn) =>
      try {
        val (runs, figures) = measure(spark, sfDir, fn, reps)
        val times = runs.sorted
        // true median: even rep counts average the two middle values
        // (times(n/2) alone is the UPPER middle — a 2-rep run would report
        // the worse rep, the exact outlier the median exists to reject)
        val median =
          if (times.size % 2 == 1) times(times.size / 2)
          else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
        val result = (name, (median, times.head), figures)
        if (only.nonEmpty) System.err.println(s"[bench] $name ${detailEntry(result)}")
        Some(result)
      } catch {
        // + StackOverflowError: fatal to the thread but local to the query
        // (deep Catalyst trees — see Bpe.mergePair's scaladoc); one query
        // must land in the errors map, not void the whole round's record.
        // True VM errors (OOM) still propagate.
        case e if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          errors += name -> e.getClass.getSimpleName
          None
      }
    }
    val loadPost = systemLoad()
    val timings = results.map { case (k, t, _) => k -> t }
    println(renderJson(timings.map { case (k, (med, _)) => k -> med },
      errors.toSeq, reps, sfDir, loadPre, loadPost, contendedMins(timings)))
    // Full-name per-query detail as a repo artifact: the stdout line must
    // fit the harness's 2 kB tail window (short keys), so the readable
    // mapping is persisted here for humans and later rounds. A filtered
    // dev run must not clobber the full-inventory artifact.
    if (only.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        renderDetail(results, reps, sfDir, loadPre, loadPost)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () } // artifact is best-effort
    spark.stop()
  }

  /** Spark jobs as the listener bus delivers them: each job's start, end
    * and tasks, and the task metrics summed over all of them.
    */
  private final class JobRecorder extends SparkListener {
    final class Job(val t0: Long) { var t1 = -1L; var tasks = 0 }
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    var runMs, shuffleRead, shuffleWrite, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new Job(e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(_.t1 = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener bus has delivered every queued event.
    * `waitUntilEmpty` is package-private in Spark, public in bytecode.
    */
  private def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs one query `reps` times; returns each rep's seconds, in run order,
    * and what the last rep did: its jobs, tasks, task-seconds, shuffle and
    * spill, its longest job, `driver_s` (its wall time outside every job:
    * construction, planning, scheduling gaps) and its [[planShape]].
    */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, reps: Int): (Seq[Double], Seq[(String, String)]) = {
    def rep(): (Double, DataFrame, Long) = {
      // Drop cached plans BEFORE the clock starts: operators that persist()
      // intermediates (PQ training, window fingerprints, LSH buckets)
      // register them in the CacheManager keyed by canonical plan, so rep 2
      // of the same query would silently read rep 1's InMemoryRelation and
      // the median would measure cache reads, not the operator. Clearing per
      // rep also stops cache entries accumulating across the 100+ query run.
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // noop sink: fully computes every output column (count() would let
      // Catalyst prune the final projection and under-measure
      // projection-heavy queries).
      df.write.mode("overwrite").format("noop").save()
      ((System.nanoTime() - t0) / 1e9, df, System.currentTimeMillis())
    }
    val earlier = (1 until reps).map(_ => rep()._1)
    // the recorder joins an empty bus, so no earlier rep's events reach it
    drain(spark)
    val rec = new JobRecorder
    spark.sparkContext.addSparkListener(rec)
    val (last, df, end) =
      try rep() finally { drain(spark); spark.sparkContext.removeSparkListener(rec) }
    val jobs = rec.jobs.values.toSeq
    val longest = jobs.maxByOption(j => j.t1 - j.t0)
    val mib = 1024.0 * 1024.0
    (earlier :+ last, Seq("last_s" -> f3(last), "jobs" -> s"${jobs.size}",
      "tasks" -> s"${jobs.map(_.tasks).sum}", "task_s" -> f3(rec.runMs / 1e3),
      "shuffle_read_mib" -> f3(rec.shuffleRead / mib),
      "shuffle_write_mib" -> f3(rec.shuffleWrite / mib), "spill_mib" -> f3(rec.spill / mib),
      "longest_job_s" -> f3(longest.fold(0.0)(j => (j.t1 - j.t0) / 1e3)),
      "longest_job_tasks" -> s"${longest.fold(0)(_.tasks)}",
      "driver_s" -> f3(idleMs(jobs, end - (last * 1e3).toLong, end) / 1e3),
      "plan" -> obj(planShape(df).map { case (k, n) => k -> s"$n" })))
  }

  /** Milliseconds of [t0, t1] that no job was running. */
  private def idleMs(jobs: Seq[JobRecorder#Job], t0: Long, t1: Long): Long =
    (t1 - t0) - jobs.map(j => (j.t0 max t0, (if (j.t1 >= 0) j.t1 else t1) min t1))
      .sortBy(_._1).foldLeft((0L, t0)) { case ((covered, reach), (a, b)) =>
        val from = a max reach
        if (b > from) (covered + b - from, b) else (covered, reach)
      }._1

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Shuffle and broadcast exchanges, and joins by strategy, in a
    * DataFrame's physical plan: adaptive stages and subqueries included,
    * reused exchanges not counted again. Every key is always present, so
    * records diff key by key.
    */
  private def planShape(df: DataFrame): Seq[(String, Int)] = {
    val nodes = PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p }
    Seq(
      "shuffle_exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcast_exchanges" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      "bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "cartesian" -> nodes.count(_.isInstanceOf[CartesianProductExec]))
  }

  private lazy val mapper = new ObjectMapper()
  private def jstr(s: String) = mapper.writeValueAsString(s)
  private def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A one-line JSON object of rendered values. */
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => jstr(k) + ": " + v }.mkString("{", ", ", "}")

  /** One query's BENCH_DETAIL.json entry. */
  private def detailEntry(result: (String, (Double, Double), Seq[(String, String)])): String =
    obj(Seq("median" -> f3(result._2._1), "min" -> f3(result._2._2)) ++ result._3)

  /** BENCH_DETAIL.json: the run's settings and one entry per query, slowest
    * median first.
    */
  private[graft] def renderDetail(results: Seq[(String, (Double, Double), Seq[(String, String)])],
      reps: Int, sfDir: String, loadPre: Double, loadPost: Double): String =
    results.sortBy(-_._2._1).map(r => "  " + jstr(r._1) + ": " + detailEntry(r))
      .mkString("{\n\"sf\": " + jstr(sfDir) + ", \"reps\": " + reps +
        ", \"load\": [" + f3(loadPre) + ", " + f3(loadPost) + "],\n\"queries\": {\n",
        ",\n", "\n}}\n")

  /** 1-minute system load average (−1.0 where the platform can't report
    * it). On a 32-core box an idle run sits well under 32; a load far above
    * core count marks the record as contended.
    */
  private def systemLoad(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The single JSON result line. Line LENGTH is load-bearing: the harness
    * captures only the last 2 000 chars of output (measured from
    * BENCH_r01–r03, whose `tail` field is exactly 2 000 chars and whose JSON
    * line start was cut off in every round), so with 80+ queries even 3-dp
    * full-name keys overflow and the round's performance record is voided.
    * Query keys are therefore shortened to their `qNN` prefix (the driver
    * contract's own example format, `{"q1":sec,…}`); a prefix shared by two
    * queries keeps the full names for just those entries. The full-name ↔
    * prefix mapping is the query inventory itself (COVERAGE.md).
    * BenchJsonSpec pins the whole-line budget against the real window.
    */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    val prefix = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    val collide = prefix.values.groupBy(identity).collect {
      case (p, g) if g.size > 1 => p
    }.toSet
    prefix.map { case (n, p) => n -> (if (collide(p)) n else p) }
  }

  /** Per-query MIN for the queries whose median looks contention-inflated
    * (min ≪ median on a non-trivial query): an ADDITIVE `"mins"` key so the
    * driver's round-over-round comparison can discount a contended spike
    * without a second run (VERDICT r14 item 8 — the r13/r14 records both
    * carry multi-second medians whose same-tree mins were 3–6× lower). On an
    * idle run min ≈ median everywhere and the key is absent, so the line
    * length only grows when the record needs the tell; capped at 6 entries
    * (worst deltas first) to respect the 2 kB capture window, and
    * renderJson drops the key entirely if the line would overflow.
    */
  private[graft] def contendedMins(
      results: Seq[(String, (Double, Double))]): Seq[(String, Double)] =
    results.collect {
      case (k, (med, mn)) if med >= 0.5 && mn < 0.7 * med => (k, med - mn, mn)
    }.sortBy(-_._2).take(6).map { case (k, _, mn) => k -> mn }

  private[graft] def renderJson(results: Seq[(String, Double)],
      errors: Seq[(String, String)], reps: Int, sfDir: String,
      loadPre: Double = -1.0, loadPost: Double = -1.0,
      mins: Seq[(String, Double)] = Seq.empty): String = {
    val short = shortKeys(results.map(_._1) ++ errors.map(_._1))
    // Per-query values at magnitude-adaptive precision (2 dp under 1 s,
    // 1 dp under 10 s, whole seconds above): with 130+ queries the line
    // must stay inside the harness's 2 kB tail window (BenchJsonSpec pins
    // the budget) and 100 ms resolution on a 10 s query is noise anyway;
    // the 3-dp medians AND mins live in BENCH_DETAIL.json.
    def fmt2(v: Double) = {
      val pat = if (v < 1.0) "%.2f" else if (v < 10.0) "%.1f" else "%.0f"
      String.format(java.util.Locale.ROOT, pat, Double.box(v))
    }
    val qs = results.map { case (k, v) => jstr(short(k)) + ":" + fmt2(v) }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(short(k)) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def line(withMins: Boolean): String = {
      val minsJson =
        if (!withMins || mins.isEmpty) ""
        else mins.map { case (k, v) => jstr(short.getOrElse(k, k)) + ":" + fmt2(v) }
          .mkString(""","mins":{""", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","reps":$reps,"load":[${f3(loadPre)},${f3(loadPost)}]$minsJson,"queries":$qs,"errors":$errJson,"sf":${jstr(sfDir)}}"""
    }
    // the capture window is 2 000 chars minus ~100 of sbt epilogue; the
    // mins key is diagnostic and is the first thing to go if tight
    val full = line(withMins = true)
    if (full.length <= 1850) full else line(withMins = false)
  }
}

package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans recorded around the benchmark's calls into the engine's modules.
  * Kept in memory and written out once, at the end of the run. When
  * disabled, `apply` only runs its body.
  */
final class Trace(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      t0: Long, t1: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next; next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Per-layer self time: span duration minus what its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.t1 - s.t0).sum)
    spans.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => s.t1 - s.t0 - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "t0_ns" -> s.t0, "t1_ns" -> s.t1)))
    } finally w.close()
  }
}

/** Job, task, shuffle and spill counts per Spark job. Attached only in
  * traced runs.
  */
final class JobLog extends SparkListener {
  final case class Job(id: Int, t0: Long, var t1: Long = 0L, var tasks: Int = 0,
      var taskMs: Long = 0L, var shuffleBytes: Long = 0L, var spillBytes: Long = 0L,
      var writtenBytes: Long = 0L)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs that started inside [t0Ms, t1Ms], after the listener bus drained. */
  def within(spark: SparkSession, t0Ms: Long, t1Ms: Long): Seq[Job] = {
    JobLog.drain(spark)
    synchronized(jobs.values.filter(j => j.t0 >= t0Ms && j.t0 <= t1Ms).toSeq)
  }
}

object JobLog {
  /** Wait for the listener bus to deliver every queued event. The method is
    * package-private in Spark, public in bytecode.
    */
  def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Milliseconds of [t0, t1] that no job was running. */
  def idleMs(jobs: Seq[JobLog#Job], t0: Long, t1: Long): Long = {
    var covered = 0L
    var reach = t0
    jobs.map(j => (math.max(j.t0, t0), math.min(if (j.t1 > 0) j.t1 else t1, t1)))
      .sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
    (t1 - t0) - covered
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

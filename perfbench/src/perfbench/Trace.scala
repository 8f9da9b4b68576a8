package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of one call into a layer, summed over the Spark jobs and tasks
  * that carried the call's local property. */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes, writeBytes = 0L
  val jobIntervals = mutable.Map.empty[Int, (Long, Long)] // job id -> (start ms, end ms)
}

/** Attributes jobs, stages and tasks to the call that submitted them by the
  * local property [[CallListener.Key]]. Spark copies local properties into
  * every job it submits for the calling thread, including AQE's stage
  * submissions from its own threads, which a call-site match would miss. */
final class CallListener extends SparkListener {
  private val byCall = new ConcurrentHashMap[String, Counters]()
  private val stageCall = new ConcurrentHashMap[Int, String]()
  private val jobCall = new ConcurrentHashMap[Int, String]()

  private def counters(call: String) = byCall.computeIfAbsent(call, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(CallListener.Key))).foreach { call =>
      jobCall.put(e.jobId, call)
      e.stageIds.foreach(stageCall.put(_, call))
      val c = counters(call)
      c.synchronized { c.jobs += 1; c.jobIntervals(e.jobId) = (e.time, Long.MaxValue) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobCall.remove(e.jobId)).foreach { call =>
      val c = counters(call)
      c.synchronized {
        c.jobIntervals.get(e.jobId).foreach { case (s, _) => c.jobIntervals(e.jobId) = (s, e.time) }
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(CallListener.Key)))
      .foreach(stageCall.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCall.get(e.stageId)).foreach { call =>
      val c = counters(call)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
          c.writeBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  def take(call: String): Counters = Option(byCall.remove(call)).getOrElse(new Counters)
}

object CallListener {
  val Key = "perfbench.call"
}

/** One timed interval. `parent` is the op span a layer call ran under;
  * all spans of one benchmark process share `run`. */
final case class Span(name: String, id: Int, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-call counters, recorded around the benchmark's calls into
  * the program. With `enabled = false` only op spans are kept (they give
  * the end-to-end latencies); no listener is registered and no local
  * property is set, so the measured process runs the program untouched. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val run: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var openOp = -1
  private var nextId = 0
  private def newId(): Int = { nextId += 1; nextId - 1 }
  private val listener = if (enabled) Some(new CallListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  /** (layer, counters, wall s, driver s, new files) per traced call. */
  val calls = mutable.ArrayBuffer.empty[(String, Counters, Double, Double, Long)]

  def now: Long = System.nanoTime() - t0

  /** An end-to-end op: the unit whose latency a user of the system sees. */
  def op[T](name: String)(f: => T): (T, Span) = {
    val id = newId()
    val parent = openOp
    val start = now
    openOp = id
    val out = try f finally openOp = parent
    val s = Span(name, id, parent, run, start, now)
    spans += s
    (out, s)
  }

  /** One call into a layer; `root` is the directory tree whose new files
    * the call is charged with. */
  def layer[T](name: String, root: Path)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val id = newId()
      val call = s"$name#$id"
      val before = files(root)
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.setLocalProperty(CallListener.Key, call)
      val startMs = System.currentTimeMillis()
      val start = now
      val out = try f finally sc.setLocalProperty(CallListener.Key, null)
      val end = now
      val endMs = System.currentTimeMillis()
      spans += Span(name, id, openOp, run, start, end)
      org.apache.spark.PerfbenchBus.drain(sc)
      val c = listener.get.take(call)
      val wall = (end - start) / 1e9
      val busy = covered(c.jobIntervals.values.map { case (s, e) =>
        (math.max(s, startMs), math.min(if (e == Long.MaxValue) endMs else e, endMs)) })
      calls += ((name, c, wall, math.max(0.0, wall - busy / 1e3), (files(root) -- before).size.toLong))
      out
    }

  private def files(root: Path): Set[String] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Set.newBuilder[String]
        s.forEach(p => if (Files.isRegularFile(p)) b += p.toString)
        b.result()
      } finally s.close()
    }

  /** Length of the union of intervals, in the intervals' unit. */
  private def covered(iv: Iterable[(Long, Long)]): Long = {
    var total, reach = 0L
    var first = true
    iv.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (first || s >= reach) { total += e - s; reach = e; first = false }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.seconds - covered(kids) / 1e9
  }

  def close(): Unit = listener.foreach(spark.sparkContext.removeSparkListener)
}

object Tracer {
  /** The counters each layer reports, in output order, with units. */
  val counterUnits: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "scan_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "fetch_wait_s" -> "s", "spill_bytes" -> "bytes", "write_bytes" -> "bytes",
    "write_files" -> "count", "failed_tasks" -> "count")

  def values(c: Counters, wall: Double, driver: Double, newFiles: Long): Map[String, Double] = Map(
    "wall_s" -> wall, "driver_s" -> driver, "jobs" -> c.jobs.toDouble,
    "tasks" -> c.tasks.toDouble, "task_s" -> c.taskMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
    "gc_s" -> c.gcMs / 1e3, "scan_bytes" -> c.scanBytes.toDouble,
    "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
    "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spillBytes.toDouble,
    "write_bytes" -> c.writeBytes.toDouble, "write_files" -> newFiles.toDouble,
    "failed_tasks" -> c.failedTasks.toDouble)
}

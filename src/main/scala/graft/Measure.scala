package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job and task counters of one block of driver code, attributed by the
  * local property [[Measure.Key]]. Spark copies a thread's local properties
  * into every job it submits, AQE's asynchronous stage submissions
  * included, and a thread inherits them from the thread that creates it —
  * so the jobs of branch threads a block starts (`PipelineMain.concurrently`)
  * count, and other work in the session does not.
  *
  * The property holds a span PATH: [[during]] and [[span]] append their name
  * to the enclosing value, so `stg_to_dds/commit:dm_couriers` is a child of
  * `stg_to_dds`. `MergeTable.commit` tags its work `commit:<table dir>`, so
  * every measured call splits by the commits it made.
  */
object Measure {
  val Key = "graft.span"

  /** One job the block submitted or may have missed. `executionId` is its
    * SQL execution — None for jobs outside any query, such as parquet
    * schema inference. `tagged = false` marks a job that started while the
    * block ran WITHOUT its span: submitted from a thread that did not
    * inherit the block's local properties, so a budget cannot miss it. */
  final case class Job(id: Int, executionId: Option[String], callSite: String,
                       span: Option[String], tagged: Boolean)

  /** The counters of a span's tagged jobs and their tasks; [[values]] names
    * them in the units of the perfbench per-layer report. */
  final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                            cpuNs: Long = 0, gcMs: Long = 0, scanBytes: Long = 0,
                            shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                            fetchWaitMs: Long = 0, spillBytes: Long = 0,
                            writeBytes: Long = 0, failedTasks: Long = 0) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
      taskMs + o.taskMs, cpuNs + o.cpuNs, gcMs + o.gcMs, scanBytes + o.scanBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
      fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes,
      writeBytes + o.writeBytes, failedTasks + o.failedTasks)

    def values: Seq[(String, Double)] = Seq(
      "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "task_s" -> taskMs / 1e3,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "scan_bytes" -> scanBytes.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "spill_bytes" -> spillBytes.toDouble, "write_bytes" -> writeBytes.toDouble,
      "failed_tasks" -> failedTasks.toDouble)
  }

  /** What [[during]] saw: every job (sorted by id), the counters of the
    * tagged ones, and the same counters per direct child span. */
  final case class Report(span: String, jobs: Seq[Job], counters: Counters,
                          children: Map[String, Counters])

  /** Runs `f` under the span `<enclosing span>/<name>` and reports its jobs
    * and counters. The listener bus is drained before the report is read,
    * and the caller's previous span is restored, whatever `f` does. */
  def during[T](spark: SparkSession, name: String)(f: => T): (T, Report) = {
    val sc = spark.sparkContext
    val path = child(sc.getLocalProperty(Key), name)
    val listener = new SpanListener(path)
    sc.addSparkListener(listener)
    try {
      val start = System.currentTimeMillis()
      val out = span(spark, name)(f)
      val end = System.currentTimeMillis()
      org.apache.spark.MeasureBus.drain(sc)
      (out, listener.report(start, end))
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` under the span `<enclosing span>/<name>`; measures nothing. */
  def span[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, child(previous, name))
    try f finally sc.setLocalProperty(Key, previous)
  }

  private def child(parent: String, name: String): String =
    if (parent == null) name else s"$parent/$name"

  /** Attribution as perfbench's `CallListener` does it: a job's span from
    * its start event, a stage's from its job or its own submission (AQE
    * submits stages after the job start), a task's from its stage. */
  private final class SpanListener(path: String) extends SparkListener {
    private val seen = new ConcurrentLinkedQueue[(Job, Long)]()
    private val stageSpan = new ConcurrentHashMap[Int, String]()
    private val bySpan = new ConcurrentHashMap[String, Counters]()

    private def spanOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(Key)))
    private def ours(span: String): Boolean = span == path || span.startsWith(path + "/")
    private def add(span: String, c: Counters): Unit = bySpan.merge(span, c, _ + _)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      val tagged = span.exists(ours)
      seen.add(Job(e.jobId,
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))),
        e.stageInfos.headOption.map(_.name).getOrElse(""), span, tagged) -> e.time)
      if (tagged) {
        e.stageIds.foreach(stageSpan.put(_, span.get))
        add(span.get, Counters(jobs = 1))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).filter(ours).foreach(stageSpan.put(e.stageInfo.stageId, _))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = Option(e.taskMetrics)
        add(span, Counters(
          tasks = 1, failedTasks = if (e.reason == Success) 0 else 1,
          taskMs = m.fold(0L)(_.executorRunTime), cpuNs = m.fold(0L)(_.executorCpuTime),
          gcMs = m.fold(0L)(_.jvmGCTime), scanBytes = m.fold(0L)(_.inputMetrics.bytesRead),
          shuffleWriteBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          shuffleReadBytes = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          fetchWaitMs = m.fold(0L)(_.shuffleReadMetrics.fetchWaitTime),
          spillBytes = m.fold(0L)(_.diskBytesSpilled),
          writeBytes = m.fold(0L)(_.outputMetrics.bytesWritten)))
      }

    def report(startMs: Long, endMs: Long): Report = {
      val spans = bySpan.asScala.toSeq
      val children = spans.filter(_._1 != path)
        .groupMapReduce(_._1.drop(path.length + 1).takeWhile(_ != '/'))(_._2)(_ + _)
      Report(path,
        seen.asScala.toSeq.collect {
          case (j, t) if j.tagged || (t >= startMs && t <= endMs) => j
        }.sortBy(_.id),
        spans.map(_._2).foldLeft(Counters())(_ + _), children)
    }
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of driver code submits. The block runs under
  * its own job group; Spark copies the group into every job the block
  * starts, AQE's asynchronous stage submissions and threads the block
  * creates included, so other work in the session is not counted. Jobs
  * that start while the block runs but WITHOUT its group — submitted from
  * a thread that did not inherit the block's local properties — are
  * reported too, marked `inGroup = false`, so a budget cannot miss them.
  */
object SparkJobs {

  /** One job: `executionId` is the SQL execution it belongs to — None for
    * jobs started outside any query, such as parquet schema inference. */
  final case class Job(id: Int, executionId: Option[String], callSite: String,
                       inGroup: Boolean = true)

  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[(Job, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add(Job(e.jobId, p.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))),
          e.stageInfos.headOption.map(_.name).getOrElse(""),
          p.exists(_.getProperty("spark.jobGroup.id") == group)) -> e.time)
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block", interruptOnCancel = false)
    try {
      val start = System.currentTimeMillis()
      val out = f
      val end = System.currentTimeMillis()
      org.apache.spark.ListenerBusDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.collect {
        case (j, t) if j.inGroup || (t >= start && t <= end) => j
      }.sortBy(_.id))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of driver code submits. The block runs under
  * its own job group; Spark copies the group into every job the block
  * starts, AQE's asynchronous stage submissions included, so other work in
  * the session is not counted.
  */
object SparkJobs {

  /** One job: `executionId` is the SQL execution it belongs to — None for
    * jobs started outside any query, such as parquet schema inference. */
  final case class Job(id: Int, executionId: Option[String], callSite: String)

  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          seen.add(Job(e.jobId, Option(p.getProperty("spark.sql.execution.id")),
            e.stageInfos.headOption.map(_.name).getOrElse("")))
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block", interruptOnCancel = false)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq.sortBy(_.id))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

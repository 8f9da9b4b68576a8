package graft

import java.nio.file.Paths
import java.util.concurrent.CountDownLatch
import org.scalatest.funsuite.AnyFunSuite
import graft.stages.{MergeTable, PipelineMain}

class MeasureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  test("a measured block reports its jobs and the full counter set, named as perfbench names them") {
    val (n, r) = Measure.during(spark, "shuffle")(spark.range(100).repartition(2).count())
    assert(n == 100)
    assert(r.span == "shuffle")
    assert(r.counters.values.map(_._1) == Seq("jobs", "tasks", "task_s", "cpu_s", "gc_s",
      "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
      "spill_bytes", "write_bytes", "failed_tasks"))
    assert(r.jobs.nonEmpty && r.jobs.forall(j => j.tagged && j.span.contains("shuffle")))
    assert(r.counters.jobs == r.jobs.size)
    assert(r.counters.tasks > 0 && r.counters.shuffleWriteBytes > 0 && r.counters.failedTasks == 0)
    assert(r.children.isEmpty)
  }

  test("jobs on branch threads the block starts belong to the block") {
    val (_, r) = Measure.during(spark, "branches")(PipelineMain.concurrently(
      () => spark.range(10).count(), () => spark.range(5).count()))
    assert(r.jobs.size >= 2 && r.jobs.forall(_.tagged), r.jobs)
    assert(r.counters.jobs == r.jobs.size)
  }

  test("a job from a thread created before the block is reported untagged and not counted") {
    assert(spark.sparkContext.getLocalProperty(Measure.Key) == null)
    val go, done = new CountDownLatch(1)
    val early = new Thread(() => { go.await(); spark.range(7).count(); done.countDown() })
    early.start()
    val (_, r) = Measure.during(spark, "window") { go.countDown(); done.await() }
    early.join()
    assert(r.jobs.nonEmpty && r.jobs.forall(j => !j.tagged && j.span.isEmpty), r.jobs)
    assert(r.counters == Measure.Counters())
  }

  test("an upsert under a measured block reports one commit child whose jobs are the parent's") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    val child = s"commit:${Paths.get(t.root).getFileName}"
    val (_, r) = Measure.during(spark, "upsert") {
      t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
      spark.range(3).count()   // a job outside the commit
    }
    assert(r.children.keySet == Set(child))
    val childJobs = r.jobs.filter(_.span.contains(s"upsert/$child"))
    assert(childJobs.nonEmpty && childJobs.size < r.jobs.size, r.jobs)
    assert(childJobs.size == r.children(child).jobs)
    r.children(child).values.zip(r.counters.values).foreach { case ((k, c), (_, p)) =>
      assert(c <= p, s"$k: child $c > parent $p")
    }
  }

  test("the caller's span and job group are intact afterwards, also when the block fails") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Measure.Key, "caller")
    sc.setJobGroup("measure-spec", "the caller's group")
    try {
      val (_, r) = Measure.during(spark, "inner")(spark.range(4).count())
      assert(r.span == "caller/inner")
      assert(r.jobs.nonEmpty && r.jobs.forall(_.span.contains("caller/inner")), r.jobs)
      assert(sc.getLocalProperty(Measure.Key) == "caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "measure-spec")
      intercept[IllegalStateException](
        Measure.during(spark, "fails")(throw new IllegalStateException("block failed")))
      assert(sc.getLocalProperty(Measure.Key) == "caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "measure-spec")
    } finally {
      sc.setLocalProperty(Measure.Key, null)
      sc.clearJobGroup()
    }
  }
}

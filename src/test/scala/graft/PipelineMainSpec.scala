package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.stages.{Pipeline, PipelineMain}

/** The spark-submit packaging (S8): each stage a separate invocation
  * sharing only durable MergeTable storage — the per-task contract of the
  * Airflow DAG (`tools/airflow_dag_graft.py`). Asserts cross-JVM-shaped
  * restartability (state lives in storage, not the session), SCD
  * semantics across two days, replay idempotence, and the ledger mart.
  */
class PipelineMainSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def ts(s: String) = Timestamp.valueOf(s)

  private def delivery(id: String, order: String, courier: String,
                       dts: String, rate: Int, sum: String, tip: String): (String, Timestamp) =
    (s"""{"order_id":"$order","order_ts":"$dts","delivery_id":"$id","courier_id":"$courier",""" +
      s""""address":"a","delivery_ts":"$dts","rate":$rate,"sum":$sum,"tip_sum":$tip}""",
      ts(dts))

  private def writeSource(dir: String, couriers: Seq[(String, String)],
                          deliveries: Seq[(String, Timestamp)]): Unit = {
    import spark.implicits._
    couriers.toDF("courier_key", "courier_name")
      .write.mode("overwrite").parquet(s"$dir/couriers")
    deliveries.toDF("json_response", "delivery_ts")
      .write.mode("overwrite").parquet(s"$dir/deliveries")
  }

  private def ledgerOf(wh: String): Map[String, org.apache.spark.sql.Row] = {
    val dir = s"$wh/cdm/ledger"
    spark.read.parquet(s"$dir/${new graft.stages.MergeTable(dir, Seq.empty).currentVersion.get}")
      .collect().map(r => r.getAs[String]("courier_name") -> r).toMap
  }

  test("malformed payload lands under a surrogate key, quarantines with reason, replays clean") {
    import spark.implicits._
    val wh = graft.stages.TempDirs.scratch("graft_pm_mal_wh_")
    val src = graft.stages.TempDirs.scratch("graft_pm_mal_src_")
    PipelineMain.seedOrders(spark, wh,
      Seq(("o1", 11, 1)).toDF("order_key", "id", "timestamp_id"))
    // one clean row + one payload with no delivery_id at all
    writeSource(src, Seq("c1" -> "Ann"), Seq(
      delivery("d1", "o1", "c1", "2024-05-01 11:00:00", 5, "100.00", "10.00"),
      ("""{"order_id":"o1","courier_id":"c1","rate":5,"sum":"1.00","tip_sum":"0.00"}""",
        ts("2024-05-01 13:00:00"))))
    Seq("load_stg", "stg_to_dds").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))

    def table(rel: String): org.apache.spark.sql.DataFrame = {
      val mt = new graft.stages.MergeTable(s"$wh/$rel", Seq.empty)
      spark.read.parquet(s"$wh/$rel/${mt.currentVersion.get}")
    }
    // the malformed row LANDED (surrogate key), was not collapsed or lost
    assert(table("stg/deliveries").count() == 2)
    assert(table("stg/deliveries")
      .filter(col("delivery_key").startsWith("_malformed_")).count() == 1)
    // and was quarantined with the NOT NULL reason, not loaded as a fact
    assert(table("dds/fct_deliveries").count() == 1)
    val q = table("dds/quarantine").collect()
    assert(q.length == 1 &&
      q.head.getAs[scala.collection.Seq[String]]("_violations")
        .contains("delivery_key_not_null"))
    // full replay: landing, fact, and quarantine all stay exactly-once
    Seq("load_stg", "stg_to_dds").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    assert(table("stg/deliveries").count() == 2)
    assert(table("dds/fct_deliveries").count() == 1)
    assert(table("dds/quarantine").count() == 1)
  }

  test("unseeded dm_orders with a non-empty increment fails loudly (no silent consume)") {
    val wh = graft.stages.TempDirs.scratch("graft_pm_seed_wh_")
    val src = graft.stages.TempDirs.scratch("graft_pm_seed_src_")
    writeSource(src, Seq("c1" -> "Ann"), Seq(
      delivery("d1", "o1", "c1", "2024-05-01 11:00:00", 5, "100.00", "10.00")))
    PipelineMain.runStage(spark, "load_stg", wh, Some(src))
    val e = intercept[IllegalStateException](
      PipelineMain.runStage(spark, "stg_to_dds", wh, Some(src)))
    assert(e.getMessage.contains("dm_orders"))
    // an EMPTY increment on an unseeded order dim has nothing to lose: no
    // throw, and the cursor stays where it was
    val emptyWh = graft.stages.TempDirs.scratch("graft_pm_seed_empty_wh_")
    val emptySrc = graft.stages.TempDirs.scratch("graft_pm_seed_empty_src_")
    writeSource(emptySrc, Seq("c1" -> "Ann"), Seq.empty)
    Seq("load_stg", "stg_to_dds").foreach(PipelineMain.runStage(spark, _, emptyWh, Some(emptySrc)))
    assert(watermarkOf(emptyWh) == Pipeline.coldStartWatermark)
  }

  private val stages = Seq("load_stg", "stg_to_dds", "ledger_update")

  /** The two-day fixture: a fresh warehouse seeded with three orders and a
    * source directory holding day 1 (landed and run through `day1Stages`). */
  private def twoDayFixture(day1Stages: Seq[String] = stages): (String, String) = {
    import spark.implicits._
    val wh = graft.stages.TempDirs.scratch("graft_pm_wh_")
    val src = graft.stages.TempDirs.scratch("graft_pm_src_")
    PipelineMain.seedOrders(spark, wh,
      Seq(("o1", 11, 1), ("o2", 12, 2), ("o3", 13, 3)).toDF("order_key", "id", "timestamp_id"))
    writeSource(src, Seq("c1" -> "Ann", "c2" -> "Bob"), Seq(
      delivery("d1", "o1", "c1", "2024-05-01 11:00:00", 5, "100.00", "10.00"),
      delivery("d2", "o2", "c2", "2024-05-01 12:00:00", 3, "200.00", "0.00")))
    day1Stages.foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    (wh, src)
  }

  /** Day 2: re-delivers d2, adds d3, renames c1 (SCD1) — a fresh source
    * snapshot for the same durable warehouse. */
  private def writeDay2(src: String): Unit =
    writeSource(src, Seq("c1" -> "Ann Smith", "c2" -> "Bob"), Seq(
      delivery("d2", "o2", "c2", "2024-05-01 12:00:00", 3, "200.00", "0.00"),
      delivery("d3", "o3", "c1", "2024-05-02 09:30:00", 4, "300.00", "30.00")))

  private def watermarkOf(wh: String): Timestamp =
    graft.stages.State.readWatermark(spark, s"$wh/state/wf",
      PipelineMain.WorkflowKey, Pipeline.coldStartWatermark)

  /** A committed table's current version (no rows when never committed). */
  private def tableOf(wh: String, rel: String): org.apache.spark.sql.DataFrame =
    new graft.stages.MergeTable(s"$wh/$rel", Seq.empty)
      .read(spark, new org.apache.spark.sql.types.StructType())

  /** A committed table's rows, columns in name order, rows sorted. */
  private def contentOf(wh: String, rel: String): Seq[String] = {
    val df = tableOf(wh, rel)
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted
  }

  test("two incremental runs: SCD0 facts, SCD1 couriers, watermark, ledger") {
    val (wh, src) = twoDayFixture(Seq("load_stg", "stg_to_dds"))
    assert(tableOf(wh, "dds/quarantine").count() == 0)
    assert(watermarkOf(wh) == ts("2024-05-01 12:00:00"))
    assert(tableOf(wh, "dds/fct_deliveries").count() == 2)
    assert(tableOf(wh, "dds/dm_couriers").count() == 2)
    def courier(key: String) =
      tableOf(wh, "dds/dm_couriers").filter(col("courier_key") === key).collect().head
    val c1IdBefore = courier("c1").getAs[Int]("id")

    // day 2: re-delivers d2 (must be ignored), adds d3, renames c1 (SCD1)
    writeDay2(src)
    Seq("load_stg", "stg_to_dds").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    assert(watermarkOf(wh) == ts("2024-05-02 09:30:00"))
    // d2 re-delivery filtered by watermark; d3 appended
    assert(tableOf(wh, "dds/fct_deliveries").count() == 3)
    // SCD1: c1 renamed, id stable
    val c1 = courier("c1")
    assert(c1.getAs[String]("courier_name") == "Ann Smith")
    assert(c1.getAs[Int]("id") == c1IdBefore)

    // empty increment: nothing changes, watermark does not advance
    PipelineMain.runStage(spark, "stg_to_dds", wh, Some(src))
    assert(watermarkOf(wh) == ts("2024-05-02 09:30:00"))
    assert(tableOf(wh, "dds/fct_deliveries").count() == 3)

    // ledger rebuild: c1 has d1 (100, rate 5) + d3 (300, rate 4) in May 2024
    PipelineMain.runStage(spark, "ledger_update", wh, Some(src))
    val ledger = tableOf(wh, "cdm/ledger")
      .filter("settlement_year = 2024 AND settlement_month = 5")
      .collect().map(r => r.getAs[String]("courier_name") -> r).toMap
    val ann = ledger("Ann Smith")
    assert(ann.getAs[Long]("orders_count") == 2L)
    assert(ann.getAs[Double]("orders_total_sum") == 400.0)
    assert(ann.getAs[Double]("rate_avg") == 4.5)
    // avg 4.5 → 8% tier: 32 < 175*2 → floor 350; reward = 350 + 0.95*40
    assert(ann.getAs[Double]("courier_order_sum") == 350.0)
    assert(ann.getAs[Double]("courier_reward_sum") == 350.0 + 38.0)
    val bob = ledger("Bob")
    assert(bob.getAs[Double]("rate_avg") == 3.0)
    assert(bob.getAs[Double]("courier_order_sum") == 100.0)  // 5% of 200 → floor 100
  }

  test("CHECK violations are quarantined with reasons, not loaded, and don't stall the watermark") {
    val (wh, src) = twoDayFixture(day1Stages = Nil)
    writeSource(src, Seq("c1" -> "Ann", "c2" -> "Bob"), Seq(
      delivery("ok", "o1", "c1", "2024-06-01 10:00:00", 5, "100.00", "1.00"),
      delivery("bad_rate", "o2", "c2", "2024-06-01 11:00:00", 9, "50.00", "0.00"),
      delivery("bad_sum", "o3", "c1", "2024-06-01 12:00:00", 3, "-7.00", "0.00")))
    Seq("load_stg", "stg_to_dds").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    // only the clean row loads
    assert(tableOf(wh, "dds/fct_deliveries").collect()
      .map(_.getAs[String]("delivery_key")).toSeq == Seq("ok"))
    // the bad rows are inspectable with their reasons
    val reasons = tableOf(wh, "dds/quarantine").collect()
      .map(r => r.getAs[String]("delivery_key") ->
        r.getAs[scala.collection.Seq[String]]("_violations").toSeq).toMap
    assert(reasons("bad_rate") == Seq("rating_range"))
    assert(reasons("bad_sum") == Seq("order_sum_non_negative"))
    // quarantined rows were dispositioned: the cursor moves past them
    assert(watermarkOf(wh) == ts("2024-06-01 12:00:00"))
  }

  test("three-stage spark-submit chain: two days, replay, durable state, ledger") {
    val (wh, src) = twoDayFixture()
    assert(ledgerOf(wh)("Ann").getAs[Long]("orders_count") == 1L)

    writeDay2(src)
    stages.foreach(PipelineMain.runStage(spark, _, wh, Some(src)))

    val ann = ledgerOf(wh)("Ann Smith")   // SCD1 rename reached the mart
    assert(ann.getAs[Long]("orders_count") == 2L)
    assert(ann.getAs[Double]("orders_total_sum") == 400.0)
    assert(ann.getAs[Double]("courier_reward_sum") == 388.0)  // floor 350 + 0.95*40

    // durable watermark: day-2 cursor survives "the JVM" (fresh read path)
    assert(watermarkOf(wh) == ts("2024-05-02 09:30:00"))

    // full replay of day 2 (task retry): every merge idempotent, mart unchanged
    stages.foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    val replayed = ledgerOf(wh)
    assert(replayed("Ann Smith").getAs[Long]("orders_count") == 2L)
    assert(replayed.size == 2)
    val fctDir = s"$wh/dds/fct_deliveries"
    val fct = new graft.stages.MergeTable(fctDir, Seq.empty)
    assert(spark.read.parquet(s"$fctDir/${fct.currentVersion.get}").count() == 3)
  }

  test("crash between the dim and fact commits: cursor holds, replay equals a clean run") {
    val (clean, cleanSrc) = twoDayFixture()
    writeDay2(cleanSrc)
    stages.foreach(PipelineMain.runStage(spark, _, clean, Some(cleanSrc)))

    val (wh, src) = twoDayFixture()
    writeDay2(src)
    PipelineMain.runStage(spark, "load_stg", wh, Some(src))
    val day1Cursor = watermarkOf(wh)
    // a live foreign writer holds the fact table: stg_to_dds commits both
    // dims, then fails at the fact commit
    val fct = new graft.stages.MergeTable(s"$wh/dds/fct_deliveries", Seq("delivery_key"))
    java.nio.file.Files.write(java.nio.file.Paths.get(fct.root, "_COMMIT_LOCK"),
      "foreign-writer 0".getBytes("UTF-8"))
    def dimVersions = Seq("dds/dm_couriers", "dds/dm_timestamps").map(rel =>
      new graft.stages.MergeTable(s"$wh/$rel", Seq.empty).currentVersion)
    val before = dimVersions
    intercept[java.util.ConcurrentModificationException](
      PipelineMain.runStage(spark, "stg_to_dds", wh, Some(src)))
    assert(dimVersions.zip(before).forall { case (now, was) => now != was },
      "both dims commit before the facts")
    assert(contentOf(wh, "dds/dm_couriers").exists(_.contains("Ann Smith")))
    assert(watermarkOf(wh) == day1Cursor, "a failed fact commit must not advance the cursor")

    // the holder is known dead: repair and re-run the stage
    assert(fct.breakLock())
    Seq("stg_to_dds", "ledger_update").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    Seq("dds/dm_couriers", "dds/dm_timestamps", "dds/fct_deliveries").foreach { rel =>
      assert(contentOf(wh, rel) == contentOf(clean, rel), rel)
    }
    assert(ledgerOf(wh).map { case (k, r) => k -> r.toSeq } ==
      ledgerOf(clean).map { case (k, r) => k -> r.toSeq })
    assert(watermarkOf(wh) == watermarkOf(clean))
  }

  test("a failure inside a concurrent branch: every branch finishes, nothing staged is left, replay equals a clean run") {
    val (clean, cleanSrc) = twoDayFixture()
    writeDay2(cleanSrc)
    stages.foreach(PipelineMain.runStage(spark, _, clean, Some(cleanSrc)))

    val (wh, src) = twoDayFixture()
    writeDay2(src)
    PipelineMain.runStage(spark, "load_stg", wh, Some(src))
    val day1Cursor = watermarkOf(wh)
    val day1Facts = contentOf(wh, "dds/fct_deliveries")
    // a live foreign writer holds the timestamp dim, whose commit runs
    // beside the courier dim's
    val dmTs = new graft.stages.MergeTable(s"$wh/dds/dm_timestamps", Seq("ts"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dmTs.root, "_COMMIT_LOCK"),
      "foreign-writer 0".getBytes("UTF-8"))
    val couriers = new graft.stages.MergeTable(s"$wh/dds/dm_couriers", Seq.empty)
    val couriersBefore = couriers.currentVersion
    intercept[java.util.ConcurrentModificationException](
      PipelineMain.runStage(spark, "stg_to_dds", wh, Some(src)))
    // the throw came after the sibling branch finished: its commit landed
    assert(couriers.currentVersion != couriersBefore)
    val dds = java.nio.file.Paths.get(wh, "dds")
    val staged = java.nio.file.Files.walk(dds)
    try assert(staged.noneMatch(_.getFileName.toString.startsWith("_stage_")),
      "a failed commit must leave no stage directory")
    finally staged.close()
    assert(watermarkOf(wh) == day1Cursor, "a failed branch must not advance the cursor")
    assert(contentOf(wh, "dds/fct_deliveries") == day1Facts, "the facts wait for both dims")

    assert(dmTs.breakLock())
    Seq("stg_to_dds", "ledger_update").foreach(PipelineMain.runStage(spark, _, wh, Some(src)))
    Seq("dds/dm_couriers", "dds/dm_timestamps", "dds/fct_deliveries", "dds/quarantine")
      .foreach(rel => assert(contentOf(wh, rel) == contentOf(clean, rel), rel))
    assert(ledgerOf(wh).map { case (k, r) => k -> r.toSeq } ==
      ledgerOf(clean).map { case (k, r) => k -> r.toSeq })
    assert(watermarkOf(wh) == watermarkOf(clean))
  }

  test("concurrently: every branch runs, the first failure wins with the others suppressed, local properties reach the branches") {
    val sc = spark.sparkContext
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.setLocalProperty("graft.spec.tag", "caller")
    val e = try intercept[IllegalStateException](PipelineMain.concurrently(
      () => { ran.incrementAndGet(); throw new IllegalStateException("first") },
      () => { Thread.sleep(200); ran.incrementAndGet(); seen.add(sc.getLocalProperty("graft.spec.tag")) },
      () => { ran.incrementAndGet(); throw new IllegalArgumentException("third") }))
    finally sc.setLocalProperty("graft.spec.tag", null)
    assert(ran.get == 3, "every branch runs to its end")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(seen.peek() == "caller")
    PipelineMain.concurrently()   // no branches: nothing to wait for
  }

  test("dim max id from _STATS equals the scanned max over versions; scans when _STATS cannot answer") {
    import spark.implicits._
    val t = graft.stages.MergeTable.scratch(Seq("k"))
    Seq(Seq(1 -> "a", 2 -> "b"), Seq(3 -> "c"), Seq(7 -> "a", 5 -> "d"))
      .foreach(b => t.upsert(b.toDF("id", "k")))
    val v = t.currentVersion.get
    assert(t.manifestMax(v, "id").contains(7L))
    val dim = t.read(spark, new org.apache.spark.sql.types.StructType())
    val (viaStats, probe) = Measure.during(spark, "max_id")(PipelineMain.maxId(t, dim))
    assert(viaStats == dim.agg(org.apache.spark.sql.functions.max("id")).collect().head.getInt(0))
    assert(viaStats == 7)
    assert(probe.jobs.isEmpty, s"a covered max id submits no job: ${probe.jobs}")

    // no manifest: the scan answers
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.root, v, graft.lake.StatsManifest.FileName))
    assert(t.manifestMax(v, "id").isEmpty)
    assert(PipelineMain.maxId(t, t.read(spark, new org.apache.spark.sql.types.StructType())) == 7)

    // a file whose ids are all null has no upper bound: the scan answers
    val withNull = graft.stages.MergeTable.scratch(Seq("k"))
    val staged = java.nio.file.Paths.get(withNull.root, "_stage_spec").toString
    Seq((Option(4), "a")).toDF("id", "k").write.parquet(staged)
    Seq((Option.empty[Int], "z")).toDF("id", "k").write.mode("append").parquet(staged)
    val nv = withNull.commitStagedFiles(java.nio.file.Paths.get(staged), carryForward = false)
    assert(withNull.dataFiles(nv).size == 2 && withNull.manifestMax(nv, "id").isEmpty)
    assert(PipelineMain.maxId(withNull,
      withNull.read(spark, new org.apache.spark.sql.types.StructType())) == 4)
  }

  test("job budget: a daily stg_to_dds submits no schema-inference job and stays in budget") {
    val (wh, src) = twoDayFixture()
    writeDay2(src)
    val reports = stages.map { stage =>
      stage -> Measure.during(spark, stage)(PipelineMain.runStage(spark, stage, wh, Some(src)))._2
    }.toMap
    stages.foreach { stage =>
      val jobs = reports(stage).jobs
      // an untagged job escaped the caller's accounting (a branch thread
      // that did not inherit its local properties); a job outside any SQL
      // execution only infers a schema from a footer
      assert(jobs.forall(_.tagged), s"$stage: untagged jobs: ${jobs.filterNot(_.tagged)}")
      assert(jobs.forall(_.executionId.isDefined),
        s"$stage: jobs outside a SQL execution: ${jobs.filter(_.executionId.isEmpty)}")
      val budget = PipelineMainSpec.JobBudget(stage)
      // the jobs per commit name where a regression is
      val byChild = reports(stage).children.toSeq.sortBy(_._1)
        .map { case (child, c) => s"$child=${c.jobs}" }.mkString(", ")
      assert(jobs.size <= budget, s"$stage: ${jobs.size} jobs > budget $budget " +
        s"(per commit: $byChild): ${jobs.map(_.callSite)}")
    }
    assert(Set("commit:dm_couriers", "commit:dm_timestamps", "commit:fct_deliveries")
      .subsetOf(reports("stg_to_dds").children.keySet), reports("stg_to_dds").children)
  }
}

object PipelineMainSpec {
  /** Jobs each daily stage may submit on the two-day fixture: the measured
    * count (load_stg 7, stg_to_dds 26, ledger_update 10) plus a 25% margin
    * for plan changes across Spark patches. The full-state dim commits,
    * re-running the dim lineages in the fact commit, or schema inference on
    * each read each add 10+ jobs to stg_to_dds; scanning for the dims' max
    * ids adds 4, and an isEmpty probe of the quarantine 1. */
  val JobBudget: Map[String, Int] =
    Map("load_stg" -> 8, "stg_to_dds" -> 32, "ledger_update" -> 12)
}

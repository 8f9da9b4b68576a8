package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `spark-submit` packaging of the pipeline DAG — what each Airflow
  * task actually launches in production (`tools/airflow_dag_graft.py`
  * holds the DAG shape; the reference runs the same chain with
  * `PostgresOperator`s, `dags/courier_ledger_dag.py:41-42`):
  *
  *   spark-submit --class graft.stages.PipelineMain <jar> <stage> <warehouse> [args]
  *
  * Stages, each a separate JVM sharing ONLY durable storage (every layer
  * a [[MergeTable]] under the warehouse root — crash-safe pointer-flip
  * commits, so a task retry resumes from the last committed version):
  *
  *   - `load_stg <warehouse> <sourceDir>` — land the source snapshot into
  *     `stg/` (couriers SCD1, deliveries SCD0 on the business keys, the
  *     two commits concurrent) — the S1/S2 extraction boundary (a
  *     production deployment points this at
  *     [[graft.sources.PagedJsonSource]]; the driver corpus stands in
  *     here);
  *   - `stg_to_dds <warehouse>` — the watermark-incremental load
  *     ([[Pipeline.prepareIncrement]]): the dims commit this increment's
  *     rows only (SCD1 courier upsert, SCD0 timestamp insert, stable
  *     surrogate ids), the facts are resolved against the dim versions
  *     just committed and insert-ignored, CHECK violations are
  *     quarantined, and the cursor advances ONLY after the fact and
  *     quarantine commits (write-then-advance, SURVEY.md §7.3);
  *   - `ledger_update <warehouse>` — the full-recompute
  *     [[Pipeline.ledgerRebuild]] upserted into `cdm/ledger`.
  *
  * Only the fact load depends on both dims: within a stage, every table
  * that does not wait for another commits on its own thread
  * ([[concurrently]]), where the reference runs its tasks as one chain.
  *
  * Layout: `stg/{couriers,deliveries}`, `dds/{dm_couriers, dm_timestamps,
  * dm_orders, fct_deliveries, quarantine}`, `cdm/ledger`, `state/wf` —
  * `dds/dm_orders` is the pre-existing DWH dimension the reference
  * assumes (`DWH Design (ENG).md:76`); seed it before the first run.
  */
object PipelineMain {

  val WorkflowKey = "deliveries_stg_to_dds"

  // declared layer schemas (FIXTURES.md A2-A4) — what an empty table reads as
  private val stgDeliverySchema = StructType(Seq(
    StructField("json_response", StringType), StructField("delivery_key", StringType),
    StructField("delivery_ts", TimestampType)))
  // the source snapshot's deliveries (its couriers read as stgCourierSchema)
  private val sourceDeliverySchema = StructType(Seq(
    StructField("json_response", StringType), StructField("delivery_ts", TimestampType)))
  private val stgCourierSchema = StructType(Seq(
    StructField("courier_key", StringType), StructField("courier_name", StringType)))
  private val dmCourierSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("courier_key", StringType),
    StructField("courier_name", StringType)))
  private val dmTimestampSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("ts", TimestampType),
    StructField("year", IntegerType), StructField("month", IntegerType),
    StructField("day", IntegerType), StructField("time", StringType),
    StructField("date", DateType)))
  private val fctSchema = StructType(Seq(
    StructField("delivery_key", StringType), StructField("order_id", IntegerType),
    StructField("timestamp_id", IntegerType), StructField("order_sum", DecimalType(14, 2)),
    StructField("courier_id", IntegerType), StructField("rating", IntegerType),
    StructField("tips", DecimalType(14, 2))))
  private val dmOrderSchema = StructType(Seq(
    StructField("order_key", StringType), StructField("id", IntegerType),
    StructField("timestamp_id", IntegerType)))

  private def t(warehouse: String, rel: String, keys: String*) =
    new MergeTable(s"$warehouse/$rel", keys)

  private def read(spark: SparkSession, warehouse: String, rel: String,
                   schema: StructType, keys: String*): DataFrame =
    t(warehouse, rel, keys: _*).read(spark, schema)

  /** `load_stg`: land the source snapshot. Deliveries carry their business
    * key out of the payload so the SCD0 landing can dedup re-deliveries
    * without parsing (`sql/DDL_stg.deliverysystem_deliveries.sql:12`). The
    * snapshot is read with its declared schemas: no job infers them from a
    * footer. The two landings share nothing and commit concurrently.
    *
    * A payload with NO extractable delivery_id gets a deterministic
    * surrogate key (`_malformed_<md5(payload)>`): the landing key must be
    * non-null or [[Merge]]'s equality joins mishandle it twice over —
    * `dropDuplicates` would collapse ALL malformed rows to one (losing
    * them before quarantine can record them) and the left-anti replay
    * guard would never match, re-appending the row on every task retry.
    * Downstream, `parseDeliveries` re-extracts NULL from the payload and
    * the S7 `delivery_key_not_null` check quarantines the row with its
    * reason — the disposition the reference's NOT NULL DDL enforces by
    * aborting.
    */
  def loadStg(spark: SparkSession, warehouse: String, sourceDir: String): Unit = {
    val couriers = spark.read.schema(stgCourierSchema).parquet(s"$sourceDir/couriers")
    val deliveries = spark.read.schema(sourceDeliverySchema).parquet(s"$sourceDir/deliveries")
      .withColumn("delivery_key", coalesce(
        get_json_object(col("json_response"), "$.delivery_id"),
        concat(lit("_malformed_"), md5(col("json_response")))))
      .select(col("json_response"), col("delivery_key"), col("delivery_ts"))
    concurrently(
      () => t(warehouse, "stg/couriers", "courier_key").upsert(couriers),
      () => t(warehouse, "stg/deliveries", "delivery_key").insertIgnore(deliveries))
  }

  /** `stg_to_dds`: one watermark increment against durable DDS state.
    *
    * Each piece of work runs once: the dims commit delta rows (never their
    * full state), and the facts resolve against the dim versions this run
    * committed — a read of those versions, not a re-run of the dim
    * lineages. The scalar probes submit no job: the dims' max ids come
    * from their `_STATS` bounds, and whether anything is quarantined rides
    * the parse write as an observed count.
    *
    * Commit DAG, once the parse is written: the two dims and the
    * quarantine commit concurrently; the facts commit once both dims have;
    * the watermark advances once the facts and the quarantine have. A
    * failure in any branch lets the others finish, then fails the stage
    * with the cursor unmoved. Any subset of the concurrent commits may
    * have landed by then; each is an idempotent merge, so the re-run
    * converges to a clean run (the dims resolve the same ids).
    */
  def stgToDds(spark: SparkSession, warehouse: String): Unit = {
    val dmCouriers = t(warehouse, "dds/dm_couriers", "courier_key")
    val dmTimestamps = t(warehouse, "dds/dm_timestamps", "ts")
    val wm = State.readWatermark(spark, s"$warehouse/state/wf", WorkflowKey,
      Pipeline.coldStartWatermark)
    // stage boundary: the load runs ~6 actions over the parsed increment;
    // materialize the parse ONCE to scratch parquet so each action reads
    // the compact columns instead of re-scanning STG + re-running
    // from_json (the Validate.split caller contract)
    val parsedDir = TempDirs.scratch("graft_pm_parsed_")
    // the watermark cursor, the increment size and the CHECK violators
    // RIDE the write action (Dataset.observe): at 100 TB a separate
    // agg(max)/isEmpty pass over the increment is a second full scan for
    // a scalar
    val obs = org.apache.spark.sql.Observation(s"parsed_increment_$WorkflowKey")
    val parse = StgToDds.parseDeliveries(
      read(spark, warehouse, "stg/deliveries", stgDeliverySchema, "delivery_key")
        .filter(col("delivery_ts") > lit(wm)))
    val violates = Validate.deliveryChecks.map(Validate.violates).reduce(_ || _)
    parse.observe(obs, max(col("ts")).as("max_ts"), count(lit(1)).as("n_rows"),
        count(when(violates, true)).as("n_violating"))
      .write.mode("overwrite").parquet(parsedDir)
    val incrementMaxTs = Option(obs.get("max_ts"))
      .map(_.asInstanceOf[java.sql.Timestamp])
    // observed counts only overcount rows that exist: 0 exactly when the write landed nothing
    val incrementRows = obs.get("n_rows").asInstanceOf[Long]
    val violatingRows = obs.get("n_violating").asInstanceOf[Long]
    // read back with the parse schema, known before the write: no job to
    // infer it from a footer
    val parsed = spark.read.schema(parse.schema).parquet(parsedDir)
    val dmOrdersTable = t(warehouse, "dds/dm_orders", "order_key")
    val dmOrders = dmOrdersTable.read(spark, dmOrderSchema)
    // misconfiguration guard: an unseeded order dim would inner-join every
    // fact away AND advance the cursor — silently consuming the increment
    // forever. Fail loudly instead. The row count comes from the version's
    // _STATS manifest (metadata, no job); a scan answers when it is missing.
    val dmOrdersEmpty = dmOrdersTable.currentVersion.forall(v =>
      dmOrdersTable.manifestRowCount(v).map(_ == 0L).getOrElse(dmOrders.isEmpty))
    if (dmOrdersEmpty && incrementRows > 0)
      throw new IllegalStateException(
        s"$warehouse/dds/dm_orders is empty but the increment is not — seed the " +
          "pre-existing order dimension (PipelineMain.seedOrders) before loading facts")
    val couriersNow = dmCouriers.read(spark, dmCourierSchema)
    val timestampsNow = dmTimestamps.read(spark, dmTimestampSchema)
    val inc = Pipeline.prepareIncrement(parsed,
      read(spark, warehouse, "stg/couriers", stgCourierSchema, "courier_key"),
      couriersNow, timestampsNow,
      maxId(dmCouriers, couriersNow), maxId(dmTimestamps, timestampsNow))
    // quarantine idempotence cannot key on delivery_key (the rows this
    // table exists for may have it NULL): key on a deterministic row
    // digest so a crash-replay upserts, never duplicates
    val quarantined = inc.quarantined.withColumn("_q_key",
      md5(to_json(struct(inc.quarantined.columns.map(col): _*))))
    concurrently(
      () => {
        // dims merged by BUSINESS KEY with O(increment) incoming sides
        concurrently(
          () => dmCouriers.upsert(inc.couriers),
          () => dmTimestamps.insertIgnore(inc.timestamps))
        // facts resolve against exactly what was just committed, and
        // commit ONLY this increment's rows
        t(warehouse, "dds/fct_deliveries", "delivery_key").insertIgnore(
          StgToDds.resolveFacts(inc.deliveries, dmOrders,
            dmTimestamps.read(spark, dmTimestampSchema), dmCouriers.read(spark, dmCourierSchema)))
      },
      () => if (violatingRows > 0) t(warehouse, "dds/quarantine", "_q_key").upsert(quarantined))
    // the cursor advances LAST — a crash above replays into idempotent
    // merges. It is the max `ts` of every parsed row, quarantined ones
    // included: they were dispositioned, and re-reading them forever would
    // wedge the pipeline on one bad record. An empty increment advances nothing.
    State.advanceWatermark(spark, s"$warehouse/state/wf", WorkflowKey, incrementMaxTs)
  }

  /** A dim's largest `id` (0 when empty): the `_STATS` upper bound of the
    * version `dim` reads, a scan when the manifest cannot answer.
    */
  private[graft] def maxId(table: MergeTable, dim: DataFrame): Int =
    table.currentVersion.fold(0)(v => table.manifestMax(v, "id").map(_.toInt).getOrElse(
      dim.agg(coalesce(max(col("id")), lit(0))).collect().head.getInt(0)))

  /** Runs `branches` concurrently and waits for every one of them, even
    * after one fails; then throws the first failure in argument order with
    * the others attached as suppressed. Each branch runs on a thread
    * created for this call, so it inherits the caller's Spark local
    * properties (job group, scheduler pool, tracing tags) — threads of a
    * pool created earlier would not, and their jobs would escape the
    * caller's accounting.
    */
  private[graft] def concurrently(branches: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val th = new Thread(() => try branch() catch { case e: Throwable => failures(i) = e },
        s"graft-branch-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, others @ _*) => others.foreach(first.addSuppressed); throw first
      case _                         => ()
    }
  }

  /** `ledger_update`: DDS → CDM full recompute, upserted by the mart key. */
  def ledgerUpdate(spark: SparkSession, warehouse: String): Unit = {
    val dds = Pipeline.DdsState(
      read(spark, warehouse, "dds/dm_couriers", dmCourierSchema, "courier_key"),
      read(spark, warehouse, "dds/dm_timestamps", dmTimestampSchema, "ts"),
      read(spark, warehouse, "dds/fct_deliveries", fctSchema, "delivery_key"))
    val ledger = Pipeline.ledgerRebuild(dds,
      read(spark, warehouse, "dds/dm_orders", dmOrderSchema, "order_key"))
    t(warehouse, "cdm/ledger", "courier_id", "settlement_year", "settlement_month")
      .upsert(ledger)
  }

  /** Seed helper: the pre-existing `dds.dm_orders` dimension. */
  def seedOrders(spark: SparkSession, warehouse: String, dmOrders: DataFrame): Unit =
    t(warehouse, "dds/dm_orders", "order_key").upsert(dmOrders)

  def runStage(spark: SparkSession, stage: String, warehouse: String,
               sourceDir: Option[String] = None): Unit = stage match {
    case "load_stg"      => loadStg(spark, warehouse, sourceDir.getOrElse(
      throw new IllegalArgumentException("load_stg needs <sourceDir>")))
    case "stg_to_dds"    => stgToDds(spark, warehouse)
    case "ledger_update" => ledgerUpdate(spark, warehouse)
    case other => throw new IllegalArgumentException(
      s"unknown stage '$other' (expected load_stg | stg_to_dds | ledger_update)")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineMain <load_stg|stg_to_dds|ledger_update> <warehouse> [sourceDir]")
    val spark = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try runStage(spark, args(0), args(1), args.lift(2))
    finally spark.stop()
  }
}

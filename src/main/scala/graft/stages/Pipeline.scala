package graft.stages

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference DAG (`dags/courier_ledger_dag.py:41-42`) as sequential
  * stage functions over one SparkSession — load couriers/deliveries,
  * STG→DDS normalization, fact load, ledger rebuild — with the watermark
  * advanced only after a successful fact write (SURVEY.md §7.3 ordering).
  *
  * Tables are plain DataFrames in/out, storage-agnostic: the orchestrator
  * (Airflow `SparkSubmitOperator` per stage in production, a single driver
  * call in tests) decides where each layer persists. All stages are
  * idempotent under replay because every write path flows through the
  * [[Merge]] rewrites.
  *
  * The dims take delta rows only ([[prepareIncrement]]): this increment's
  * couriers (SCD1 upsert) and its new timestamps (SCD0 insert), ids given
  * to those rows alone. The facts resolve against the dims once they hold
  * those rows — the in-memory [[DdsState]] here, the committed dim
  * versions in `PipelineMain.stgToDds`.
  */
object Pipeline {

  final case class DdsState(
      dmCouriers: DataFrame,   // id, courier_key, courier_name
      dmTimestamps: DataFrame, // id, ts, year, month, day, time, date
      fctDeliveries: DataFrame) // delivery_key, order_id, timestamp_id, order_sum, courier_id, rating, tips

  val coldStartWatermark: Timestamp = Timestamp.valueOf("2022-01-01 00:00:00")

  /** One incremental run's outcome: the updated DDS state, the advanced
    * watermark (None if the increment was empty), the rows that failed
    * the CHECK-constraint set — quarantined with their violation reasons
    * instead of aborting the load (see [[Validate]]) — and `newFacts`,
    * THIS increment's key-resolved fact rows alone.
    */
  final case class LoadResult(
      dds: DdsState, watermark: Option[Timestamp], quarantined: DataFrame,
      newFacts: DataFrame)

  /** One incremental run: the courier/timestamp/fact loads of
    * `couriers_stg_to_dds.sql` / `timestamps_stg_to_dds.sql` /
    * `deliveries_stg_to_dds.sql` against the current DDS state.
    *
    * @param stgDeliveries raw STG rows (json_response, delivery_ts)
    * @param stgCouriers   courier snapshot (courier_key, courier_name)
    * @param watermark     last processed delivery_ts (strict >)
    * @param dmOrders      pre-existing order dimension (order_key, id)
    * @return updated DDS state + the new watermark (None if increment empty)
    */
  def incrementalLoad(stgDeliveries: DataFrame, stgCouriers: DataFrame,
                      dmOrders: DataFrame, dds: DdsState,
                      watermark: Timestamp): LoadResult =
    // O3: watermark filter with a driver-resolved literal → parquet pushdown
    incrementalLoadParsed(
      StgToDds.parseDeliveries(
        stgDeliveries.filter(col("delivery_ts") > lit(watermark))),
      stgCouriers, dmOrders, dds)

  /** One increment reduced to the rows it writes — what a storage-backed
    * caller commits, so every commit's incoming side is O(increment):
    *
    * @param deliveries the increment's CHECK-clean rows, still carrying
    *                   business keys (resolved against the dims by
    *                   [[StgToDds.resolveFacts]] once those hold this
    *                   increment's rows)
    * @param quarantined the CHECK violators with their reasons
    * @param couriers   `courierDimRows` of the increment with their ids:
    *                   an SCD1 upsert into the courier dim
    * @param timestamps the increment's NEW `ts` rows only, with ids: an
    *                   SCD0 insert into the timestamp dim
    * @param watermark  the advanced cursor (None if the increment was empty)
    */
  final case class Increment(
      deliveries: DataFrame, quarantined: DataFrame,
      couriers: DataFrame, timestamps: DataFrame,
      watermark: Option[Timestamp])

  /** [[incrementalLoad]] from an ALREADY-PARSED increment — for callers
    * that materialize the parse at a stage boundary: the load runs several
    * actions over this lineage, and without the boundary each one re-scans
    * STG and re-runs from_json + the CHECK evaluation.
    *
    * The returned [[DdsState]] applies exactly the [[Increment]] rows that
    * `PipelineMain.stgToDds` commits ([[prepareIncrement]]), so the
    * in-memory and the durable load share one code path.
    */
  def incrementalLoadParsed(parsed: DataFrame, stgCouriers: DataFrame,
                            dmOrders: DataFrame, dds: DdsState): LoadResult = {
    val inc = prepareIncrement(parsed, stgCouriers, dds.dmCouriers, dds.dmTimestamps)
    val dmCouriers1 = Merge.upsert(dds.dmCouriers, inc.couriers, Seq("courier_key"))
    val dmTimestamps1 = Merge.insertIgnore(dds.dmTimestamps, inc.timestamps, Seq("ts"))
    // J2 fact resolution + S5 insert-ignore on delivery_key
    val facts = StgToDds.resolveFacts(inc.deliveries, dmOrders, dmTimestamps1, dmCouriers1)
    val fct1 = Merge.insertIgnore(dds.fctDeliveries, facts, Seq("delivery_key"))
    LoadResult(DdsState(dmCouriers1, dmTimestamps1, fct1), inc.watermark, inc.quarantined,
      newFacts = facts)
  }

  /** Split a parsed increment into the rows it writes ([[Increment]]),
    * giving dimension ids to THIS increment's rows only — the previous
    * dims are read for their ids and max id, never rewritten.
    *
    * @param maxTsHint the increment's max `ts`, when the caller already
    *   knows it (e.g. observed on the stage-boundary write via
    *   `Dataset.observe` — see `PipelineMain.stgToDds`). `Some(x)` skips
    *   this function's cursor pass over `parsed` entirely; `None` keeps
    *   the self-contained behavior. At 100 TB the saved pass is a full
    *   scan of the increment.
    */
  def prepareIncrement(parsed: DataFrame, stgCouriers: DataFrame,
                       dmCouriers: DataFrame, dmTimestamps: DataFrame,
                       maxTsHint: Option[Option[Timestamp]] = None): Increment = {
    // S7 runtime CHECKs: violating rows are quarantined with reasons, not
    // loaded and not allowed to abort the batch (the reference's DDL CHECK
    // semantics, minus the Postgres batch abort)
    val (newDeliveries, quarantined) = Validate.split(parsed, Validate.deliveryChecks)

    // S4/SCD1 courier dim: every courier of the increment, names as of the
    // snapshot; known keys keep their ids
    val couriers = withDimIds(
      StgToDds.courierDimRows(newDeliveries, stgCouriers), dmCouriers, "courier_key")

    // S5/SCD0 timestamp dim: only timestamps the dim has not seen
    val timestamps = withDimIds(
      StgToDds.timestampDimRows(newDeliveries)
        .join(dmTimestamps.select(col("ts")), Seq("ts"), "left_anti"),
      dmTimestamps, "ts")

    // A1 cursor: only advance when the increment was non-empty. Quarantined
    // rows DO advance it (they were read and dispositioned; re-reading them
    // forever would wedge the pipeline on one bad record).
    val watermark = maxTsHint.getOrElse(
      State.tsValue(parsed.agg(max(col("ts"))).collect().head, 0))
    Increment(newDeliveries, quarantined, couriers, timestamps, watermark)
  }

  /** Stable surrogate ids across replays: delta rows whose business key
    * already had an id keep it; genuinely new keys get ids after the
    * current max in business-key order (the Spark stand-in for Postgres
    * `serial`). `delta` must be unique per key.
    */
  private def withDimIds(delta: DataFrame, previous: DataFrame, key: String): DataFrame = {
    val withOld = delta.join(previous.select(col(key), col("id")), Seq(key), "left")
    val maxOld = previous.agg(coalesce(max(col("id")), lit(0))).collect().head.getInt(0)
    val fresh = StgToDds.withSurrogateId(
        withOld.filter(col("id").isNull).drop("id"), "id", col(key))
      .withColumn("id", col("id") + maxOld)
    withOld.filter(col("id").isNotNull).unionByName(fresh)
  }

  /** DDS→CDM: the full-recompute ledger rebuild
    * (`courier_ledger_update.sql`) — month from the ORDER's timestamp via
    * the 2-hop snowflake join, then [[Ledger.monthlyLedger]].
    */
  def ledgerRebuild(dds: DdsState, dmOrders: DataFrame): DataFrame = {
    // Broadcast hint ONLY on the courier dim (structurally dim-sized). The
    // order and timestamp dims are fact-scale (one order / one distinct ts
    // per delivery) — their strategy is left to Catalyst/AQE, which
    // broadcasts while small and switches to a shuffle join at scale.
    val facts = dds.fctDeliveries
      .join(broadcast(dds.dmCouriers.select(col("id").as("courier_id"),
        col("courier_name"))), Seq("courier_id"))
      .join(dmOrders.select(col("id").as("order_id"),
        col("timestamp_id").as("order_ts_id")), Seq("order_id"))
      .join(dds.dmTimestamps.select(col("id").as("order_ts_id"),
        col("year").as("settlement_year"), col("month").as("settlement_month")),
        Seq("order_ts_id"))
    Ledger.monthlyLedger(facts)
  }
}

package graft.stages

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The reference DAG's transformations (`dags/courier_ledger_dag.py:41-42`)
  * as pure functions over DataFrames — STG→DDS normalization of one
  * increment and the ledger rebuild. The one durable load that commits them
  * is `PipelineMain.stgToDds` (one `spark-submit` per Airflow task), which
  * advances the watermark only after a successful fact write (SURVEY.md
  * §7.3 ordering). All stages are idempotent under replay because every
  * write path flows through the [[Merge]] rewrites.
  *
  * The dims take delta rows only ([[prepareIncrement]]): this increment's
  * couriers (SCD1 upsert) and its new timestamps (SCD0 insert), ids given
  * to those rows alone. The facts resolve against the committed dim
  * versions once those hold the increment's rows.
  */
object Pipeline {

  /** The DDS layer [[ledgerRebuild]] reads. */
  final case class DdsState(
      dmCouriers: DataFrame,   // id, courier_key, courier_name
      dmTimestamps: DataFrame, // id, ts, year, month, day, time, date
      fctDeliveries: DataFrame) // delivery_key, order_id, timestamp_id, order_sum, courier_id, rating, tips

  val coldStartWatermark: Timestamp = Timestamp.valueOf("2022-01-01 00:00:00")

  /** One increment reduced to the rows it writes — what `stgToDds`
    * commits, so every commit's incoming side is O(increment):
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
    */
  final case class Increment(
      deliveries: DataFrame, quarantined: DataFrame,
      couriers: DataFrame, timestamps: DataFrame)

  /** Split a parsed increment into the rows it writes ([[Increment]]),
    * giving dimension ids to THIS increment's rows only — the previous
    * dims are read for their ids, never rewritten. `maxCourierId` and
    * `maxTimestampId` are the dims' current max ids (0 when empty).
    */
  def prepareIncrement(parsed: DataFrame, stgCouriers: DataFrame,
                       dmCouriers: DataFrame, dmTimestamps: DataFrame,
                       maxCourierId: Int, maxTimestampId: Int): Increment = {
    // S7 runtime CHECKs: violating rows are quarantined with reasons, not
    // loaded and not allowed to abort the batch (the reference's DDL CHECK
    // semantics, minus the Postgres batch abort)
    val (newDeliveries, quarantined) = Validate.split(parsed, Validate.deliveryChecks)

    // S4/SCD1 courier dim: every courier of the increment, names as of the
    // snapshot; known keys keep their ids
    val couriers = withDimIds(
      StgToDds.courierDimRows(newDeliveries, stgCouriers)
        .join(dmCouriers.select(col("courier_key"), col("id").as("_known_id")),
          Seq("courier_key"), "left"),
      col("_known_id"), "courier_key", maxCourierId).drop("_known_id")

    // S5/SCD0 timestamp dim: only timestamps the dim has not seen, so
    // every row is new
    val timestamps = withDimIds(
      StgToDds.timestampDimRows(newDeliveries)
        .join(dmTimestamps.select(col("ts")), Seq("ts"), "left_anti"),
      lit(null).cast(IntegerType), "ts", maxTimestampId)

    Increment(newDeliveries, quarantined, couriers, timestamps)
  }

  /** Stable surrogate ids across replays, in one projection over `delta`
    * (unique per key): a row whose `known` id is set keeps it; new keys get
    * `maxId + row_number` in business-key order (the Spark stand-in for
    * Postgres `serial`).
    */
  private def withDimIds(delta: DataFrame, known: Column, key: String, maxId: Int): DataFrame =
    delta.withColumn("id", coalesce(known,
      lit(maxId) + row_number().over(Window.partitionBy(known.isNull).orderBy(col(key)))))

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

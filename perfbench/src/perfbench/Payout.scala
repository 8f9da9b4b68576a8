package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.stages.{MergeTable, PipelineMain, State}
import Gen.Increment

/** The payout DAG as Airflow runs it: one caller, the three stages of an
  * increment in order, each waiting for the previous one. */
object Payout {

  val stages: Seq[String] = Seq("load_stg", "stg_to_dds", "ledger_update")

  private val courierSchema = StructType(Seq(
    StructField("courier_key", StringType), StructField("courier_name", StringType)))
  private val deliverySchema = StructType(Seq(
    StructField("json_response", StringType), StructField("delivery_ts", TimestampType)))

  /** Writes one increment as the parquet snapshot `load_stg` reads. */
  def writeSource(spark: SparkSession, dir: Path, inc: Increment): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(inc.couriers.map { case (k, n) => Row(k, n) }.asJava, courierSchema)
      .coalesce(1).write.parquet(dir.resolve("couriers").toString)
    spark.createDataFrame(inc.deliveries.map(d =>
        Row(d.payload, new Timestamp(d.deliveryTs * 1000L))).asJava, deliverySchema)
      .write.parquet(dir.resolve("deliveries").toString)
  }

  private val hms = java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")

  /** Seeds the pre-existing order and timestamp dimensions the reference
    * assumes, so every generated order id resolves. */
  def seedDims(spark: SparkSession, wh: Path, data: Gen.Payout): Unit = {
    import scala.jdk.CollectionConverters._
    val orders = spark.createDataFrame(data.orders.map(o => Row(o.key, o.id, o.tsId)).asJava,
      StructType(Seq(StructField("order_key", StringType), StructField("id", IntegerType),
        StructField("timestamp_id", IntegerType))))
    PipelineMain.seedOrders(spark, wh.toString, orders)
    val ts = spark.createDataFrame(data.orderTimestamps.map { case (id, sec) =>
        val t = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
        Row(id, new Timestamp(sec * 1000L), t.getYear, t.getMonthValue, t.getDayOfMonth,
          t.format(hms), java.sql.Date.valueOf(t.toLocalDate))
      }.asJava,
      StructType(Seq(StructField("id", IntegerType), StructField("ts", TimestampType),
        StructField("year", IntegerType), StructField("month", IntegerType),
        StructField("day", IntegerType), StructField("time", StringType),
        StructField("date", DateType))))
    new MergeTable(wh.resolve("dds/dm_timestamps").toString, Seq("ts")).upsert(ts)
  }

  /** One increment: land, normalize, rebuild the ledger. */
  def increment(spark: SparkSession, tracer: Tracer, wh: Path, src: Path): Unit =
    stages.foreach(s => tracer.layer(s"stages.$s", wh) {
      PipelineMain.runStage(spark, s, wh.toString, Some(src.toString))
    })

  private def current(spark: SparkSession, wh: Path, rel: String) = {
    val t = new MergeTable(wh.resolve(rel).toString, Seq.empty)
    spark.read.parquet(wh.resolve(rel).resolve(t.currentVersion.get).toString)
  }

  /** Compares the warehouse with the plain-Scala expectation; returns the
    * mismatches (empty when the outputs are correct) and the digest of the
    * ledger the program wrote. */
  def check(spark: SparkSession, wh: Path, want: Expected.Outcome): (Seq[String], String) = {
    val errs = Seq.newBuilder[String]
    val facts = current(spark, wh, "dds/fct_deliveries").count()
    if (facts != want.facts) errs += s"fact rows $facts != ${want.facts}"
    val q = current(spark, wh, "dds/quarantine").count()
    if (q != want.quarantined) errs += s"quarantined rows $q != ${want.quarantined}"
    val wm = State.readWatermark(spark, wh.resolve("state/wf").toString,
      PipelineMain.WorkflowKey, graft.stages.Pipeline.coldStartWatermark)
    if (wm.getTime != want.watermark * 1000L) errs += s"watermark $wm != ${Gen.fmt(want.watermark)}"
    def opt(r: Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    val got = current(spark, wh, "cdm/ledger").collect().map { r =>
      Expected.LedgerRow(r.getAs[Int]("courier_id"), r.getAs[String]("courier_name"),
        r.getAs[Int]("settlement_year"), r.getAs[Int]("settlement_month"),
        r.getAs[Long]("orders_count"), r.getAs[Double]("orders_total_sum"),
        opt(r, "rate_avg"), r.getAs[Double]("order_processing_fee"),
        opt(r, "courier_order_sum"), r.getAs[Double]("courier_tips_sum"),
        opt(r, "courier_reward_sum"))
    }.sortBy(r => (r.courierId, r.year, r.month)).toSeq
    if (got.size != want.ledger.size) errs += s"ledger rows ${got.size} != ${want.ledger.size}"
    got.zip(want.ledger).filterNot { case (g, w) => same(g, w) }.take(3)
      .foreach { case (g, w) => errs += s"ledger row $g != $w" }
    (errs.result(), digest(got))
  }

  // money crosses decimal -> double once on each side; allow one rounding
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
  private def closeOpt(a: Option[Double], b: Option[Double]) = (a, b) match {
    case (Some(x), Some(y)) => close(x, y)
    case (None, None) => true
    case _ => false
  }
  private def same(g: Expected.LedgerRow, w: Expected.LedgerRow): Boolean =
    g.courierId == w.courierId && g.courierName == w.courierName && g.year == w.year &&
      g.month == w.month && g.ordersCount == w.ordersCount &&
      close(g.ordersTotalSum, w.ordersTotalSum) && closeOpt(g.rateAvg, w.rateAvg) &&
      close(g.fee, w.fee) && closeOpt(g.courierOrderSum, w.courierOrderSum) &&
      close(g.tipsSum, w.tipsSum) && closeOpt(g.rewardSum, w.rewardSum)

  /** Order-independent digest of the ledger's content, keyed by courier
    * business key: equal for two warehouses that loaded the same records,
    * whatever the increments were. */
  def digest(ledger: Seq[Expected.LedgerRow]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ledger.map(r => (r.courierName, r.year, r.month, r.ordersCount, r.ordersTotalSum,
      r.rateAvg, r.fee, r.courierOrderSum, r.tipsSum, r.rewardSum).toString).sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

package perfbench

import Gen.{Clean, Delivery, Increment, Payout}

/** What the warehouse must hold after a sequence of increments, derived in
  * plain Scala from the generated records: SCD0 landing (first version of a
  * key wins), the `Validate.deliveryChecks` disposition, SCD1 courier names
  * with ids in first-seen order, and the monthly ledger with the tier,
  * floor, fee and tips rules of `courier_ledger_update.sql`.
  */
object Expected {

  final case class LedgerRow(
      courierId: Int, courierName: String, year: Int, month: Int,
      ordersCount: Long, ordersTotalSum: Double, rateAvg: Option[Double],
      fee: Double, courierOrderSum: Option[Double], tipsSum: Double,
      rewardSum: Option[Double])

  final case class Outcome(ledger: Seq[LedgerRow], facts: Long,
                           quarantined: Long, watermark: Long)

  /** The disposition `Validate.deliveryChecks` gives a parsed row: a check
    * fails only when its predicate is FALSE, so a missing rating passes. */
  def passesChecks(d: Delivery): Boolean =
    d.kind != Gen.Malformed && d.orderKey.isDefined && d.courierKey.isDefined &&
      d.rate.forall(x => x >= 1 && x <= 5) && d.sum >= 0 && d.tip >= 0

  // (upper-exclusive rating bound, payout share, per-order floor)
  private val tiers = Seq(
    (4.0, BigDecimal("0.05"), 100), (4.5, BigDecimal("0.07"), 150),
    (4.9, BigDecimal("0.08"), 175), (Double.PositiveInfinity, BigDecimal("0.10"), 200))

  def outcome(data: Payout, increments: Seq[Increment]): Outcome = {
    val landed = scala.collection.mutable.HashSet.empty[String]
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val names = scala.collection.mutable.HashMap.empty[String, String]
    val facts = Vector.newBuilder[Delivery]
    var quarantined = 0L
    var watermark = Long.MinValue
    for (inc <- increments) {
      val snapshot = inc.couriers.toMap
      val fresh = inc.deliveries.filter(d => landed.add(d.key))
      fresh.foreach(d => watermark = math.max(watermark, d.deliveryTs))
      val (clean, bad) = fresh.partition(passesChecks)
      quarantined += bad.size
      val seen = clean.flatMap(_.courierKey).distinct.filter(snapshot.contains)
      seen.foreach(k => names(k) = snapshot(k))
      seen.filterNot(ids.contains).sorted.foreach(k => ids(k) = ids.size + 1)
      facts ++= clean.filter(_.courierKey.exists(snapshot.contains))
    }
    val all = facts.result()
    val ledger = all.groupBy { d =>
      val t = java.time.LocalDateTime.ofEpochSecond(d.orderTs, 0, java.time.ZoneOffset.UTC)
      (d.courierKey.get, t.getYear, t.getMonthValue)
    }.toSeq.map { case ((courier, year, month), ds) =>
      val n = ds.size.toLong
      val total = ds.map(_.sum).sum
      val tips = ds.map(_.tip).sum
      val rated = ds.flatMap(_.rate)
      val rateAvg = if (rated.isEmpty) None else Some(rated.map(_.toDouble).sum / rated.size)
      val orderSum = rateAvg.map { avg =>
        val (_, share, floor) = tiers.find(t => avg < t._1).get
        val raw = total * share
        if (raw < BigDecimal(floor * n)) (floor * n).toDouble else raw.toDouble
      }
      LedgerRow(ids(courier), names(courier), year, month, n, total.toDouble, rateAvg,
        (total * BigDecimal("0.25")).toDouble, orderSum, tips.toDouble,
        orderSum.map(_ + (tips * BigDecimal("0.95")).toDouble))
    }.sortBy(r => (r.courierId, r.year, r.month))
    Outcome(ledger, all.size.toLong, quarantined, watermark)
  }

  /** Every generated record's fate, used to check the generator itself
    * covers what the workload claims (violators, malformed, repeats). */
  def census(incs: Seq[Increment]): Map[String, Int] = {
    val ds = incs.flatMap(_.deliveries)
    Map("clean" -> ds.count(_.kind == Clean), "violator" -> ds.count(_.kind == Gen.Violator),
      "malformed" -> ds.count(_.kind == Gen.Malformed),
      "repeats" -> (ds.size - ds.map(_.key).distinct.size))
  }
}

package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generator. Everything the program receives comes from here:
  * source snapshots for `load_stg`, the pre-existing `dm_orders` /
  * `dm_timestamps` dimensions, and the labelled vector corpus. The same
  * seed gives the same records, byte for byte.
  */
object Gen {

  /** Why a record is in the data: a clean fact, a CHECK violator, or a
    * payload `load_stg` cannot key (no `delivery_id`, or truncated JSON). */
  sealed trait Kind
  case object Clean extends Kind
  case object Violator extends Kind
  case object Malformed extends Kind

  final case class Delivery(
      key: String, orderKey: Option[String], courierKey: Option[String],
      orderTs: Long, deliveryTs: Long, rate: Option[Int],
      sum: BigDecimal, tip: BigDecimal, kind: Kind, payload: String)

  /** One `load_stg` source snapshot: the courier table as of that day and
    * the deliveries landed that day (including re-deliveries of earlier
    * days, which the SCD0 landing must ignore). */
  final case class Increment(couriers: Seq[(String, String)], deliveries: Seq[Delivery])

  final case class Order(key: String, id: Int, tsId: Int)

  final case class Payout(
      history: Increment, days: Seq[Increment],
      orders: Seq[Order], orderTimestamps: Seq[(Int, Long)]) {
    /** The same records as one cold-start snapshot: every first landing of
      * a key, in landing order, with the final courier names. */
    def backfill: Increment = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      val all = (history +: days).flatMap(_.deliveries).filter(d => seen.add(d.key))
      Increment(days.lastOption.getOrElse(history).couriers, all)
    }
  }

  val utc: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def fmt(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(utc)

  /** The first daily increment starts on a month boundary, so orders placed
    * late on the last history day settle in the earlier month while their
    * deliveries land in the later one. */
  val boundary: Long = Instant.parse("2024-02-01T00:00:00Z").getEpochSecond
  private val daySec = 86400L

  private def money(r: SplittableRandom, maxCents: Int): BigDecimal =
    BigDecimal(r.nextInt(maxCents + 1).toLong, 2)

  /** `historyRows` deliveries over the `historyDays` days before
    * [[boundary]], then `days` daily increments of `perDay` deliveries.
    * Courier delivery counts follow a 1/rank law; every courier delivers at
    * least once per increment so each SCD1 rename reaches the dimension. */
  def payout(seed: Long, couriers: Int, historyDays: Int, historyRows: Int,
             days: Int, perDay: Int): Payout = {
    val r = new SplittableRandom(seed)
    val courierKeys = (1 to couriers).map(i => f"c$i%05d")
    val cum = courierKeys.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    def skewedCourier(): String = {
      val x = r.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum.toArray, x)
      courierKeys(if (i >= 0) i else -i - 1)
    }
    val names = scala.collection.mutable.LinkedHashMap(
      courierKeys.map(k => k -> s"Courier ${k.drop(1)} v0"): _*)
    val orders = Vector.newBuilder[(String, Long)]
    var serial = 0

    def dayRows(from: Long, span: Long, n: Int, tag: String,
                previous: Seq[Delivery]): Seq[Delivery] = {
      val step = span / n
      val fresh = (0 until n).map { i =>
        serial += 1
        val dts = from + i * step + r.nextLong(step)
        val ots = dts - 60L * (5 + r.nextInt(180))
        val key = s"d$tag-$i"
        val orderKey = s"o$serial"
        val courier = if (i < couriers) courierKeys(i) else skewedCourier()
        val rate = if (r.nextInt(100) == 0) None else Some(Seq(3, 4, 4, 5, 5, 5)(r.nextInt(6)) - r.nextInt(2))
        val sum = BigDecimal(10000 + r.nextInt(290001).toLong, 2)
        val tip = money(r, 30000)
        // ~1% CHECK violators and ~0.3% unkeyable payloads; the first
        // `couriers` rows of every day stay clean (see the scaladoc)
        val roll = if (i < couriers) 999 else r.nextInt(1000)
        val kind = if (roll < 3) Malformed else if (roll < 13) Violator else Clean
        val d0 = Delivery(key, Some(orderKey), Some(courier), ots, dts, rate, sum, tip, kind, "")
        val d = kind match {
          case Violator => roll % 6 match {
            case 0 => d0.copy(rate = Some(0))
            case 1 => d0.copy(rate = Some(6))
            case 2 => d0.copy(sum = -d0.sum)
            case 3 => d0.copy(tip = -(d0.tip + BigDecimal("0.01")))
            case 4 => d0.copy(courierKey = None)
            case _ => d0.copy(orderKey = None)
          }
          case _ => d0
        }
        d.orderKey.foreach(o => orders += o -> ots)
        d.copy(payload = payload(d, truncated = kind == Malformed && roll % 2 == 0))
      }
      // SCD0 re-deliveries: ~2% of yesterday's keys arrive again with a
      // changed tip; the landing keeps the first version
      val again = previous.filter(p => p.kind == Clean && r.nextInt(50) == 0).map { p =>
        val d = p.copy(tip = p.tip + BigDecimal("1.00"))
        d.copy(payload = payload(d, truncated = false))
      }
      fresh ++ again
    }

    val hSpan = historyDays * daySec
    val history = Increment(names.toSeq,
      dayRows(boundary - hSpan, hSpan, historyRows, "h", Nil))
    var prev = history.deliveries
    val daily = (0 until days).map { day =>
      // SCD1: ~2% of couriers change name before each day's snapshot
      courierKeys.foreach(k => if (r.nextInt(50) == 0) names(k) = s"Courier ${k.drop(1)} v${day + 1}")
      val inc = Increment(names.toSeq,
        dayRows(boundary + day * daySec, daySec, perDay, day.toString, prev))
      prev = inc.deliveries.filter(_.key.startsWith(s"d$day-"))
      inc
    }
    val orderRows = orders.result()
    val tsIds = orderRows.map(_._2).distinct.sorted.zipWithIndex
      .map { case (t, i) => t -> (i + 1) }.toMap
    val dmOrders = orderRows.zipWithIndex.map { case ((k, t), i) => Order(k, i + 1, tsIds(t)) }
    Payout(history, daily, dmOrders, tsIds.toSeq.map(_.swap).sortBy(_._1))
  }

  private def payload(d: Delivery, truncated: Boolean): String = {
    val fields = Seq(
      d.orderKey.map(o => s""""order_id":"$o""""),
      Some(s""""order_ts":"${fmt(d.orderTs)}""""),
      if (d.kind == Malformed) None else Some(s""""delivery_id":"${d.key}""""),
      d.courierKey.map(c => s""""courier_id":"$c""""),
      Some(""""address":"Main st""""),
      Some(s""""delivery_ts":"${fmt(d.deliveryTs)}""""),
      d.rate.map(x => s""""rate":$x"""),
      Some(s""""sum":${d.sum}"""),
      Some(s""""tip_sum":${d.tip}""")).flatten.mkString("{", ",", "}")
    if (truncated) fields.take(fields.length / 2) else fields
  }

  final case class Vectors(ids: Array[Long], emb: Array[Array[Float]], labels: Array[Int])

  /** `n` 64-d vectors around `clusters` Gaussian centres, in random id order
    * (the index takes its quantizer from the lowest ids), with a label in
    * 0..9 drawn independently of the cluster. */
  def vectors(seed: Long, n: Int, clusters: Int, dim: Int = 64): Vectors = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    def gauss(): Double = {
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres = Array.fill(clusters)(Array.fill(dim)(gauss()))
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val emb = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    for (i <- 0 until n) {
      val c = centres(r.nextInt(clusters))
      emb(perm(i)) = Array.tabulate(dim)(d => (c(d) + 0.35 * gauss()).toFloat)
      labels(perm(i)) = r.nextInt(10)
    }
    Vectors(Array.tabulate(n)(_.toLong), emb, labels)
  }
}

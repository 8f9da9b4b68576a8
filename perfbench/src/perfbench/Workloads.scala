package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import Main.{Round, Workload}

/** The workloads. Sizes are fixed here so every seed gives the same amount
  * of work; the seed only changes the records. */
object Workloads {

  // payout sizes
  val Couriers = 200
  val HistoryDays = 7
  val HistoryRows = 20000
  val Days = 2
  val PerDay = 8000

  /** The seeded history lands as one cold-start increment, then `Days`
    * daily increments follow against the same warehouse; an op is one daily
    * increment, landed to ledger committed. */
  final class PayoutDaily(seed: Long) extends Workload {
    val data: Gen.Payout = Gen.payout(seed, Couriers, HistoryDays, HistoryRows, Days, PerDay)
    private var inputs: Path = _
    val want: Expected.Outcome = Expected.outcome(data, data.history +: data.days)
    // the same records as one cold-start snapshot must give the same ledger
    // (courier ids aside): the daily path may not lose or double a record
    private val wantBackfill = Expected.outcome(data, Seq(data.backfill))
    require(Payout.digest(want.ledger) == Payout.digest(wantBackfill.ledger) &&
      want.facts == wantBackfill.facts && want.quarantined == wantBackfill.quarantined,
      "generator: daily and backfill expectations differ")

    def sizes: Map[String, Any] = Map("couriers" -> Couriers,
      "history_rows" -> data.history.deliveries.size,
      "daily_rows" -> data.days.map(_.deliveries.size),
      "dm_orders_rows" -> data.orders.size,
      "dm_timestamps_rows" -> data.orderTimestamps.size,
      "records" -> Expected.census(data.history +: data.days),
      "expected_facts" -> want.facts, "expected_quarantined" -> want.quarantined)

    def generate(spark: SparkSession, dir: Path): Unit = {
      inputs = dir
      Payout.writeSource(spark, dir.resolve("history"), data.history)
      data.days.zipWithIndex.foreach { case (d, i) => Payout.writeSource(spark, dir.resolve(s"day$i"), d) }
    }

    def setUp(spark: SparkSession, root: Path): Unit = Payout.seedDims(spark, root, data)

    def round(spark: SparkSession, tracer: Tracer, root: Path): Round = {
      val history = tracer.op("payout_daily.history")(
        Payout.increment(spark, tracer, root, inputs.resolve("history")))._2.seconds
      val days = data.days.indices.map { i =>
        tracer.op("payout_daily.increment")(
          Payout.increment(spark, tracer, root, inputs.resolve(s"day$i")))._2.seconds
      }
      val (errs, digest) = Payout.check(spark, root, want)
      Round(days, history + days.sum, want.facts, days.size, if (errs.isEmpty) 0 else days.size,
        errs, Map("ledger_digest" -> digest))
    }
  }

  // ann sizes
  val Vectors = 4000
  val BuildVectors = 3200
  val AddBatches = 2
  val SearchBatches = 5
  val FilteredCalls = 1

  /** Build, adds, repeated search batches and filtered calls on one index
    * root; an op is one search batch of `Ann.numQueries` queries. */
  final class AnnIndex(seed: Long) extends Workload {
    private val v = Gen.vectors(seed, Vectors, clusters = 40)
    private val addSize = (Vectors - BuildVectors) / AddBatches
    private def labelOf(call: Int) = (seed.toInt + call).abs % 10

    def sizes: Map[String, Any] = Map("vectors" -> Vectors, "dim" -> 64, "build" -> BuildVectors,
      "add_batches" -> AddBatches, "add_size" -> addSize, "search_batches" -> SearchBatches,
      "filtered_calls" -> FilteredCalls, "queries" -> Ann.numQueries, "k" -> Ann.k)

    def generate(spark: SparkSession, dir: Path): Unit = ()

    /** The embeddings table exists before the index: the set-up writes it
      * as parquet under the root and every call reads it from there. */
    def setUp(spark: SparkSession, root: Path): Unit =
      Ann.frame(spark, v, 0 until Vectors).repartition(4).write.parquet(root.resolve("corpus").toString)

    def round(spark: SparkSession, tracer: Tracer, root: Path): Round = {
      import org.apache.spark.sql.functions.col
      val ix = Ann.index(root)
      val corpus: DataFrame = spark.read.parquet(root.resolve("corpus").toString)
      def ids(from: Int, until: Int) = corpus.filter(col("vec_id") >= from && col("vec_id") < until)
      val t0 = System.nanoTime()
      tracer.layer("ops.Similarity.graphIndexBuild", root)(
        Ann.build(spark, ids(0, BuildVectors), ix, BuildVectors))
      (0 until AddBatches).foreach { b =>
        val from = BuildVectors + b * addSize
        tracer.layer("ops.Similarity.graphIndexAdd", root)(Ann.add(spark, ids(from, from + addSize), ix))
      }
      val searched = (0 until SearchBatches).map { _ =>
        tracer.op("ann_index.search") {
          tracer.layer("ops.Similarity.graphIndexSearch", root)(
            Ann.search(spark, ids(0, Ann.numQueries), ix))
        }
      }
      val filtered = (0 until FilteredCalls).map { c =>
        tracer.layer("ops.Similarity.filteredGraphTopK", root)(Ann.filtered(spark, corpus, labelOf(c)))
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      val indexed = BuildVectors + AddBatches * addSize
      val sChecks = searched.map { case (rows, _) => Ann.check(v, rows, 0 until indexed, None) }
      val fChecks = filtered.zipWithIndex.map { case (rows, c) =>
        Ann.check(v, rows, 0 until Vectors, Some(labelOf(c))) }
      val recallSearch = Main.median(sChecks.map(_._2))
      val recallFiltered = Main.median(fChecks.map(_._2))
      val searchS = searched.map(_._2.seconds)
      Round(searchS, seconds, indexed, sChecks.size + fChecks.size,
        (sChecks ++ fChecks).count(_._1.nonEmpty), (sChecks ++ fChecks).flatMap(_._1),
        // every search batch asks the same queries: weigh the unfiltered and
        // the filtered query sets equally
        Map("recall_at_10" -> (recallSearch + recallFiltered) / 2,
          "recall_search" -> recallSearch, "recall_filtered" -> recallFiltered,
          "qps" -> Ann.numQueries * SearchBatches / searchS.sum))
    }
  }
}

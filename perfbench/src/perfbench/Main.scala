package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark process: generates the seeded inputs, sets up several
  * times, runs closed-loop rounds of one workload for about `--seconds`,
  * checks every round's outputs, and writes the result as JSON to `--out`.
  *
  *   perfbench.Main --workload <payout_daily|ann_index>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *
  * With `--trace 1` a listener attributes Spark work to each call into a
  * layer and the result holds per-layer counters instead of end-to-end
  * metrics; spans are written to `<out>.spans.jsonl`.
  */
object Main {

  val SetupReps = 5

  /** What one round of a workload did: the latencies of its end-to-end ops,
    * the wall time of its measured calls, the rows it committed, how many
    * calls had their outputs checked and how many of those failed. */
  final case class Round(ops: Seq[Double], seconds: Double, rows: Long, attempted: Int,
                         failedOps: Int, errors: Seq[String], facts: Map[String, Any])

  trait Workload {
    /** Input sizes, recorded with the result. */
    def sizes: Map[String, Any]
    /** Writes the generated inputs under `dir` (not timed). */
    def generate(spark: SparkSession, dir: Path): Unit
    /** Brings a fresh root to the state its first measured op needs. */
    def setUp(spark: SparkSession, root: Path): Unit
    def round(spark: SparkSession, tracer: Tracer, root: Path): Round
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** The host's cumulative CPU jiffies (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...). */
  def hostCpu(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val workload: Workload = name match {
      case "payout_daily" => new Workloads.PayoutDaily(seed)
      case "ann_index" => new Workloads.AnnIndex(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark = session(work)
    val sessionUpS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val inputs = work.resolve("inputs")
    val genStart = System.nanoTime()
    workload.generate(spark, inputs)
    val generateS = (System.nanoTime() - genStart) / 1e9

    // set-up: a session start and seeding a fresh root; the first rep's
    // session start counts from JVM start
    var roots = 0
    def freshRoot(): Path = { roots += 1; work.resolve(s"root$roots") }
    var root: Path = null
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (rep > 1) { spark.stop(); spark = session(work) }
      root = freshRoot()
      workload.setUp(spark, root)
      (System.nanoTime() - t0) / 1e9 + (if (rep == 1) sessionUpS else 0.0)
    }

    val tracer = new Tracer(spark, traced, s"$name-$seed-${if (traced) "trace" else "plain"}")
    val rounds = Seq.newBuilder[Round]
    val cpuAtStart = hostCpu()
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var last = 0.0
    var n = 0
    // closed loop: start another round only while it is expected to end
    // inside the measuring window; always at least one
    while (n == 0 || elapsed + last <= seconds) {
      if (n > 0) { root = freshRoot(); workload.setUp(spark, root) }
      val t0 = System.nanoTime()
      val r = tracer.op(s"$name.round")(workload.round(spark, tracer, root))._1
      last = (System.nanoTime() - t0) / 1e9
      rounds += r
      n += 1
    }
    val measuredS = elapsed
    // share of the host's CPU time the hypervisor gave to others while this
    // run measured: high values explain slow runs that no code change made
    val stealShare = {
      val d = hostCpu().zip(cpuAtStart).map { case (a, b) => a - b }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else Double.NaN
    }
    tracer.close()
    val all = rounds.result()
    val ops = all.flatMap(_.ops)
    val errors = all.flatMap(_.errors)
    val endToEnd = Map(
      "setup_s" -> median(setups),
      "run_s" -> median(all.map(_.seconds)),
      "op_s.p50" -> median(ops),
      "rows_per_s" -> median(all.map(r => r.rows / r.seconds)),
      "peak_rss_mb" -> peakRssMb(),
      "warehouse_mb" -> bytesUnder(root) / 1e6)
    val report = Report.build(name, seed, seconds, tracer, workload.sizes, all,
      endToEnd, setups, generateS, measuredS, stealShare, errors)
    Files.createDirectories(out.getParent)
    Files.write(out, report.getBytes("UTF-8"))
    if (traced) Report.writeSpans(tracer, Paths.get(out.toString + ".spans.jsonl"))
    spark.stop()
  }
}

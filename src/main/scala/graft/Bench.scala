package graft
import org.apache.spark.sql.SparkSession

/** Driver bench: run every registry query at SPARK_GRAFT_SF_DIR, print one
  * JSON line. The 10 corpus tables are cached up front (Spark's cache
  * manager substitutes the InMemoryRelation into every query that reads the
  * same plan fragment), so per-query times measure the operators, not one
  * repeated cold parquet scan per registry query. The warm-up cost is NOT
  * hidden: it is reported as the `cache_warm` entry and included in total.
  *
  * Every query runs TWICE (`reps`:2): a single sample at this scale swings
  * by whole seconds depending on which query pays JIT/codegen warm-up for
  * a shared kernel (round 3 showed 4x phantom "regressions" that a re-run
  * dissolved), so the headline `queries` map reports the per-query MIN —
  * the steady-state cost of the operator. `value` = cache_warm + Σ min.
  * Queries whose best two samples still disagree by more than
  * max(30% of min, 1 s) — in practice the MergeTable-scratch-heavy
  * release chains — get up to two extra solo reps, and `spread` reports
  * the best-two gap (reproducibility of the reported min), so one
  * contended rep can neither overstate a query nor dominate spread_max.
  *
  * Output budget: the harness captures only the LAST 2000 chars of stdout
  * (every BENCH_r{N}.json so far shows `tail` of exactly 2000 and
  * `parsed: null`), and ~100 query names alone exceed that, so a
  * full per-query map can never parse. The printed line is therefore a
  * compact summary — headline totals, the slowest `TopN` queries, and a
  * rollup (`others_n`/`others_sum`) for the rest — while the complete
  * per-query map (min + spread per query) is written to
  * `BENCH_DETAIL.json` next to the build for readers who want every row.
  *
  * Every sample runs under [[Measure.during]], and the detail file records
  * the counters (jobs, tasks, task/CPU/GC time, scan, shuffle, spill and
  * write bytes) of the sample that gave each reported min, beside the
  * host's `cpus`. Counters do not drift with the shared host the way walls
  * do, so a narrowed run compares a change structurally:
  * `SPARK_GRAFT_ONLY=a,b SPARK_GRAFT_REPS=1 runMain graft.Bench`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val slots = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = Runtime.getRuntime.availableProcessors
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots)
      .config("spark.ui.enabled", "false")
      // AQE eagerly renders the FULL physical-plan string on every stage
      // update (SparkListenerSQLAdaptiveExecutionUpdate) even with the UI
      // off; on the widest lineages (incremental curation) that driver-side
      // stringification sampled as a top cost. Debug strings only — cap
      // them; does not affect plans or results. 32k (not 16k): the listener
      // string is the 4-section queryExecution.toString, and the PCA pair's
      // checkpoint sub-executions legitimately sit at ~22k across the four
      // sections — 16k truncated them and spammed WARNs; the widest
      // single-section plans are ~6k, so 32k keeps every string whole while
      // still capping runaway stringification.
      .config("spark.sql.maxPlanStringLength", "32768")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The maxPlanStringLength cap above is intentional — wide-lineage
    // queries (release chains, incremental curation) legitimately exceed
    // any debug-string budget, and truncating their LISTENER strings is
    // the point. StringUtils WARNs once per truncation though (hundreds of
    // lines per bench run), so silence that one logger; plans and results
    // are unaffected.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.util.StringUtils",
      org.apache.logging.log4j.Level.ERROR)

    val t0 = System.nanoTime()
    // branch threads started inside the span inherit it, so the warm-up's
    // jobs are counted like any query's
    val warmCounters = Measure.during(spark, "cache_warm") {
      stages.PipelineMain.concurrently(Tables.names.map(n =>
        () => { Tables.load(spark, sfDir, n).cache().count(); () }): _*)
    }._2.counters
    val warm = (System.nanoTime() - t0) / 1e9

    // SPARK_GRAFT_ONLY=a,b narrows the pass for single-query iteration,
    // mirroring Verify's filter; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))

    /** One sample: wall seconds (-1 on failure) and the sample's counters. */
    type Sample = (Double, Option[Measure.Counters])
    def timeOne(name: String): Sample =
      try {
        val (wall, report) = Measure.during(spark, name) {
          val t = System.nanoTime()
          queries(name)(spark, sfDir).count()
          (System.nanoTime() - t) / 1e9
        }
        (wall, Some(report.counters))
      } catch { case _: Throwable => (-1.0, None) }
    def onePass(): Seq[(String, Sample)] =
      queries.keys.toSeq.map(n => n -> timeOne(n))

    val runs = (1 to reps).map(_ => onePass().toMap)
    val names = runs.head.keys.toSeq.sorted
    var samples: Map[String, Seq[Sample]] =
      names.map(n => n -> runs.map(_(n))).toMap
    def walls(n: String): Seq[Double] = samples(n).map(_._1)

    // Adaptive stabilization (r13 lesson: the MergeTable-heavy release
    // chain queries swing 8-13 s between reps on scratch-dir I/O, and
    // min-of-2 recorded a 24.4 s figure a clean re-run measured at 14.3 s).
    // Any query whose two best samples disagree by more than
    // max(30% of min, 1 s) gets up to 2 extra solo reps; the reported
    // number is the min over ALL samples and `spread` is the gap between
    // the two BEST samples — i.e. how reproducible the reported min is,
    // not how bad the worst contended rep was. A single sample (REPS=1)
    // has no gap; `n_samples` shows that.
    def bestTwoGap(ts: Seq[Double]): Double = ts.sorted match {
      case a +: b +: _ => b - a
      case _           => 0.0
    }
    def noisy(n: String): Boolean = {
      val ts = walls(n)
      ts.forall(_ >= 0) && ts.size >= 2 &&
        bestTwoGap(ts) > math.max(0.3 * ts.min, 1.0)
    }
    for (_ <- 1 to 2) {
      val redo = names.filter(noisy)
      if (redo.nonEmpty)
        redo.foreach { n => samples += (n -> (samples(n) :+ timeOne(n))) }
    }

    val best = names.map { n =>
      val ts = walls(n)
      // any failed rep taints the query: report the failure, not a min
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    // the counters of the sample that gave the reported min
    val bestCounters = names.collect { case n if walls(n).forall(_ >= 0) =>
      n -> samples(n).minBy(_._1)._2.get
    }
    // a failed rep keeps the -1 sentinel in spread too: 0.0 would make an
    // erroring query indistinguishable from a perfectly stable one
    val spread = names.map { n =>
      val ts = walls(n)
      n -> (if (ts.exists(_ < 0)) -1.0 else bestTwoGap(ts))
    }.toMap
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = warm + best.map(_._2).filter(_ >= 0).sum
    val spreadMax = spread.values.filter(_ >= 0).foldLeft(0.0)(math.max)

    // Host-drift normalization (the r16 lesson: three same-commit full
    // benches measured 442/472/529 s in ONE morning, and the unchanged
    // r15 commit re-benched ~40% over its own recorded numbers — raw
    // cross-round totals are not comparable without dividing out the
    // window's throughput). `host_factor` = the median measured/anchor
    // ratio over a pinned probe set whose code has not changed since the
    // ANCHOR WINDOW (round 16's committed BENCH_DETAIL, sf0.1):
    // the parquet cache warm-up plus three sub-second relational queries.
    // A genuine regression in any one query barely moves the median;
    // uniform host drift moves every probe together — which is exactly
    // the signature the r16 forensics had to reconstruct by hand.
    // `value_normalized` = value / host_factor ≈ what this run would have
    // measured on the anchor window's host. Anchors are sf0.1 figures, so
    // the factor is only computed there (1.0 elsewhere and on narrowed
    // runs missing the probes), and only on a host with the anchors' CPU
    // count: a 4-core window divided by 32-core anchors measures the
    // hardware, not the drift.
    val anchorCpus = 32
    val probeAnchors = Map( // r16 anchor window (BENCH_DETAIL @ b6ad785)
      "cache_warm" -> 7.266, "a3_pricing_summary" -> 0.300,
      "o4_distinct_projection" -> 0.235, "set_ops" -> 0.561)
    val bestMap = best.toMap
    val probeRatios =
      if (cpus != anchorCpus || !sfDir.replaceAll("/+$", "").endsWith("sf0.1")) Nil
      else probeAnchors.toSeq.flatMap { case (n, anchor) =>
        val v = if (n == "cache_warm") warm else bestMap.getOrElse(n, -1.0)
        if (v > 0) Some(v / anchor) else None
      }.sorted
    val hostFactor =
      if (probeRatios.isEmpty) 1.0 else probeRatios(probeRatios.size / 2)
    val valueNorm = total / hostFactor

    // full per-query detail → committed artifact (too big for the stdout
    // tail). A SPARK_GRAFT_ONLY-narrowed run writes to a sidecar instead:
    // the committed artifact must always describe the FULL suite (driver
    // ADVICE — a 2-query iteration run once clobbered it).
    val detailPath =
      if (only.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL.partial.json"
    // n_samples: which figures came from the extended adaptive protocol
    // (min over >2 samples is biased low relative to min-of-2; consumers
    // comparing across queries/rounds can see exactly where that applies)
    val nSamples = names
      .map(n => s"\"$n\":${samples(n).size}").mkString("{", ",", "}")
    // counts and bytes as integers, seconds like the walls
    def countersJson(c: Measure.Counters): String = c.values.map { case (k, v) =>
      s"\"$k\":" + (if (k.endsWith("_s")) r3(v) else v.toLong.toString)
    }.mkString("{", ",", "}")
    val counters = (Seq("cache_warm" -> warmCounters) ++ bestCounters)
      .map { case (n, c) => s"\"$n\":${countersJson(c)}" }.mkString("{", ",", "}")
    val failed = best.count(_._2 < 0)
    val detail = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""host_factor":${r3(hostFactor)},"value_normalized":${r3(valueNorm)},""" +
      s""""host_anchor":"r16_sf0.1","cpus":$cpus,"failed":$failed,""" +
      s""""reps":$reps,"queries":${jsonMap(Seq("cache_warm" -> warm) ++ best)},""" +
      s""""spread":${jsonMap(spread.toSeq.sortBy(_._1))},""" +
      s""""n_samples":$nSamples,"counters":$counters,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // compact line: guaranteed to fit the harness's 2000-char tail window
    val TopN = 20
    val (slow, rest) = best.sortBy(-_._2).splitAt(TopN)
    val qs = jsonMap(Seq("cache_warm" -> warm) ++ slow.sortBy(_._1))
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,""" +
      s""""host_factor":${r3(hostFactor)},"value_normalized":${r3(valueNorm)},""" +
      s""""queries":$qs,"others_n":${rest.size},"others_sum":${r3(rest.map(_._2).filter(_ >= 0).sum)},""" +
      s""""failed":$failed,"spread_max":${r3(spreadMax)},""" +
      s""""detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
